package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim).
  *
  *  - [[knnBrute]]: exact top-k by cosine — the correctness baseline. The
  *    tiny query set is broadcast; candidate scoring is a map-only pass over
  *    the corpus and the only shuffle is the per-query top-k window.
  *  - [[knnIvf]]: IVF-style bucketed search — the 100 TB path. Vectors are
  *    partitioned by nearest centroid (a broadcast argmin, no shuffle of the
  *    corpus), and each query scans only its own cluster: with C centroids,
  *    ~1/C of the corpus per probe.
  *
  * All arithmetic runs in double with a fixed left-to-right fold
  * ([[cosine]]) so the DuckDB oracle (same fold order via list_transform +
  * list_sum) reproduces the scores.
  */
object Similarity {

  /** float[] → double[] before any arithmetic (both engines then compute
    * identical IEEE products/sums). */
  def toDoubleVec(c: Column): Column = transform(c, x => x.cast("double"))

  /** Round-robin re-balance across the session's shuffle parallelism,
    * placed immediately BEFORE a work-amplifying operator (the ×C centroid
    * scoring join, the ×M×K' PQ encode). Scan parallelism follows INPUT
    * BYTES (`maxPartitionBytes`), but these pipelines multiply every input
    * row by a large constant downstream of the scan with no intervening
    * exchange — a ~50 MB single-split embeddings file runs its entire
    * multi-hundred-million-row expansion on ONE core (measured at the sf10
    * decade: knn_ivfpq 146 s with the expansion single-threaded, ~48 s
    * once re-balanced). The n-row shuffle this inserts is noise next to
    * the n·C / n·M·K' work it parallelizes: partition by downstream work,
    * not input bytes. */
  private def rebalance(spark: SparkSession, df: DataFrame): DataFrame =
    df.repartition(spark.sessionState.conf.numShufflePartitions)

  /** Codegen'd left-to-right dot product ([[graft.functions.DotProduct]]).
    * The built-in aggregate/zip_with lambdas evaluate interpreted and land
    * inside join conditions — orders of magnitude too slow for pairwise
    * scans (measured: minutes vs. sub-second at sf0.01). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExpressions.vec_dot(a, b)

  /** Cosine similarity of two double-array columns. Callers precompute
    * norms where the pair count is large; the formula
    * dot/(sqrt(na)*sqrt(nb)) gives bit-identical results either way. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Cosine from a precomputed-norm pair: dot/(norm_a*norm_b). */
  def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** DuckDB twin of [[cosine]] for table aliases `pa`, `pb` (1-based lists,
    * same elementwise products, same sequential sum). */
  def cosineSql(pa: String, pb: String): String = {
    def d(x: String, y: String) =
      s"list_sum(list_transform(generate_series(1, len($pa.embedding)), i -> CAST($x.embedding[i] AS DOUBLE) * CAST($y.embedding[i] AS DOUBLE)))"
    s"(${d(pa, pb)} / (sqrt(${d(pa, pa)}) * sqrt(${d(pb, pb)})))"
  }

  val NumQueries = 10 // query set = vec_id < 10

  /** Exact brute-force top-k cosine neighbors for the query vectors.
    * Norms are computed once per row (narrow map), never per pair. */
  def knnBrute(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", graft.functions.VectorExpressions.vec_norm(col("v")))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id").asc)
    rebalance(spark, e).join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosinePre(col("qv"), col("v"), col("qnrm"), col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("cos"), 6).as("cos_sim"))
  }

  def knnBruteSql(k: Int = 5): String =
    s"""SELECT query_id, neighbor_id, rank, cos_sim FROM (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${cosineSql("q", "e")} DESC, e.vec_id ASC) AS rank,
       |    round(${cosineSql("q", "e")}, 6) AS cos_sim
       |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NumQueries)
       |WHERE rank <= $k""".stripMargin

  /** Fixed-size centroid set: the first [[NumCentroids]] vec_ids. The count
    * is INDEPENDENT of corpus size — the round-1 `vec_id % 50` seeding grew
    * the centroid set (and the broadcast, and the assignment cost) linearly
    * with n, i.e. O(n²/50) total work at 100 TB. A constant-size seed set
    * keeps assignment at O(n·C) map-only work under a fixed-size broadcast,
    * which is the standard IVF shape (production would k-means-train the
    * same fixed-size codebook; the seeding choice only moves recall, not
    * the plan). */
  val NumCentroids = 128

  /** The in-cluster cosine probe shared by the seeded ([[knnIvf]]) and
    * trained ([[knnIvfTrained]]) IVF paths: broadcast the (tiny) query
    * rows, scan only same-cluster candidates, rank per query with the
    * (cos desc, vec_id) tie-break via WindowGroupLimit. ONE definition so
    * a tie-break or fold change cannot desynchronize the two paths. */
  private def probeAssigned(assigned: DataFrame, k: Int): DataFrame = {
    val q = assigned.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("cluster").as("qcluster"))
    val wRank = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id").asc)
    assigned.join(broadcast(q),
        col("cluster") === col("qcluster") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosinePre(col("qv"), col("v"), col("qnrm"), col("nrm")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("cos"), 6).as("cos_sim"))
  }

  /** IVF-bucketed ANN: assign every vector to its nearest of the seeded
    * centroids, then answer each query inside its own cluster only. */
  def knnIvf(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame =
    probeAssigned(ivfAssigned(spark, sfDir), k)

  /** Cluster assignment (vec → nearest seeded centroid) shared by
    * [[knnIvf]] and the bucketed near-dup dedup.
    *
    * Shape: broadcast-NLJ each vector against the C centroids, then argmax
    * via `max_by` HASH aggregation — the broadcast join keeps every
    * vector's C candidate rows inside one task, so the partial aggregate
    * collapses n×C rows back to n BEFORE the exchange (a window
    * `row_number` here would shuffle all n×C rows; measured the agg form
    * as the difference between an O(n·C)-shuffle and O(n)-shuffle plan).
    * Tie-break on equal cosine = lowest cent_id, encoded as
    * max_by(…, (ccos, −cent_id)).
    *
    * The result is localCheckpoint'ed: every caller joins the assignment
    * against itself (queries×corpus or corpus×corpus), and without
    * materialization Spark re-executes the whole scan+assign lineage per
    * join side — the round-1 plan computed it twice per query. */
  def ivfAssigned(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", graft.functions.VectorExpressions.vec_norm(col("v")))
    val cent = e.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cnrm"))
    rebalance(spark, e).join(broadcast(cent))
      .select(col("vec_id"), col("v"), col("nrm"), col("cent_id"),
        cosinePre(col("v"), col("cv"), col("nrm"), col("cnrm")).as("ccos"))
      .groupBy(col("vec_id"))
      .agg(
        first(col("v")).as("v"),
        first(col("nrm")).as("nrm"),
        max_by(col("cent_id"), struct(col("ccos"), -col("cent_id"))).as("cluster"),
        // the winning assignment's cosine — max(ccos) IS the argmax's value.
        // Kept alongside cluster for consumers that need a 1-D in-cluster
        // ordering (the windowed SemDeDup candidate rule).
        max(col("ccos")).as("simc"))
      .localCheckpoint()
  }

  /** IVF INDEX-BALANCE AUDIT — the serving-health card a vector store
    * reads before shipping an IVF index (FAISS's imbalance_factor /
    * Milvus' segment-balance check): per cluster, the vector count, its
    * load vs the uniform share in ppm (10⁶ = perfectly balanced; a hot
    * bucket serves proportionally more of every probe and sets p99
    * latency), and the min/mean/max assignment cosine (a cluster whose
    * MAX assignment cosine is low is a junk drawer of far-from-centroid
    * vectors — recall loss lives there; [[embeddingOutliers]] names the
    * individual vectors, this scores the buckets). Reuses the ONE
    * checkpointed [[ivfAssigned]] pass every IVF consumer shares; the
    * audit itself is a |C|-row aggregation with map-side partials and the
    * corpus total riding a broadcast 1-row aggregate — free at any scale.
    * The load product runs in DECIMAL(38,0) (10⁶·n·C passes int64 near
    * 10¹² vectors — the ewma discipline). */
  def ivfBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val a = ivfAssigned(spark, sfDir)
      .select(col("cluster"), floor(col("simc") * 1000000d).cast("long").as("cfp"))
    val per = a.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"), min(col("cfp")).as("min_cos_fp"),
        max(col("cfp")).as("max_cos_fp"), sum(col("cfp")).as("csum"))
    val tot = per.agg(sum(col("n_vecs")).as("n_total"))
    per.crossJoin(broadcast(tot))
      .select(col("cluster"), col("n_vecs"),
        expr(s"(CAST(1000000 AS DECIMAL(38,0)) * n_vecs * $NumCentroids) div n_total")
          .as("load_ppm"),
        col("min_cos_fp"), expr("csum div n_vecs").as("mean_cos_fp"),
        col("max_cos_fp"))
  }

  /** DuckDB twin: the knnIvf assignment CTE carrying its winning cosine
    * (arn = 1 row — the same raw double max_by keeps), floored to the
    * same fixed point. */
  def ivfBalanceSql(): String =
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding FROM embeddings
       |  WHERE vec_id < $NumCentroids),
       |a AS (SELECT vec_id, cluster, CAST(floor(cos * 1000000.0) AS BIGINT) AS cfp FROM (
       |    SELECT e.vec_id, c.cent_id AS cluster, ${cosineSql("e", "c")} AS cos,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosineSql("e", "c")} DESC, c.cent_id ASC) AS arn
       |    FROM embeddings e CROSS JOIN cent c) WHERE arn = 1),
       |per AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs,
       |    min(cfp) AS mn, max(cfp) AS mx, sum(cfp) AS cs
       |  FROM a GROUP BY 1),
       |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total FROM per)
       |SELECT cluster, n_vecs,
       |  CAST((CAST(1000000 AS HUGEINT) * n_vecs * $NumCentroids) // n_total AS BIGINT) AS load_ppm,
       |  CAST(mn AS BIGINT) AS min_cos_fp,
       |  CAST(cs // n_vecs AS BIGINT) AS mean_cos_fp,
       |  CAST(mx AS BIGINT) AS max_cos_fp
       |FROM per, t""".stripMargin

  /** Per-cluster keep count for [[samplePerCluster]]. */
  val CoresetK = 4

  /** CLUSTER-BALANCED CORESET SAMPLING — the "keep k per cluster" step of
    * SemDeDup/DataComp-style pruning (Sorscher et al. 2022 "Beyond neural
    * scaling laws" select by prototypicality within k-means clusters; the
    * SSL-prototype rule): after assigning every vector to its nearest
    * centroid, keep only the K most PROTOTYPICAL members per cluster
    * (highest assignment cosine), producing a diversity-preserving subset
    * whose size is |C|·K regardless of corpus size. Reuses the ONE
    * checkpointed [[ivfAssigned]] pass every IVF consumer shares; the keep
    * rule is rank ≤ K over (cluster, simc desc) — compiled to
    * WindowGroupLimit, so each cluster retains a K-row heap per partition
    * and no cluster is ever fully sorted. Ordering ties are broken on the
    * FIXED-POINT cosine (floor ×10⁶, the ivf_balance spelling) then
    * vec_id, so Spark and the DuckDB twin rank identically without
    * trusting cross-engine double ordering. */
  def samplePerCluster(spark: SparkSession, sfDir: String, k: Int = CoresetK): DataFrame = {
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("cos_fp").desc, col("vec_id").asc)
    ivfAssigned(spark, sfDir)
      .select(col("vec_id"), col("cluster"),
        floor(col("simc") * 1000000d).cast("long").as("cos_fp"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("cluster"), col("rank"), col("vec_id"), col("cos_fp"))
  }

  /** DuckDB twin: the same assignment CTE as [[ivfBalanceSql]], then the
    * per-cluster prototypicality rank over the identical fixed point. */
  def samplePerClusterSql(k: Int = CoresetK): String =
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding FROM embeddings
       |  WHERE vec_id < $NumCentroids),
       |a AS (SELECT vec_id, cluster, CAST(floor(cos * 1000000.0) AS BIGINT) AS cos_fp FROM (
       |    SELECT e.vec_id, c.cent_id AS cluster, ${cosineSql("e", "c")} AS cos,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosineSql("e", "c")} DESC, c.cent_id ASC) AS arn
       |    FROM embeddings e CROSS JOIN cent c) WHERE arn = 1)
       |SELECT cluster, rank, vec_id, cos_fp FROM (
       |  SELECT cluster, vec_id, cos_fp,
       |    CAST(row_number() OVER (PARTITION BY cluster
       |      ORDER BY cos_fp DESC, vec_id ASC) AS BIGINT) AS rank
       |  FROM a) WHERE rank <= $k""".stripMargin

  /** IVF-bucketed near-duplicate pairs: cosine ≥ threshold among
    * SORTED-NEIGHBORHOOD candidates within a cluster. The approximate
    * scale path for embedding dedup; recall is bounded by cluster
    * assignment plus the window, the standard IVF trade — the exhaustive
    * twin ([[Dedup.embeddingNearDup]]) is the correctness baseline.
    *
    * Scale shape — round 8: the previous all-pairs-within-cluster form is
    * n²/C with the FIXED centroid set, the exact quadratic class the sf10
    * audit caught in [[dedupSemantic]] (19× wall on 10× data), so
    * candidates now reuse its Hernández–Stolfo window verbatim: cluster
    * members rank by assignment cosine `simc` (near-identical vectors sit
    * at near-identical centroid similarity) and only pairs within rank
    * distance ≤ [[SemWindow]] compare — explode(1..W) + equi-join on
    * (cluster, rank), cost n·W at ANY corpus size. Wherever a cluster
    * holds ≤ W+1 members (every cluster at the oracle scales) the window
    * covers the cluster and output is IDENTICAL to all-pairs. */
  def embeddingNearDupIvf(spark: SparkSession, sfDir: String, threshold: Double = 0.4): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("simc").desc, col("vec_id").asc)
    val ranked = ivfAssigned(spark, sfDir)
      .withColumn("rnk", row_number().over(w))
      .localCheckpoint() // probe and build sides both read it
    val probes = ranked
      .select(col("cluster"), col("rnk"), col("vec_id").as("a_id"),
        col("v").as("va"), col("nrm").as("na"),
        explode(expr(s"sequence(1, $SemWindow)")).as("j"))
      .select(col("cluster"), (col("rnk") + col("j")).as("rnk"),
        col("a_id"), col("va"), col("na"))
    probes
      .join(ranked.select(col("cluster"), col("rnk"), col("vec_id").as("b_id"),
        col("v").as("vb"), col("nrm").as("nb")), Seq("cluster", "rnk"))
      .withColumn("cos", cosinePre(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cos") >= threshold)
      .select(least(col("a_id"), col("b_id")).as("vec_a"),
        greatest(col("a_id"), col("b_id")).as("vec_b"),
        round(col("cos"), 6).as("cos_sim"))
  }

  def embeddingNearDupIvfSql(threshold: Double = 0.4): String =
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding FROM embeddings WHERE vec_id < $NumCentroids),
       |assigned AS (
       |  SELECT vec_id, embedding, cluster, simc FROM (
       |    SELECT e.vec_id, e.embedding, c.cent_id AS cluster,
       |      ${cosineSql("e", "c")} AS simc,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosineSql("e", "c")} DESC, c.cent_id ASC) AS arn
       |    FROM embeddings e CROSS JOIN cent c)
       |  WHERE arn = 1),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY cluster
       |      ORDER BY simc DESC, vec_id ASC) AS rnk
       |  FROM assigned)
       |SELECT least(a.vec_id, b.vec_id) AS vec_a,
       |  greatest(a.vec_id, b.vec_id) AS vec_b,
       |  round(${cosineSql("a", "b")}, 6) AS cos_sim
       |FROM ranked a JOIN ranked b
       |  ON a.cluster = b.cluster
       |  AND b.rnk > a.rnk AND b.rnk <= a.rnk + $SemWindow
       |WHERE ${cosineSql("a", "b")} >= $threshold""".stripMargin

  /** Semantic dedup (the SemDeDup shape, Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus, then inside each cluster keep ONE representative of
    * every near-identical group and drop the rest — the standard
    * embedding-level pass an LLM data pipeline runs after exact/minhash
    * dedup. The keep rule is deterministic and local: a vector is dropped
    * iff a LOWER-id vector in its cluster sits within cosine ≥ `threshold`,
    * and `dup_of` names the smallest such id (the survivor it deduplicates
    * into). This is the greedy per-cluster rule (not transitive closure —
    * [[Dedup.dedupClusters]] is the CC variant for that semantics), so no
    * iteration is needed: one candidate join + one min-aggregate.
    *
    * Scale shape — the round-7 sf10 decade audit caught the naive
    * all-pairs-within-cluster form going QUADRATIC (n²/C with the fixed
    * centroid set: 19× wall on 10× data, clean-screen-confirmed), so
    * candidates are now the SORTED-NEIGHBORHOOD window (Hernández–Stolfo):
    * cluster members order by their assignment cosine `simc` (near-identical
    * vectors sit at near-identical centroid similarity, so true dups are
    * 1-D neighbors), and only pairs within rank distance ≤ [[SemWindow]]
    * compare — an explode(1..W) + equi-join on (cluster, rank), cost n·W at
    * ANY corpus size. Wherever a cluster holds ≤ W+1 members (every cluster
    * at the oracle scales, where the rule is hash-verified) the window
    * covers the cluster and the output is IDENTICAL to all-pairs; beyond
    * that the window is the recall trade the published SemDeDup deployment
    * makes through its corpus-scaled cluster count. The verdict join back
    * to the corpus is a LEFT join on vec_id (one key shuffle of n rows). */
  def dedupSemantic(spark: SparkSession, sfDir: String, threshold: Double = 0.4): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("simc").desc, col("vec_id").asc)
    val ranked = ivfAssigned(spark, sfDir)
      .withColumn("rnk", row_number().over(w))
      .localCheckpoint() // probe side, build side and the verdict join all read it
    val probes = ranked
      .select(col("cluster"), col("rnk"), col("vec_id").as("a_id"),
        col("v").as("va"), col("nrm").as("na"),
        explode(expr(s"sequence(1, $SemWindow)")).as("j"))
      .select(col("cluster"), (col("rnk") + col("j")).as("rnk"),
        col("a_id"), col("va"), col("na"))
    val dupOf = probes
      .join(ranked.select(col("cluster"), col("rnk"), col("vec_id").as("b_id"),
        col("v").as("vb"), col("nrm").as("nb")), Seq("cluster", "rnk"))
      .filter(cosinePre(col("va"), col("vb"), col("na"), col("nb")) >= threshold)
      .groupBy(greatest(col("a_id"), col("b_id")).as("dup_id"))
      .agg(min(least(col("a_id"), col("b_id"))).as("dup_of"))
    ranked.select(col("vec_id"), col("cluster"))
      .join(dupOf, col("vec_id") === col("dup_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("dup_of").isNull.as("kept"),
        coalesce(col("dup_of"), col("vec_id")).as("canonical"))
  }

  /** In-cluster sorted-neighborhood width for [[dedupSemantic]]: clusters
    * up to W+1 members compare all-pairs (the oracle-verified regime);
    * larger clusters compare 1-D neighbors only, keeping cost n·W. */
  val SemWindow = 32

  /** Corpus-wide kNN GRAPH build — every vector's top-k in-cluster
    * neighbors, the bulk-inference shape behind kNN-graph clustering,
    * diversity sampling and graph-based dedup (the `knn_*` family serves a
    * FIXED query set; this serves the whole corpus as queries). Candidates
    * reuse [[dedupSemantic]]'s sorted-neighborhood discipline — cluster
    * members rank by assignment cosine and each vector compares both
    * directions of its rank window (explode(±1..W) + equi-join on
    * (cluster, rank)) — so candidate volume is n·2W at ANY corpus size,
    * never the n²/C all-pairs the sf10 audit indicted; wherever clusters
    * hold ≤ W+1 members the window covers the cluster exactly. Per query
    * the top-k filter (`cos` DESC, neighbor ASC) compiles to
    * WindowGroupLimit: ≤ k rows per vector survive pre-shuffle. */
  def knnJoin(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("simc").desc, col("vec_id").asc)
    val ranked = ivfAssigned(spark, sfDir)
      .withColumn("rnk", row_number().over(w))
      .localCheckpoint() // probe and build sides both read it
    val offs = ((-SemWindow to -1) ++ (1 to SemWindow)).toArray
    val probes = ranked
      .select(col("cluster"), col("rnk"), col("vec_id").as("a_id"),
        col("v").as("va"), col("nrm").as("na"),
        explode(typedLit(offs)).as("j"))
      .select(col("cluster"), (col("rnk") + col("j")).as("rnk"),
        col("a_id"), col("va"), col("na"))
    val topW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a_id")).orderBy(col("cos").desc, col("b_id").asc)
    probes
      .join(ranked.select(col("cluster"), col("rnk"), col("vec_id").as("b_id"),
        col("v").as("vb"), col("nrm").as("nb")), Seq("cluster", "rnk"))
      .withColumn("cos", cosinePre(col("va"), col("vb"), col("na"), col("nb")))
      .withColumn("nrank", row_number().over(topW))
      .filter(col("nrank") <= k) // WindowGroupLimit
      .select(col("a_id").as("vec_id"), col("b_id").as("neighbor_id"),
        col("nrank").cast("long").as("nrank"), round(col("cos"), 6).as("cos_sim"))
  }

  def knnJoinSql(k: Int = 3): String =
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding FROM embeddings WHERE vec_id < $NumCentroids),
       |assigned AS (
       |  SELECT vec_id, embedding, cluster, simc FROM (
       |    SELECT e.vec_id, e.embedding, c.cent_id AS cluster,
       |      ${cosineSql("e", "c")} AS simc,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosineSql("e", "c")} DESC, c.cent_id ASC) AS arn
       |    FROM embeddings e CROSS JOIN cent c)
       |  WHERE arn = 1),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY cluster
       |      ORDER BY simc DESC, vec_id ASC) AS rnk
       |  FROM assigned),
       |cand AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, ${cosineSql("a", "b")} AS cos
       |  FROM ranked a JOIN ranked b
       |    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
       |    AND b.rnk BETWEEN a.rnk - $SemWindow AND a.rnk + $SemWindow)
       |SELECT a_id AS vec_id, b_id AS neighbor_id,
       |  CAST(nrank AS BIGINT) AS nrank, round(cos, 6) AS cos_sim
       |FROM (SELECT *, row_number() OVER (PARTITION BY a_id
       |    ORDER BY cos DESC, b_id ASC) AS nrank FROM cand)
       |WHERE nrank <= $k""".stripMargin

  def dedupSemanticSql(threshold: Double = 0.4): String =
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding FROM embeddings WHERE vec_id < $NumCentroids),
       |assigned AS (
       |  SELECT vec_id, embedding, cluster, simc FROM (
       |    SELECT e.vec_id, e.embedding, c.cent_id AS cluster,
       |      ${cosineSql("e", "c")} AS simc,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosineSql("e", "c")} DESC, c.cent_id ASC) AS arn
       |    FROM embeddings e CROSS JOIN cent c)
       |  WHERE arn = 1),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY cluster
       |      ORDER BY simc DESC, vec_id ASC) AS rnk
       |  FROM assigned),
       |dup_of AS (
       |  SELECT greatest(a.vec_id, b.vec_id) AS dup_id,
       |    min(least(a.vec_id, b.vec_id)) AS dup_of
       |  FROM ranked a JOIN ranked b
       |    ON a.cluster = b.cluster
       |    AND b.rnk > a.rnk AND b.rnk <= a.rnk + $SemWindow
       |  WHERE ${cosineSql("a", "b")} >= $threshold
       |  GROUP BY 1)
       |SELECT s.vec_id, s.cluster, d.dup_of IS NULL AS kept,
       |  coalesce(d.dup_of, s.vec_id) AS canonical
       |FROM assigned s LEFT JOIN dup_of d ON s.vec_id = d.dup_id""".stripMargin

  // ---- semantic contamination vs a benchmark/eval set ---------------------

  /** Eval-set slice for [[contaminationSemantic]]: vec_ids in
    * [EvalLo, EvalHi) play the benchmark embeddings. A FIXED id range, the
    * [[NumQueries]]/[[NumCentroids]] discipline: the decade generator
    * shifts replica ids far above it, so the eval set stays O(1) while the
    * corpus grows — the realistic shape (benchmarks don't grow with the
    * crawl). */
  val EvalLo = 128L
  val EvalHi = 160L

  /** Decision threshold for [[contaminationSemantic]] — between
    * [[dedupSemantic]]'s 0.4 near-dup bar and the corpus's background
    * cosine level, so the flagged set is non-trivial at every test SF. */
  val ContamSemTau = 0.35

  /** SEMANTIC CONTAMINATION — embedding-space decontamination of the
    * training corpus against a benchmark/eval set: every corpus vector
    * whose cosine against ANY eval embedding reaches [[ContamSemTau]] is
    * flagged, with the best-matching eval id and its cosine. The
    * SemDeDup-style complement of the n-gram [[Curation.contamination]] /
    * `contamination_spans` pair (production decontamination — the GPT-4 /
    * Llama report recipe — runs BOTH: n-gram overlap catches verbatim
    * leakage, embedding cosine catches paraphrase). Flagged docs are
    * dropped before training so eval scores measure generalization, not
    * memorization.
    *
    * Shape — and why this is NOT the IVF path [[dedupSemantic]] takes: the
    * eval set is a FIXED-size frame (benchmarks are O(10k) items however
    * big the corpus), so the right 100 TB plan is the [[knnBrute]] one —
    * broadcast the eval side and scan the corpus ONCE, scoring n·|eval|
    * pairs map-side with zero candidate-generation machinery and zero
    * recall loss (IVF assignment would pay the same broadcast-scored n·C
    * pass just to build buckets, then still probe — strictly more work to
    * return a subset of the answer). The per-vector argmax folds into the
    * same hash aggregation [[ivfAssigned]] uses (max_by over (cos, −id)):
    * all of a vector's eval pairs sit in one task, so partials collapse
    * n·|eval| → n before the exchange and the only shuffle is the
    * |flagged|-row aggregation. */
  def contaminationSemantic(spark: SparkSession, sfDir: String,
      threshold: Double = ContamSemTau): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", graft.functions.VectorExpressions.vec_norm(col("v")))
    val ev = e.filter(col("vec_id") >= EvalLo && col("vec_id") < EvalHi)
      .select(col("vec_id").as("eval_id"), col("v").as("evv"), col("nrm").as("evnrm"))
    rebalance(spark, e.filter(col("vec_id") < EvalLo || col("vec_id") >= EvalHi))
      .join(broadcast(ev))
      .withColumn("cos", cosinePre(col("v"), col("evv"), col("nrm"), col("evnrm")))
      .filter(col("cos") >= threshold)
      .groupBy(col("vec_id"))
      .agg(max_by(col("eval_id"), struct(col("cos"), -col("eval_id"))).as("eval_id"),
        // the winning pair's cosine — max(cos) IS the argmax's value
        max(col("cos")).as("mcos"))
      .select(col("vec_id"), col("eval_id"), round(col("mcos"), 6).as("cos_sim"))
  }

  /** DuckDB twin: same fold-order cosine, same threshold, argmax via
    * row_number (cos DESC, eval_id ASC) — equivalent to the engine's
    * max_by(…, (cos, −eval_id)) because both order by the RAW double
    * cosine first. */
  def contaminationSemanticSql(threshold: Double = ContamSemTau): String =
    s"""WITH ev AS (SELECT vec_id AS eval_id, embedding FROM embeddings
       |  WHERE vec_id >= $EvalLo AND vec_id < $EvalHi),
       |cand AS (SELECT e.vec_id, ev.eval_id, ${cosineSql("e", "ev")} AS cos
       |  FROM embeddings e CROSS JOIN ev
       |  WHERE (e.vec_id < $EvalLo OR e.vec_id >= $EvalHi)
       |    AND ${cosineSql("e", "ev")} >= $threshold)
       |SELECT vec_id, eval_id, round(cos, 6) AS cos_sim FROM (
       |  SELECT vec_id, eval_id, cos, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, eval_id ASC) AS rn
       |  FROM cand)
       |WHERE rn = 1""".stripMargin

  /** Negatives returned per eval query by [[hardNegatives]]. */
  val HardNegK = 10

  /** HARD-NEGATIVE MINING for contrastive retrieval training (the DPR /
    * ANCE recipe — Karpukhin et al., EMNLP 2020; Xiong et al., ICLR 2021):
    * for each benchmark/eval query embedding, the most-similar corpus
    * vectors that are NOT semantic matches of the query make the best
    * training negatives — random negatives are too easy to teach a useful
    * decision boundary, and near-duplicates of the positive are FALSE
    * negatives that poison the contrastive loss. The positive bar reuses
    * [[ContamSemTau]] deliberately: exactly the vectors the
    * decontamination pass ([[contaminationSemantic]]) flags as eval
    * matches are the ones excluded here — one threshold, two sides of the
    * same eval-vs-corpus decision.
    *
    * Plan — the [[knnBrute]] / [[contaminationSemantic]] shape: the eval
    * set is O(1) in corpus size and broadcasts; ONE corpus scan scores
    * n·|eval| pairs map-side; the cos < τ positive filter runs BEFORE the
    * rank window, and the per-query top-k rank is a WindowGroupLimit
    * (each map task forwards at most k rows per query before the
    * exchange), so the only shuffle is O(|eval|·k·tasks) candidate rows —
    * never the corpus. */
  def hardNegatives(spark: SparkSession, sfDir: String, k: Int = HardNegK,
      posTau: Double = ContamSemTau): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", graft.functions.VectorExpressions.vec_norm(col("v")))
    val ev = e.filter(col("vec_id") >= EvalLo && col("vec_id") < EvalHi)
      .select(col("vec_id").as("eval_id"), col("v").as("evv"), col("nrm").as("evnrm"))
    val w = Window.partitionBy(col("eval_id")).orderBy(col("cos").desc, col("vec_id").asc)
    rebalance(spark, e.filter(col("vec_id") < EvalLo || col("vec_id") >= EvalHi))
      .join(broadcast(ev))
      .withColumn("cos", cosinePre(col("v"), col("evv"), col("nrm"), col("evnrm")))
      .filter(col("cos") < posTau)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("eval_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("cos"), 6).as("cos_sim"))
  }

  /** DuckDB twin: same fold-order cosine, same raw-double τ filter, same
    * (cos DESC, vec_id ASC) rank tie-break. */
  def hardNegativesSql(k: Int = HardNegK, posTau: Double = ContamSemTau): String =
    s"""WITH ev AS (SELECT vec_id AS eval_id, embedding FROM embeddings
       |  WHERE vec_id >= $EvalLo AND vec_id < $EvalHi),
       |cand AS (SELECT e.vec_id, ev.eval_id, ${cosineSql("e", "ev")} AS cos
       |  FROM embeddings e CROSS JOIN ev
       |  WHERE (e.vec_id < $EvalLo OR e.vec_id >= $EvalHi)
       |    AND ${cosineSql("e", "ev")} < $posTau)
       |SELECT eval_id, vec_id AS neighbor_id, CAST(rank AS BIGINT) AS rank,
       |  round(cos, 6) AS cos_sim FROM (
       |  SELECT vec_id, eval_id, cos, row_number() OVER (PARTITION BY eval_id
       |      ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM cand)
       |WHERE rank <= $k""".stripMargin

  // ---- sign-random-projection LSH (centroid-free scale path) --------------

  /** SRP-LSH geometry: 32 hyperplanes = 4 bands × 8 bits. Bit j of a vector
    * is the sign of its projection onto pseudo-random hyperplane j; two
    * vectors at angle θ agree on a bit with probability 1 − θ/π (Charikar,
    * STOC'02), so requiring a full 8-bit band match keeps the random
    * collision rate at ~4/256 of all pairs while catching genuine near-dups
    * (cos ≥ 0.9 → ≥1-band hit ≈ 76%, rising steeply toward cos 1). */
  val SrpBits = 32
  val SrpBands = 4
  val EmbeddingDim = 64 // embeddings.embedding is FLOAT[64] (TESTDATA.md)

  /** Hyperplane component signs, derived from md5 so the DuckDB oracle
    * reproduces them from SQL alone: sign(j,d) = +1 iff the first hex digit
    * of md5("j:d") is odd (d is 1-based to match SQL list indexing). The
    * matrix is materialized driver-side as 32 literal arrays — at execution
    * time each projection is one codegen'd [[dot]] against a constant
    * vector, never an interpreted lambda. */
  private[operators] def srpSignVec(j: Int, dim: Int = EmbeddingDim): Seq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (1 to dim).map { d =>
      md.reset()
      val hex = md.digest(s"$j:$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
      ((Integer.parseInt(hex.substring(0, 1), 16) % 2) * 2 - 1).toDouble
    }
  }

  /** Embedding near-dup pairs via SRP-LSH: the scale path that needs NO
    * centroid set at all — where IVF recall depends on a trained codebook,
    * SRP's collision probability is a pure function of the pair's angle.
    * Candidates share at least one (band, 8-bit code) bucket; survivors are
    * verified with the exact cosine, so precision is 1 against the
    * exhaustive baseline ([[Dedup.embeddingNearDup]]) and only recall is
    * approximate.
    *
    * Scale shape — round 12: the original all-pairs-in-bucket expansion is
    * Σ|B|(|B|−1)/2 with |B| averaging n/2^bits — RANDOM collisions give a
    * structural n²/256-per-band term that the fixed 8-bit band turns
    * quadratic past ~10⁴ vectors (caught by the first HONEST sf100 decade:
    * at n = 2M the expansion is ~3·10¹⁰ candidate pairs and OOMs a 64 g
    * JVM; the pre-fix generator's twin-degenerate embeddings had masked
    * it). Candidates now use the [[embeddingNearDupIvf]] Hernández–Stolfo
    * window: within each (band, code) bucket, members order by the
    * band-ROTATED full code — this band's 8 bits most significant, the
    * other bands' bits following, so true near-dups (which agree on most
    * of the remaining 24 bits, the same Charikar bit-agreement argument
    * that justifies the bucketing) sort adjacent — and only pairs within
    * rank distance ≤ [[SemWindow]] compare. Work is Σ|B|·W: linear at any
    * corpus size. Buckets with ≤ W+1 members (every bucket at the oracle
    * scales) are covered completely, so the output there is IDENTICAL to
    * all-pairs. */
  def embeddingNearDupSrp(spark: SparkSession, sfDir: String, threshold: Double = 0.4): DataFrame =
    embeddingNearDupSrpOf(Tables.embeddings(spark, sfDir), threshold)

  /** The pre-checkpoint SRP ranking lineage: band codes → per-band
    * (band, code, rotated sort key) explode → in-bucket row_number. Factored
    * out (round 13) so the plan audit can pin the WINDOW shape directly —
    * in [[embeddingNearDupSrpOf]] this frame is eagerly checkpointed, so
    * the registered query's final plan only shows the probe side reading
    * an ExistingRDD and the rank window would otherwise be unauditable. */
  private[graft] def srpRanked(e: DataFrame): DataFrame = {
    val rows = SrpBits / SrpBands
    val codeCols = (0 until SrpBands).map { b =>
      (0 until rows).map { k =>
        val j = b * rows + k
        when(dot(col("v"), typedLit(srpSignVec(j))) > 0.0, lit(1L << k)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"c$b")
    }
    // One struct per band carrying the bucket code AND the band-rotated
    // full code as the in-bucket sort key.
    val bandStructs = (0 until SrpBands).map { b =>
      val skey = (0 until SrpBands).map { i =>
        col(s"c${(b + i) % SrpBands}") * lit(1L << (rows * (SrpBands - 1 - i)))
      }.reduce(_ + _)
      struct(lit(b).as("band"), col(s"c$b").as("code"), skey.as("skey"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("code")).orderBy(col("skey").asc, col("vec_id").asc)
    e.select((col("vec_id") +: codeCols): _*)
      .select(col("vec_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.code").as("code"),
        col("bb.skey").as("skey"))
      .withColumn("rnk", row_number().over(w))
  }

  /** Chunk core size for the in-bucket LOCAL verify (round 13): bucket
    * members group into rank-contiguous chunks of [[SrpChunk]] members
    * (plus the next chunk's first [[SemWindow]] ranks as a read-only tail,
    * so every rank-window pair lives in exactly one chunk), bounding any
    * grouped row at (SrpChunk+W)·~0.6 KB ≈ 2.3 MB no matter how large a
    * bucket grows. */
  val SrpChunk = 4096

  def embeddingNearDupSrpOf(embeddings: DataFrame, threshold: Double = 0.4): DataFrame = {
    val e = embeddings
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", graft.functions.VectorExpressions.vec_norm(col("v")))
      .localCheckpoint() // feeds code computation AND the vector re-attach
    // 4n small rows (no vectors — the rank window sorts 32 B rows):
    // serialized checkpoint so the code computation runs once.
    val ranked = Checkpoints.ser(srpRanked(e))
    // VERIFY IN PLACE, not by joining vectors onto pairs (round 13): with
    // |B| >> W nearly every probe matches, so candidates are 4·W·n ≈ 128n
    // pairs, and materializing BOTH 64-double vectors per candidate for a
    // pair-level join costs O(pairs·d) exchange bytes — ~140 GB at the
    // sf100 decade (2M vectors), which no shuffle tier here survives. The
    // exchange-optimal shape moves each vector ONCE, O(n·d): re-attach
    // (v, nrm) to the ranked rows by vec_id, group each (band, code)
    // bucket into rank-contiguous CHUNKS ([[SrpChunk]] cores + W tail —
    // every rank-window pair falls in exactly one chunk, and chunk rows
    // stay ~2 MB regardless of bucket size), and compute each window
    // pair's cosine locally inside the chunk with the same codegen'd
    // left-to-right [[dot]] as every other path (bit-identical to the
    // join form: per-element products and the fold order are unchanged).
    // Only verified pairs (cos ≥ threshold) ever leave the chunk.
    val member = struct(col("rnk"), col("vec_id"), col("v"), col("nrm"), col("core"))
    val chunked = ranked
      .join(e.select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
      .select(col("band"), col("code"), col("rnk"), col("vec_id"), col("v"), col("nrm"),
        explode(expr(
          s"""CASE WHEN rnk > $SrpChunk AND (rnk - 1) % $SrpChunk < $SemWindow
             |THEN array(named_struct('chunk', (rnk - 1) DIV $SrpChunk, 'core', true),
             |           named_struct('chunk', (rnk - 1) DIV $SrpChunk - 1, 'core', false))
             |ELSE array(named_struct('chunk', (rnk - 1) DIV $SrpChunk, 'core', true))
             |END""".stripMargin)).as("m"))
      .select(col("band"), col("code"), col("m.chunk").as("chunk"), col("m.core").as("core"),
        col("rnk"), col("vec_id"), col("v"), col("nrm"))
      .groupBy(col("band"), col("code"), col("chunk"))
      .agg(sort_array(collect_list(member)).as("ms")) // rnk-sorted: ranks are contiguous
    def pairStruct(xm: Column, ym: Column): Column = struct(
      least(xm.getField("vec_id"), ym.getField("vec_id")).as("vec_a"),
      greatest(xm.getField("vec_id"), ym.getField("vec_id")).as("vec_b"),
      (dot(xm.getField("v"), ym.getField("v")) /
        (xm.getField("nrm") * ym.getField("nrm"))).as("cos"))
    val emptyPairs = array().cast("array<struct<vec_a:bigint,vec_b:bigint,cos:double>>")
    chunked
      .select(explode(flatten(transform(col("ms"), (xm, i) =>
        when(xm.getField("core"),
          filter(
            transform(slice(col("ms"), i + lit(2), lit(SemWindow)), ym => pairStruct(xm, ym)),
            p => p.getField("cos") >= threshold))
          .otherwise(emptyPairs)))).as("pr"))
      .select(col("pr.vec_a").as("vec_a"), col("pr.vec_b").as("vec_b"),
        col("pr.cos").as("cos"))
      .distinct() // a true near-dup pair can collide in up to 4 bands
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos_sim"))
  }

  def embeddingNearDupSrpSql(threshold: Double = 0.4): String = {
    val rows = SrpBits / SrpBands
    // Per-band rotated sort key, replayed verbatim from the Spark side:
    // band b's code shifted most-significant, the others following.
    val skeyCase = (0 until SrpBands).map { b =>
      val sum = (0 until SrpBands).map { i =>
        s"c${(b + i) % SrpBands} * ${1L << (rows * (SrpBands - 1 - i))}"
      }.mkString(" + ")
      s"WHEN $b THEN $sum"
    }.mkString(" ")
    val codeCase = (0 until SrpBands).map(b => s"WHEN $b THEN c$b").mkString(" ")
    s"""WITH proj AS (
       |  SELECT vec_id, j,
       |    list_sum(list_transform(generate_series(1, len(embedding)),
       |      i -> CAST((((('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1))::INT % 2) * 2) - 1) AS DOUBLE)
       |           * CAST(embedding[i] AS DOUBLE))) AS p
       |  FROM embeddings, LATERAL (SELECT unnest(generate_series(0, ${SrpBits - 1})) AS j) jj),
       |codes AS (
       |  SELECT vec_id, j // $rows AS band,
       |    CAST(sum(CASE WHEN p > 0 THEN (1 << (j % $rows)) ELSE 0 END) AS BIGINT) AS code
       |  FROM proj GROUP BY vec_id, band),
       |allc AS (
       |  SELECT vec_id,
       |    ${(0 until SrpBands).map(b =>
             s"CAST(sum(CASE WHEN band = $b THEN code ELSE 0 END) AS BIGINT) AS c$b")
             .mkString(",\n    ")}
       |  FROM codes GROUP BY vec_id),
       |ranked AS (
       |  SELECT vec_id, band,
       |    CASE band $codeCase END AS code,
       |    CASE band $skeyCase END AS skey,
       |    row_number() OVER (PARTITION BY band, CASE band $codeCase END
       |      ORDER BY CASE band $skeyCase END ASC, vec_id ASC) AS rnk
       |  FROM allc CROSS JOIN generate_series(0, ${SrpBands - 1}) AS g(band)),
       |pairs AS (SELECT DISTINCT least(a.vec_id, b.vec_id) AS vec_a,
       |            greatest(a.vec_id, b.vec_id) AS vec_b
       |          FROM ranked a JOIN ranked b
       |            ON a.band = b.band AND a.code = b.code
       |            AND b.rnk > a.rnk AND b.rnk <= a.rnk + $SemWindow)
       |SELECT vec_a, vec_b, round(cos, 6) AS cos_sim FROM (
       |  SELECT vec_a, vec_b, ${cosineSql("ea", "eb")} AS cos
       |  FROM pairs JOIN embeddings ea ON ea.vec_id = vec_a
       |             JOIN embeddings eb ON eb.vec_id = vec_b)
       |WHERE cos >= $threshold""".stripMargin
  }

  def knnIvfSql(k: Int = 3): String =
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding FROM embeddings WHERE vec_id < $NumCentroids),
       |assigned AS (
       |  SELECT vec_id, embedding, cent_id AS cluster FROM (
       |    SELECT e.vec_id, e.embedding, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosineSql("e", "c")} DESC, c.cent_id ASC) AS arn
       |    FROM embeddings e CROSS JOIN cent c)
       |  WHERE arn = 1),
       |q AS (SELECT vec_id AS query_id, embedding, cluster FROM assigned WHERE vec_id < $NumQueries)
       |SELECT query_id, neighbor_id, rank, cos_sim FROM (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${cosineSql("q", "e")} DESC, e.vec_id ASC) AS rank,
       |    round(${cosineSql("q", "e")}, 6) AS cos_sim
       |  FROM assigned e JOIN q ON e.cluster = q.cluster AND e.vec_id <> q.query_id)
       |WHERE rank <= $k""".stripMargin

  /** Multi-probe width: each query scans its [[NumProbes]] nearest
    * clusters. Fixed like [[NumCentroids]] — the probe fan-out is a serving
    * knob, not a corpus-dependent quantity. */
  val NumProbes = 4

  /** MULTI-PROBE IVF — FAISS's `nprobe` serving knob, the missing rung
    * between [[knnIvf]] (nprobe=1) and [[knnBrute]] (nprobe=C): each query
    * probes its [[NumProbes]] nearest clusters by centroid cosine, trading
    * a P/C corpus fraction per query for the recall lost to hard cluster
    * boundaries (a true neighbor assigned to the runner-up cluster is
    * invisible at nprobe=1 — the standard IVF failure mode multi-probe
    * exists to fix).
    *
    * Monotonicity is structural: the candidate pool grows with P under the
    * same total order (cos desc, vec_id asc), so recall@k vs the brute
    * baseline is non-decreasing in P, and P = C IS the brute scan — both
    * proven in SimilaritySpec. Scale shape: the query-side (query × top-P
    * cluster) frame is NumQueries·P rows riding a broadcast; the corpus
    * never joins centroids again (the checkpointed [[ivfAssigned]] carries
    * the cluster), candidates bound at P/C of the corpus per query, top-k
    * compiles to WindowGroupLimit. A candidate belongs to exactly one
    * cluster, so pairs are join-unique — no distinct pass. */
  def knnIvfMultiprobe(spark: SparkSession, sfDir: String, k: Int = 3,
      p: Int = NumProbes): DataFrame = {
    val assigned = ivfAssigned(spark, sfDir)
    val cent = assigned.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cnrm"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cent_id").asc)
    val qp = assigned.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
      .join(broadcast(cent))
      .withColumn("ccos", cosinePre(col("qv"), col("cv"), col("qnrm"), col("cnrm")))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= p)
      .select(col("query_id"), col("qv"), col("qnrm"), col("cent_id").as("qcluster"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    assigned.join(broadcast(qp),
        col("cluster") === col("qcluster") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosinePre(col("qv"), col("v"), col("qnrm"), col("nrm")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("cos"), 6).as("cos_sim"))
  }

  /** DuckDB twin — same seeded assignment as [[knnIvfSql]], with the query
    * side ranked to its top-P clusters instead of argmax-1. */
  def knnIvfMultiprobeSql(k: Int = 3, p: Int = NumProbes): String =
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding FROM embeddings WHERE vec_id < $NumCentroids),
       |assigned AS (
       |  SELECT vec_id, embedding, cent_id AS cluster FROM (
       |    SELECT e.vec_id, e.embedding, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosineSql("e", "c")} DESC, c.cent_id ASC) AS arn
       |    FROM embeddings e CROSS JOIN cent c)
       |  WHERE arn = 1),
       |qp AS (
       |  SELECT vec_id AS query_id, embedding, cent_id AS qcluster FROM (
       |    SELECT e.vec_id, e.embedding, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosineSql("e", "c")} DESC, c.cent_id ASC) AS prn
       |    FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < $NumQueries)
       |  WHERE prn <= $p)
       |SELECT query_id, neighbor_id, rank, cos_sim FROM (
       |  SELECT qp.query_id, e.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY qp.query_id
       |      ORDER BY ${cosineSql("qp", "e")} DESC, e.vec_id ASC) AS rank,
       |    round(${cosineSql("qp", "e")}, 6) AS cos_sim
       |  FROM assigned e JOIN qp ON e.cluster = qp.qcluster AND e.vec_id <> qp.query_id)
       |WHERE rank <= $k""".stripMargin

  /** ANN quality evaluation: recall@k of the IVF index against the exact
    * brute-force baseline, per query — the measurement loop an ANN
    * deployment runs before trusting its index parameters. Output is
    * all-integer (overlap counts + fixed-point recall), so the eval itself
    * is hash-verified cross-engine like every other operator.
    *
    * Shape: both inputs are the already-registered top-k plans (tiny
    * outputs: queries × k rows); everything downstream joins those few
    * rows. The cost IS the two index probes — the eval adds nothing. */
  def knnRecall(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val b = knnBrute(spark, sfDir, k).select(col("query_id"), col("neighbor_id"))
    val v = knnIvf(spark, sfDir, k)
      .select(col("query_id").as("vq"), col("neighbor_id").as("vn"))
    val nb = b.groupBy(col("query_id")).agg(count(lit(1)).as("n_brute"))
    val nv = v.groupBy(col("vq")).agg(count(lit(1)).as("n_ivf"))
    val ov = b.join(v, col("query_id") === col("vq") && col("neighbor_id") === col("vn"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
      .select(col("query_id").as("oq"), col("n_overlap"))
    nb.join(nv, col("query_id") === col("vq"), "left")
      .join(ov, col("query_id") === col("oq"), "left")
      .select(col("query_id"), col("n_brute"),
        coalesce(col("n_ivf"), lit(0L)).as("n_ivf"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("recall_fp", expr("(1000000 * n_overlap) div n_brute"))
  }

  def knnRecallSql(k: Int = 5): String =
    s"""WITH b AS (${knnBruteSql(k)}),
       |v AS (${knnIvfSql(k)}),
       |nb AS (SELECT query_id, count(*) AS n_brute FROM b GROUP BY 1),
       |nv AS (SELECT query_id, count(*) AS n_ivf FROM v GROUP BY 1),
       |ov AS (SELECT b.query_id, count(*) AS n_overlap FROM b JOIN v
       |       ON b.query_id = v.query_id AND b.neighbor_id = v.neighbor_id GROUP BY 1)
       |SELECT nb.query_id, CAST(n_brute AS BIGINT) AS n_brute,
       |  CAST(coalesce(nv.n_ivf, 0) AS BIGINT) AS n_ivf,
       |  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
       |  CAST((1000000 * coalesce(ov.n_overlap, 0)) // n_brute AS BIGINT) AS recall_fp
       |FROM nb LEFT JOIN nv ON nb.query_id = nv.query_id
       |        LEFT JOIN ov ON nb.query_id = ov.query_id""".stripMargin

  val KmeansK = 8
  val KmeansIters = 3

  /** K-MEANS TRAINING (Lloyd's iterations) with exact cross-engine parity —
    * the engine trains its own IVF codebook instead of assuming one:
    *
    * {{{ c_0 = first K vectors;  repeat T times:
    *       assign: cluster(v) = argmax_c dot(v, c)/|c|   (≡ cosine ranking)
    *       update: c[dim] = (Σ floor(v[dim]·10^6)) div n  (fixed-point mean) }}}
    *
    * Assignment scores are doubles, but every input double is bit-identical
    * across engines (float→double widening, fixed-point centroid decode,
    * left-to-right dot folds), so the argmax — all that matters — agrees
    * exactly; centroid updates stay in int64. The DuckDB oracle unrolls the
    * T iterations as CTEs and reproduces every round bit-for-bit.
    *
    * Scale shape per iteration: the K-row codebook BROADCASTS (the corpus
    * is never shuffled by assignment), the argmax compiles to
    * WindowGroupLimit (top-1 per vector pre-reduced before its exchange),
    * and the update is the [[embeddingCentroids]] single-aggregation shape.
    * Between iterations only the K·dims centroid table returns to the
    * driver — O(K·d) independent of corpus size, the same structure Spark
    * MLlib's KMeans uses. Vectors are localCheckpoint'ed once; iterations
    * re-read the materialized blocks, not the parquet scan. */
  def kmeansTrain(spark: SparkSession, sfDir: String,
      k: Int = KmeansK, iters: Int = KmeansIters): DataFrame = {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    def centDf(cents: Seq[(Long, Seq[Double])]) =
      broadcast(cents.toDF("cluster", "cvec"))
    var cents: Seq[(Long, Seq[Double])] = vecs.filter(col("vec_id") < k)
      .select(col("vec_id"), toDoubleVec(col("embedding")))
      .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
    var update: DataFrame = null
    for (_ <- 1 to iters) {
      val w = Window.partitionBy(col("vec_id"))
        .orderBy((dot(toDoubleVec(col("embedding")), col("cvec")) /
          sqrt(dot(col("cvec"), col("cvec")))).desc, col("cluster").asc)
      val assigned = vecs.crossJoin(centDf(cents))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("cluster"), col("embedding"))
      update = assigned
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("cluster"), col("dim").cast("long").as("dim"),
          floor(col("x").cast("double") * 1000000).cast("long").as("fp"))
        .groupBy(col("cluster"), col("dim"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("fp")).as("sum_fp"))
      cents = update
        .select(col("cluster"), col("dim"),
          expr("(sum_fp div n_vecs) / CAST(1000000 AS DOUBLE)").as("cv"))
        .as[(Long, Long, Double)].collect().toSeq
        .groupBy(_._1).toSeq
        .map { case (cl, rows) => (cl, rows.sortBy(_._2).map(_._3)) }
        .sortBy(_._1)
    }
    update.select(col("cluster"), col("dim"), col("n_vecs"),
      expr("sum_fp div n_vecs").as("centroid_fp"))
  }

  /** Embedding·centroid dot and centroid norm in SQL — ONE definition for
    * the k-means CTE chain AND the trained-probe oracle (they must agree
    * on the fold or the assignments silently diverge). */
  private def kmDotSql(e: String, c: String): String =
    s"list_sum(list_transform(generate_series(1, len($e.embedding)), i -> CAST($e.embedding[i] AS DOUBLE) * $c.cvec[i]))"
  private def kmNormSql(c: String): String =
    s"sqrt(list_sum(list_transform($c.cvec, x -> x * x)))"

  /** The k-means iteration CTE chain (c0, a1, u1, c1, …, u`iters`) shared
    * by [[kmeansTrainSql]] and the trained-probe oracle. */
  private def kmeansCtes(k: Int, iters: Int): String = {
    def d(e: String, c: String) = kmDotSql(e, c)
    def cn(c: String) = kmNormSql(c)
    val ctes = new scala.collection.mutable.ArrayBuffer[String]
    ctes += s"""c0 AS (
      |  SELECT vec_id AS cluster, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      |  FROM embeddings WHERE vec_id < $k)""".stripMargin
    for (t <- 1 to iters) {
      ctes += s"""a$t AS (
        |  SELECT vec_id, embedding, cluster FROM (
        |    SELECT e.vec_id, e.embedding, c.cluster,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY ${d("e", "c")} / ${cn("c")} DESC, c.cluster) AS rn
        |    FROM embeddings e CROSS JOIN c${t - 1} c)
        |  WHERE rn = 1)""".stripMargin
      ctes += s"""u$t AS (
        |  SELECT cluster, i - 1 AS dim, CAST(count(*) AS BIGINT) AS n_vecs,
        |    CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_fp
        |  FROM a$t, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s
        |  GROUP BY 1, 2)""".stripMargin
      // cT (the decoded centroid arrays) is emitted for EVERY round
      // including the last: kmeansTrainSql doesn't need the final one, but
      // the trained-probe oracle assigns the corpus against it.
      ctes += s"""c$t AS (
        |  SELECT cluster, list(sum_fp // n_vecs / 1000000.0 ORDER BY dim) AS cvec
        |  FROM u$t GROUP BY cluster)""".stripMargin
    }
    ctes.mkString(",\n")
  }

  def kmeansTrainSql(k: Int = KmeansK, iters: Int = KmeansIters): String =
    s"""WITH ${kmeansCtes(k, iters)}
       |SELECT CAST(cluster AS BIGINT) AS cluster, CAST(dim AS BIGINT) AS dim, n_vecs,
       |  CAST(sum_fp // n_vecs AS BIGINT) AS centroid_fp
       |FROM u$iters""".stripMargin

  /** IVF probe against the TRAINED codebook — [[kmeansTrain]] to build the
    * K centroids, then the [[knnIvf]] serving shape against them: the
    * train→serve loop closed inside the engine. Assignment mirrors
    * training's scoring formula exactly (dot/|c|, same ranking as cosine
    * at fixed query), uses the max_by aggregation (corpus never shuffles
    * ×K), and the per-query search stays inside one cluster. The oracle
    * re-runs the full unrolled training chain and probes against its final
    * centroids — train AND serve hash-match end-to-end. */
  def knnIvfTrained(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    val cents: Seq[(Long, Seq[Double])] = kmeansTrain(spark, sfDir)
      .select(col("cluster"), col("dim"),
        expr("centroid_fp / CAST(1000000 AS DOUBLE)").as("cv"))
      .as[(Long, Long, Double)].collect().toSeq
      .groupBy(_._1).toSeq
      .map { case (cl, rows) => (cl, rows.sortBy(_._2).map(_._3)) }
      .sortBy(_._1)
    val cdf = broadcast(cents.toDF("cluster", "cvec"))
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", graft.functions.VectorExpressions.vec_norm(col("v")))
    val assigned = e.join(cdf)
      .select(col("vec_id"), col("v"), col("nrm"), col("cluster"),
        (dot(col("v"), col("cvec")) / sqrt(dot(col("cvec"), col("cvec")))).as("score"))
      .groupBy(col("vec_id"))
      .agg(first(col("v")).as("v"), first(col("nrm")).as("nrm"),
        max_by(col("cluster"), struct(col("score"), -col("cluster"))).as("cluster"))
      .localCheckpoint()
    probeAssigned(assigned, k)
  }

  def knnIvfTrainedSql(k: Int = 5): String = {
    def d(e: String, c: String) = kmDotSql(e, c)
    def cn(c: String) = kmNormSql(c)
    s"""WITH ${kmeansCtes(KmeansK, KmeansIters)},
       |assigned AS (
       |  SELECT vec_id, embedding, cluster FROM (
       |    SELECT e.vec_id, e.embedding, c.cluster,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${d("e", "c")} / ${cn("c")} DESC, c.cluster) AS rn
       |    FROM embeddings e CROSS JOIN c$KmeansIters c)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, embedding, cluster FROM assigned WHERE vec_id < $NumQueries)
       |SELECT query_id, neighbor_id, rank, cos_sim FROM (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${cosineSql("q", "e")} DESC, e.vec_id ASC) AS rank,
       |    round(${cosineSql("q", "e")}, 6) AS cos_sim
       |  FROM assigned e JOIN q ON e.cluster = q.cluster AND e.vec_id <> q.query_id)
       |WHERE rank <= $k""".stripMargin
  }

  /** Outliers flagged per trained cluster by [[embeddingOutliers]]. */
  val OutliersPerCluster = 5

  /** EMBEDDING OUTLIER DETECTION — the pruning sweep that runs beside
    * SemDeDup in an embedding-space curation pass: where dedup_semantic
    * removes points too CLOSE together, this flags the [[OutliersPerCluster]]
    * points per trained cluster FARTHEST from their own centroid (lowest
    * assignment cosine) — mislabeled scrapes, encoder failures and
    * boundary junk that pollute a training mix. Ranks, not float scores,
    * are emitted, so the output is pure integers.
    *
    * Plan: [[kmeansTrain]]'s centroids broadcast back (O(K·d) driver
    * traffic, the MLlib shape); per-vector best (cluster, score) via the
    * same max_by aggregation as [[knnIvfTrained]] — the corpus never
    * shuffles ×K; then ONE cluster-keyed window whose rank filter
    * compiles to WindowGroupLimit, so each task ships ≤ kOut rows per
    * cluster. Scoring reuses training's exact dot/|c| double fold, which
    * the oracle's CTE chain reproduces bit-for-bit (the [[kmDotSql]]
    * discipline), so the ascending rank order is engine-portable. */
  def embeddingOutliers(spark: SparkSession, sfDir: String,
      kOut: Int = OutliersPerCluster): DataFrame = {
    import spark.implicits._
    val cents: Seq[(Long, Seq[Double])] = kmeansTrain(spark, sfDir)
      .select(col("cluster"), col("dim"),
        expr("centroid_fp / CAST(1000000 AS DOUBLE)").as("cv"))
      .as[(Long, Long, Double)].collect().toSeq
      .groupBy(_._1).toSeq
      .map { case (cl, rows) => (cl, rows.sortBy(_._2).map(_._3)) }
      .sortBy(_._1)
    val cdf = broadcast(cents.toDF("cluster", "cvec"))
    val assigned = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
      .join(cdf)
      .select(col("vec_id"), col("cluster"),
        (dot(col("v"), col("cvec")) / sqrt(dot(col("cvec"), col("cvec")))).as("score"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("score").as("s"), (-col("cluster")).as("nc"))).as("best"))
      .select(col("vec_id"), (-col("best.nc")).as("cluster"), col("best.s").as("score"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("score").asc, col("vec_id").asc)
    assigned.withColumn("out_rank", row_number().over(w).cast("long"))
      .filter(col("out_rank") <= kOut)
      .select(col("cluster"), col("vec_id"), col("out_rank"))
  }

  def embeddingOutliersSql(kOut: Int = OutliersPerCluster): String = {
    def d(e: String, c: String) = kmDotSql(e, c)
    def cn(c: String) = kmNormSql(c)
    s"""WITH ${kmeansCtes(KmeansK, KmeansIters)},
       |assigned AS (
       |  SELECT vec_id, cluster, score FROM (
       |    SELECT e.vec_id, c.cluster, ${d("e", "c")} / ${cn("c")} AS score,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${d("e", "c")} / ${cn("c")} DESC, c.cluster) AS rn
       |    FROM embeddings e CROSS JOIN c$KmeansIters c)
       |  WHERE rn = 1)
       |SELECT cluster, vec_id, out_rank FROM (
       |  SELECT CAST(cluster AS BIGINT) AS cluster, vec_id,
       |    CAST(row_number() OVER (PARTITION BY cluster
       |      ORDER BY score ASC, vec_id ASC) AS BIGINT) AS out_rank
       |  FROM assigned)
       |WHERE out_rank <= $kOut""".stripMargin
  }

  // ---- product quantization (ADC) -----------------------------------------

  /** PQ geometry: 64 dims split into [[PqM]] subspaces of [[PqSubDim]] dims,
    * each quantized against [[PqCodes]] centroids → a vector compresses to
    * M small codes (here 16 bytes vs 256 B of floats — 16×). This is the
    * memory half of a production ANN index (IVF partitions the corpus,
    * PQ compresses what each partition stores — FAISS's IVF-PQ). Geometry
    * chosen by a measured sweep on this corpus: the synthetic embeddings
    * are near-uniform (no cluster structure — PQ's worst case), and
    * 16×64 codes was the knee of the recall curve (2× the recall of 4×16
    * at the same 100 TB plan shape); SimilaritySpec pins the measured
    * recall floor so a codebook regression fails loudly. */
  val PqM = 16
  val PqCodes = 64
  val PqSubDim: Int = EmbeddingDim / PqM

  /** Squared L2 distance of two double-vectors as dot-product algebra:
    * `(dot(a,a) − 2·dot(a,b)) + dot(b,b)` — three codegen'd left-to-right
    * folds combined in a FIXED operation order, so the DuckDB twin
    * ([[dist2Sql]]) reproduces the double bit-for-bit. */
  def dist2(a: Column, b: Column): Column =
    (dot(a, a) - lit(2.0) * dot(a, b)) + dot(b, b)

  /** DuckDB twin of [[dist2]] over double-list expressions `a`, `b`. */
  def dist2Sql(a: String, b: String): String = {
    def ls(x: String, y: String) =
      s"list_sum(list_transform(generate_series(1, len($a)), i -> $x[i] * $y[i]))"
    s"((${ls(a, a)} - 2.0 * ${ls(a, b)}) + ${ls(b, b)})"
  }

  /** ANN search by PRODUCT QUANTIZATION with asymmetric distance (ADC):
    * encode every corpus vector as [[PqM]] sub-codes (nearest of the
    * [[PqCodes]] per-subspace centroids), precompute per query a
    * (M × K') table of query-subvector→centroid distances, and rank
    * candidates by the sum of M table lookups — never touching the full
    * float vectors at query time (Jégou/Douze/Schmid, TPAMI 2011).
    *
    * Codebook = subvectors of the first [[PqCodes]] vec_ids: fixed-size
    * and corpus-independent like the IVF seed set (production trains each
    * subspace with k-means — [[kmeansTrain]] shows that loop; seeding only
    * moves recall, the plan is identical).
    *
    * Scale shape: encoding is a broadcast of M·K' subvectors + a
    * `min_by` argmin aggregation (the corpus never shuffles ×K'), pivoted
    * to ONE M-byte code row per vector. Scoring is map-only: the per-query
    * distance tables broadcast (Q·M·K' doubles), the approximate distance
    * is M unrolled array lookups per (query, vector), and top-k compiles
    * to WindowGroupLimit. At 100 TB the scored relation is code rows, not
    * embeddings — the scan shrinks by the 64× code compression, which is
    * the entire point of PQ. */
  /** The PQ building blocks shared by [[knnPq]] and [[knnIvfPq]]:
    * (encWide, dtab, adist) — the M-code row per vector, the per-query ADC
    * tables, and the unrolled lookup-sum column over their join. */
  private def pqParts(spark: SparkSession, sfDir: String): (DataFrame, DataFrame, Column) = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
    // (vec_id, m, sv): the M subvectors of every vector
    val sub = e.select(col("vec_id"),
        explode(array((0 until PqM).map(m =>
          struct(lit(m).as("m"), slice(col("v"), m * PqSubDim + 1, PqSubDim).as("sv"))): _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))
    val cb = sub.filter(col("vec_id") < PqCodes)
      .select(col("vec_id").as("code"), col("m").as("cm"), col("sv").as("cv"))
    // encode: per (vec, subspace) the argmin code; broadcast join so the
    // K' candidate rows collapse map-side, then pivot to one row per vector
    // (input re-balanced first — the join amplifies ×K' downstream of a
    // bytes-partitioned scan; see [[rebalance]])
    val enc = rebalance(spark, sub).join(broadcast(cb), col("m") === col("cm"))
      .withColumn("d2", dist2(col("sv"), col("cv")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
    val cCols = (0 until PqM).map(m => max(when(col("m") === m, col("code"))).as(s"c$m"))
    val encWide = enc.groupBy(col("vec_id")).agg(cCols.head, cCols.tail: _*)
    // per-query ADC tables: t_m[code+1] = dist2(query subvector m, centroid)
    val tCols = (0 until PqM).map(m => max(when(col("m") === m, col("t"))).as(s"t$m"))
    val dtab = sub.filter(col("vec_id") < NumQueries)
      .join(broadcast(cb), col("m") === col("cm"))
      .select(col("vec_id").as("query_id"), col("m"), col("code"),
        dist2(col("sv"), col("cv")).as("d2"))
      .groupBy(col("query_id"), col("m"))
      .agg(transform(array_sort(collect_list(struct(col("code"), col("d2")))),
        x => x.getField("d2")).as("t"))
      .groupBy(col("query_id"))
      .agg(tCols.head, tCols.tail: _*)
    val adist = (0 until PqM).map(m =>
      element_at(col(s"t$m"), col(s"c$m").cast("int") + 1)).reduce(_ + _)
    (encWide, dtab, adist)
  }

  def knnPq(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val (encWide, dtab, adist) = pqParts(spark, sfDir)
    // map-only scoring: M unrolled lookups per (query, vector), fixed
    // left-to-right addition, then top-k via WindowGroupLimit
    val w = Window.partitionBy(col("query_id")).orderBy(col("adist").asc, col("vec_id").asc)
    encWide.join(broadcast(dtab), col("vec_id") =!= col("query_id"))
      .withColumn("adist", adist)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("adist"), 6).as("adist"))
  }

  /** The COMPOSED production ANN index — IVF partitioning × PQ compression
    * (FAISS's IVFPQ): the corpus is bucketed by nearest coarse centroid
    * AND stored as M-byte PQ codes; a query probes ONLY its own cluster
    * and ranks candidates by ADC lookups. The two scale levers multiply:
    * the probe scans ~1/C of the corpus, and what it scans is 16×-compressed
    * code rows, not float vectors. The cluster condition also turns the
    * scoring join into an equi-join on cluster (vs knnPq's broadcast NLJ
    * over the whole corpus). Recall composes both approximations — coarse
    * bucketing (knn_recall measures it) and quantization (knn_pq's spec
    * floor); production tunes nprobe/M/K' against exactly these
    * measurements. */
  def knnIvfPq(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val (encWide, dtab, adist) = pqParts(spark, sfDir)
    knnIvfPqOn(encWide, dtab, adist, ivfAssigned(spark, sfDir), k)
  }

  /** [[knnIvfPq]] over precomputed building blocks, so a composite
    * ([[knnRecallCompressed]]) shares ONE encode + assignment pass across
    * every compressed probe instead of rebuilding them per method. */
  private def knnIvfPqOn(encWide: DataFrame, dtab: DataFrame, adist: Column,
      assignedFull: DataFrame, k: Int): DataFrame = {
    val assigned = assignedFull.select(col("vec_id"), col("cluster"))
    val cand = encWide.join(assigned, "vec_id")
    val qmeta = assigned.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("cluster").as("qcluster"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adist").asc, col("vec_id").asc)
    cand.join(broadcast(dtab.join(qmeta, "query_id")),
        col("cluster") === col("qcluster") && col("vec_id") =!= col("query_id"))
      .withColumn("adist", adist)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("adist"), 6).as("adist"))
  }

  /** The shared PQ CTE block (encode + per-query ADC tables). */
  private def pqCtes: String =
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |sub AS (SELECT vec_id, m, v[(m * $PqSubDim + 1):((m + 1) * $PqSubDim)] AS sv
       |  FROM e, LATERAL (SELECT unnest(generate_series(0, ${PqM - 1})) AS m) g),
       |cb AS (SELECT vec_id AS code, m, sv AS cv FROM sub WHERE vec_id < $PqCodes),
       |enc AS (SELECT vec_id, m, code FROM (
       |    SELECT s.vec_id, s.m, c.code,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${dist2Sql("s.sv", "c.cv")} ASC, c.code ASC) AS rn
       |    FROM sub s JOIN cb c ON s.m = c.m) WHERE rn = 1),
       |encw AS (SELECT vec_id,
       |    ${(0 until PqM).map(m => s"max(CASE WHEN m = $m THEN code END) AS c$m").mkString(", ")}
       |  FROM enc GROUP BY vec_id),
       |dtab AS (SELECT s.vec_id AS query_id, s.m, c.code,
       |    ${dist2Sql("s.sv", "c.cv")} AS d2
       |  FROM sub s JOIN cb c ON s.m = c.m WHERE s.vec_id < $NumQueries)""".stripMargin

  // one dtab lookup join per subspace; the addition chain is left-to-right
  // ((d0 + d1) + d2) + … to match the Spark reduce's operation order
  private def pqJoins(): String =
    (0 until PqM).map(m =>
      s"JOIN dtab d$m ON d$m.m = $m AND d$m.code = w.c$m" +
        (if (m == 0) "" else s" AND d$m.query_id = d0.query_id")).mkString("\n  ")
  private def pqAddChain: String =
    (1 until PqM).foldLeft("d0.d2")((acc, m) => s"($acc + d$m.d2)")

  def knnPqSql(k: Int = 5): String =
    s"""WITH $pqCtes,
       |scored AS (SELECT d0.query_id, w.vec_id, $pqAddChain AS adist
       |  FROM encw w
       |  ${pqJoins()}
       |  WHERE w.vec_id <> d0.query_id)
       |SELECT query_id, vec_id AS neighbor_id, rank, round(adist, 6) AS adist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adist ASC, vec_id ASC) AS rank FROM scored)
       |WHERE rank <= $k""".stripMargin

  def knnIvfPqSql(k: Int = 5): String =
    s"""WITH $pqCtes,
       |cent AS (SELECT vec_id AS cent_id, embedding FROM embeddings WHERE vec_id < $NumCentroids),
       |assigned AS (
       |  SELECT vec_id, cent_id AS cluster FROM (
       |    SELECT ee.vec_id, c.cent_id,
       |      row_number() OVER (PARTITION BY ee.vec_id
       |        ORDER BY ${cosineSql("ee", "c")} DESC, c.cent_id ASC) AS arn
       |    FROM embeddings ee CROSS JOIN cent c)
       |  WHERE arn = 1),
       |q AS (SELECT vec_id AS query_id, cluster AS qcluster FROM assigned
       |      WHERE vec_id < $NumQueries),
       |scored AS (SELECT d0.query_id, w.vec_id, $pqAddChain AS adist
       |  FROM encw w
       |  JOIN assigned a ON a.vec_id = w.vec_id
       |  ${pqJoins()}
       |  JOIN q ON q.query_id = d0.query_id AND a.cluster = q.qcluster
       |  WHERE w.vec_id <> d0.query_id)
       |SELECT query_id, vec_id AS neighbor_id, rank, round(adist, 6) AS adist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adist ASC, vec_id ASC) AS rank FROM scored)
       |WHERE rank <= $k""".stripMargin

  /** Two-stage RETRIEVE-THEN-RERANK — the production serving shape that
    * sits on top of every compressed index: stage 1 pulls a SHORTLIST of
    * candidates per query from the IVFPQ index (cluster-pruned, ADC
    * approximate distances — cheap, compressed-domain), stage 2 re-scores
    * ONLY those candidates against the full float vectors with exact
    * cosine and emits the final top-k. Quantization error then affects
    * RECALL (a true neighbor missing from the shortlist) but never the
    * reported scores or their order — which is why FAISS/SCaNN serve
    * exactly this two-pass shape.
    *
    * Scale: stage 1 inherits IVFPQ's plan (code rows, not embeddings;
    * ~1/C of the corpus per probe). Stage 2 touches |queries|·shortlist
    * rows — a shortlist-keyed equi-join back to the vector store (at
    * 100 TB: a point-lookup join bounded by the shortlist, the reason
    * reranking is affordable no matter the corpus size). */
  def knnIvfRerank(spark: SparkSession, sfDir: String, k: Int = 5,
      shortlist: Int = 20): DataFrame = {
    val (encWide, dtab, adist) = pqParts(spark, sfDir)
    knnIvfRerankOn(encWide, dtab, adist, ivfAssigned(spark, sfDir), k, shortlist)
  }

  /** [[knnIvfRerank]] over precomputed building blocks — see [[knnIvfPqOn]]. */
  private def knnIvfRerankOn(encWide: DataFrame, dtab: DataFrame, adist: Column,
      assigned: DataFrame, k: Int, shortlist: Int = 20): DataFrame = {
    val cand = encWide.join(assigned.select(col("vec_id"), col("cluster")), "vec_id")
    val qmeta = assigned.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("cluster").as("qcluster"))
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("vec_id").asc)
    val short = cand.join(broadcast(dtab.join(qmeta, "query_id")),
        col("cluster") === col("qcluster") && col("vec_id") =!= col("query_id"))
      .withColumn("adist", adist)
      .withColumn("arank", row_number().over(wShort))
      .filter(col("arank") <= shortlist)
      .select(col("query_id"), col("vec_id"))
    val vecs = assigned.select(col("vec_id"), col("v"), col("nrm"))
    val q = assigned.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    short.join(vecs, "vec_id").join(broadcast(q), "query_id")
      .withColumn("cos", cosinePre(col("qv"), col("v"), col("qnrm"), col("nrm")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("cos"), 6).as("cos_sim"))
  }

  def knnIvfRerankSql(k: Int = 5, shortlist: Int = 20): String =
    s"""WITH $pqCtes,
       |cent AS (SELECT vec_id AS cent_id, embedding FROM embeddings WHERE vec_id < $NumCentroids),
       |assigned AS (
       |  SELECT vec_id, cent_id AS cluster FROM (
       |    SELECT ee.vec_id, c.cent_id,
       |      row_number() OVER (PARTITION BY ee.vec_id
       |        ORDER BY ${cosineSql("ee", "c")} DESC, c.cent_id ASC) AS arn
       |    FROM embeddings ee CROSS JOIN cent c)
       |  WHERE arn = 1),
       |qm AS (SELECT vec_id AS query_id, cluster AS qcluster FROM assigned
       |      WHERE vec_id < $NumQueries),
       |scored AS (SELECT d0.query_id, w.vec_id, $pqAddChain AS adist
       |  FROM encw w
       |  JOIN assigned a ON a.vec_id = w.vec_id
       |  ${pqJoins()}
       |  JOIN qm ON qm.query_id = d0.query_id AND a.cluster = qm.qcluster
       |  WHERE w.vec_id <> d0.query_id),
       |short AS (SELECT query_id, vec_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adist ASC, vec_id ASC) AS arank FROM scored)
       |  WHERE arank <= $shortlist)
       |SELECT query_id, neighbor_id, rank, cos_sim FROM (
       |  SELECT s.query_id, s.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY s.query_id
       |      ORDER BY ${cosineSql("qe", "e")} DESC, s.vec_id ASC) AS rank,
       |    round(${cosineSql("qe", "e")}, 6) AS cos_sim
       |  FROM short s JOIN embeddings e ON e.vec_id = s.vec_id
       |    JOIN embeddings qe ON qe.vec_id = s.query_id)
       |WHERE rank <= $k""".stripMargin

  /** SCALAR QUANTIZATION (FAISS's SQ8) kNN — the third production
    * compression shape alongside IVF (partitioning) and PQ (subspace
    * codes): every dimension quantizes INDEPENDENTLY to an 8-bit code
    * against per-dimension corpus [min, max] bounds — 4× compression for
    * float32 with much higher fidelity than PQ (per-dim codes, no subspace
    * codebook), the standard first rung of the FAISS compression ladder.
    *
    * Train: per-dimension bounds in ONE aggregation (narrow posexplode →
    * |dims| groups → a single 2-array row, broadcast — min/max are
    * associative, so the "training" is a mergeable map-side-combined pass,
    * scan-bound at 100 TB). Encode/decode are narrow per-row maps.
    * Scoring is ASYMMETRIC (query stays exact; candidates reconstruct
    * `vmin + code·(vmax−vmin)/L`) through the same codegen'd [[dist2]]
    * kernel as PQ, top-k via WindowGroupLimit. Every float op is a fixed
    * parenthesized chain mirrored verbatim in the oracle, so the approx
    * distances hash-match DuckDB. Constant dimensions (vmax = vmin) pin
    * code 0 and reconstruct exactly. */
  val Sq8Levels = 255

  def knnSq8(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
    val stats = e.select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(
        transform(array_sort(collect_list(struct(col("dim"), col("mn")))),
          s => s.getField("mn")).as("vmin"),
        transform(array_sort(collect_list(struct(col("dim"), col("mx")))),
          s => s.getField("mx")).as("vmax"))
    val recon = e.crossJoin(broadcast(stats))
      .withColumn("codes", expr(
        s"""transform(v, (x, i) -> CASE WHEN vmax[i] = vmin[i] THEN 0L
           |ELSE CAST(floor(((x - vmin[i]) * $Sq8Levels.0D) / (vmax[i] - vmin[i])) AS BIGINT) END)""".stripMargin))
      .withColumn("recon", expr(
        s"""transform(codes, (c, i) -> CASE WHEN vmax[i] = vmin[i] THEN vmin[i]
           |ELSE vmin[i] + ((CAST(c AS DOUBLE) * (vmax[i] - vmin[i])) / $Sq8Levels.0D) END)""".stripMargin))
      .select(col("vec_id"), col("recon"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adist").asc, col("vec_id").asc)
    recon.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("adist", dist2(col("qv"), col("recon")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("adist"), 6).as("adist"))
  }

  /** Oracle twin: same bounds, same encode→decode chain (identical
    * parenthesization, BIGINT round trip included), same [[dist2Sql]]
    * fold. */
  def knnSq8Sql(k: Int = 5): String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |dims AS (SELECT i AS dim, min(v[i]) AS mn, max(v[i]) AS mx
       |  FROM e, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) g GROUP BY 1),
       |st AS (SELECT list(mn ORDER BY dim) AS vmin, list(mx ORDER BY dim) AS vmax FROM dims),
       |rec AS (SELECT vec_id,
       |    list_transform(generate_series(1, len(v)), i -> CASE WHEN vmax[i] = vmin[i] THEN vmin[i]
       |      ELSE vmin[i] + ((CAST(CAST(floor(((v[i] - vmin[i]) * $Sq8Levels.0) / (vmax[i] - vmin[i])) AS BIGINT) AS DOUBLE)
       |        * (vmax[i] - vmin[i])) / $Sq8Levels.0) END) AS r
       |  FROM e CROSS JOIN st),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueries),
       |scored AS (SELECT q.query_id, c.vec_id, ${dist2Sql("q.qv", "c.r")} AS adist
       |  FROM rec c CROSS JOIN q WHERE c.vec_id <> q.query_id)
       |SELECT query_id, vec_id AS neighbor_id, rank, round(adist, 6) AS adist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adist ASC, vec_id ASC) AS rank FROM scored)
       |WHERE rank <= $k""".stripMargin

  /** INDEX-QUALITY GATE for the whole compression ladder: recall@k of the
    * three compressed serving paths — SQ8 (scalar quantization), IVFPQ
    * (cluster-pruned subspace codes) and IVF-rerank (ADC shortlist + exact
    * re-rank) — against the exact brute-force baseline, one row per
    * (method, query). This is [[knnRecall]]'s pattern promoted to the
    * compressed family, so a quantizer/codebook/shortlist regression that
    * silently degrades index quality fails CORRECTNESS, not just a spec
    * floor. Output is all-integer (overlap counts + fixed-point recall),
    * hash-verified cross-engine.
    *
    * Shape: the four index probes are the registered top-k plans (tiny
    * outputs: queries × k rows each, localCheckpoint'ed because each feeds
    * two downstream aggregations), and the shared index artifacts — the PQ
    * code rows / ADC tables and the IVF assignment — are built ONCE and
    * reused by both the IVFPQ and rerank probes (materialized index, the
    * production shape: an eval sweep never re-encodes the corpus per
    * method). The eval's cost IS the probes — the comparison adds
    * nothing. */
  def knnRecallCompressed(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    // Shared artifacts checkpoint LAZILY (eager = false): the independent
    // materializations feed ONE final action here, and eager checkpoints
    // would serialize as blocking driver jobs before any real work
    // (the round-3 FK-audit lesson).
    //
    // FUSED per-method evaluation (optimization round 14, VERDICT #3 /
    // guide §2.4): the previous form checkpointed each method's top-k
    // SEPARATELY and ran count/overlap/assemble per method — 3 checkpoint
    // materializations + 6 aggregations + 6 joins whose AQE exchange
    // materialization is driver-sequenced (round-13 attribution: construction
    // is half this query's wall time). The three top-k frames now UNION into one
    // method-tagged frame behind ONE checkpoint, and both rollups
    // (per-query index size, per-query overlap vs brute) come out of ONE
    // aggregation each over (method, query); the per-method rows reassemble
    // by a 3-row broadcast cross join against the brute counts. Values are
    // identical: same per-method top-k inputs, same count/overlap/coalesce
    // arithmetic, and the oracle hash-checks every row.
    val (encWideRaw, dtabRaw, adist) = pqParts(spark, sfDir)
    val encWide = encWideRaw.localCheckpoint(eager = false)
    val dtab = dtabRaw.localCheckpoint(eager = false)
    val assigned = ivfAssigned(spark, sfDir) // checkpoints internally
    val b = knnBrute(spark, sfDir, k)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(eager = false)
    val nb = b.groupBy(col("query_id")).agg(count(lit(1)).as("n_brute"))
    def tagged(method: String, topk: DataFrame): DataFrame =
      topk.select(lit(method).as("method"),
        col("query_id").as("vq"), col("neighbor_id").as("vn"))
    val allV = tagged("sq8", knnSq8(spark, sfDir, k))
      .unionByName(tagged("ivfpq", knnIvfPqOn(encWide, dtab, adist, assigned, k)))
      .unionByName(tagged("rerank", knnIvfRerankOn(encWide, dtab, adist, assigned, k)))
      .localCheckpoint(eager = false)
    val nv = allV.groupBy(col("method"), col("vq")).agg(count(lit(1)).as("n_index"))
    val ov = allV.join(b, col("query_id") === col("vq") && col("neighbor_id") === col("vn"))
      .groupBy(col("method").as("om"), col("vq").as("oq"))
      .agg(count(lit(1)).as("n_overlap"))
    import spark.implicits._
    val methods = Seq("sq8", "ivfpq", "rerank").toDF("m")
    nb.crossJoin(broadcast(methods))
      .join(nv, col("m") === col("method") && col("query_id") === col("vq"), "left")
      .join(ov, col("m") === col("om") && col("query_id") === col("oq"), "left")
      .select(col("m").as("method"), col("query_id"), col("n_brute"),
        coalesce(col("n_index"), lit(0L)).as("n_index"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("recall_fp", expr("(1000000 * n_overlap) div n_brute"))
  }

  /** Oracle: the brute/SQ8/IVFPQ/rerank oracle queries as CTEs (each is a
    * self-contained WITH…SELECT — DuckDB scopes nested WITHs per CTE), then
    * the same count/overlap arithmetic per method, UNION ALL. */
  def knnRecallCompressedSql(k: Int = 5): String = {
    def block(method: String, cte: String) =
      s"""SELECT '$method' AS method, nb.query_id, CAST(n_brute AS BIGINT) AS n_brute,
         |  CAST(coalesce(nv.n_index, 0) AS BIGINT) AS n_index,
         |  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
         |  CAST((1000000 * coalesce(ov.n_overlap, 0)) // n_brute AS BIGINT) AS recall_fp
         |FROM nb
         |LEFT JOIN (SELECT query_id, count(*) AS n_index FROM $cte GROUP BY 1) nv
         |  ON nb.query_id = nv.query_id
         |LEFT JOIN (SELECT b.query_id, count(*) AS n_overlap FROM b JOIN $cte v
         |             ON b.query_id = v.query_id AND b.neighbor_id = v.neighbor_id GROUP BY 1) ov
         |  ON nb.query_id = ov.query_id""".stripMargin
    s"""WITH b AS (${knnBruteSql(k)}),
       |nb AS (SELECT query_id, count(*) AS n_brute FROM b GROUP BY 1),
       |vsq8 AS (${knnSq8Sql(k)}),
       |vivfpq AS (${knnIvfPqSql(k)}),
       |vrerank AS (${knnIvfRerankSql(k)})
       |${block("sq8", "vsq8")}
       |UNION ALL
       |${block("ivfpq", "vivfpq")}
       |UNION ALL
       |${block("rerank", "vrerank")}""".stripMargin
  }

  /** Per-label centroid of the embedding corpus in FIXED-POINT int64: each
    * component maps to `floor(x · 10^6)` (floor of identical IEEE doubles —
    * bit-portable, unlike rounding whose half-way rule differs across
    * engines), sums are exact int64, and the mean divides with `div`
    * (truncation toward zero — DuckDB `//` truncates too, so negative sums
    * agree). This is the aggregation step of a k-means/IVF TRAINER — the
    * reduce side of Lloyd's iteration — expressed as one exact, portable
    * DataFrame aggregation.
    *
    * Shape: posexplode ×dims (narrow), then ONE (label, dim) aggregation
    * with map-side partials — the shuffle carries |labels|·|dims| partial
    * rows per task, independent of corpus size. At 100 TB the centroid
    * update is scan-bound, exactly like a production k-means step. */
  def embeddingCentroids(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("dim").cast("long").as("dim"),
        floor(col("x").cast("double") * 1000000).cast("long").as("fp"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("fp")).as("sum_fp"))
      .select(col("label"), col("dim"), col("n_vecs"), col("sum_fp"),
        expr("sum_fp div n_vecs").as("centroid_fp"))

  val embeddingCentroidsSql: String =
    """WITH comp AS (
      |  SELECT CAST(label AS BIGINT) AS label, i - 1 AS dim,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS fp
      |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s),
      |agg AS (
      |  SELECT label, dim, CAST(count(*) AS BIGINT) AS n_vecs,
      |    CAST(sum(fp) AS BIGINT) AS sum_fp
      |  FROM comp GROUP BY 1, 2)
      |SELECT label, CAST(dim AS BIGINT) AS dim, n_vecs, sum_fp,
      |  CAST(sum_fp // n_vecs AS BIGINT) AS centroid_fp
      |FROM agg""".stripMargin

  /** Power iterations for [[embeddingTopDirection]]. Three suffice for a
    * stable leading direction on any spectrum with a gap (each iteration
    * multiplies the second-eigenvalue contamination by λ2/λ1); the oracle
    * unrolls exactly this many. */
  val PowerIters = 3

  /** DOMINANT-DIRECTION / ANISOTROPY card — the "all-but-the-top" common
    * direction (Mu & Viswanath, ICLR 2018) and the anisotropy diagnosis of
    * Ethayarajh (2019): contextual/embedding spaces concentrate in a
    * narrow cone, and the cone's axis is the top eigenvector of the
    * second-moment matrix Σ x xᵀ. Pipelines subtract this direction (or at
    * least measure its energy share) before trusting cosine contrast —
    * [[embeddingHealth]] flags the SYMPTOM (concentration); this computes
    * the AXIS and its variance share, the numbers the correction needs.
    *
    * Power iteration, distributed exactly like [[kmeansTrain]]'s Lloyd
    * loop: each step is ONE map-side-combined (dim) aggregation of the
    * per-row contribution x·(x·v) — quantized to `floor(c·10⁶)` int64 so
    * the cross-row sum is exact and order-free (the
    * [[embeddingCentroids]] discipline; |x_d·p| ≤ ‖x‖² keeps the sum
    * inside int64 to ~10¹² rows) — and only the d-long sum vector returns
    * to the driver, O(d) traffic per iteration. The driver normalizes in
    * a FIXED dim-order fold over exact integer-derived doubles (sqrt and
    * divide are correctly-rounded IEEE), so every iterate is bit-identical
    * to the oracle's unrolled-CTE replay of the same arithmetic. The final
    * pass scores λ = mean p² and trace = mean ‖x‖² in the same fixed
    * point; `ratio_ppm` = λ/trace is the top direction's energy share
    * (10⁶ = the whole corpus lies on one line). */
  def embeddingTopDirection(spark: SparkSession, sfDir: String): DataFrame =
    embeddingTopDirectionOfVecs(spark,
      Tables.embeddings(spark, sfDir)
        .select(toDoubleVec(col("embedding")).as("v"))
        .localCheckpoint())

  /** Core of [[embeddingTopDirection]] over any single-column frame of
    * double vectors — separated so specs can drive crafted spectra (a
    * one-line corpus, an isotropic pair). */
  private[operators] def embeddingTopDirectionOfVecs(spark: SparkSession,
      e: DataFrame): DataFrame = {
    import spark.implicits._
    val dim = EmbeddingDim
    // v0 = (1/8, …, 1/8): exactly representable (d = 64), nonzero against
    // any direction unless the corpus is orthogonal to the all-ones line
    var v = Array.fill(dim)(0.125)
    for (_ <- 1 to PowerIters) {
      val vCol = array(v.map(lit).toIndexedSeq: _*)
      val w = e.withColumn("p", dot(col("v"), vCol))
        .select(col("p"), posexplode(col("v")).as(Seq("dim", "x")))
        .select(col("dim"), floor(col("x") * col("p") * 1000000d).cast("long").as("fp"))
        .groupBy(col("dim")).agg(sum(col("fp")).as("w"))
        .orderBy(col("dim"))
        .as[(Int, Long)].collect()
      val wd = new Array[Double](dim)
      w.foreach { case (d, s) => wd(d) = s.toDouble }
      var ss = 0.0
      var i = 0
      while (i < dim) { ss += wd(i) * wd(i); i += 1 }
      val nrm = math.sqrt(ss)
      require(nrm > 0, "power iteration collapsed: corpus orthogonal to the iterate")
      v = wd.map(_ / nrm)
    }
    val vCol = array(v.map(lit).toIndexedSeq: _*)
    val dirs = v.zipWithIndex
      .map { case (x, i) => (i.toLong, math.floor(x * 1000000d).toLong) }
      .toSeq.toDF("dim", "v_ppm")
    val scal = e
      .select(dot(col("v"), vCol).as("p"), dot(col("v"), col("v")).as("xx"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("p") * col("p") * 1000000d).cast("long")).as("lsum"),
        sum(floor(col("xx") * 1000000d).cast("long")).as("tsum"))
      .select(expr("lsum div n").as("lambda_fp"), expr("tsum div n").as("trace_fp"))
      .withColumn("ratio_ppm", expr("(1000000 * lambda_fp) div greatest(trace_fp, 1)"))
    dirs.crossJoin(broadcast(scal))
  }

  /** DuckDB twin: the three iterations unrolled as CTE layers (the
    * [[kmeansTrainSql]] precedent) — each layer re-derives p with the
    * previous layer's direction list, sums the same floored fixed-point
    * contributions, and normalizes with the same dim-order fold. */
  def embeddingTopDirectionSql(): String = {
    val d = EmbeddingDim
    // p against a constant v0 for layer 1; against layer t-1's list after
    def pOf(vRef: String): String =
      s"list_sum(list_transform(generate_series(1, $d), j -> CAST(e.embedding[j] AS DOUBLE) * $vRef))"
    def layer(t: Int, pExpr: String, extraFrom: String): String =
      s"""i$t AS (SELECT i - 1 AS dim,
         |    CAST(sum(CAST(floor(CAST(e.embedding[i] AS DOUBLE) * p * 1000000.0) AS BIGINT)) AS BIGINT) AS w
         |  FROM (SELECT e.embedding, $pExpr AS p FROM embeddings e$extraFrom) e,
         |       LATERAL (SELECT unnest(generate_series(1, $d)) AS i) s
         |  GROUP BY 1),
         |v$t AS (SELECT list_transform(vl, x -> x / nrm) AS vl FROM (
         |  SELECT vl, sqrt(list_sum(list_transform(vl, x -> x * x))) AS nrm
         |  FROM (SELECT list(CAST(w AS DOUBLE) ORDER BY dim) AS vl FROM i$t)))""".stripMargin
    s"""WITH ${layer(1, pOf("0.125"), "")},
       |${layer(2, pOf("v1.vl[j]"), ", v1")},
       |${layer(3, pOf("v2.vl[j]"), ", v2")},
       |dirs AS (SELECT i - 1 AS dim, CAST(floor(vl[i] * 1000000.0) AS BIGINT) AS v_ppm
       |  FROM v3, LATERAL (SELECT unnest(generate_series(1, $d)) AS i) s),
       |scal AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(floor(p * p * 1000000.0) AS BIGINT)) AS BIGINT) AS lsum,
       |    CAST(sum(CAST(floor(xx * 1000000.0) AS BIGINT)) AS BIGINT) AS tsum
       |  FROM (SELECT ${pOf("v3.vl[j]")} AS p,
       |      list_sum(list_transform(generate_series(1, $d),
       |        j -> CAST(e.embedding[j] AS DOUBLE) * CAST(e.embedding[j] AS DOUBLE))) AS xx
       |    FROM embeddings e, v3) e)
       |SELECT CAST(dim AS BIGINT) AS dim, v_ppm,
       |  CAST(lsum // n AS BIGINT) AS lambda_fp, CAST(tsum // n AS BIGINT) AS trace_fp,
       |  CAST((1000000 * (lsum // n)) // greatest(tsum // n, 1) AS BIGINT) AS ratio_ppm
       |FROM dirs, scal""".stripMargin
  }

  /** Unit-direction quantization scale for [[embeddingHealth]]: 2^10.
    * |floor(u·1024)| ≤ 1024 per component, so a per-(label, dim) direction
    * sum stays ≤ n·2^10 — far inside int64 even at 10^12 vectors — and the
    * squared sums move to double ONLY at the |labels|-row final step. */
  val HealthDirScale = 1024L

  /** EMBEDDING-CORPUS HEALTH CARD — the QA pass an embedding pipeline runs
    * before trusting an ANN index over a new encoder drop: per label,
    * vector counts, norm statistics (collapsed / exploded norms flag a
    * broken encoder or an unnormalized mix), and the squared MEAN RESULTANT
    * LENGTH of the unit directions — directional statistics' concentration
    * measure (R² = ‖Σuᵢ‖²/n², 1 = all vectors aligned, →1/n = uniform
    * spread), the anisotropy diagnostic of Ethayarajh (EMNLP 2019) /
    * Mu & Viswanath's all-but-the-top (ICLR 2018): a cone-collapsed
    * embedding space ruins cosine contrast long before recall gates see it.
    *
    * Portability: norms are the engine-shared left-to-right sqrt-dot fold;
    * unit components quantize to int ([[HealthDirScale]]) so the per-(label,
    * dim) sums are EXACT order-free int64; the final ‖S‖²/(scale·n)² runs in
    * double over the dim-sorted array (fixed fold order, exact integer
    * inputs → bit-identical IEEE in both engines) and floors to ppm.
    * Zero-norm vectors are counted (`n_zero`) and contribute nothing to
    * direction or norm stats.
    *
    * Shape: ONE corpus scan → posexplode ×d (narrow) → ONE (label, dim)
    * aggregation with map-side partials (norm stats ride the same groups as
    * conditional aggregates) → a |labels|·d-row rollup. Scan-bound at any
    * scale, like [[embeddingCentroids]]. */
  def embeddingHealth(spark: SparkSession, sfDir: String): DataFrame =
    embeddingHealthOf(Tables.embeddings(spark, sfDir))

  /** Core of [[embeddingHealth]] over any (label, embedding) frame. */
  private[graft] def embeddingHealthOf(emb: DataFrame): DataFrame = {
    val base = emb.select(col("label").cast("long").as("label"),
        toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", graft.functions.VectorExpressions.vec_norm(col("v")))
      .withColumn("norm_ppm", floor(col("nrm") * 1000000).cast("long"))
      .withColumn("q", when(col("norm_ppm") > 0,
          expr(s"transform(v, x -> CAST(floor(x / nrm * $HealthDirScale) AS BIGINT))"))
        .otherwise(expr("transform(v, x -> CAST(0 AS BIGINT))")))
      .select(col("label"), col("norm_ppm"), posexplode(col("q")).as(Seq("dim", "qx")))
    val dims = base.groupBy(col("label"), col("dim"))
      .agg(sum(col("qx")).as("s"),
        count(lit(1)).as("cnt"),
        sum(when(col("norm_ppm") === 0, 1L).otherwise(0L)).as("nz"),
        min(when(col("norm_ppm") > 0, col("norm_ppm"))).as("mn"),
        max(when(col("norm_ppm") > 0, col("norm_ppm"))).as("mx"),
        sum(when(col("norm_ppm") > 0, col("norm_ppm")).otherwise(0L)).as("nsum"))
    dims.groupBy(col("label"))
      .agg(max(col("cnt")).as("n_vecs"),
        max(col("nz")).as("n_zero"),
        min(col("mn")).as("norm_ppm_min"),
        max(col("mx")).as("norm_ppm_max"),
        max(col("nsum")).as("nsum"),
        collect_list(struct(col("dim"), col("s"))).as("sv"))
      .withColumn("n_dir", col("n_vecs") - col("n_zero"))
      .withColumn("sumsq", expr(
        "aggregate(array_sort(sv), CAST(0.0 AS DOUBLE), (acc, e) -> acc + CAST(e.s AS DOUBLE) * CAST(e.s AS DOUBLE))"))
      .select(col("label"), col("n_vecs"), col("n_zero"),
        col("norm_ppm_min"), col("norm_ppm_max"),
        when(col("n_dir") > 0, expr("nsum div n_dir")).as("norm_ppm_avg"),
        when(col("n_dir") > 0,
          floor(col("sumsq") * lit(1000000.0) /
            ((lit(HealthDirScale.toDouble) * col("n_dir")) *
             (lit(HealthDirScale.toDouble) * col("n_dir")))).cast("long"))
          .as("mrl2_ppm"))
  }

  /** DuckDB twin — same norm fold, same quantization, same dim-ordered
    * double fold for ‖S‖². */
  def embeddingHealthSql: String =
    s"""WITH base AS (
       |  SELECT CAST(label AS BIGINT) AS label,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |b2 AS (SELECT label, CAST(floor(nrm * 1000000) AS BIGINT) AS norm_ppm, nrm, v FROM base),
       |comp AS (
       |  SELECT label, norm_ppm, i - 1 AS dim,
       |    CASE WHEN norm_ppm > 0 THEN CAST(floor(v[i] / nrm * $HealthDirScale) AS BIGINT)
       |         ELSE 0 END AS qx
       |  FROM b2, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) t),
       |dims AS (
       |  SELECT label, dim, CAST(sum(qx) AS BIGINT) AS s, count(*) AS cnt,
       |    CAST(sum(CASE WHEN norm_ppm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nz,
       |    min(CASE WHEN norm_ppm > 0 THEN norm_ppm END) AS mn,
       |    max(CASE WHEN norm_ppm > 0 THEN norm_ppm END) AS mx,
       |    CAST(sum(CASE WHEN norm_ppm > 0 THEN norm_ppm ELSE 0 END) AS BIGINT) AS nsum
       |  FROM comp GROUP BY 1, 2),
       |lab AS (
       |  SELECT label, CAST(max(cnt) AS BIGINT) AS n_vecs, max(nz) AS n_zero,
       |    min(mn) AS norm_ppm_min, max(mx) AS norm_ppm_max, max(nsum) AS nsum,
       |    list_sum(list_transform(list(s ORDER BY dim), z -> CAST(z AS DOUBLE) * CAST(z AS DOUBLE))) AS sumsq
       |  FROM dims GROUP BY 1)
       |SELECT label, n_vecs, n_zero, norm_ppm_min, norm_ppm_max,
       |  CASE WHEN n_vecs - n_zero > 0 THEN nsum // (n_vecs - n_zero) END AS norm_ppm_avg,
       |  CASE WHEN n_vecs - n_zero > 0 THEN CAST(floor(sumsq * 1000000.0 /
       |    (($HealthDirScale.0 * (n_vecs - n_zero)) * ($HealthDirScale.0 * (n_vecs - n_zero)))) AS BIGINT)
       |  END AS mrl2_ppm
       |FROM lab""".stripMargin

  /** EMBEDDING DRIFT between two snapshot versions — the encoder-drop
    * validation an embedding pipeline runs before re-indexing ("did the
    * new encoder shift the space?"): per label, the cosine between the
    * old and new snapshots' exact fixed-point centroids plus the mean-norm
    * delta. A centroid cosine well below 1 for an unchanged label, or a
    * norm shift, means serving and training vectors no longer live in the
    * same space — the drift monitor production vector stores run between
    * versions (the [[corpusDiff]] release-notes idea on the vector side).
    * Snapshots derive deterministically (old = even vec_id, new = odd) so
    * the oracle re-derives them; a real deployment feeds two tables.
    *
    * Portability: per-(label, side, dim) component sums are the exact
    * int64 [[embeddingCentroids]] quantization (floor(x·10^6), `div` for
    * the mean); the final centroid cosine runs in double over the
    * dim-sorted array (fixed fold order, exact integer inputs → identical
    * IEEE in both engines) and floors to ppm.
    *
    * Shape: one scan → posexplode ×d → ONE (label, dim) aggregation with
    * the two sides as conditional sums (map-side combined) → |labels|·d
    * rollup. Scan-bound at any scale. */
  def embeddingDrift(spark: SparkSession, sfDir: String): DataFrame =
    embeddingDriftOf(Tables.embeddings(spark, sfDir))

  /** Core of [[embeddingDrift]] over any (vec_id, label, embedding) frame. */
  private[graft] def embeddingDriftOf(emb: DataFrame): DataFrame = {
    val base = emb.select(col("label").cast("long").as("label"),
        (col("vec_id") % 2).as("side"),
        toDoubleVec(col("embedding")).as("v"))
      .withColumn("norm_ppm",
        floor(graft.functions.VectorExpressions.vec_norm(col("v")) * 1000000).cast("long"))
      .select(col("label"), col("side"), col("norm_ppm"),
        posexplode(expr("transform(v, x -> CAST(floor(x * 1000000) AS BIGINT))"))
          .as(Seq("dim", "fp")))
    val dims = base.groupBy(col("label"), col("dim"))
      .agg(
        sum(when(col("side") === 0, col("fp")).otherwise(0L)).as("s_old"),
        sum(when(col("side") === 1, col("fp")).otherwise(0L)).as("s_new"),
        sum(when(col("side") === 0, 1L).otherwise(0L)).as("n_old"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("side") === 0, col("norm_ppm")).otherwise(0L)).as("np_old"),
        sum(when(col("side") === 1, col("norm_ppm")).otherwise(0L)).as("np_new"))
    dims.groupBy(col("label"))
      .agg(max(col("n_old")).as("n_old"), max(col("n_new")).as("n_new"),
        max(col("np_old")).as("np_old"), max(col("np_new")).as("np_new"),
        collect_list(struct(col("dim"),
          expr("CASE WHEN n_old > 0 THEN s_old div n_old ELSE 0 END").as("co"),
          expr("CASE WHEN n_new > 0 THEN s_new div n_new ELSE 0 END").as("cn"))).as("cv"))
      .withColumn("dotp", expr(
        "aggregate(array_sort(cv), CAST(0.0 AS DOUBLE), (acc, e) -> acc + CAST(e.co AS DOUBLE) * CAST(e.cn AS DOUBLE))"))
      .withColumn("no2", expr(
        "aggregate(array_sort(cv), CAST(0.0 AS DOUBLE), (acc, e) -> acc + CAST(e.co AS DOUBLE) * CAST(e.co AS DOUBLE))"))
      .withColumn("nn2", expr(
        "aggregate(array_sort(cv), CAST(0.0 AS DOUBLE), (acc, e) -> acc + CAST(e.cn AS DOUBLE) * CAST(e.cn AS DOUBLE))"))
      .select(col("label"), col("n_old"), col("n_new"),
        when(col("n_old") > 0 && col("n_new") > 0 && col("no2") > 0 && col("nn2") > 0,
          floor(col("dotp") * lit(1000000.0) / (sqrt(col("no2")) * sqrt(col("nn2"))))
            .cast("long")).as("centroid_cos_ppm"),
        when(col("n_old") > 0, expr("np_old div n_old")).as("norm_ppm_old"),
        when(col("n_new") > 0, expr("np_new div n_new")).as("norm_ppm_new"),
        when(col("n_old") > 0 && col("n_new") > 0,
          expr("np_new div n_new - np_old div n_old")).as("norm_delta_ppm"))
  }

  /** DuckDB twin — same quantization, same dim-ordered double folds. */
  def embeddingDriftSql: String =
    s"""WITH base AS (
       |  SELECT CAST(label AS BIGINT) AS label, vec_id % 2 AS side,
       |    CAST(floor(sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 1000000) AS BIGINT) AS norm_ppm,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS fpv
       |  FROM embeddings),
       |comp AS (
       |  SELECT label, side, norm_ppm, i - 1 AS dim, fpv[i] AS fp
       |  FROM base, LATERAL (SELECT unnest(generate_series(1, len(fpv))) AS i) t),
       |dims AS (
       |  SELECT label, dim,
       |    CAST(sum(CASE WHEN side = 0 THEN fp ELSE 0 END) AS BIGINT) AS s_old,
       |    CAST(sum(CASE WHEN side = 1 THEN fp ELSE 0 END) AS BIGINT) AS s_new,
       |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
       |    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       |    CAST(sum(CASE WHEN side = 0 THEN norm_ppm ELSE 0 END) AS BIGINT) AS np_old,
       |    CAST(sum(CASE WHEN side = 1 THEN norm_ppm ELSE 0 END) AS BIGINT) AS np_new
       |  FROM comp GROUP BY 1, 2),
       |cent AS (
       |  SELECT label, dim, n_old, n_new, np_old, np_new,
       |    CASE WHEN n_old > 0 THEN s_old // n_old ELSE 0 END AS co,
       |    CASE WHEN n_new > 0 THEN s_new // n_new ELSE 0 END AS cn
       |  FROM dims),
       |lab AS (
       |  SELECT label, max(n_old) AS n_old, max(n_new) AS n_new,
       |    max(np_old) AS np_old, max(np_new) AS np_new,
       |    list_sum(list_transform(list(co * 1.0 * cn ORDER BY dim), z -> z)) AS dotp,
       |    list_sum(list_transform(list(co * 1.0 * co ORDER BY dim), z -> z)) AS no2,
       |    list_sum(list_transform(list(cn * 1.0 * cn ORDER BY dim), z -> z)) AS nn2
       |  FROM cent GROUP BY 1)
       |SELECT label, n_old, n_new,
       |  CASE WHEN n_old > 0 AND n_new > 0 AND no2 > 0 AND nn2 > 0
       |    THEN CAST(floor(dotp * 1000000.0 / (sqrt(no2) * sqrt(nn2))) AS BIGINT)
       |  END AS centroid_cos_ppm,
       |  CASE WHEN n_old > 0 THEN np_old // n_old END AS norm_ppm_old,
       |  CASE WHEN n_new > 0 THEN np_new // n_new END AS norm_ppm_new,
       |  CASE WHEN n_old > 0 AND n_new > 0 THEN np_new // n_new - np_old // n_old
       |  END AS norm_delta_ppm
       |FROM lab""".stripMargin

  // ---- binary (1-bit) quantization + Hamming shortlist + exact rerank ----

  /** Bits per packed word: 32, NOT 64. A 64-bit pack needs a 2^63 shift
    * whose sign-bit wrap Spark tolerates but DuckDB raises on — exactly
    * the divergent Spark-wraps/DuckDB-raises failure mode the cos2_fp fix
    * removed. 32-bit words keep every packed value ≤ 2^32−1 and every
    * fold far inside int64 in BOTH engines; the cost is one extra xor +
    * popcount per 64 dims, invisible next to the scan. */
  val BinWordBits = 32
  /** Hamming shortlist size before the exact re-rank (the
    * [[knnIvfRerank]] shortlist discipline). */
  val BinShortlist = 20

  /** BINARY QUANTIZATION kNN — the 1-bit rung below [[knnSq8]] on the
    * compression ladder (FAISS `LSH`/binary indexes; the "binary
    * quantization" mode of production vector stores): each dimension
    * collapses to one bit (above/below its corpus midrange), packed into
    * [[BinWordBits]]-bit words, so a d=64 float32 vector serves from
    * 8 BYTES (32× compression) and candidate scoring is xor + popcount —
    * integer ops with no floating point at all. Serving shape:
    * Hamming-distance shortlist of [[BinShortlist]] per query over the
    * packed corpus, then exact-cosine re-rank of the shortlist, the
    * [[knnIvfRerank]] two-phase pattern.
    *
    * Threshold is the per-dimension MIDRANGE (mn+mx)/2, not the mean:
    * min/max are order-independent aggregates, so the whole encode is
    * deterministic and the oracle hash-exact — a distributed float mean
    * would hash-diverge on partition order (the reason [[knnSq8]] trains
    * on bounds too). The compare is cross-multiplied (`2·v > mn+mx`,
    * exact in binary fp) so no engine divides.
    *
    * At 100 TB: the stats pass is one mergeable min/max aggregation
    * (|dims| groups); encode is a narrow map under a broadcast 2-array
    * row; the serving scan moves 2 longs/vector instead of 64 floats and
    * its per-pair cost is ~2 xor+popcount vs 64 FMA; the shortlist is a
    * WindowGroupLimit (≤ shortlist rows/query leave each map task); only
    * queries×shortlist rows ever touch float vectors again. */
  /** The packed binary codes (vec_id, wrds) — [[knnBinary]]'s encode
    * phase, public so the spec verifies the pack bit-for-bit against a
    * driver recomputation. Bit b of word j covers dim j·wb+b, MSB-first
    * (2^(wb−1−b)), so the packed words sort like the bit string;
    * out-of-range dims pack 0. */
  def binaryCodes(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
    val stats = e.select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(
        transform(array_sort(collect_list(struct(col("dim"), col("mn")))),
          s => s.getField("mn")).as("vmn"),
        transform(array_sort(collect_list(struct(col("dim"), col("mx")))),
          s => s.getField("mx")).as("vmx"))
    val wb = BinWordBits
    e.crossJoin(broadcast(stats))
      .withColumn("wrds", expr(
        s"""transform(sequence(0, CAST((size(v) + ${wb - 1}) div $wb AS INT) - 1),
           |  j -> aggregate(sequence(0, ${wb - 1}), 0L,
           |    (acc, b) -> acc + CASE WHEN j * $wb + b < size(v)
           |        AND v[j * $wb + b] * 2.0D > (vmn[j * $wb + b] + vmx[j * $wb + b])
           |      THEN shiftleft(1L, ${wb - 1} - b) ELSE 0L END))""".stripMargin))
      .select(col("vec_id"), col("wrds"))
  }

  def knnBinary(spark: SparkSession, sfDir: String, k: Int = 5,
      shortlist: Int = BinShortlist): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", graft.functions.VectorExpressions.vec_norm(col("v")))
    val enc = binaryCodes(spark, sfDir)
      .localCheckpoint() // corpus side + query side both read the codes
    val q = enc.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("wrds").as("qwrds"))
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(col("ham").asc, col("vec_id").asc)
    val short = rebalance(spark, enc).join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("ham", expr(
        """aggregate(sequence(0, size(wrds) - 1), 0L,
          |  (acc, j) -> acc + CAST(bit_count(wrds[j] ^ qwrds[j]) AS LONG))""".stripMargin))
      .withColumn("arank", row_number().over(wShort))
      .filter(col("arank") <= shortlist)
      .select(col("query_id"), col("vec_id"), col("ham"))
    val vecs = e.select(col("vec_id"), col("v"), col("nrm"))
    val qv = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    short.join(vecs, "vec_id").join(broadcast(qv), "query_id")
      .withColumn("cos", cosinePre(col("qv"), col("v"), col("qnrm"), col("nrm")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("ham").as("hamming"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Oracle twin: same midrange bounds, same MSB-first pack (shifts, no
    * 2^63), same xor+popcount fold, same two-phase shortlist → rerank. */
  def knnBinarySql(k: Int = 5, shortlist: Int = BinShortlist): String = {
    val wb = BinWordBits
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |dims AS (SELECT i AS dim, min(v[i]) AS mn, max(v[i]) AS mx
       |  FROM e, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) g GROUP BY 1),
       |st AS (SELECT list(mn ORDER BY dim) AS vmn, list(mx ORDER BY dim) AS vmx FROM dims),
       |enc AS (SELECT vec_id,
       |    list_transform(generate_series(0, CAST((len(v) + ${wb - 1}) // $wb AS INTEGER) - 1),
       |      j -> CAST(list_sum(list_transform(generate_series(0, ${wb - 1}),
       |        b -> CASE WHEN j * $wb + b + 1 <= len(v)
       |            AND v[j * $wb + b + 1] * 2.0 > (vmn[j * $wb + b + 1] + vmx[j * $wb + b + 1])
       |          THEN (1::BIGINT << (${wb - 1} - b)) ELSE 0 END)) AS BIGINT)) AS wrds
       |  FROM e CROSS JOIN st),
       |q AS (SELECT vec_id AS query_id, wrds AS qwrds FROM enc WHERE vec_id < $NumQueries),
       |scored AS (SELECT q.query_id, c.vec_id,
       |    CAST(list_sum(list_transform(generate_series(1, len(c.wrds)),
       |      j -> CAST(bit_count(xor(c.wrds[j], q.qwrds[j])) AS BIGINT))) AS BIGINT) AS ham
       |  FROM enc c CROSS JOIN q WHERE c.vec_id <> q.query_id),
       |short AS (SELECT query_id, vec_id, ham FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY ham ASC, vec_id ASC) AS arank FROM scored)
       |  WHERE arank <= $shortlist)
       |SELECT query_id, neighbor_id, rank, hamming, cos_sim FROM (
       |  SELECT s.query_id, s.vec_id AS neighbor_id, s.ham AS hamming,
       |    row_number() OVER (PARTITION BY s.query_id
       |      ORDER BY ${cosineSql("qe", "e")} DESC, s.vec_id ASC) AS rank,
       |    round(${cosineSql("qe", "e")}, 6) AS cos_sim
       |  FROM short s JOIN embeddings e ON e.vec_id = s.vec_id
       |    JOIN embeddings qe ON qe.vec_id = s.query_id)
       |WHERE rank <= $k""".stripMargin
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** The 100 TB plan properties PLANS.md documents, enforced as tests: a
  * regression that turns a pushed filter into a post-scan filter, sneaks a
  * cartesian into a scale-path query, or re-materializes the shared IVF
  * assignment now fails `sbt test` instead of waiting for a human to read
  * `.explain` output. Assertions are deliberately structural (node kinds,
  * occurrence counts) rather than full plan snapshots, so AQE/codegen
  * details can evolve without false alarms. */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, Sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  /** Physical nodes of a kind, counted via the formatted-mode detail
    * headers `(n) Kind` — each node appears exactly once there (tree lines
    * would double-count). */
  private def nodes(p: String, kind: String): Int =
    ("""\(\d+\) """ + kind + """\b""").r.findAllIn(p).size

  test("q3_topk: filters pushed to the scans, top-k without a global sort") {
    val p = plan("q3_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("GreaterThan(l_shipdate"), "lineitem date filter must reach PushedFilters")
    assert(p.contains("LessThan(o_orderdate"), "orders date filter must reach PushedFilters")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), "customer segment filter must reach PushedFilters")
    assert(!p.contains("l_comment"), "lineitem scan must be column-pruned")
  }

  test("q8_mkt_share: selective dims pushed, nation/region broadcast, no cartesian") {
    val p = plan("q8_mkt_share")
    assert(p.contains("EqualTo(p_type,PROMO)"), "part type filter must reach PushedFilters")
    assert(p.contains("GreaterThanOrEqual(o_orderdate") && p.contains("LessThan(o_orderdate"),
      "order-date window must reach the orders scan as PushedFilters")
    assert(!p.contains("CartesianProduct"), s"q8 must stay equi-joined:\n$p")
    assert(nodes(p, "BroadcastExchange") >= 2,
      s"nation-region and supplier-nation dims must ride broadcasts:\n$p")
    assert(!p.contains("p_name"), "part scan must be column-pruned")
  }

  test("events_transitions: ONE corpus scan — the share total must not re-run the lag lineage") {
    val p = plan("events_transitions")
    assert(nodes(p, "Scan parquet") == 1,
      s"transition shares must come from a window over the aggregated frame, not a second corpus pass:\n$p")
    assert(nodes(p, "Window") == 2, "lag window + tiny global share window")
  }

  test("events_attribution: pushed type filters, equi-join carries the shuffle, no cartesian") {
    val p = plan("events_attribution")
    assert(p.contains("EqualTo(event_type,purchase)") && p.contains("EqualTo(event_type,click)"),
      "both type filters must reach PushedFilters")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the hour bound must ride the user_id equi-join as a residual, never a loop join:\n$p")
  }

  test("results are invariant under AQE on/off (plan-variation robustness)") {
    // AQE re-plans joins/partitions at runtime on a real cluster; a result
    // that depends on which physical plan won would be nondeterministic at
    // scale. One representative per shuffle-heavy family (join / window /
    // LSH) — the composites reuse these pieces and would triple the suite
    // time for no new plan shapes.
    for (q <- Seq("q5_region", "dedup_minhash_lsh", "events_sessionize")) {
      def run() = SparkEntry.queries(q)(spark, Sf).collect().map(_.toString).sorted.toSeq
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      val on = run()
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val off = try run() finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      assert(on === off, s"$q result changed under the AQE toggle")
    }
  }

  test("q17: runtime Bloom filter prunes the fact scan under cluster-scale thresholds") {
    // The 100 TB condition, reproduced locally: the filtered dim no longer
    // broadcasts (autoBroadcastJoinThreshold=-1 — at 1000× sf it exceeds
    // the threshold for real) and the fact scan is large enough to be
    // worth pruning (applicationSideScanSizeThreshold=0 — at 100 TB the
    // default 10 GB bound is met for real). Spark must then inject a
    // Bloom filter built from the selective part keys into the lineitem
    // side — the runtime semi-join reduction that keeps the shuffle from
    // carrying never-to-match fact rows — and the result must be
    // bit-identical to the broadcast-join plan (the Exact-arithmetic
    // discipline's whole point: plan shape must never change values).
    val baseline = SparkEntry.queries("q17_small_qty")(spark, Sf).collect().toSeq
    val prev = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q17_small_qty")(spark, Sf)
      val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(p.contains("might_contain(") && p.contains("bloom_filter_agg("),
        s"no runtime Bloom filter injected into the q17 plan:\n$p")
      assert(df.collect().toSeq === baseline,
        "shuffle-join + Bloom plan must reproduce the broadcast plan's values exactly")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("FULL-REGISTRY sweep: every query cartesian-free; broadcast hints only on bounded sides") {
    // Auto-sweeps SparkEntry.queries.keys so a newly added query is audited
    // by default — no hand-maintained list to forget. The exemption set is
    // EMPTY: the former exemption (dedup_embedding, the all-pairs exactness
    // baseline) is spec-only now, not a registered query.
    //
    // Broadcast-hint discipline: an explicit broadcast() must never sit on
    // an sf-scaled side (that hint would OOM the driver at 100 TB where AQE
    // would have picked sort-merge). A hinted subtree is accepted only if
    // it is structurally bounded:
    //   - its file scans touch only fixed-cardinality dims (nation/region);
    //   - or it contains an Aggregate (global stats rows, distinct bench
    //     sets, per-lang quotas — cardinality = group domain, not sf);
    //   - or a literal-comparison Filter caps it (knn query sets,
    //     vec_id < NumQueries);
    //   - or it is driver-built data (LocalRelation / checkpointed
    //     LogicalRDD: K-row codebooks, ADC tables).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter => LFilter, LocalRelation, ResolvedHint}
    import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, StringPredicate}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val fixedDims = Set("nation", "region")
    val exempt = Set.empty[String]
    val all = SparkEntry.queries.keys.toSeq.sorted.filterNot(exempt)
    assert(all.size === SparkEntry.queries.size, "sweep must cover the whole registry")
    // Streaming demos execute their ENTIRE pipeline (stage corpus, run the
    // micro-batch engine, drain the sink) as a side effect of DataFrame
    // construction, and the frame they return is a memory-sink table whose
    // LocalTableScan plan audits nothing — sweeping them would pay full
    // streaming runtime per test pass to check a trivial plan. Their plan
    // discipline (file-source feeds, bounded watermark state, no driver-side
    // corpus rows) is pinned in StreamingOpsSpec, which actually exercises
    // the streaming plans. The skip is keyed on the `_stream_` naming
    // convention; the assert keeps a batch query from riding the skip.
    val (streamingNames, names) = all.partition(_.contains("_stream_"))
    assert(streamingNames.forall(n => n.startsWith("events_stream_") || n.startsWith("docs_stream_")),
      s"only streaming demos may skip the plan sweep: $streamingNames")
    val hintInventory = scala.collection.mutable.ArrayBuffer.empty[String]
    for (q <- names) {
      val df: DataFrame = SparkEntry.queries(q)(spark, Sf)
      val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(!p.contains("CartesianProduct"), s"$q plan contains a cartesian:\n$p")
      for (h <- df.queryExecution.analyzed.collect { case rh: ResolvedHint => rh }) {
        val scans = h.child.collect { case lr: LogicalRelation => lr }
        val scanPaths = scans.map(_.relation).flatMap {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(p => p.getName)
          case other => Seq(other.toString)
        }
        val scanNames = scanPaths.mkString(",")
        val onlyFixedDims = scanPaths.nonEmpty &&
          scanPaths.forall(p => fixedDims.exists(t => p.contains(t)))
        val hasAggregate = h.child.collectFirst { case a: Aggregate => a }.nonEmpty
        val hasLiteralCap = h.child.collectFirst {
          case f: LFilter if f.condition.exists {
            // foldable covers Literal and Cast(Literal) — Spark wraps the
            // comparison constant in a cast to the column type
            case bc: BinaryComparison => bc.children.exists(_.foldable)
            // string-pattern dims (StartsWith/Contains against a literal,
            // q9/q20's name-token cut) are the same selective-dim shape as
            // a literal equality — the pattern bounds selectivity, and the
            // side stays dimension-sized relative to the fact it joins
            case sp: StringPredicate => sp.right.foldable
            case _ => false
          } => f
        }.nonEmpty
        val isDriverBuilt = scans.isEmpty &&
          h.child.collectFirst { case l: LocalRelation => l }.nonEmpty ||
          h.child.collectLeaves().forall(_.nodeName == "LogicalRDD")
        val bounded = onlyFixedDims || hasAggregate || hasLiteralCap || isDriverBuilt
        val kind =
          if (onlyFixedDims) "fixed-dim"
          else if (hasAggregate) "aggregate-reduced"
          else if (hasLiteralCap) "literal-capped"
          else "driver-built"
        hintInventory += s"$q: [$kind] ${if (scanNames.nonEmpty) scanNames else h.child.nodeName}"
        assert(bounded,
          s"$q has an explicit broadcast() over an unbounded (sf-scaled) side:\n${h.child.treeString}")
      }
    }
    hintInventory.foreach(info(_))
    info(s"swept ${names.size} registered queries (${streamingNames.size} streaming demos " +
      s"audited in StreamingOpsSpec), ${hintInventory.size} broadcast hints classified")
  }

  test("wc_wordcount: map-side partial aggregation, a single exchange") {
    val p = plan("wc_wordcount")
    assert(nodes(p, "HashAggregate") >= 2, "expect partial + final HashAggregate")
    assert(nodes(p, "Exchange") === 1, s"token stream must not cross the exchange:\n$p")
  }

  test("events_sessionize: pruned scan, ONE exchange (windows and groupBy share the user_id partitioning)") {
    val p = plan("events_sessionize")
    assert(p.contains("ReadSchema") && p.contains("event_id"))
    assert(!p.contains("event_type"), "events scan must prune unused columns")
    // lag + running-sum share one sort, and the session groupBy's keys
    // start with user_id, so even the final aggregate reuses the same
    // partitioning — the whole query is a single shuffle.
    assert(nodes(p, "Exchange") === 1, s"lag/running-sum/groupBy must share partitionings:\n$p")
  }

  test("dedup_embedding_ivf and knn_ivf reuse the materialized assignment (no per-side rescan)") {
    for (q <- Seq("dedup_embedding_ivf", "knn_ivf")) {
      val p = plan(q)
      assert(p.contains("ExistingRDD"), s"$q must read the localCheckpoint'ed assignment")
      assert(!p.contains("embeddings.parquet"),
        s"$q must not re-run the scan+assign lineage per join side:\n$p")
    }
  }

  test("knn_brute: query set broadcast + rank-limit pushdown") {
    val p = plan("knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("WindowGroupLimit"), "per-query top-k must use the rank-limit pushdown")
  }

  test("sample_stratified: rank filter compiles to WindowGroupLimit (per-stratum top-k pre-shuffle)") {
    val p = plan("sample_stratified")
    assert(p.contains("WindowGroupLimit"), s"quota sample must not sort whole strata:\n$p")
    assert(!p.contains("n_chars") && !p.contains("text"), "scan must prune to doc_id+lang")
  }

  test("doc_sim_sparse: prefix via WindowGroupLimit, global top-k via TakeOrdered, no cartesian") {
    val p = plan("doc_sim_sparse")
    assert(p.contains("WindowGroupLimit"),
      s"impact prefix must keep ≤R postings/term before its exchange:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"final top-k must not globally sort the candidate pairs:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"candidates must come from the term-keyed prefix self-join:\n$p")
  }

  test("hll_distinct: the sketch side is register-bounded (no distinct of the raw stream)") {
    val p = plan("hll_distinct")
    // the ONLY distinct aggregation allowed is the exact-validation column's;
    // the sketch path must aggregate (type, bucket) partially map-side
    assert(!p.contains("CartesianProduct"), s"hll plan must stay equi-joined:\n$p")
    assert(nodes(p, "HashAggregate") >= 4, s"register max-merge must be a partial agg:\n$p")
  }

  test("term_df: top-k via TakeOrderedAndProject, no global sort") {
    val p = plan("term_df")
    assert(p.contains("TakeOrderedAndProject"), s"term_df must not globally sort the vocabulary:\n$p")
  }

  test("doc_winnow and pii_redact: zero-shuffle narrow maps") {
    for (q <- Seq("doc_winnow", "pii_redact")) {
      val p = plan(q)
      assert(nodes(p, "Exchange") === 0, s"$q must stay a pure map:\n$p")
    }
  }

  test("contamination: benchmark probe is a broadcast join (corpus not shuffled by membership)") {
    val p = plan("contamination")
    assert(p.contains("BroadcastHashJoin"), s"benchmark set must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    // exactly one Exchange pair for the final per-doc agg + the tiny bench-side
    // distinct; the big corpus side must not shuffle before the probe
    assert(nodes(p, "SortMergeJoin") === 0, s"membership must not sort-merge the corpus:\n$p")
  }

  test("dedup_embedding_srp: windowed sorted-neighborhood shape, no cartesian, checkpoint reuse") {
    val p = plan("dedup_embedding_srp")
    assert(!p.contains("CartesianProduct"), s"SRP path must stay bucket-bounded:\n$p")
    assert(p.contains("ExistingRDD"), "verify joins must read the checkpointed vectors")
    assert(!p.contains("embeddings.parquet"), s"scan+project must not re-run per join side:\n$p")
    // Round 13: pin the round-12 rewrite's SHAPE, not just the absence of a
    // cartesian — candidates must come from a rank WINDOW (row_number over
    // (band, code)) probed through a BOUNDED explode-join whose equi-keys
    // include the rank, never an in-bucket all-pairs self-join on
    // (band, code) alone (the n²/256-per-band expansion that OOM'd the
    // sf100 decade).
    assert(nodes(p, "Generate") >= 1, s"chunk-membership explode missing:\n$p")
    // Round 13: the verify must run IN PLACE inside rank-chunked buckets
    // (vectors exchanged once, O(n·d)) — never as a pair-level join that
    // materializes both 64-double vectors per candidate (O(pairs·d) ≈
    // 140 GB at the sf100 decade). Pin: the chunk aggregation + in-chunk
    // codegen'd dot product are present, and NO join is keyed on the pair
    // columns (the fatal shape's signature).
    assert(p.contains("collect_list"), s"chunked bucket aggregation missing:\n$p")
    assert(p.contains("vec_dot"), s"in-place codegen'd cosine missing:\n$p")
    val pairJoinKeyLines = p.linesIterator
      .filter(l => l.contains("keys") && (l.contains("vec_a") || l.contains("vec_b"))).toSeq
    assert(pairJoinKeyLines.isEmpty,
      s"pair-level vector join detected (O(pairs*d) exchange):\n${pairJoinKeyLines.mkString("\n")}\n$p")
    // The rank itself lives BEHIND the eager checkpoint (the final plan
    // reads it as ExistingRDD), so audit the pre-checkpoint ranking
    // lineage separately: one row_number window over (band, code) fed by
    // the band-struct explode.
    import org.apache.spark.sql.functions.{col, lit}
    val e = graft.Tables.embeddings(spark, Sf)
      .select(col("vec_id"),
        graft.operators.Similarity.toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", lit(1.0))
    val rp = graft.operators.Similarity.srpRanked(e).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(nodes(rp, "Window") === 1, s"in-bucket rank must be ONE row_number window:\n$rp")
    assert(rp.contains("row_number"), s"in-bucket rank must be row_number:\n$rp")
    assert(nodes(rp, "Generate") === 1, s"band-struct explode missing:\n$rp")
  }

  test("doc_winnow_pairs and quality_repetition: shuffle bounded by keys, no cartesian") {
    for (q <- Seq("doc_winnow_pairs", "quality_repetition")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q contains a cartesian:\n$p")
    }
    // repetition: (doc,bigram) partial-agg exchange + per-doc rollup exchange
    assert(nodes(plan("quality_repetition"), "Exchange") === 2)
  }

  test("top_customers_per_nation: rank filter runs as WindowGroupLimit, nation broadcast") {
    val p = plan("top_customers_per_nation")
    assert(p.contains("WindowGroupLimit"), s"per-nation top-k must push the rank limit:\n$p")
    assert(p.contains("BroadcastHashJoin"), "nation must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q1_cube: lattice expansion before ONE exchange (partial agg on expanded rows)") {
    val p = plan("q1_cube")
    assert(nodes(p, "Expand") === 1, s"cube must expand once:\n$p")
    assert(nodes(p, "Exchange") === 1, s"only pre-aggregated lattice rows may shuffle:\n$p")
  }

  test("pack_sequences: one source-partitioned window exchange, pruned scan") {
    val p = plan("pack_sequences")
    assert(nodes(p, "Exchange") === 1, s"packing must be one shuffle:\n$p")
    assert(!p.contains("n_chars") && !p.contains("lang"),
      "documents scan must prune to doc_id+source+text")
  }

  test("q14_promo: date filter pushed to the fact scan, no cartesian") {
    val p = plan("q14_promo")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      "ship-month filter must reach lineitem's PushedFilters")
    assert(p.contains("LessThan(l_shipdate"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("l_comment") && !p.contains("p_name"),
      "both scans must be column-pruned")
  }

  test("tfidf_top_terms: per-doc top-k via WindowGroupLimit, df joined without a cartesian") {
    val p = plan("tfidf_top_terms")
    assert(p.contains("WindowGroupLimit"), s"per-doc top-k must push the rank limit:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("n_chars") && !p.contains("lang"),
      "documents scan must prune to doc_id+text")
  }

  test("events_session_concurrency: bin bucketing keeps the range join an equi-join") {
    val p = plan("events_session_concurrency")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the interval join must bucket, not nested-loop:\n$p")
  }

  test("distinct_kmv: per-partition k-minimum pushdown via WindowGroupLimit") {
    val p = plan("distinct_kmv")
    assert(p.contains("WindowGroupLimit"),
      s"the rn<=k filter must push k-smallest below the exchange:\n$p")
  }

  test("snapshot_merge: full-outer merge over WindowGroupLimit-reduced sides") {
    val p = plan("snapshot_merge")
    assert(p.contains("FullOuter"), s"merge must be a full outer join:\n$p")
    assert(p.contains("WindowGroupLimit"),
      "latest-per-key must reduce each side before the merge")
    assert(p.contains("LessThan(ts") && p.contains("GreaterThanOrEqual(ts"),
      s"the time cutoffs must reach PushedFilters on the raw ts column:\n$p")
  }

  test("customer_value_profile: price filter pushed, outer join preserves customer") {
    val p = plan("customer_value_profile")
    assert(p.contains("GreaterThan(o_totalprice"),
      "orders price filter must reach PushedFilters")
    assert(p.contains("LeftOuter") || p.contains("RightOuter"),
      s"profile must outer-join on the customer side:\n$p")
  }

  test("lm_bigram_score: model joins stay equi-joins; vocab size broadcasts") {
    val p = plan("lm_bigram_score")
    assert(!p.contains("CartesianProduct"))
    // the 1-row vocab aggregate rides a broadcast, like bm25's stats row
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("events_user_paths: step cap via WindowGroupLimit BEFORE the path aggregation") {
    val p = plan("events_user_paths")
    assert(p.contains("WindowGroupLimit"),
      s"rn<=50 must bound per-user state below the window exchange:\n$p")
  }

  test("events_time_rollup: grouping sets expand before ONE exchange") {
    val p = plan("events_time_rollup")
    assert(nodes(p, "Expand") === 1)
    assert(nodes(p, "Exchange") === 1,
      s"rollup must shuffle pre-aggregated rows only:\n$p")
  }

  test("table_profile: all column distincts in ONE scan (multi-distinct Expand)") {
    val p = plan("table_profile")
    assert(nodes(p, "Scan parquet") === 1, s"ANALYZE must scan the table once:\n$p")
  }

  test("knn_pq: broadcast encode + map-only ADC scoring, top-k via WindowGroupLimit") {
    val p = plan("knn_pq")
    assert(p.contains("WindowGroupLimit"), s"top-k must prune per partition:\n$p")
    assert(!p.contains("CartesianProduct"), "codebook/query joins must broadcast")
    assert(nodes(p, "BroadcastExchange") >= 2,
      "codebook and query distance tables both ride broadcasts")
  }

  test("inverted_postings: three exchanges total; term windows share one; cap via WindowGroupLimit") {
    val p = plan("inverted_postings")
    // data exchanges: the (term, doc_id) posting build and ONE term-keyed
    // exchange serving BOTH windows (df count + impact rank). The third is
    // the 1-row corpus-count aggregate collapsing to a single partition
    // before it rides the BroadcastExchange — O(1) bytes, not data flow.
    assert(nodes(p, "Exchange") <= 3, s"term windows must share one exchange:\n$p")
    assert(nodes(p, "BroadcastExchange") >= 1, "the corpus count must broadcast")
    assert(p.contains("WindowGroupLimit"), s"posting cap must prune per partition:\n$p")
  }

  test("bm25_rank: top-k via TakeOrderedAndProject, corpus stats broadcast") {
    val p = plan("bm25_rank")
    assert(p.contains("TakeOrderedAndProject"), s"bm25 must not globally sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the 1-row stats aggregate must broadcast")
  }

  test("doc_novelty: shingle-keyed join, shuffles bounded by shingle/doc keys") {
    val p = plan("doc_novelty")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("n_chars") && !p.contains("lang"),
      "documents scan must prune to doc_id+text")
  }

  test("shard_assign: one shard-keyed exchange, scan pruned to doc_id") {
    val p = plan("shard_assign")
    assert(nodes(p, "Exchange") === 1, s"sharding must be one shuffle:\n$p")
    assert(!p.contains("text") && !p.contains("lang"),
      "documents scan must prune to doc_id")
  }

  test("embedding_centroids: one (label, dim) exchange after map-side partial aggregation") {
    val p = plan("embedding_centroids")
    assert(nodes(p, "Exchange") === 1, s"centroid update must be one shuffle:\n$p")
    assert(nodes(p, "HashAggregate") >= 2, "expect partial + final HashAggregate")
    assert(!p.contains("CartesianProduct"))
  }

  test("kmeans_train: codebook broadcast, argmax via WindowGroupLimit, vectors from checkpoint blocks") {
    val p = plan("kmeans_train")
    assert(p.contains("BroadcastNestedLoopJoin"), "the K-row codebook must broadcast")
    assert(p.contains("WindowGroupLimit"), "per-vector argmax must pre-reduce before its exchange")
    assert(p.contains("ExistingRDD") && !p.contains("embeddings.parquet"),
      s"iterations must re-read checkpointed vectors, not the parquet scan:\n$p")
  }

  test("knn_ivf_trained: trained codebook broadcast, checkpointed assignment reused per side") {
    val p = plan("knn_ivf_trained")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the trained K-row codebook must broadcast")
    assert(p.contains("ExistingRDD") && !p.contains("embeddings.parquet"),
      s"probe must reuse the checkpointed assignment, not re-run scan+assign per join side:\n$p")
    assert(p.contains("WindowGroupLimit"), "per-query top-k must push the rank limit")
  }

  test("token_histogram: single exchange, scan pruned to text") {
    val p = plan("token_histogram")
    assert(nodes(p, "Exchange") === 1, s"histogram must be one shuffle:\n$p")
    assert(!p.contains("lang") && !p.contains("n_chars"),
      "documents scan must prune to text")
  }

  test("orders_with_returns: left-semi probe, returnflag filter pushed, pruned scans") {
    val p = plan("orders_with_returns")
    assert(p.toLowerCase.contains("leftsemi"), s"EXISTS must compile to a semi join:\n$p")
    assert(p.contains("EqualTo(l_returnflag,R)"), "returned-lines filter must reach PushedFilters")
    assert(!p.contains("o_totalprice") && !p.contains("l_quantity"),
      "both scans must prune to the join/group columns")
    assert(!p.contains("CartesianProduct"))
  }

  test("events_rolling_1h: ONE user_id exchange for the RANGE frame, pruned scan") {
    val p = plan("events_rolling_1h")
    assert(nodes(p, "Exchange") === 1, s"rolling window must be one shuffle:\n$p")
    assert(!p.contains("props") && !p.contains("event_type"),
      "events scan must prune to event_id/user_id/ts/value")
  }

  test("grep_product: scan pruned to the referenced columns") {
    val p = plan("grep_product")
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("text"))
    assert(!read.contains("source") && !read.contains("n_chars"),
      s"documents scan must read only doc_id+text: $read")
  }

  test("fuzzy_pairs: candidate generation is an equi-join on the deletion variant, never a nested loop") {
    val p = plan("fuzzy_pairs")
    assert(!p.contains("CartesianProduct"), s"fuzzy join must not cross-join the corpus:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"fuzzy join must not nested-loop the corpus:\n$p")
    // Scan pruning must be audited on the UNcheckpointed lineage: the
    // registered query checkpoints the shared variants, which truncates the
    // explained plan to an ExistingRDD and would make this assertion pass
    // no matter what the scan read.
    val full = operators.FuzzyJoin.fuzzyPairsOn(
      Tables.customer(spark, Sf)
        .select(org.apache.spark.sql.functions.col("c_custkey").as("id"),
          org.apache.spark.sql.functions.col("c_name").as("name")),
      materializeShared = false)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    val read = full.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("c_custkey") && read.contains("c_name"))
    assert(!read.contains("c_acctbal") && !read.contains("c_mktsegment"),
      s"customer scan must prune to c_custkey+c_name: $read")
  }

  test("q21: both quantifiers decorrelate into ONE window pass") {
    val p = plan("q21_waiting")
    assert(nodes(p, "Window") === 1,
      s"EXISTS + NOT EXISTS must share a single orderkey window:\n$p")
    assert(nodes(p, "SortMergeJoin") + nodes(p, "ShuffledHashJoin") +
      nodes(p, "BroadcastHashJoin") === 1,
      "only the supplier dimension join remains after decorrelation")
  }

  test("q12: the conditional-aggregate pair evaluates in the map-side partial") {
    val p = plan("q12_priority")
    assert(p.contains("partial_sum(CASE WHEN"),
      s"CASE measures must aggregate map-side, before the exchange:\n$p")
  }

  test("bpe_pair_counts: two bounded shuffles, top-k without a global sort") {
    val p = plan("bpe_pair_counts")
    assert(nodes(p, "Exchange") === 2,
      s"word-count shuffle + alphabet-bounded pair shuffle, nothing else:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
  }

  test("dedup_semantic: windowed candidates are an equi-join on (cluster, rank) — no in-cluster all-pairs") {
    val p = plan("dedup_semantic")
    // the sorted-neighborhood probe frame exists (explode of sequence(1, W))
    assert(nodes(p, "Generate") >= 1,
      s"rank-window expansion must ride an explode, not a range self-join:\n$p")
    // and no nested-loop/cartesian shape anywhere: every join hash-keyed
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the sf10 quadratic regression guard:\n$p")
  }

  test("dedup_embedding_ivf: sorted-neighborhood window, not in-cluster all-pairs (round-8 fix pin)") {
    val p = plan("dedup_embedding_ivf")
    // same guard as dedup_semantic — a refactor back to the a⋈b
    // cluster self-join (the shape the sf10 audit measured 19× on 10×
    // data in its twin) would drop the explode and/or reintroduce a
    // non-equi candidate join.
    assert(nodes(p, "Generate") >= 1,
      s"rank-window expansion must ride an explode, not a cluster self-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the sf10 quadratic regression guard:\n$p")
    // the ranked frame is built once and checkpointed, both join sides read it
    assert(p.contains("ExistingRDD"), s"both candidate sides must read the checkpointed ranked frame:\n$p")
  }

  test("dedup_containment: prefix-filtered candidates + ABSOLUTE df cap (round-9 fix pin)") {
    val p = plan("dedup_containment")
    // the keep filter must include `df <= ContainMaxDf` — the constant
    // that bounds per-shingle fan-out at any corpus size. A refactor back
    // to the fraction-only rule deletes this literal from the plan.
    assert(p.contains(s"<= ${graft.operators.Dedup.ContainMaxDf}"),
      s"absolute df cap must appear in the candidate filter:\n$p")
    // round-9: candidates come from a PREFIX join — the per-doc
    // (df, hash)-rank window must be in the plan; dropping it reverts to
    // the all-kept-pairs generator that shuffled ~94 GB and OOM'd at sf10.
    assert(p.contains("row_number"),
      s"prefix rank window missing — candidate generator reverted to all-kept-pairs:\n$p")
    // (the 1-row n_docs broadcast rides a BroadcastNestedLoopJoin by
    // design, so only the true quadratic shape is banned here)
    assert(!p.contains("CartesianProduct"),
      s"containment candidates must stay shingle-equi-joined:\n$p")
  }

  test("dsir_select: |B|-bounded model broadcasts back, top-k without a global sort") {
    val p = plan("dsir_select")
    assert(p.contains("TakeOrderedAndProject"),
      s"selection must be top-k, never a global sort:\n$p")
    assert(nodes(p, "Scan parquet") === 0 && p.contains("ExistingRDD"),
      s"all four consumers (q, p, totals, scoring) must read the ONE checkpointed gram frame — re-executing the tokenize+explode lineage per consumer was both ~2x the work and the repo's most unstable timing:\n$p")
    // the per-doc scoring join against the 4096-row model must ride a
    // broadcast — a SortMergeJoin here re-shuffles the corpus-sized
    // bucket-count frame on the bucket key for no reason
    assert(nodes(p, "BroadcastHashJoin") >= 1,
      s"bucket-model join must broadcast the |B|-row side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"dsir must stay equi-joined on the bucket key:\n$p")
  }

  test("pack_chunks: one source-keyed exchange; the fragment explode adds no shuffle") {
    val p = plan("pack_chunks")
    assert(nodes(p, "Exchange") == 1,
      s"prefix-sum window must be the only shuffle; the explode is narrow:\n$p")
    assert(nodes(p, "Generate") == 1, s"fragment rows come from one sequence() explode:\n$p")
    assert(nodes(p, "Scan parquet") == 1, s"one corpus scan:\n$p")
  }

  test("multimodal_audio: shuffle-free — payload bytes never leave the scan partition") {
    val p = plan("multimodal_audio")
    assert(nodes(p, "Exchange") == 0, s"audio decode must be a narrow map:\n$p")
    assert(nodes(p, "Scan parquet") == 1, s"one corpus scan:\n$p")
  }

  test("knn_binary: Hamming scan joins broadcast codes, shortlist is WindowGroupLimit, no cartesian") {
    val p = plan("knn_binary")
    assert(!p.contains("CartesianProduct"), s"binary kNN must never cartesian:\n$p")
    assert(nodes(p, "WindowGroupLimit") >= 2,
      s"both the Hamming shortlist and the rerank top-k must compile to WindowGroupLimit:\n$p")
    // query codes and query vectors ride broadcasts; the corpus never
    // shuffles against them (the stats row broadcast is inside the
    // checkpointed encode, not this plan)
    assert(nodes(p, "BroadcastExchange") >= 2,
      s"query codes + query vectors must broadcast:\n$p")
  }

  test("source_overlap_kmv: sketch rank is WindowGroupLimit; pairwise stage is a broadcast over sketch rows") {
    val p = plan("source_overlap_kmv")
    assert(p.contains("WindowGroupLimit"),
      s"the bottom-k rank filter must push into map tasks (<= k rows/source shuffle):\n$p")
    assert(nodes(p, "BroadcastExchange") >= 1,
      s"the |S|-row sketch side must broadcast into the pair join:\n$p")
    assert(nodes(p, "Scan parquet") <= 1,
      s"one corpus scan feeds the checkpointed shingle pass:\n$p")
  }

  test("knn_ivf_multiprobe: top-k is WindowGroupLimit over a broadcast probe frame") {
    val p = plan("knn_ivf_multiprobe")
    assert(p.contains("WindowGroupLimit"),
      s"the rank <= k filter must push into map tasks:\n$p")
    assert(nodes(p, "BroadcastExchange") >= 2,
      s"the centroid frame and the (query x top-P) probe frame must ride broadcasts:\n$p")
    assert(!p.contains("CartesianProduct"), s"probe must stay cluster-equi-joined:\n$p")
    assert(p.contains("ExistingRDD"),
      s"the checkpointed IVF assignment must feed both probe sides:\n$p")
  }

  test("dedup_cdc: chunking is a generate-only pipeline; the only joins are fp-equi") {
    val p = plan("dedup_cdc")
    assert(nodes(p, "Generate") >= 1,
      s"chunk rows must come from an explode, not a join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no pair term anywhere in CDC dedup:\n$p")
  }

  test("embedding_health: zero joins — one scan, (label, dim) + label exchanges only") {
    val p = plan("embedding_health")
    assert(!p.contains("Join"), s"the health card must not join anything:\n$p")
    assert(nodes(p, "Scan parquet") === 1, s"one corpus scan:\n$p")
    assert(nodes(p, "Exchange") === 2,
      s"(label, dim) aggregation + label rollup are the only shuffles:\n$p")
  }

  test("phrase_detect: top-k without a global sort; shortlist joins ride broadcasts") {
    val p = plan("phrase_detect")
    assert(p.contains("TakeOrderedAndProject"),
      s"the bigram top-k must not global-sort:\n$p")
    assert(nodes(p, "BroadcastExchange") >= 2,
      s"the 50-row shortlist and the 1-row total must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only the 1-row total may ride a nested-loop broadcast:\n$p")
  }

  test("corpus_diff: one key-bounded full-outer join, no nested loop") {
    val p = plan("corpus_diff")
    assert(p.contains("FullOuter"), s"the diff is a full-outer join on doc_id:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the diff join must stay doc_id-equi:\n$p")
  }

  test("dedup_lsh_tune: band fan-out and pair expansion are explodes; one scoring pass feeds both rollups") {
    // Round 10 folds the per-config rollup AND the union truth into ONE
    // aggregation over a sentinel-cfg explode, checkpointed at 5 rows —
    // so the registered plan is two filters over ExistingRDD, and the
    // heavy stages are audited on the pre-checkpoint scoring lineage.
    val p = plan("dedup_lsh_tune")
    assert(p.contains("ExistingRDD"),
      s"per and truth must split the 5-row checkpointed aggregation:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"nothing may go cartesian (the 1-row truth broadcast aside):\n$p")
    val cand = operators.Dedup.lshTuneCandidates(operators.Dedup.tokenized(spark, Sf))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(nodes(cand, "Generate") >= 2,
      s"30-band fan-out + in-bucket pair expansion must both be explodes:\n$cand")
    assert(!cand.contains("CartesianProduct"),
      s"candidates must stay bucket-equi-joined:\n$cand")
  }

  test("dedup_minhash_lsh: signatures come from the scan — no exchange below the (band, bk) bucket aggregate") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("dedup_minhash_lsh")(spark, Sf)
    val physical = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    def bucketAgg(n: SparkPlan): Boolean = n match {
      case a: BaseAggregateExec => a.groupingExpressions.map(_.name) == Seq("band", "bk")
      case _ => false
    }
    // the map-side half: the bucket aggregate with no other one below it
    val mapSide = physical.collect { case a if bucketAgg(a) => a }
      .filter(a => a.children.forall(_.find(bucketAgg).isEmpty))
    assert(mapSide.size === 1, s"one (band, bk) bucket aggregate:\n$physical")
    val below = mapSide.head
    assert(below.find(_.isInstanceOf[FileSourceScanExec]).nonEmpty,
      s"the bucket aggregate must read the documents scan's own stage:\n$physical")
    assert(below.find(_.isInstanceOf[ShuffleExchangeLike]).isEmpty,
      s"no (doc, shingle) distinct or doc_id regroup may shuffle before the buckets:\n$physical")
    // what remains: the bucket exchange and the pair distinct's
    assert(nodes(plan("dedup_minhash_lsh"), "Exchange") === 2)
  }

  test("dedup_substring: suffix stream derives once; df is a window over the lead window's exchange") {
    // round 10: df = count(*) over (kh) BEFORE the lead window (narrow-row
    // buffering measured faster than the one-sort leads-first order, which
    // buffered W lead structs per row through the count window). One scan,
    // one exchange shared by both windows, no join anywhere.
    val p = plan("dedup_substring")
    assert(nodes(p, "Scan parquet") === 1,
      s"the suffix derivation (tokenize+md5+explode) must run ONCE:\n$p")
    assert(nodes(p, "Window") === 2, s"df count window + lead window:\n$p")
    assert(!p.contains("Join"), s"df is a window, never a join back onto the stream:\n$p")
    // both windows partition by kh: one exchange for them + the final
    // pair aggregation's — a third exchange appearing means the windows
    // stopped sharing their clustering
    assert(nodes(p, "Exchange") <= 2,
      s"both windows must share the kh exchange:\n$p")
  }

  test("multimodal_keyframes: the lag window's doc exchange is the only shuffle") {
    val p = plan("multimodal_keyframes")
    assert(nodes(p, "Window") === 1, s"one lag window:\n$p")
    assert(nodes(p, "Exchange") === 1,
      s"the frame map is shuffle-free; only the window exchanges:\n$p")
    assert(!p.contains("Join"), s"keyframes must not join anything:\n$p")
  }

  test("contamination_semantic: eval side broadcast, argmax is a hash agg, no window/sort over the corpus") {
    val p = plan("contamination_semantic")
    assert(nodes(p, "BroadcastExchange") === 1,
      s"the fixed eval slice must ride ONE broadcast:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"corpus x eval scoring is the broadcast NLJ scan (the knnBrute shape):\n$p")
    assert(!p.contains("CartesianProduct"), s"never a physical cartesian:\n$p")
    assert(nodes(p, "Window") === 0 && !p.contains("SortMergeJoin"),
      s"the per-vector argmax must fold into max_by partials, not a window or SMJ:\n$p")
  }

  test("phrase_search: slot joins stay equi on (doc_id, pos); no nested loop anywhere") {
    val p = plan("phrase_search")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"adjacency intersection must be equi-joins:\n$p")
    assert(nodes(p, "Generate") >= PhraseTermCount + 1,
      s"one posexplode per slot branch + the position-string explodes:\n$p")
  }
  private val PhraseTermCount = operators.Ranking.PhraseTerms.length

  test("pack_multimodal: one doc_id join, one packing window, fragment explode adds no shuffle") {
    val p = plan("pack_multimodal")
    assert(nodes(p, "Window") === 1, s"one per-source prefix-sum window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the media join must stay doc_id-equi:\n$p")
    assert(nodes(p, "Generate") >= 1, s"the fragment explode must be a Generate:\n$p")
  }

  test("contamination_verdict: one window (spans islands), one BNLJ (semantic scorer), equi composition") {
    val p = plan("contamination_verdict")
    // the spans signal's gaps-and-islands window is the only window; the
    // semantic signal's broadcast-NLJ eval scorer is the only non-equi join;
    // the three signal joins themselves must stay doc_id-equi
    assert(nodes(p, "Window") === 1, s"exactly the islands window:\n$p")
    assert(nodes(p, "BroadcastNestedLoopJoin") === 1,
      s"exactly the semantic eval scorer:\n$p")
    assert(!p.contains("CartesianProduct"), s"never a physical cartesian:\n$p")
  }

  test("pack_best_fit: ONE exchange — the rank window's (source,class) shuffle also carries the rollup") {
    val p = plan("pack_best_fit")
    assert(nodes(p, "Window") === 1, s"one rank window:\n$p")
    assert(nodes(p, "Exchange") === 1,
      s"the bin rollup groups on a superset of the window keys — no second shuffle:\n$p")
    assert(!p.contains("Join"), s"packing is join-free:\n$p")
  }

  test("hard_negatives: eval broadcast scoring scan, top-k rank group-limited before the exchange") {
    val p = plan("hard_negatives")
    assert(nodes(p, "BroadcastExchange") === 1,
      s"the fixed eval slice must ride ONE broadcast:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"corpus x eval scoring is the broadcast NLJ scan (the knnBrute shape):\n$p")
    assert(!p.contains("CartesianProduct"), s"never a physical cartesian:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"the rank<=k filter must push into a WindowGroupLimit so tasks forward <=k rows per query:\n$p")
  }

  test("token_diversity: one scan, join-free, the doc-term partial agg precedes any exchange") {
    val p = plan("token_diversity")
    assert(nodes(p, "Scan parquet") === 1, s"one corpus scan:\n$p")
    assert(!p.contains("Join"), s"diversity is two stacked aggregations, never a join:\n$p")
    assert(nodes(p, "Window") === 0, s"no window:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string"),
      s"documents scan must prune to (doc_id, text):\n$p")
    // partial HashAggregate on (doc_id, tok) must appear before the first
    // exchange so the shuffle carries distinct doc-term pairs, not tokens
    val firstAgg = p.indexOf("HashAggregate")
    val firstExchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && firstExchange >= 0,
      s"expected hash aggregation and an exchange:\n$p")
  }

  test("curation_funnel: gate flags compose as equi-joins; the card is ONE aggregation row unpivoted") {
    val p = plan("curation_funnel")
    assert(!p.contains("CartesianProduct"), s"never a physical cartesian:\n$p")
    assert(nodes(p, "Scan parquet") === 0,
      s"all gates must read the checkpointed tokenize pass, never re-scan:\n$p")
    assert(nodes(p, "Generate") >= 1, s"the stack unpivot must be a Generate:\n$p")
    assert(nodes(p, "SortMergeJoin") + nodes(p, "BroadcastHashJoin") +
      nodes(p, "ShuffledHashJoin") >= 3,
      s"the three gate signals + dedup flag must compose as doc_id equi-joins:\n$p")
  }

  test("embedding_top_direction: iterations already ran at O(d) driver traffic; the plan is one scoring agg x a 64-row literal") {
    val p = plan("embedding_top_direction")
    assert(nodes(p, "Scan parquet") === 0,
      s"vectors must come from the checkpointed blocks, not a re-scan per iteration:\n$p")
    assert(nodes(p, "BroadcastNestedLoopJoin") === 1,
      s"the 1-row scalar card rides ONE broadcast against the literal direction rows:\n$p")
    assert(nodes(p, "SortMergeJoin") === 0 && !p.contains("CartesianProduct"),
      s"never a shuffled or physical-cartesian join:\n$p")
  }

  test("ivf_balance: a |C|-row aggregation over the checkpointed assignment; total rides one broadcast") {
    val p = plan("ivf_balance")
    assert(nodes(p, "Scan parquet") === 0,
      s"the audit must read the shared checkpointed ivfAssigned blocks:\n$p")
    assert(nodes(p, "BroadcastNestedLoopJoin") === 1,
      s"the corpus total reaches the |C|-row frame as ONE broadcast:\n$p")
    assert(nodes(p, "SortMergeJoin") === 0 && !p.contains("CartesianProduct"),
      s"never a shuffled or physical-cartesian join:\n$p")
  }

  test("sample_per_cluster: top-K per cluster pre-reduced via WindowGroupLimit over the checkpointed assignment") {
    val p = plan("sample_per_cluster")
    assert(nodes(p, "Scan parquet") === 0,
      s"the coreset must read the shared checkpointed ivfAssigned blocks:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"rank <= K must pre-reduce each cluster to a K-row heap before (and after) its exchange — never a full per-cluster sort:\n$p")
    assert(nodes(p, "Exchange") === 1, s"one cluster-keyed exchange:\n$p")
    assert(nodes(p, "SortMergeJoin") === 0 && !p.contains("CartesianProduct"),
      s"never a shuffled or physical-cartesian join:\n$p")
  }

  test("epoch_reshuffle: one (epoch, shard) exchange, explode bounded by the epoch constant, scan pruned to doc_id") {
    val p = plan("epoch_reshuffle")
    assert(nodes(p, "Exchange") === 1, s"resharding must be one shuffle:\n$p")
    assert(nodes(p, "Generate") === 1,
      s"the only explode is doc × E epochs (E a small constant):\n$p")
    assert(!p.contains("text") && !p.contains("lang"),
      "documents scan must prune to doc_id")
  }

  test("quality_classifier: token work fused into the scan row — no explode, no join, ONE exchange") {
    val p = plan("quality_classifier")
    assert(nodes(p, "Scan parquet") === 1, s"one corpus scan:\n$p")
    assert(nodes(p, "Generate") === 0,
      s"the per-doc score is a row-level aggregate(transform(...)) — token volume must NEVER explode:\n$p")
    assert(!p.contains("Join"), s"scoring is join-free (hash-trick weights need no weight table):\n$p")
    assert(nodes(p, "Exchange") === 1,
      s"only the (lang, source) card aggregation may shuffle:\n$p")
    assert(nodes(p, "Window") === 0, s"no window:\n$p")
  }

  test("source_divergence: one token-volume exchange; the corpus-total branch reuses it at runtime") {
    val p = plan("source_divergence")
    assert(nodes(p, "Generate") <= 2, s"tokenize explodes only (main + total branches pre-reuse):\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row total must ride a broadcast NLJ, never a physical cartesian:\n$p")
    assert(nodes(p, "BroadcastExchange") === 1, s"one broadcast — the corpus total:\n$p")
    assert(nodes(p, "Window") === 2, s"the per-token and per-source totals are the two windows:\n$p")
    // The static plan shows the total branch re-deriving the (source, tok)
    // aggregation; at runtime AQE's exchange reuse must collapse it so the
    // corpus pays ONE tokenize scan, not two.
    val df = SparkEntry.queries("source_divergence")(spark, Sf)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange"),
      s"the corpus-total branch must reuse the (source, tok) exchange at runtime:\n$executed")
  }

  test("mix_epochs_plan: corpus collapsed to a checkpointed |langs|-row frame; downstream is broadcast-only") {
    val p = plan("mix_epochs_plan")
    assert(nodes(p, "Scan parquet") === 0,
      s"the one corpus scan ran at localCheckpoint time; the plan must start from the RDD:\n$p")
    assert(!p.contains("CartesianProduct"), s"never a physical cartesian:\n$p")
    assert(nodes(p, "SortMergeJoin") === 0 && nodes(p, "ShuffledHashJoin") === 0,
      s"the totals must reach the tiny frame as broadcasts, not shuffled joins:\n$p")
  }
}

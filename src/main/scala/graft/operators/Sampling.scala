package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Deterministic sampling for training-data curation. A 100 TB pipeline
  * samples constantly (per-language quotas, eval holdouts, ablation
  * subsets) and needs the draw to be REPRODUCIBLE and engine-independent —
  * `rand()` is neither. The primitive here is hash-ordered rank: order a
  * stratum by `md5(key)` (a fixed, uniform, engine-portable permutation)
  * and keep the first k. Same inputs → same sample, in Spark, in DuckDB,
  * on any cluster size.
  */
object Sampling {

  /** Per-language quota sample of the document corpus: the `perStratum`
    * docs with the smallest md5(doc_id) in each lang. Plan: one shuffle on
    * the stratum key; the rank filter compiles to `WindowGroupLimit`, so
    * each task keeps ≤k rows per stratum BEFORE the exchange — the shuffle
    * carries O(strata × k), not the corpus. That is the property that
    * makes quota sampling free at 100 TB. */
  def stratifiedSample(spark: SparkSession, sfDir: String, perStratum: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= perStratum)
  }

  def stratifiedSampleSql(perStratum: Int = 20): String =
    s"""SELECT doc_id, lang, rn FROM (
       |  SELECT doc_id, lang, row_number() OVER (
       |    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |  FROM documents)
       |WHERE rn <= $perStratum""".stripMargin

  /** Tokens per training bin for [[packSequences]] — small against the test
    * corpus so bins actually fill and roll over at sf0.001. */
  val PackBinTokens = 512

  /** Sequence packing: assign each document to a fixed-token-budget
    * training bin, greedily in a deterministic per-source order — the step
    * between curation and batching that turns a corpus into
    * constant-length training examples. A doc lands in the bin its RUNNING
    * token offset starts in (`offset div binTokens`), so assignment needs
    * only a running sum, no driver state.
    *
    * Scale shape: the window partitions by `source`, so the running sums
    * are computed per shard in parallel — one shuffle on source, one
    * within-partition sort. (A single GLOBAL packing order would serialize
    * the window into one partition; per-shard packing is what training
    * pipelines do anyway, because readers consume shards independently.)
    * Integer `div` keeps bin ids exact in both engines. */
  def packSequences(spark: SparkSession, sfDir: String, binTokens: Int = PackBinTokens): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id").asc)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("start_offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("start_offset"),
        expr(s"start_offset div $binTokens").as("bin_id"))
  }

  def packSequencesSql(binTokens: Int = PackBinTokens): String =
    s"""WITH t AS (SELECT doc_id, source,
       |    CAST(len(${graft.operators.TextOps.tokensSql}) AS BIGINT) AS n_tokens
       |  FROM documents),
       |o AS (SELECT doc_id, source, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) - n_tokens AS start_offset
       |  FROM t)
       |SELECT doc_id, source, n_tokens, CAST(start_offset AS BIGINT) AS start_offset,
       |  CAST(start_offset // $binTokens AS BIGINT) AS bin_id
       |FROM o""".stripMargin

  /** GPT-style CONCAT-AND-CHUNK packing — the step [[packSequences]]
    * approximates: instead of assigning each WHOLE document to the bin its
    * offset starts in (which pads or overflows at bin boundaries), the
    * per-source token stream is conceptually concatenated and cut every
    * `binTokens` tokens, SPLITTING documents across bin boundaries — every
    * training bin is exactly full (bar the final partial per source), zero
    * padding waste, which is how decoder-LM pipelines actually lay out
    * pretraining batches. Output: one row per (document × bin) FRAGMENT
    * with the in-document token span [tok_start, tok_end) that lands in
    * that bin — the index a loader needs to materialize bins without
    * re-tokenizing.
    *
    * Shape: the running offset is the same per-source prefix-sum window as
    * [[packSequences]] (one shuffle on source, per-shard parallel); each
    * doc then explodes to `1 + spanned-boundaries` fragment rows — a
    * NARROW map bounded by n_tokens/binTokens extra rows per doc, no
    * second shuffle, nothing driver-side. Zero-token docs are dropped
    * before the window — offset-neutral, since they contribute 0 to every
    * prefix sum. */
  def packChunks(spark: SparkSession, sfDir: String,
                 binTokens: Int = PackBinTokens): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id").asc)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("bin_id", explode(sequence(
        expr(s"off div $binTokens"),
        expr(s"(off + n_tokens - 1) div $binTokens"))))
      .select(col("doc_id"), col("source"), col("bin_id"),
        expr(s"greatest(CAST(0 AS BIGINT), bin_id * $binTokens - off)").as("tok_start"),
        expr(s"least(n_tokens, (bin_id + 1) * $binTokens - off)").as("tok_end"))
  }

  def packChunksSql(binTokens: Int = PackBinTokens): String =
    s"""WITH t AS (SELECT doc_id, source,
       |    CAST(len(${graft.operators.TextOps.tokensSql}) AS BIGINT) AS n_tokens
       |  FROM documents),
       |o AS (SELECT doc_id, source, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
       |         - n_tokens AS BIGINT) AS off
       |  FROM t WHERE n_tokens > 0)
       |SELECT doc_id, source, CAST(b AS BIGINT) AS bin_id,
       |  CAST(greatest(0, b * $binTokens - off) AS BIGINT) AS tok_start,
       |  CAST(least(n_tokens, (b + 1) * $binTokens - off) AS BIGINT) AS tok_end
       |FROM o, LATERAL (SELECT unnest(generate_series(
       |    off // $binTokens, (off + n_tokens - 1) // $binTokens)) AS b) g""".stripMargin

  /** NON-SPLITTING bin packing — the SFT/instruction-tuning layout beside
    * [[packChunks]]' concat-and-chunk: a tuning example must never be cut
    * across training bins (a split example trains on half a conversation),
    * so whole documents pack into `binTokens`-capacity bins and the layout
    * pays PADDING instead of splits. Output is the per-bin card a loader
    * budgets from: bin membership count, fill, padding, and an oversize
    * flag for docs that exceed the capacity outright (the truncation
    * queue).
    *
    * The classical sequential heuristics (first-/best-fit-decreasing,
    * Johnson 1973) thread one mutable bin state through EVERY item — a
    * driver-side loop that cannot distribute. The distributed spelling
    * here is size-CLASS packing, the shelf scheme of the harmonic
    * algorithms (Lee & Lee, JACM 1985) and of the length-bucketed batching
    * SFT pipelines actually run: class k = ⌊binTokens / n_tokens⌋ is the
    * number of whole docs of this size a bin holds, and within each
    * (source, class) the docs — ranked size-descending — fill bins k at a
    * time by rank: bin = ⌊(rank−1)/k⌋. Pure window arithmetic
    * ([[compactionPlan]]'s offset-binning precedent, with the rank
    * quotient replacing the offset quotient so capacity becomes HARD).
    *
    * Invariants (spec-proven): no doc splits (the assignment is one row
    * per doc), and no non-oversize bin exceeds binTokens — k·n ≤ B holds
    * for every member since n ≤ B/k in class k. Waste is bounded, not just
    * measured: every full bin in class k carries > k·B/(k+1) ≥ B/2 tokens,
    * so the layout uses < 2× the token-optimal bin count, plus ≤ 1 partial
    * bin per (source, class).
    *
    * Scale shape: ONE shuffle on (source, size_class) for the rank window,
    * then the same keys carry the bin rollup — partial aggregation, no
    * second exchange. Nothing global, nothing driver-side, skew-free (the
    * class key fans each source over ~log B classes). */
  def packBestFit(spark: SparkSession, sfDir: String,
      binTokens: Int = PackBinTokens): DataFrame =
    packBestFitAssign(
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens")),
      binTokens)
      .groupBy(col("source"), col("size_class"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("fill_tokens"))
      .select(col("source"), col("size_class"), col("bin_id"), col("n_docs"),
        col("fill_tokens"),
        greatest(lit(0L), lit(binTokens.toLong) - col("fill_tokens")).as("pad_tokens"),
        (col("fill_tokens") > binTokens).as("oversize"))

  /** Doc-level assignment under [[packBestFit]]'s scheme — the frame the
    * invariants are provable on (one row per doc ⇒ no splits; per-bin
    * sums ⇒ hard capacity). `docs` = (doc_id, source, n_tokens); zero-token
    * docs drop (nothing to pack), docs over the capacity land alone in
    * class-1 bins with the oversize flag raised downstream. */
  private[graft] def packBestFitAssign(docs: DataFrame, binTokens: Int): DataFrame = {
    val w = Window.partitionBy(col("source"), col("size_class"))
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    docs.filter(col("n_tokens") > 0)
      .withColumn("size_class",
        greatest(lit(1L), expr(s"CAST($binTokens AS BIGINT) div n_tokens")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("bin_id", expr("(rn - 1) div size_class"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("size_class"), col("bin_id"))
  }

  def packBestFitSql(binTokens: Int = PackBinTokens): String =
    s"""WITH t AS (SELECT doc_id, source,
       |    CAST(len(${graft.operators.TextOps.tokensSql}) AS BIGINT) AS n_tokens
       |  FROM documents),
       |a AS (SELECT doc_id, source, n_tokens,
       |    greatest(1, $binTokens // n_tokens) AS size_class
       |  FROM t WHERE n_tokens > 0),
       |r AS (SELECT *, row_number() OVER (PARTITION BY source, size_class
       |    ORDER BY n_tokens DESC, doc_id ASC) AS rn FROM a)
       |SELECT source, CAST(size_class AS BIGINT) AS size_class,
       |  CAST((rn - 1) // size_class AS BIGINT) AS bin_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS fill_tokens,
       |  CAST(greatest(0, $binTokens - sum(n_tokens)) AS BIGINT) AS pad_tokens,
       |  (sum(n_tokens) > $binTokens) AS oversize
       |FROM r GROUP BY 1, 2, 3""".stripMargin

  /** Per-image token budget for [[packMultimodal]] — the fixed sequence
    * cost a vision encoder charges per image/frame (the MMC4/OBELICS
    * layout constant; production values are 64–576 patch tokens, scaled
    * here to the test corpus's token volumes). */
  val ImgTokens = 16L

  /** INTERLEAVED IMAGE-TEXT PACKING — the MMC4/OBELICS layout step for
    * multimodal pretraining: documents whose media containers were PARSED
    * by [[Multimodal.mediaFeatures]] (frame count from walking real
    * APNG/MJPEG structure, not metadata trust) pack into fixed-token bins
    * where every frame costs [[ImgTokens]] and text costs its whitespace
    * token count — [[packChunks]]' concat-and-chunk rule over the COMBINED
    * token space, documents split across bin boundaries, every bin exactly
    * full (bar the final partial per source). Document layout is the
    * frame blocks first, then the text (the OBELICS media-anchored
    * convention), so each fragment also reports its image/text token
    * split — what a loader needs to budget vision-encoder batches per bin.
    *
    * Shape: [[Multimodal.mediaFeatures]]' partition-wise container parse
    * (corpus-linear, no shuffle) + ONE doc_id equi-join to the token
    * counts + the same per-source prefix-sum window as [[packChunks]] +
    * a narrow fragment explode. At 100 TB the added cost over packChunks
    * is the parse scan and the one join — both corpus-linear, no new
    * quadratic or driver-side term. */
  def packMultimodal(spark: SparkSession, sfDir: String,
      binTokens: Int = PackBinTokens): DataFrame = {
    val media = Multimodal.mediaFeatures(spark, sfDir)
      .select(col("doc_id"), (col("n_frames") * ImgTokens).as("n_img"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id").asc)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_text"))
      .join(media, Seq("doc_id"))
      .withColumn("n_total", col("n_text") + col("n_img"))
      .filter(col("n_total") > 0)
      .withColumn("off", sum(col("n_total")).over(w) - col("n_total"))
      .withColumn("bin_id", explode(sequence(
        expr(s"off div $binTokens"),
        expr(s"(off + n_total - 1) div $binTokens"))))
      .withColumn("tok_start", expr(s"greatest(CAST(0 AS BIGINT), bin_id * $binTokens - off)"))
      .withColumn("tok_end", expr(s"least(n_total, (bin_id + 1) * $binTokens - off)"))
      // fragment ∩ [0, n_img) = its image-token share; text is the rest.
      // least() alone suffices: tok_start ≤ tok_end makes the difference
      // non-negative.
      .withColumn("img_tokens",
        least(col("tok_end"), col("n_img")) - least(col("tok_start"), col("n_img")))
      .select(col("doc_id"), col("source"), col("bin_id"),
        col("tok_start"), col("tok_end"), col("img_tokens"),
        (col("tok_end") - col("tok_start") - col("img_tokens")).as("text_tokens"))
  }

  /** DuckDB twin: frame count re-derived from the container-build
    * arithmetic (the [[Multimodal.mediaFeaturesSql]] contract — the engine
    * must PARSE its way back to the same number), same window, same
    * fragment algebra. */
  def packMultimodalSql(binTokens: Int = PackBinTokens): String =
    s"""WITH t AS (SELECT doc_id, source,
       |    CAST(len(${graft.operators.TextOps.tokensSql}) AS BIGINT) AS n_text,
       |    (1 + CAST(octet_length(encode(text)) AS BIGINT) % 16) * $ImgTokens AS n_img
       |  FROM documents),
       |o AS (SELECT doc_id, source, n_text + n_img AS n_total, n_img,
       |    CAST(sum(n_text + n_img) OVER (PARTITION BY source ORDER BY doc_id)
       |         - (n_text + n_img) AS BIGINT) AS off
       |  FROM t WHERE n_text + n_img > 0),
       |frag AS (SELECT doc_id, source, CAST(b AS BIGINT) AS bin_id, n_img,
       |    CAST(greatest(0, b * $binTokens - off) AS BIGINT) AS tok_start,
       |    CAST(least(n_total, (b + 1) * $binTokens - off) AS BIGINT) AS tok_end
       |  FROM o, LATERAL (SELECT unnest(generate_series(
       |      off // $binTokens, (off + n_total - 1) // $binTokens)) AS b) g)
       |SELECT doc_id, source, bin_id, tok_start, tok_end,
       |  CAST(least(tok_end, n_img) - least(tok_start, n_img) AS BIGINT) AS img_tokens,
       |  CAST(tok_end - tok_start
       |    - (least(tok_end, n_img) - least(tok_start, n_img)) AS BIGINT) AS text_tokens
       |FROM frag""".stripMargin

  /** [[weightedSample]] saturation length: a doc of ≥ this many chars is
    * kept with probability 1; shorter docs keep proportionally. */
  val WeightTau = 2000L

  /** Hash modulus for [[weightedSample]] probability thresholds (2^32:
    * threshold·τ stays far inside int64, and 2^32 buckets make the
    * per-doc probability granularity ~2.3e-10). */
  val WeightMod: Long = 1L << 32

  /** Deterministic WEIGHTED Bernoulli sample: keep each document with
    * probability min(1, n_chars/τ) — the importance-sampling step a
    * curation pipeline uses to bias a subsample toward substantial
    * documents without hard-dropping short ones. The coin is
    * `md5(doc_id) mod 2^32 < threshold(n_chars)` in pure integer
    * arithmetic: reproducible, engine-portable, and independent per doc —
    * the weighted cousin of this module's hash-ordered rank primitive
    * (`rand()` would be none of those).
    *
    * Scale: a narrow map + filter, ZERO shuffles — the sample decision
    * never looks beyond the row, so at 100 TB this is scan-bound and
    * embarrassingly parallel, and composes under any partition layout. */
  def weightedSample(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"),
        expr(s"($WeightMod * least(n_chars, $WeightTau)) div $WeightTau")
          .as("keep_threshold"))
      .filter(Hashing.md5Long(col("doc_id").cast("string")) % WeightMod
        < col("keep_threshold"))

  def weightedSampleSql: String = {
    val h = Hashing.md5LongSql("CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, n_chars,
       |  CAST(($WeightMod * least(n_chars, $WeightTau)) // $WeightTau AS BIGINT)
       |    AS keep_threshold
       |FROM documents
       |WHERE $h % $WeightMod <
       |  ($WeightMod * least(n_chars, $WeightTau)) // $WeightTau""".stripMargin
  }

  /** Number of output shards for [[shardAssign]] — small against the test
    * corpus so every shard is non-trivially populated; production uses
    * O(1k–100k) shards independent of corpus size. */
  val NumShards = 16

  /** Deterministic GLOBAL training shuffle: assign every document a shard
    * (`md5_int64(doc_id) mod N`) and a within-shard position (rank by the
    * md5 permutation). This is the writer-side step that turns a curated
    * corpus into randomized, reproducible training shards — same
    * shard/position in Spark, DuckDB, any cluster layout.
    *
    * Shape: one shuffle on the shard key; within-shard ranks come from the
    * per-shard sort that shuffle already pays for. A TRUE global
    * `orderBy(rand())` would cost a global sort and be unreproducible —
    * hash-permutation sharding is how training pipelines actually shuffle
    * at 100 TB (each shard is an independent reader unit). */
  def shardAssign(spark: SparkSession, sfDir: String, nShards: Int = NumShards): DataFrame = {
    val h = Hashing.md5Long(col("doc_id").cast("string"))
    val w = Window.partitionBy(col("shard"))
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), (h % nShards).as("shard"))
      .withColumn("pos", row_number().over(w).cast("long"))
  }

  def shardAssignSql(nShards: Int = NumShards): String = {
    val h = Hashing.md5LongSql("CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, CAST($h % $nShards AS BIGINT) AS shard,
       |  CAST(row_number() OVER (
       |    PARTITION BY $h % $nShards
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
       |FROM documents""".stripMargin
  }

  /** Epoch count for [[epochReshuffle]] — matches the multi-epoch regime
    * [[mixEpochsPlan]] budgets for; production sets it from the token
    * budget, the shape is epoch-count-independent. */
  val ReshuffleEpochs = 3

  /** PER-EPOCH deterministic reshuffle: every epoch reads the corpus in a
    * DIFFERENT reproducible order. [[shardAssign]] materializes ONE hash
    * permutation; multi-epoch training (the data-constrained regime
    * [[mixEpochsPlan]] budgets for) must not replay the same order each
    * pass — repeated order correlates gradient noise across epochs — and
    * at 100 TB nobody re-shuffles by rewriting the corpus. The standard
    * answer is salting the shard/rank hash with the epoch number: E
    * independent permutations from the SAME stored bytes, each epoch's
    * read plan derivable on demand, any engine, any day (seed-stable).
    *
    * Shape: one explode to E rows per doc (E is a small constant), one
    * shuffle on (epoch, shard), within-shard ranks from the sort that
    * shuffle already pays — identical cost profile to [[shardAssign]]
    * times E, no global sort, no driver state. */
  def epochReshuffle(spark: SparkSession, sfDir: String,
      epochs: Int = ReshuffleEpochs, nShards: Int = NumShards): DataFrame = {
    val salted = concat(lit("e"), col("epoch").cast("string"), lit(":"),
      col("doc_id").cast("string"))
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(md5(salted).asc, col("doc_id").asc)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(expr(s"sequence(0, ${epochs - 1})")).as("epoch"))
      .select(col("doc_id"), col("epoch").cast("long").as("epoch"),
        (Hashing.md5Long(salted) % nShards).as("shard"))
      .withColumn("pos", row_number().over(w).cast("long"))
  }

  def epochReshuffleSql(epochs: Int = ReshuffleEpochs,
      nShards: Int = NumShards): String = {
    val sk = "('e' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))"
    val h = Hashing.md5LongSql(sk)
    s"""WITH d AS (SELECT doc_id, epoch
       |  FROM documents CROSS JOIN generate_series(0, ${epochs - 1}) AS g(epoch))
       |SELECT doc_id, CAST(epoch AS BIGINT) AS epoch,
       |  CAST($h % $nShards AS BIGINT) AS shard,
       |  CAST(row_number() OVER (PARTITION BY epoch, $h % $nShards
       |    ORDER BY md5($sk), doc_id) AS BIGINT) AS pos
       |FROM d""".stripMargin
  }

  /** SHARD MANIFEST — the reproducibility "data card" a training run pins
    * its input to: per [[shardAssign]] shard, row count, total characters,
    * doc-id range, and an ORDER-INDEPENDENT content fingerprint
    * (`bit_xor` of the portable md5-int64 of each doc's text). XOR is the
    * right fold at 100 TB: commutative/associative (any partition merge
    * order), overflow-free (unlike a wrapping sum, which DuckDB would
    * widen to HUGEINT and disagree on), and any single changed document
    * flips the fingerprint. One scan, one |shards|-bounded aggregation;
    * verifying a delivered corpus against the manifest is the same
    * aggregation re-run. */
  def shardManifest(spark: SparkSession, sfDir: String, nShards: Int = NumShards): DataFrame = {
    val h = Hashing.md5Long(col("doc_id").cast("string"))
    Tables.documents(spark, sfDir)
      .select((h % nShards).as("shard"), col("doc_id"), col("n_chars"),
        Hashing.md5Long(col("text")).as("content_h"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        expr("bit_xor(content_h)").as("content_fingerprint"))
  }

  def shardManifestSql(nShards: Int = NumShards): String = {
    val h = Hashing.md5LongSql("CAST(doc_id AS VARCHAR)")
    val ch = Hashing.md5LongSql("text")
    s"""SELECT CAST($h % $nShards AS BIGINT) AS shard,
       |  count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
       |  bit_xor($ch) AS content_fingerprint
       |FROM documents GROUP BY 1""".stripMargin
  }

  /** COMPACTION PLAN — the OPTIMIZE/bin-packing step a table maintenance
    * pass runs over a small-file manifest: pack the [[shardManifest]]
    * units into target-size output files. Packing is start-offset binning
    * over the size-descending order (largest first — the greedy direction
    * FFD uses): running total of chars before each unit, output file =
    * `cum_before div target`. Deterministic, one expression, and exactly
    * reproducible in SQL — unlike an iterative best-fit loop, which would
    * be driver-side and engine-specific.
    *
    * Scale shape: the input is the MANIFEST (per-shard aggregates), so the
    * global-order window runs over |shards| metadata rows, never data rows
    * — the same bounded-frame argument as the transition matrix's global
    * window. At 100 TB the data-side work stays inside [[shardManifest]]'s
    * one scan+agg; planning cost is O(|files| log |files|) regardless of
    * corpus bytes, which is why table formats (Delta OPTIMIZE, Iceberg
    * rewrite_data_files) plan exactly this way from their file manifests. */
  def compactionPlan(spark: SparkSession, sfDir: String,
      targetChars: Long = 30000L, nShards: Int = NumShards): DataFrame = {
    val w = Window.orderBy(col("total_chars").desc, col("shard").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    shardManifest(spark, sfDir, nShards)
      .select(col("shard"), col("n_docs"), col("total_chars"))
      .withColumn("cum_before", coalesce(sum(col("total_chars")).over(w), lit(0L)))
      .select(col("shard"), col("n_docs"), col("total_chars"),
        expr(s"cum_before div $targetChars").as("out_file"))
  }

  def compactionPlanSql(targetChars: Long = 30000L, nShards: Int = NumShards): String = {
    // composes on shardManifestSql (not a re-derivation) so a change to the
    // shard hash or manifest aggregates reaches BOTH oracles by construction
    // — the same lockstep the Spark side gets from calling shardManifest()
    s"""WITH manifest AS (
       |  SELECT shard, n_docs, total_chars FROM (${shardManifestSql(nShards)}))
       |SELECT shard, n_docs, total_chars,
       |  CAST(coalesce(sum(total_chars) OVER (
       |    ORDER BY total_chars DESC, shard ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // $targetChars AS BIGINT) AS out_file
       |FROM manifest""".stripMargin
  }

  /** The end-to-end CURATION composite the individual operators exist for:
    *
    * {{{ documents → quality gate → drop non-canonical near-dups
    *     (MinHash/LSH pairs → connected components, keep each cluster's
    *     min doc) → per-language quota (hash-ordered rank) }}}
    *
    * One pass of each ingredient, stitched with joins: the quality gate is
    * a narrow map, the dedup keep-list arrives as a LEFT ANTI join against
    * the (tiny) non-canonical member set, and the quota is the
    * WindowGroupLimit sample. At 100 TB each stage keeps its own scale
    * shape — nothing here introduces a new shuffle class. This is the
    * "switch your pipeline to this library" flagship: the whole
    * training-mix draw is one DataFrame expression, hash-verified against
    * an independent DuckDB composition of the same stages. */
  def trainingMix(spark: SparkSession, sfDir: String,
      minQuality: Double = 0.5, perLang: Int = 30): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
    val quality = TextAnalysis.quality(spark, sfDir)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    val nonCanonical = Dedup.clusters(spark, sfDir)
      .filter(col("doc_id") =!= col("cluster_id")).select(col("doc_id"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    docs.join(quality, Seq("doc_id"))
      .filter(col("quality_score") >= minQuality)
      .join(nonCanonical, Seq("doc_id"), "left_anti")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= perLang)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality_score"), col("rn"))
  }

  /** The COMPLETE curation draw — every hygiene gate this engine ships,
    * chained as one DataFrame expression:
    *
    * {{{ documents → quality gate → repetition gate (boilerplate) →
    *     contamination gate (also drops the benchmark docs themselves) →
    *     drop non-canonical near-dups (LSH → connected components) →
    *     per-language quota → pack into fixed-token training bins }}}
    *
    * Each ingredient keeps its own scale shape (narrow maps, broadcast
    * probe, bounded bucket joins, WindowGroupLimit quota, per-shard packing
    * windows) — composing them adds joins on doc_id, never a new shuffle
    * class. The quota and packing windows share the `lang` partitioning, so
    * the tail of the plan is one exchange with two sorts. Docs too short to
    * shingle (< 3 tokens) have no contamination row and drop at the gate —
    * same rule in both engines. */
  def trainingMixFull(spark: SparkSession, sfDir: String, minQuality: Double = 0.5,
      maxRep: Double = 0.1, maxContam: Double = 0.1, perLang: Int = 30,
      binTokens: Int = PackBinTokens): DataFrame = {
    val g = Curation.gates(spark, sfDir)
    val wQuota = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    val wPack = Window.partitionBy(col("lang")).orderBy(col("rn").asc)
    g.base.select(col("doc_id"), col("lang"))
      .join(g.quality, Seq("doc_id")).filter(col("quality_score") >= minQuality)
      .join(g.repetition, Seq("doc_id")).filter(col("top_bigram_frac") <= maxRep)
      .join(g.contamination, Seq("doc_id")).filter(col("contamination_frac") <= maxContam)
      .join(g.nonCanonical, Seq("doc_id"), "left_anti")
      .withColumn("rn", row_number().over(wQuota).cast("long"))
      .filter(col("rn") <= perLang)
      .withColumn("start_offset", sum(col("n_tokens")).over(wPack) - col("n_tokens"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality_score"),
        col("rn"), expr(s"start_offset div $binTokens").as("bin_id"))
  }

  def trainingMixFullSql(minQuality: Double = 0.5, maxRep: Double = 0.1,
      maxContam: Double = 0.1, perLang: Int = 30, binTokens: Int = PackBinTokens): String =
    s"""WITH RECURSIVE ${Dedup.clusterCtes},
       |q AS (${TextAnalysis.qualitySql}),
       |rep AS (${Curation.repetitionSql}),
       |con AS (${Curation.contaminationSql}),
       |kept AS (
       |  SELECT d.doc_id, d.lang, q.n_tokens, q.quality_score
       |  FROM documents d
       |  JOIN q ON d.doc_id = q.doc_id
       |  JOIN rep ON d.doc_id = rep.doc_id
       |  JOIN con ON d.doc_id = con.doc_id
       |  WHERE q.quality_score >= $minQuality
       |    AND rep.top_bigram_frac <= $maxRep
       |    AND con.contamination_frac <= $maxContam
       |    AND NOT EXISTS (SELECT 1 FROM comp c
       |                    WHERE c.doc_id = d.doc_id AND c.doc_id <> c.cluster_id)),
       |sampled AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |    FROM kept)
       |  WHERE rn <= $perLang)
       |SELECT doc_id, lang, n_tokens, quality_score, CAST(rn AS BIGINT) AS rn,
       |  CAST((sum(n_tokens) OVER (PARTITION BY lang ORDER BY rn) - n_tokens)
       |    // $binTokens AS BIGINT) AS bin_id
       |FROM sampled""".stripMargin

  def trainingMixSql(minQuality: Double = 0.5, perLang: Int = 30): String =
    s"""WITH RECURSIVE ${Dedup.clusterCtes},
       |q AS (${TextAnalysis.qualitySql}),
       |kept AS (
       |  SELECT d.doc_id, d.lang, q.n_tokens, q.quality_score
       |  FROM documents d JOIN q ON d.doc_id = q.doc_id
       |  WHERE q.quality_score >= $minQuality
       |    AND NOT EXISTS (SELECT 1 FROM comp c
       |                    WHERE c.doc_id = d.doc_id AND c.doc_id <> c.cluster_id))
       |SELECT doc_id, lang, n_tokens, quality_score, rn FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |  FROM kept)
       |WHERE rn <= $perLang""".stripMargin

  /** Total document budget for the temperature-weighted draw. */
  val TempBudget = 100

  /** TEMPERATURE-weighted multilingual sampling (the mC4 / XLM-R data-mix
    * rule, α = 0.5): language l gets quota ∝ n_l^α instead of ∝ n_l, so
    * high-resource languages stop drowning the mix and low-resource ones
    * keep presence. n^0.5 stays exactly portable: sqrt of an
    * integer-valued double is correctly rounded IEEE in both engines and
    * the floor lands on the same int64; the quota split is then pure
    * integer arithmetic `(budget · w_l) div Σw`.
    *
    * Scale shape: the per-language weight/quota table is a tiny broadcast
    * (|langs| rows); the draw itself is the stratified-sample shape — one
    * lang-partitioned rank with the constant budget as a WindowGroupLimit
    * bound, so each map task forwards at most `budget` docs per language
    * before the exchange. */
  def trainingMixTemperature(spark: SparkSession, sfDir: String,
      budget: Int = TempBudget): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
    val weights = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .withColumn("wt", expr("CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)"))
    val total = weights.agg(sum(col("wt")).as("wsum"))
    // greatest(1, …): floor-division can zero out a tiny language when one
    // giant language dominates Σw — the presence guarantee is the POINT of
    // temperature sampling, so every language keeps at least one slot
    val quotas = weights.crossJoin(broadcast(total))
      .select(col("lang"), greatest(lit(1L), expr(s"($budget * wt) div wsum")).as("quota"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    docs.join(broadcast(quotas), "lang")
      .withColumn("rn", row_number().over(w).cast("long"))
      // rn <= budget is the constant WindowGroupLimit bound; rn <= quota
      // is the exact per-language cut inside it
      .filter(col("rn") <= budget && col("rn") <= col("quota"))
      .select(col("doc_id"), col("lang"), col("rn"), col("quota"))
  }

  def trainingMixTemperatureSql(budget: Int = TempBudget): String =
    s"""WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
       |w AS (SELECT lang, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS wt FROM n),
       |t AS (SELECT sum(wt) AS wsum FROM w),
       |q AS (SELECT lang, greatest(1, ($budget * wt) // wsum) AS quota FROM w, t),
       |r AS (SELECT doc_id, d.lang, quota, row_number() OVER (
       |    PARTITION BY d.lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |  FROM documents d JOIN q ON d.lang = q.lang)
       |SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn, CAST(quota AS BIGINT) AS quota
       |FROM r WHERE rn <= quota""".stripMargin

  /** [[mixEpochsPlan]] knobs. Budget = [[MixBudgetMult]]× the corpus's
    * unique tokens; the repeat cap [[MixEpochCap]] = 4 epochs is the
    * published bound (Muennighoff et al., NeurIPS 2023: repeating data up
    * to ~4 epochs is nearly as good as fresh data; returns decay rapidly
    * beyond). [[EpochScale]] = 6-digit fixed point for the epochs ratio. */
  val MixBudgetMult = 3L
  val MixEpochCap = 4L
  val EpochScale = 1000000L

  /** DATA-CONSTRAINED training-mix plan (the Muennighoff et al. 2023
    * regime): the token budget exceeds the corpus, so sources must repeat
    * — but no language may repeat past [[MixEpochCap]] epochs. Each
    * language requests an EQUAL share of the budget (the α→0 limit of
    * temperature sampling — maximal low-resource upweighting, the
    * [[trainingMixTemperature]] family's other endpoint); languages whose
    * share exceeds cap·unique_tokens are clipped to the cap, and the
    * clipped surplus waterfalls to the languages with headroom,
    * proportionally to that headroom. On the test corpus every arm is
    * live: low-resource languages hit the cap, the surplus flows to
    * high-resource ones, and a ≤|langs|-token floor residual remains.
    *
    * All-integer arithmetic end to end (the [[graft.operators.Curation]]
    * fixed-point discipline): equal shares and the waterfall are floor
    * divisions over BIGINT token counts, the deficit×headroom product runs
    * in DECIMAL(38,0) (DuckDB HUGEINT) because at 100 TB it reaches
    * ~(3·Σu)² ≈ 10²⁷, and the epochs ratio ships as [[EpochScale]]-scaled
    * fixed point. Trunc-div ≡ floor-div throughout: every operand is
    * non-negative (granted1 ≤ requested and Σrequested ≤ budget force
    * deficit ≥ 0).
    *
    * Plan: ONE corpus scan into a |langs|-row aggregate, localCheckpointed
    * (the [[graft.operators.Curation.lmScore]] multi-consumer pattern),
    * then pure broadcast arithmetic on the tiny frame — the 100 TB cost is
    * the scan, the plan is free. */
  def mixEpochsPlan(spark: SparkSession, sfDir: String): DataFrame =
    mixEpochsPlanOfTokens(
      Tables.documents(spark, sfDir)
        .select(col("lang"),
          size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).cast("long").as("toks"))
        .groupBy(col("lang")).agg(sum(col("toks")).as("u_tokens"))
        .localCheckpoint())

  /** Waterfall core of [[mixEpochsPlan]] over any (lang, u_tokens) frame —
    * separated so specs can drive crafted regimes the real corpus cannot
    * reach (an INFEASIBLE budget where every language caps, single-language
    * corpora, zero-headroom redistribution). */
  private[operators] def mixEpochsPlanOfTokens(u: DataFrame,
      budgetMult: Long = MixBudgetMult, cap: Long = MixEpochCap): DataFrame = {
    val t = u.agg(sum(col("u_tokens")).as("usum"), count(lit(1)).as("nlang"))
    val p1 = u.crossJoin(broadcast(t))
      .withColumn("budget", expr(s"$budgetMult * usum"))
      .withColumn("requested", expr("budget div nlang"))
      .withColumn("granted1", least(col("requested"), expr(s"$cap * u_tokens")))
      .withColumn("headroom", expr(s"$cap * u_tokens - granted1"))
    val t2 = p1.agg(sum(col("granted1")).as("g1sum"), sum(col("headroom")).as("hsum"))
    p1.crossJoin(broadcast(t2))
      .withColumn("deficit", col("budget") - col("g1sum"))
      .withColumn("bonus", least(col("headroom"),
        expr("(CAST(deficit AS DECIMAL(38,0)) * headroom) div greatest(hsum, 1)")))
      .withColumn("granted", col("granted1") + col("bonus"))
      .select(col("lang"), col("u_tokens"), col("requested"), col("granted"),
        expr(s"(CAST($EpochScale AS DECIMAL(38,0)) * granted) div u_tokens").as("epochs_fp"))
  }

  def mixEpochsPlanSql(): String =
    s"""WITH u AS (SELECT lang,
       |    CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS u_tokens
       |  FROM documents GROUP BY 1),
       |t AS (SELECT CAST(sum(u_tokens) AS BIGINT) AS usum, count(*) AS nlang FROM u),
       |p1 AS (SELECT lang, u_tokens, $MixBudgetMult * usum AS budget,
       |    ($MixBudgetMult * usum) // nlang AS requested,
       |    least(($MixBudgetMult * usum) // nlang, $MixEpochCap * u_tokens) AS granted1,
       |    $MixEpochCap * u_tokens
       |      - least(($MixBudgetMult * usum) // nlang, $MixEpochCap * u_tokens) AS headroom
       |  FROM u, t),
       |t2 AS (SELECT sum(granted1) AS g1sum, sum(headroom) AS hsum FROM p1),
       |g AS (SELECT lang, u_tokens, requested,
       |    granted1 + least(headroom,
       |      (CAST(budget - g1sum AS HUGEINT) * headroom) // greatest(hsum, 1)) AS granted
       |  FROM p1, t2)
       |SELECT lang, u_tokens, CAST(requested AS BIGINT) AS requested,
       |  CAST(granted AS BIGINT) AS granted,
       |  CAST((CAST($EpochScale AS HUGEINT) * granted) // u_tokens AS BIGINT) AS epochs_fp
       |FROM g""".stripMargin

  /** Z-order (Morton-curve) geometry: each clustering column quantizes to
    * [[ZBits]] bits, the bit-interleaved key spans 2^(2·ZBits), and rows
    * land in [[ZBuckets]] equal z-ranges (= files, in a real OPTIMIZE
    * ZORDER write). */
  val ZBits = 8
  val ZBuckets = 64

  /** The bit-interleave Σ_j (bp_j << 2j+1 | bs_j << 2j) in portable
    * integer arithmetic; `divOp` is `div` (Spark) or `//` (DuckDB) — all
    * operands non-negative so trunc-div ≡ floor-div. */
  private def zInterleave(divOp: String): String =
    (0 until ZBits).map { j =>
      val pj = 1L << j
      s"(((bp $divOp $pj) % 2) * ${1L << (2 * j + 1)}) + (((bs $divOp $pj) % 2) * ${1L << (2 * j)})"
    }.mkString(" + ")

  /** Multi-dimensional data CLUSTERING for scan pruning (Delta/Iceberg
    * `OPTIMIZE ZORDER BY`): map (l_partkey, l_suppkey) onto a Z-order
    * space-filling curve and report, per target file bucket, the row count
    * and BOTH columns' min/max — exactly the file statistics a lakehouse
    * writer would persist, and the numbers that decide whether a filter on
    * EITHER column can skip the file. A single-column sort makes only that
    * column's ranges narrow (every file spans the full other column);
    * Z-ordering makes both narrow simultaneously — ~1/√buckets of each key
    * space per file — which is why a 100 TB table clustered this way
    * prunes on both join/filter dimensions ([[graft.SamplingSpec]] proves
    * the span contrast against the sorted layout on real data).
    *
    * The quantile map is exact and map-only here because TPC-H keys are
    * dense integers (affine min→max scaling ≡ the quantile function); a
    * production writer gets the same map from a range sampler. Plan: a
    * 2-column pruned scan, one broadcast 1-row max aggregate, codegen'd
    * integer bit-math, and ONE bucket aggregation — scan-speed layout
    * planning, no global sort in the stats pass. */
  def zorderLayout(spark: SparkSession, sfDir: String): DataFrame = {
    val scale = 1 << ZBits
    val bucketWidth = (1L << (2 * ZBits)) / ZBuckets
    val mx = Tables.lineitem(spark, sfDir)
      .agg(max(col("l_partkey")).as("mp"), max(col("l_suppkey")).as("ms"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey"))
      .crossJoin(broadcast(mx))
      .withColumn("bp", expr(s"((l_partkey - 1) * $scale) div mp"))
      .withColumn("bs", expr(s"((l_suppkey - 1) * $scale) div ms"))
      .withColumn("zkey", expr(zInterleave("div")))
      .groupBy(expr(s"zkey div $bucketWidth").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_partkey"), max(col("l_partkey")).as("max_partkey"),
        min(col("l_suppkey")).as("min_suppkey"), max(col("l_suppkey")).as("max_suppkey"))
  }

  def zorderLayoutSql: String = {
    val scale = 1 << ZBits
    val bucketWidth = (1L << (2 * ZBits)) / ZBuckets
    s"""WITH mx AS (SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms FROM lineitem),
       |b AS (SELECT l_partkey, l_suppkey,
       |    ((l_partkey - 1) * $scale) // mp AS bp,
       |    ((l_suppkey - 1) * $scale) // ms AS bs
       |  FROM lineitem, mx),
       |z AS (SELECT l_partkey, l_suppkey, ${zInterleave("//")} AS zkey FROM b)
       |SELECT zkey // $bucketWidth AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
       |  min(l_partkey) AS min_partkey, max(l_partkey) AS max_partkey,
       |  min(l_suppkey) AS min_suppkey, max(l_suppkey) AS max_suppkey
       |FROM z GROUP BY 1""".stripMargin
  }

  /** Buckets ("files") per layout and probe ranges per dimension for
    * [[zonemapPrune]]. Probes are FRACTIONS of the observed key domain
    * (probe i covers [i/4, i/4 + 1/16) of the max key), so the experiment
    * is scale-free: the same query shapes at any SF. */
  val PruneBuckets = 64
  val PruneProbes = 4

  /** ZONE-MAP PRUNING effectiveness — the measurement that justifies (or
    * indicts) a table layout before anyone rewrites 100 TB. Every lakehouse
    * scan planner skips a file when the file's min/max statistics cannot
    * intersect the filter; how many files that skips is purely a property
    * of HOW ROWS WERE LAID OUT. This operator lays the fact table out
    * three ways at [[PruneBuckets]] files — `hash` (md5 of the row keys:
    * the default write path, every file spans the whole domain), `range`
    * (sorted by l_partkey: perfect on that column, blind on the other),
    * `zorder` ([[zorderLayout]]'s interleaved curve: moderate on BOTH) —
    * computes each file's min/max zone maps in ONE scan + ONE shuffle (the
    * three bucket ids ride the same row, stacked by an explode, so the
    * exchange carries 3× rows into a 3·B-row aggregate), and probes them
    * with [[PruneProbes]] range filters per dimension. `scan_ppm` = the
    * fraction of files a planner would still read: ~10^6 for hash
    * everywhere, ~62k for range on partkey probes but 10^6 on suppkey,
    * and a balanced middle for zorder — the zone-map trade-off quantified
    * as one 24-row table. Probes are a constant 8-row broadcast derived
    * from the 1-row max aggregate; nothing in the plan scales with more
    * than one corpus pass. */
  def zonemapPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val b = PruneBuckets
    val scale = 1 << ZBits
    val bucketWidth = (1L << (2 * ZBits)) / ZBuckets
    val mx = Tables.lineitem(spark, sfDir)
      .agg(max(col("l_partkey")).as("mp"), max(col("l_suppkey")).as("ms"))
    val zones = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey"))
      .crossJoin(broadcast(mx))
      .withColumn("bh", Hashing.md5Long(
        concat_ws("#", col("l_partkey"), col("l_suppkey"))) % b)
      .withColumn("br", expr(s"((l_partkey - 1) * $b) div mp"))
      .withColumn("bp", expr(s"((l_partkey - 1) * $scale) div mp"))
      .withColumn("bs", expr(s"((l_suppkey - 1) * $scale) div ms"))
      .withColumn("bz", expr(s"(${zInterleave("div")}) div $bucketWidth"))
      .select(col("l_partkey"), col("l_suppkey"), explode(array(
        struct(lit("hash").as("layout"), col("bh").as("bucket")),
        struct(lit("range").as("layout"), col("br").as("bucket")),
        struct(lit("zorder").as("layout"), col("bz").as("bucket")))).as("lb"))
      .groupBy(col("lb.layout").as("layout"), col("lb.bucket").as("bucket"))
      .agg(min(col("l_partkey")).as("mn_p"), max(col("l_partkey")).as("mx_p"),
        min(col("l_suppkey")).as("mn_s"), max(col("l_suppkey")).as("mx_s"))
    val probes = mx.select(explode(expr(
      s"""flatten(array(
         |  transform(sequence(0, ${PruneProbes - 1}), i -> struct(
         |    'partkey' AS dim, CAST(i AS BIGINT) AS pid,
         |    (CAST(i AS BIGINT) * mp) div ${PruneProbes} AS lo,
         |    (CAST(i AS BIGINT) * mp) div ${PruneProbes} + mp div 16 AS hi)),
         |  transform(sequence(0, ${PruneProbes - 1}), i -> struct(
         |    'suppkey' AS dim, CAST(i AS BIGINT) AS pid,
         |    (CAST(i AS BIGINT) * ms) div ${PruneProbes} AS lo,
         |    (CAST(i AS BIGINT) * ms) div ${PruneProbes} + ms div 16 AS hi))))""".stripMargin))
      .as("p"))
      .select(col("p.dim"), col("p.pid"), col("p.lo"), col("p.hi"))
    zones.crossJoin(broadcast(probes))
      .withColumn("scanned",
        when(col("dim") === "partkey", col("mn_p") <= col("hi") && col("mx_p") >= col("lo"))
          .otherwise(col("mn_s") <= col("hi") && col("mx_s") >= col("lo")))
      .groupBy(col("layout"), col("dim"), col("pid"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(col("scanned"), lit(1L)).otherwise(lit(0L))).as("n_scanned"))
      .withColumn("scan_ppm", expr("n_scanned * 1000000 div n_buckets"))
  }

  def zonemapPruneSql: String = {
    val b = PruneBuckets
    val scale = 1 << ZBits
    val bucketWidth = (1L << (2 * ZBits)) / ZBuckets
    val h = Hashing.md5LongSql("l_partkey::VARCHAR || '#' || l_suppkey::VARCHAR")
    s"""WITH mx AS (SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms FROM lineitem),
       |r AS (SELECT l_partkey, l_suppkey,
       |    $h % $b AS bh,
       |    ((l_partkey - 1) * $b) // mp AS br,
       |    ((l_partkey - 1) * $scale) // mp AS bp,
       |    ((l_suppkey - 1) * $scale) // ms AS bs
       |  FROM lineitem, mx),
       |z AS (SELECT l_partkey, l_suppkey, bh, br,
       |    (${zInterleave("//")}) // $bucketWidth AS bz FROM r),
       |stack AS (
       |  SELECT 'hash' AS layout, bh AS bucket, l_partkey, l_suppkey FROM z
       |  UNION ALL SELECT 'range', br, l_partkey, l_suppkey FROM z
       |  UNION ALL SELECT 'zorder', bz, l_partkey, l_suppkey FROM z),
       |zones AS (SELECT layout, bucket,
       |    min(l_partkey) AS mn_p, max(l_partkey) AS mx_p,
       |    min(l_suppkey) AS mn_s, max(l_suppkey) AS mx_s
       |  FROM stack GROUP BY 1, 2),
       |probes AS (
       |  SELECT 'partkey' AS dim, CAST(i AS BIGINT) AS pid,
       |    (CAST(i AS BIGINT) * mp) // ${PruneProbes} AS lo,
       |    (CAST(i AS BIGINT) * mp) // ${PruneProbes} + mp // 16 AS hi
       |  FROM mx, (SELECT unnest(range(0, ${PruneProbes})) AS i) t
       |  UNION ALL
       |  SELECT 'suppkey', CAST(i AS BIGINT),
       |    (CAST(i AS BIGINT) * ms) // ${PruneProbes},
       |    (CAST(i AS BIGINT) * ms) // ${PruneProbes} + ms // 16
       |  FROM mx, (SELECT unnest(range(0, ${PruneProbes})) AS i) t)
       |SELECT layout, dim, pid,
       |  CAST(count(*) AS BIGINT) AS n_buckets,
       |  CAST(sum(CASE WHEN (dim = 'partkey' AND mn_p <= hi AND mx_p >= lo)
       |                  OR (dim = 'suppkey' AND mn_s <= hi AND mx_s >= lo)
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned,
       |  CAST(sum(CASE WHEN (dim = 'partkey' AND mn_p <= hi AND mx_p >= lo)
       |                  OR (dim = 'suppkey' AND mn_s <= hi AND mx_s >= lo)
       |           THEN 1 ELSE 0 END) * 1000000
       |       // count(*) AS BIGINT) AS scan_ppm
       |FROM zones, probes GROUP BY 1, 2, 3""".stripMargin
  }

  /** Hashed-n-gram feature buckets for [[dsirSelect]]. 4096 keeps the two
    * bucket models broadcastable (a few KB) while collisions stay rare on
    * the test vocabulary; production would raise it (the paper uses 10k),
    * which changes NOTHING in the plan — the models stay |B|-row tables. */
  val DsirBuckets = 4096
  /** Fixed-point scale for the per-bucket importance ratio (6 digits). */
  val DsirScale = 1000000L
  /** Documents selected by [[dsirSelect]]. */
  val DsirK = 100

  /** DSIR — Data Selection via Importance Resampling (Xie et al.,
    * NeurIPS 2023): pick raw-corpus documents whose hashed-n-gram
    * distribution looks like a TARGET distribution, the importance-
    * sampling generalization of a quality classifier. Features are
    * unigrams+bigrams hashed into [[DsirBuckets]] buckets; a target model
    * `p` (here: the `lang = targetLang` slice — "select documents that
    * look like the English subcorpus") and a raw model `q` (the whole
    * corpus) are add-one-smoothed bucket distributions; each document
    * scores by its importance ratio and the top [[DsirK]] are selected.
    *
    * DELIBERATE VARIANTS (same discipline as `tfidf_top_terms` /
    * `lm_bigram_score`, documented not hidden): (1) the paper's
    * log-likelihood ratio Σ c_b·(log p_b − log q_b) — a geometric-mean
    * ratio — becomes the ARITHMETIC mean of per-bucket probability ratios
    * Σ c_b·(p_b/q_b) / Σ c_b in int64 fixed point, because transcendental
    * logs never hash-match across engines; target-like docs still order
    * above raw-like docs (monotone in every per-bucket ratio, pinned by
    * spec). (2) the paper's Gumbel-noise resampling is held at
    * temperature 0 — pure deterministic top-k on (score desc, doc_id) —
    * the reproducible draw; Gumbel would only replace the ordering key,
    * not the plan.
    *
    * Fixed-point bounds: the target slice is a SUBSET of raw, so
    * pc ≤ qc bucket-wise and `(pc+1)·Scale div (qc+1)` ≤ Scale; the
    * length normalizer `(tot_q+B)·Scale div (tot_p+B)` overflows only
    * past ~9.2e12 total grams (≳50 TB of text) — raise to DECIMAL there.
    *
    * Scale shape: the corpus is scanned ONCE for gram hashing (unigram +
    * bigram explode, a narrow map); per-doc bucket counts are one
    * doc-keyed aggregation; BOTH models are |B|-bounded aggregations of
    * that frame; the model joins back per-doc as a broadcast (≤ B rows);
    * scoring is a second doc-keyed aggregation sharing the first's
    * partitioning; selection is TakeOrderedAndProject (top-k, no global
    * sort). Nothing driver-side, nothing corpus². */
  def dsirSelect(spark: SparkSession, sfDir: String,
                 targetLang: String = "en", k: Int = DsirK): DataFrame =
    dsirSelectOfDocs(Tables.documents(spark, sfDir), targetLang, k)

  private[graft] def dsirSelectOfDocs(docs: DataFrame, targetLang: String,
                                      k: Int = DsirK): DataFrame = {
    val B = DsirBuckets
    val toks = docs.select(col("doc_id"), col("lang"),
      graft.operators.TextOps.tokens(col("text")).as("t"))
    val uni = toks.select(col("doc_id"), col("lang"), explode(col("t")).as("g"))
    val bi = toks.filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.ShinglesExpression.word_shingles(col("t"), 2)).as("g"))
    // The per-doc bucket-count frame feeds FOUR consumers (raw model q,
    // target model p, the totals row, and the final scoring join), so it
    // is checkpointed — serialized, the corpus-scale discipline
    // (Checkpoints.ser) — or Spark re-executes the tokenize + two-explode
    // + hash lineage once per consumer: measured at sf0.1 as both ~2× the
    // work AND the repo's most run-to-run-unstable timing (5-pass spreads
    // of 63–118% in every round-12 campaign window while checkpointed
    // neighbors held 5–15% — the re-executed branches race each other's
    // broadcast jobs). The frame is gram-bounded: ≤ min(Σ grams, docs·B)
    // rows of four scalars.
    val db = graft.operators.Checkpoints.ser(uni.unionAll(bi)
      .select(col("doc_id"), col("lang"), (Hashing.md5Long(col("g")) % B).as("b"))
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("c")))
    val q = db.groupBy(col("b")).agg(sum(col("c")).as("qc"))
    val p = db.filter(col("lang") === targetLang)
      .groupBy(col("b")).agg(sum(col("c")).as("pc"))
    val tots = db.agg(
      sum(col("c")).as("tot_q"),
      sum(when(col("lang") === targetLang, col("c")).otherwise(lit(0L))).as("tot_p"))
    val model = q.join(p, Seq("b"), "left")
      .na.fill(0L, Seq("pc"))
      .crossJoin(broadcast(tots))
      .select(col("b"), expr(
        s"(((pc + 1) * $DsirScale) div (qc + 1)) * (((tot_q + $B) * $DsirScale) div (tot_p + $B)) div $DsirScale"
      ).as("ratio_fp"))
    db.join(broadcast(model), Seq("b"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(expr(s"sum(c * ratio_fp) div sum(c)").as("score_fp"))
      .orderBy(col("score_fp").desc, col("doc_id").asc)
      .limit(k)
  }

  def dsirSelectSql(targetLang: String = "en", k: Int = DsirK): String = {
    val B = DsirBuckets
    val h = Hashing.md5LongSql("g")
    s"""WITH toks AS (SELECT doc_id, lang, ${TextOps.tokensSql} AS t FROM documents),
       |grams AS (
       |  SELECT doc_id, lang, unnest(t) AS g FROM toks
       |  UNION ALL
       |  SELECT doc_id, lang, t[i] || ' ' || t[i + 1] AS g
       |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) gs
       |  WHERE len(t) >= 2),
       |db AS (SELECT doc_id, lang, $h % $B AS b, CAST(count(*) AS BIGINT) AS c
       |       FROM grams GROUP BY 1, 2, 3),
       |q AS (SELECT b, CAST(sum(c) AS BIGINT) AS qc FROM db GROUP BY b),
       |p AS (SELECT b, CAST(sum(c) AS BIGINT) AS pc FROM db
       |      WHERE lang = '$targetLang' GROUP BY b),
       |tots AS (SELECT CAST(sum(c) AS BIGINT) AS tot_q,
       |    CAST(sum(CASE WHEN lang = '$targetLang' THEN c ELSE 0 END) AS BIGINT) AS tot_p
       |  FROM db),
       |model AS (SELECT q.b,
       |    (((COALESCE(p.pc, 0) + 1) * $DsirScale) // (q.qc + 1))
       |      * (((tot_q + $B) * $DsirScale) // (tot_p + $B)) // $DsirScale AS ratio_fp
       |  FROM q LEFT JOIN p ON q.b = p.b, tots)
       |SELECT doc_id, lang,
       |  CAST(CAST(sum(c * ratio_fp) AS BIGINT) // CAST(sum(c) AS BIGINT) AS BIGINT)
       |    AS score_fp
       |FROM db JOIN model ON db.b = model.b
       |GROUP BY doc_id, lang
       |ORDER BY score_fp DESC, doc_id ASC
       |LIMIT $k""".stripMargin
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.MinhashExpression.{MinhashA, MinhashB, MinhashM, ShingleWords,
  minhash_slots, shingle_hashes}
import graft.functions.SortedIntersectExpression.{sorted_intersect_count, sorted_intersect_count3}

/** Document deduplication for training-data pipelines, each shape a
  * first-class operator over the `documents` table:
  *
  *  - exact (content-hash groupBy)
  *  - normalized fingerprint (rolling normalization → hash groupBy)
  *  - n-gram Jaccard (shingle inverted-index self-join)
  *  - MinHash + LSH (tokens → signature in the scan → band buckets → bucket join)
  *  - SimHash (per-bit majority vote → 32-bit fingerprint)
  *  - embedding cosine near-dup (pairwise; LSH/IVF is the scale path, see
  *    [[Similarity]])
  *
  * Scale design: every variant is shuffle-bounded by its key (hash, shingle,
  * band bucket), never by document pairs — the pair space only materializes
  * *within* buckets, which is the property that makes MinHash/LSH viable at
  * 100 TB. All hashing is md5-based so the DuckDB oracle reproduces results
  * bit-for-bit (Spark and DuckDB md5 both emit lowercase hex).
  *
  * Each shared decision has ONE private helper (DuckDB twin in parentheses):
  * `shinglesOf`; the signature, computed per document in the scan, from
  * `shingle_hashes` and `minhash_slots` (the [[graft.functions.ShingleHashes]]
  * and [[graft.functions.MinhashSlots]] kernels), and `bandKey`
  * (`hashedCtes`, `slotsSql`, `bandCasesSql`); `bandBuckets`; the edges
  * `undirectedEdges` (`edgesCte`); `containmentSetsAndKeep`,
  * `containedFirst`; `unionSketch`; SimHash (`simhashVoteCtes`, `simhashSumSql`).
  */
object Dedup {

  // ---- exact substring dedup (sorted-suffix pass) -------------------------

  /** Minimum shared verbatim run, in tokens, for [[substringPairs]] —
    * the "duplicated training-data span" threshold (the Lee et al. 2022
    * idea at word granularity: their 50-BPE-token bound ≈ this corpus's
    * 8-word scale). */
  val SubstrMinSpan = 8
  /** Suffixes compare over at most this many tokens (key + extension):
    * the BOUNDED-suffix discipline that keeps each suffix row O(1) —
    * reported spans cap here instead of growing with document length. */
  val SubstrBound = 24
  /** Sorted-neighborhood window inside each key group ([[SubstrMinSpan]]-
    * token prefix bucket): only suffix pairs within this rank distance in
    * the (ext, doc_id, pos) order compare — n·W candidates at any corpus
    * size, the dedup_semantic/knn_join precedent. Suffixes sharing long
    * extensions sort ADJACENT, so maximal spans survive the window. */
  val SubstrWindow = 4
  /** Absolute per-key suffix cap, the [[ContainMaxDf]] discipline: a
    * boilerplate 8-token prefix shared by more suffixes than this never
    * seeds candidates. */
  val SubstrMaxDf = 1000

  /** EXACT-SUBSTRING near-dup pairs via a sorted-suffix pass — the
    * "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al., 2022) production dedup mode: document pairs sharing a VERBATIM
    * token run of ≥ [[SubstrMinSpan]] words, with the longest shared run
    * (capped at [[SubstrBound]]) and the number of detected suffix-pair
    * sites. [[Curation.dupSpans]] is the per-document complement (which
    * positions are duplicated); this emits the PAIR GRAPH a substring
    * deduper feeds to [[clusters]]/[[keepBest]].
    *
    * Suffix-array thinking, Spark shape: a true suffix array is a global
    * sort of all suffixes; pairs with a shared ≥L-token prefix are
    * CONTIGUOUS there. Observing that any such pair agrees on its first
    * L tokens exactly, the global sort decomposes into independent
    * L-token-prefix buckets (the `key` equi-join — a hash shuffle, no
    * global ordering problem), and WITHIN a bucket the suffix order is
    * the extension order — where the sorted-neighborhood window bounds
    * pair fan-out at n·W while keeping maximal runs adjacent. Contract
    * (both engines, verbatim): suffixes = every position with ≥ L tokens
    * remaining, key = L-token slice, ext = next B−L tokens; keys with
    * more than [[SubstrMaxDf]] suffixes are dropped (boilerplate cap);
    * candidates are same-key pairs within rank distance W of the
    * (ext, doc_id, pos) order across DIFFERENT docs; span = L + LCP(ext).
    * Everything is linear in corpus tokens: suffix rows O(tokens), each
    * O(B) wide, one key-hash shuffle + one rank window + one bounded
    * equi-join. */
  def substringPairs(spark: SparkSession, sfDir: String): DataFrame =
    substringPairsOf(Tables.documents(spark, sfDir),
      SubstrMinSpan, SubstrBound, SubstrWindow, SubstrMaxDf)

  /** Core over an explicit (doc_id, text) frame — specs feed crafted
    * shared-run corpora.
    *
    * Everything downstream of tokenization moves 56-bit md5 hashes, not
    * token strings ([[Hashing.md5Long]], the portable family every other
    * text operator shares): the key is ONE long (md5 of the space-joined
    * L-token slice — the [[Curation.dupSpans]] shingle-hash spelling),
    * the extension an array of per-token hashes computed ONCE per doc and
    * sliced per suffix. Canonical in-bucket order = numeric hash order
    * (any consistent global order works — the [[ngramJaccard]] argument),
    * and the LCP compares hashes; a 56-bit collision could merge two key
    * buckets or extend an LCP by one (~1e-17 per comparison), identically
    * in both engines. The string spelling measured 43.9 s at sf1 — ~4×
    * the shuffle payload of this form. */
  def substringPairsOf(docs: DataFrame, minSpan: Int, bound: Int,
      w: Int, maxDf: Int): DataFrame = {
    val ext = bound - minSpan
    val kh = Hashing.md5LongSparkSql(s"concat_ws(' ', slice(t, i + 1, $minSpan))")
    // NOTHING here is materialized: the first spelling localCheckpoint'ed
    // the suffix frame (and the ranked frame) so two consumers could share
    // it, and the ~100M-row × array-typed block unroll OOM'd a 24 GiB
    // heap at sf10 — RAM-resident caching of a corpus-linear frame is the
    // anti-pattern the scale audit exists to catch. Instead the window
    // pairs each suffix with its W successors via lead() — ONE window
    // pass, no self-join, no second read of the ranked frame — and every
    // heavy stage (the kh shuffle, the in-partition sort) is
    // external-spill-safe by construction.
    val suf = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= minSpan)
      .withColumn("ht", transform(col("t"), x => Hashing.md5Long(x)))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(t) - $minSpan), i -> " +
          s"struct($kh AS kh, slice(ht, i + 1 + $minSpan, $ext) AS ext))")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col.kh").as("kh"), col("col.ext").as("ext"))
    val wdf = org.apache.spark.sql.expressions.Window.partitionBy(col("kh"))
    val wspec = org.apache.spark.sql.expressions.Window
      .partitionBy(col("kh")).orderBy(col("ext"), col("doc_id"), col("pos"))
    // lead(j) ≡ the rank-distance-j successor in the same (kh) partition —
    // the oracle states the same contract as a row_number self-join; the
    // two spellings are pointwise identical. df rides a whole-partition
    // count(*) WINDOW over the same kh key (round 10 — previously a
    // groupBy+join against a second derivation of the suffix stream, i.e.
    // tokenize+md5+explode ran TWICE and the stream crossed two exchanges;
    // now one derivation, one exchange). Operator order is deliberate and
    // MEASURED: count window first (sorted by kh alone, buffering the
    // narrow (doc_id, pos, kh, ext) rows), df filter, THEN the lead
    // window — the one-sort alternative (leads first, count on top) made
    // the count window buffer rows widened by W lead structs each
    // carrying an ext array, and ran 20.4 s vs 16.1 s at sf1. The filter
    // drops whole kh partitions (df is constant per kh), so lead ranks
    // after it are unchanged. Both windows stay sort-based and
    // spill-safe; nothing is materialized.
    val paired = suf
      .withColumn("df", count(lit(1)).over(wdf))
      .filter(col("df") <= maxDf)
      .select(Seq(col("doc_id"), col("ext")) ++
        (1 to w).map(j =>
          lead(struct(col("doc_id"), col("ext")), j).over(wspec).as(s"n$j")): _*)
    val spans = paired
      .select(col("doc_id"), col("ext"),
        explode(array((1 to w).map(j => col(s"n$j")): _*)).as("nb"))
      .filter(col("nb").isNotNull && col("nb.doc_id") =!= col("doc_id"))
      .select(least(col("doc_id"), col("nb.doc_id")).as("doc_a"),
        greatest(col("doc_id"), col("nb.doc_id")).as("doc_b"),
        col("ext").as("ea"), col("nb.ext").as("eb"))
      // LCP over the bounded extensions: zip_with pads the shorter side
      // with nulls, so x <=> y turns false exactly at the first
      // divergence OR at min-length exhaustion; array_position returns
      // 0 (not NULL) when no false exists — identical extensions —
      // hence the nullif fallthrough to the min length.
      .select(col("doc_a"), col("doc_b"),
        expr(s"$minSpan + coalesce(" +
          "nullif(array_position(zip_with(ea, eb, (x, y) -> x <=> y), false), 0) - 1, " +
          "least(size(ea), size(eb)))").cast("long").as("span"))
    spans.groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("span")).as("max_span"), count(lit(1)).as("n_hits"))
  }

  def substringPairsSql(minSpan: Int = SubstrMinSpan, bound: Int = SubstrBound,
      w: Int = SubstrWindow, maxDf: Int = SubstrMaxDf): String =
    s"""WITH toks AS (SELECT doc_id, ${TextOps.tokensSql} AS t FROM documents),
       |htoks AS (SELECT doc_id, t,
       |    list_transform(t, x -> ${Hashing.md5LongSql("x")}) AS ht
       |  FROM toks WHERE len(t) >= $minSpan),
       |suf AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |    ${Hashing.md5LongSql(s"array_to_string(t[i:i+$minSpan-1], ' ')")} AS kh,
       |    ht[i+$minSpan:i+$bound-1] AS ext
       |  FROM htoks, LATERAL (SELECT unnest(generate_series(1, len(t) - $minSpan + 1)) AS i) g),
       |dfk AS (SELECT kh, count(*) AS df FROM suf GROUP BY 1),
       |ranked AS (SELECT s.*, row_number() OVER (
       |    PARTITION BY s.kh ORDER BY s.ext, s.doc_id, s.pos) AS rk
       |  FROM suf s JOIN dfk ON s.kh = dfk.kh WHERE dfk.df <= $maxDf),
       |cand AS (SELECT a.doc_id AS da_raw, b.doc_id AS db_raw, a.ext AS ea, b.ext AS eb
       |  FROM ranked a JOIN ranked b
       |    ON a.kh = b.kh AND b.rk - a.rk BETWEEN 1 AND $w AND a.doc_id <> b.doc_id),
       |scored AS (SELECT least(da_raw, db_raw) AS doc_a, greatest(da_raw, db_raw) AS doc_b,
       |    $minSpan + COALESCE(NULLIF(list_position(
       |        list_transform(generate_series(1, least(len(ea), len(eb))),
       |          i -> ea[i] IS DISTINCT FROM eb[i]), true), 0) - 1,
       |      least(len(ea), len(eb))) AS span
       |  FROM cand)
       |SELECT doc_a, doc_b, CAST(max(span) AS BIGINT) AS max_span,
       |  CAST(count(*) AS BIGINT) AS n_hits
       |FROM scored GROUP BY 1, 2""".stripMargin

  /** Exact duplicate groups by md5 of raw text. One shuffle on the hash;
    * at scale this is the cheapest possible dedup (map-side partial agg). */
  def exact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  val exactSql: String =
    "SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY 1"

  /** Whitespace/punctuation-insensitive fingerprint: lowercase, collapse all
    * non-alphanumeric runs to single spaces, trim, md5. Catches trivially
    * reformatted duplicates that exact-hash misses. */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))).as("fingerprint"))

  val fingerprintSql: String =
    "SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint FROM documents"

  // ---- shared shingling (word 3-grams) ------------------------------------

  /** Distinct word-3-gram shingles per document: (doc_id, shingle).
    * transform(sequence(...)) builds the shingle list without a join;
    * explode + distinct is one narrow pass, so the only shuffle downstream
    * is on the shingle key itself. */
  def shingles(spark: SparkSession, sfDir: String): DataFrame =
    shinglesOf(Tables.documents(spark, sfDir))

  /** [[shingles]] over an explicit (doc_id, text) frame. */
  private def shinglesOf(docs: DataFrame): DataFrame =
    shinglesOfTokenized(tokenizedOf(docs))

  /** (doc_id, t): the `documents` table tokenized — what every MinHash
    * consumer reads. */
  private[graft] def tokenized(spark: SparkSession, sfDir: String): DataFrame =
    tokenizedOf(Tables.documents(spark, sfDir))

  private def tokenizedOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))

  /** Core of [[shingles]] over a pre-tokenized (doc_id, t) frame. */
  def shinglesOfTokenized(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("t"))
      .filter(size(col("t")) >= ShingleWords)
      .select(col("doc_id"),
        explode(graft.functions.ShinglesExpression.word_shingles(col("t"), ShingleWords)).as("shingle"))
      .distinct()

  /** DuckDB twin of [[shingles]] as a WITH-clause body (1-based lists). */
  def shinglesSql: String = {
    val parts = (0 until ShingleWords).map(k => s"t[i + $k]").mkString(" || ' ' || ")
    s"""toks AS (SELECT doc_id, ${TextOps.tokensSql} AS t FROM documents),
       |sh AS (SELECT DISTINCT doc_id, $parts AS shingle
       |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - ${ShingleWords - 1})) AS i) g
       |       WHERE len(t) >= $ShingleWords)""".stripMargin
  }

  /** Exact n-gram Jaccard near-dup pairs (a < b, jaccard ≥ threshold),
    * via prefix filtering (AllPairs/PPJoin family): with shingles in a
    * global canonical order, two sets with J ≥ t MUST share an element
    * among each one's first ⌊(1-t)·n⌋+1 shingles — so only that prefix is
    * fed to the inverted-index self-join, and the surviving candidate
    * pairs are verified exactly against the full sorted shingle arrays
    * (array_intersect over ~50-element arrays). Exact — no false
    * negatives — while joining ~(1-t) of the index volume; the full
    * inverted-index join was 40 s at sf0.1, this is ~3 s. That ratio is
    * what keeps the operator viable at 100 TB, where the candidate
    * verification is a narrow per-pair map and the only shuffle is the
    * prefix-shingle join. */
  def ngramJaccard(spark: SparkSession, sfDir: String, threshold: Double = 0.8): DataFrame = {
    // Shingles are int64-hashed (xxhash64) before everything else: the
    // candidate join and set intersections then move longs, not 3-word
    // strings — ~4× less shuffle/intersection volume. Jaccard counts are
    // unchanged absent a 64-bit collision inside one comparison
    // (~1e-13 across this corpus); the oracle checks final pairs/values,
    // which don't depend on the internal hash.
    val sh = shingles(spark, sfDir)
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh"))
    // Canonical order = (df asc, hash asc) — the AllPairs choice, not the
    // round-2 plain hash order, and the difference is the scaling term:
    // under hash order a doc's prefix is a RANDOM ~(1-t) fraction of its
    // shingles, so a shingle of document frequency df lands in ~(1-t)·df
    // prefixes and contributes O(((1-t)·df)²) candidate pairs — quadratic
    // in df with NO cap anywhere in this operator (measured: 16× on 10×
    // data at the sf10 decade). Under df-ascending order the prefix is
    // each doc's RAREST shingles; high-df shingles sort last and
    // essentially never seed candidates. Any consistent global order
    // keeps prefix filtering EXACT (the same theorem), so the oracle —
    // the declarative full join — is unchanged, and the existing
    // differential specs vs ngramJaccardNaive pin the equality.
    val dfc = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // `sets` is referenced three times below (prefix + both verification
    // joins) and Spark re-executes the lineage per reference;
    // localCheckpoint materializes the 1-row-per-doc result once as RDD
    // blocks. (.cache()/InMemoryRelation was measured pathologically slow
    // and run-over-run degrading here — columnar cache of array columns —
    // so shared subplans use checkpoint blocks instead.)
    val sets = sh.join(dfc, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("sh")))).as("ssd"))
      .select(col("doc_id"),
        expr("transform(ssd, x -> x.sh)").as("ss"), // canonical (df, sh) order
        // hash-sorted twin for the SCORER's merge-intersect (r14, guide §4):
        // the (df, sh) order above is what prefix filtering needs, but the
        // per-pair intersection count only needs SOME shared total order —
        // numeric order makes it a two-pointer merge. One extra per-doc
        // array (docs-linear) buys allocation-free scoring (pairs-quadratic).
        expr("array_sort(transform(ssd, x -> x.sh))").as("ssn"),
        size(col("ssd")).as("n"))
      .localCheckpoint()
    // Prefix length p = floor((1-t)*n) + 2: +1 is the theoretical bound,
    // one extra guards float fuzz in (1-t)*n. Over-length is safe (extra
    // candidates only); under-length would drop pairs.
    val prefix = sets.select(col("doc_id"),
      explode(expr(s"slice(ss, 1, CAST(floor(n * ${1 - threshold}) AS INT) + 2)")).as("sh"))
    val candidates = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("ssn").as("ssa"), col("n").as("na")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("ssn").as("ssb"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("n_common", sorted_intersect_count(col("ssa"), col("ssb")))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("na") + col("nb") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Reference implementation (full inverted-index join) used by the spec
    * to prove the prefix-filtered version is exact. */
  def ngramJaccardNaive(spark: SparkSession, sfDir: String, threshold: Double = 0.8): DataFrame = {
    val sh = shingles(spark, sfDir)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("sa.n") + col("sb.n") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  def ngramJaccardSql(threshold: Double = 0.8): String =
    s"""WITH $shinglesSql,
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
       |FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
       |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= $threshold""".stripMargin

  /** Containment / OVERLAP-COEFFICIENT near-dup detection —
    * |A∩B| / min(|A|,|B|) over 3-gram shingle SETS — the ASYMMETRIC
    * relation [[ngramJaccard]] cannot see: an excerpt quoted inside a much
    * larger document has tiny Jaccard (union is dominated by the big doc)
    * but overlap ≈ 1. An LLM curation pipeline needs exactly this to kill
    * subsumed fragments (quotes, boilerplate-wrapped reposts, chunked
    * re-crawls) that Jaccard-threshold dedup provably keeps.
    *
    * Contract (both engines, verbatim): candidates are doc pairs sharing
    * ≥ 1 shingle whose document frequency passes BOTH caps — an ABSOLUTE
    * cap `df ≤ ContainMaxDf` and a fractional boilerplate drop
    * `df ≤ dfCapNum/dfCapDen · n_docs`. Scoring is then EXACT over the
    * full shingle sets of the candidates, reported as integer ppm. Pairs
    * whose every shared shingle is capped are out of contract BY
    * DEFINITION (not missed — the oracle applies both rules).
    *
    * CANDIDATE GENERATION is prefix-filtered (the AllPairs/PPJoin family
    * adapted to the asymmetric overlap measure) and PROVABLY emits the
    * same final output as the declarative contract the oracle states:
    * with kept shingles in a global (df asc, hash asc) canonical order,
    * a qualifying pair — containment ≥ t with A the min-size side —
    * has |A\B| ≤ ⌊(1-t)·|A|⌋, so among the first ⌊(1-t)·|A|⌋+1 kept
    * shingles of A at least one is in B (and "kept" is a global property
    * of the shingle, so it sits in B's kept postings too; if A has fewer
    * kept shingles than that, its whole kept set is the prefix and the
    * contract's "≥ 1 shared kept shingle" case applies verbatim). So
    * joining PREFIX postings against kept postings loses no contract
    * pair, and extra candidates die on the exact score. This is what
    * actually bounds the join at scale: the round-8 absolute df cap
    * limits a shingle's fan-out to C(maxDf,2) ≈ 500k pairs, but a corpus
    * with thousands of near-cap shingles (measured: sf10 = 100 disjoint
    * sf0.1-shaped copies) still shuffled ~94 GB of candidates and OOM'd
    * the 125 GiB host. Under df-ascending prefix order the high-df
    * shingles sort LAST inside every document and essentially never
    * enter a prefix, so per-shingle fan-out is prefix_df(s)·df(s) with
    * Σ prefix_df ≈ (1-t)·|postings| concentrated on RARE shingles —
    * linear in the corpus for fixed t. Both caps stay as hard bounds.
    *
    * Shape: one (doc, shingle) dedup + per-doc rank window (one doc_id
    * shuffle) + one shingle-keyed prefix⋈kept join, then two
    * |candidates|-bounded joins back to the checkpointed per-doc
    * sorted-hash arrays for the exact `array_intersect`. Hashing shingles
    * to int64 first (xxhash64, engine-internal) keeps the shuffle and the
    * intersections on longs — values the oracle checks are hash-free
    * counts. */
  def containment(spark: SparkSession, sfDir: String,
      tPpm: Long = 900000L, dfCapNum: Int = 1, dfCapDen: Int = 10): DataFrame =
    containmentOf(Tables.documents(spark, sfDir), tPpm, dfCapNum, dfCapDen)

  /** Absolute per-shingle df cap for [[containment]] candidates: shingles
    * in more documents than this never seed a pair, bounding each
    * shingle's pair expansion at a CONSTANT regardless of corpus size —
    * the same policy (and value) as [[Curation.WinnowMaxDf]]. Far above
    * any df in the test corpora, so the oracles see both caps but only
    * the fractional one binds there. */
  val ContainMaxDf = 1000

  /** Core over an explicit (doc_id, text) frame — specs feed crafted
    * excerpt/container corpora the synthetic table cannot guarantee. */
  def containmentOf(docs: DataFrame,
      tPpm: Long, dfCapNum: Int, dfCapDen: Int,
      maxDf: Int = ContainMaxDf): DataFrame = {
    val (sets, keep) = containmentSetsAndKeep(docs, dfCapNum, dfCapDen, maxDf)
    // Prefix postings: per doc, the first ⌊(1-t)·n_full⌋+1 KEPT shingles
    // in (df asc, hash asc) order. n is the FULL set size (the score's
    // min-denominator), so the bound |A\B| ≤ ⌊(1-t)·n⌋ is over the same
    // n the threshold divides by; the arithmetic is all-integer (ppm DIV),
    // so the prefix length is exactly the theoretical bound — no float
    // fuzz to guard.
    val ranked = keep
      .join(sets.select(col("doc_id"), col("n")), Seq("doc_id"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))))
    val prefix = ranked
      .filter(col("rk") <= expr(s"n * ${1000000L - tPpm} DIV 1000000") + lit(1))
      .select(col("sh"), col("doc_id"))
    val candidates = prefix.as("a").join(keep.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("da"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("db"))
      .distinct()
    scoreContainment(candidates, sets, tPpm)
  }

  /** Per-doc sorted hash sets (doc_id, ss, n) and the postings (sh, doc_id,
    * df) passing both df caps. `keep` is not checkpointed: ReuseExchange
    * shares its dfc shuffle, and a checkpoint would hide the cap filter. */
  private def containmentSetsAndKeep(docs: DataFrame, dfCapNum: Int, dfCapDen: Int,
      maxDf: Int): (DataFrame, DataFrame) = {
    val sh = shinglesOf(docs)
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh"))
      .localCheckpoint() // sets + df + candidate join all read it
    val sets = sh.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("sh"))).as("ss"))
      .withColumn("n", size(col("ss")).cast("long"))
      .localCheckpoint()
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val dfc = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val keep = sh.join(dfc, Seq("sh")).crossJoin(broadcast(nDocs))
      .filter(col("df") <= maxDf &&
        col("df") * dfCapDen <= col("n_docs") * dfCapNum)
      .select(col("sh"), col("doc_id"), col("df"))
    (sets, keep)
  }

  /** Contained side first: the smaller set (ties → smaller doc_id, which
    * the da < db candidate order already guarantees), then `rest`. */
  private def containedFirst(rest: String*)(scored: DataFrame): DataFrame =
    scored.select(Seq(
      when(col("na") <= col("nb"), col("da")).otherwise(col("db")).as("doc_contained"),
      when(col("na") <= col("nb"), col("db")).otherwise(col("da")).as("doc_container"),
      least(col("na"), col("nb")).as("n_contained")) ++ rest.map(col): _*)

  /** The union-sketch overlap of a pair's two sorted bottom-k sketches
    * `sa`/`sb`: m = bottom-k of sa ∪ sb, ku = |m|, i = |m ∩ sa ∩ sb|. Each
    * caller derives its own estimate (and cap) from (ku, i). */
  private def unionSketch(k: Int)(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("m", expr(s"slice(array_sort(array_union(sa, sb)), 1, $k)"))
      .withColumn("ku", size(col("m")).cast("long"))
      // m/sa/sb are all sorted → one 3-pointer merge replaces the nested
      // array_intersect pair (two hash sets + two arrays per pair; r14, §4)
      .withColumn("i", sorted_intersect_count3(col("m"), col("sa"), col("sb")))

  /** Exact containment scoring shared by [[containmentOf]] and its naive
    * differential twin: two candidate-bounded joins back to the full
    * sorted-hash arrays, integer-ppm threshold. */
  private def scoreContainment(candidates: DataFrame, sets: DataFrame,
      tPpm: Long): DataFrame =
    candidates
      .join(sets.select(col("doc_id").as("da"), col("ss").as("ssa"), col("n").as("na")), Seq("da"))
      .join(sets.select(col("doc_id").as("db"), col("ss").as("ssb"), col("n").as("nb")), Seq("db"))
      // ss is array_sort'ed hash values here (unlike ngramJaccard's
      // df-ordered ss), so the merge-count applies directly (r14, §4)
      .withColumn("n_common", sorted_intersect_count(col("ssa"), col("ssb")))
      .withColumn("containment_ppm", expr("n_common * 1000000 div least(na, nb)"))
      .filter(col("containment_ppm") >= tPpm)
      .transform(containedFirst("n_common", "containment_ppm"))

  /** Bottom-k sketch size for [[containmentKmv]]. */
  val ContainSketchK = 16

  /** SKETCH-based containment — the approximate SCALE PATH next to the
    * exact [[containment]]: per doc a bottom-k sketch (the k smallest
    * portable md5-int64 shingle hashes — Broder/KMV), candidates from
    * pairs sharing a sketch element, containment estimated from the
    * union sketch. What changes at 100 TB: the exact operator's inverted
    * index is O(total shingles) postings (every token position feeds it);
    * the sketch index is **O(k·n_docs) postings regardless of document
    * length** — a 100-page doc and a tweet both contribute k rows — and
    * candidate fan-out is bounded by sketch-element co-occupancy the same
    * way MinHash-LSH bounds Jaccard candidates.
    *
    * Estimator (all-integer, deterministic given the hashes, mirrored
    * verbatim in DuckDB so the oracle is hash-exact): with M = bottom-k
    * of sa ∪ sb (computable from the two sketches alone), k' = |M| and
    * I = |M ∩ sa ∩ sb|, the Jaccard estimate is I/k', hence
    * |A∩B|_est = I·(nA+nB) div (k'+I) and
    * c_est_ppm = min(10^6, |A∩B|_est·10^6 div min(nA,nB)). Exact counts
    * nA/nB ride from the same shingle pass (they are cheap); only the
    * MEMBERSHIP structure is sketched. Docs with ≤ k shingles carry their
    * full set, so small-doc containment is exact. Recall is bounded by
    * sketch co-occupancy — a contained doc's smallest hashes are a
    * subset of the container's hash set, so with containment ≈ 1 the
    * pair shares sketch minima with high probability; the exact operator
    * is the ground truth the spec measures against. */
  def containmentKmv(spark: SparkSession, sfDir: String,
      tPpm: Long = 600000L, k: Int = ContainSketchK,
      maxDf: Int = ContainMaxDf): DataFrame =
    containmentKmvOf(Tables.documents(spark, sfDir), tPpm, k, maxDf)

  def containmentKmvOf(docs: DataFrame, tPpm: Long, k: Int,
      maxDf: Int): DataFrame = {
    val sh = shinglesOf(docs)
      .select(col("doc_id"), Hashing.md5Long(col("shingle")).as("h"))
    val sketches = sh.groupBy(col("doc_id"))
      .agg(expr(s"slice(array_sort(collect_list(h)), 1, $k)").as("sk"),
        count(lit(1)).as("n"))
      .localCheckpoint() // postings + both scoring sides read it
    val postings = sketches.select(col("doc_id"), explode(col("sk")).as("h"))
    val dfc = postings.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val keep = postings.join(dfc, Seq("h")).filter(col("df") <= maxDf)
      .select(col("h"), col("doc_id"))
    val candidates = keep.as("a").join(keep.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    candidates
      .join(sketches.select(col("doc_id").as("da"), col("sk").as("sa"), col("n").as("na")), Seq("da"))
      .join(sketches.select(col("doc_id").as("db"), col("sk").as("sb"), col("n").as("nb")), Seq("db"))
      .transform(unionSketch(k))
      .withColumn("inter_est", expr("i * (na + nb) div (ku + i)"))
      .withColumn("containment_est_ppm",
        expr("least(1000000L, inter_est * 1000000 div least(na, nb))"))
      .filter(col("containment_est_ppm") >= tPpm)
      .transform(containedFirst("containment_est_ppm"))
  }

  def containmentKmvSql(tPpm: Long = 600000L, k: Int = ContainSketchK,
      maxDf: Int = ContainMaxDf): String =
    s"""WITH $shinglesSql,
       |hs AS (SELECT doc_id, ${Hashing.md5LongSql("shingle")} AS h FROM sh),
       |sketches AS (SELECT doc_id,
       |    (list_sort(list(h)))[1:$k] AS sk, count(*) AS n
       |  FROM hs GROUP BY 1),
       |postings AS (SELECT doc_id, unnest(sk) AS h FROM sketches),
       |dfc AS (SELECT h, count(*) AS df FROM postings GROUP BY 1),
       |keep AS (SELECT p.h, p.doc_id FROM postings p JOIN dfc USING (h)
       |  WHERE dfc.df <= $maxDf),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id),
       |scored AS (SELECT da, db, sa.n AS na, sb.n AS nb,
       |    len(list_intersect(list_intersect(m, sa.sk), sb.sk)) AS i,
       |    len(m) AS ku
       |  FROM (SELECT c.*, (list_sort(list_distinct(list_concat(sa0.sk, sb0.sk))))[1:$k] AS m
       |        FROM cand c
       |        JOIN sketches sa0 ON c.da = sa0.doc_id
       |        JOIN sketches sb0 ON c.db = sb0.doc_id) cm
       |  JOIN sketches sa ON cm.da = sa.doc_id
       |  JOIN sketches sb ON cm.db = sb.doc_id),
       |est AS (SELECT da, db, na, nb,
       |    least(1000000, (i * (na + nb) // (ku + i)) * 1000000 // least(na, nb))
       |      AS containment_est_ppm
       |  FROM scored)
       |SELECT CASE WHEN na <= nb THEN da ELSE db END AS doc_contained,
       |  CASE WHEN na <= nb THEN db ELSE da END AS doc_container,
       |  CAST(least(na, nb) AS BIGINT) AS n_contained,
       |  CAST(containment_est_ppm AS BIGINT) AS containment_est_ppm
       |FROM est WHERE containment_est_ppm >= $tPpm""".stripMargin

  /** Reference generator (the contract stated literally: ALL kept-posting
    * pairs, no prefix filter) — spec-only, proves [[containmentOf]]'s
    * prefix-filtered candidates lose no output pair. This is the shape
    * the sf10 audit OOM'd: Σ_shingles C(df,2) candidates. */
  def containmentOfNaive(docs: DataFrame,
      tPpm: Long, dfCapNum: Int, dfCapDen: Int,
      maxDf: Int = ContainMaxDf): DataFrame = {
    val (sets, keep) = containmentSetsAndKeep(docs, dfCapNum, dfCapDen, maxDf)
    val candidates = keep.as("a").join(keep.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    scoreContainment(candidates, sets, tPpm)
  }

  def containmentSql(tPpm: Long = 900000L, dfCapNum: Int = 1, dfCapDen: Int = 10,
      maxDf: Int = ContainMaxDf): String =
    s"""WITH $shinglesSql,
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
       |keep AS (SELECT s.doc_id, s.shingle FROM sh s JOIN dfc USING (shingle)
       |  WHERE dfc.df <= $maxDf
       |  AND dfc.df * $dfCapDen <= (SELECT count(*) FROM documents) * $dfCapNum),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM keep a JOIN keep b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
       |inter AS (SELECT c.da, c.db, count(*) AS n_common
       |  FROM cand c JOIN sh x ON x.doc_id = c.da
       |  JOIN sh y ON y.doc_id = c.db AND y.shingle = x.shingle
       |  GROUP BY 1, 2),
       |scored AS (SELECT i.da, i.db, sa.n AS na, sb.n AS nb, i.n_common,
       |    i.n_common * 1000000 // least(sa.n, sb.n) AS containment_ppm
       |  FROM inter i JOIN sizes sa ON i.da = sa.doc_id
       |  JOIN sizes sb ON i.db = sb.doc_id)
       |SELECT CASE WHEN na <= nb THEN da ELSE db END AS doc_contained,
       |  CASE WHEN na <= nb THEN db ELSE da END AS doc_container,
       |  CAST(least(na, nb) AS BIGINT) AS n_contained,
       |  CAST(n_common AS BIGINT) AS n_common,
       |  CAST(containment_ppm AS BIGINT) AS containment_ppm
       |FROM scored WHERE containment_ppm >= $tPpm""".stripMargin

  // ---- MinHash + LSH ------------------------------------------------------

  val MinhashHashes = 16 // 4 bands × 4 rows
  val MinhashBands = 4

  /** MinHash/LSH candidate pairs. ONE md5 per shingle — its first 56 bits,
    * what the first 14 hex chars parse to in DuckDB (`('0x'||…)::BIGINT`)
    * — then the 16 signature slots derive arithmetically from that single
    * hash (the [[graft.functions.MinhashExpression.MinhashA]] family);
    * signature = per-slot min over
    * the doc's shingles; band key = '|'-joined 4-slot group; candidates =
    * distinct doc pairs sharing a (band, key) bucket.
    *
    * Why this shape: the signature is a function of ONE document's tokens,
    * so it is computed in the scan ([[minhashBands]]) and no (doc, shingle)
    * row crosses a shuffle. The only shuffles are the (band, key) bucket
    * aggregate and the pair distinct.
    *
    * This is THE 100 TB dedup path: cost is linear in total shingles plus
    * the within-bucket pair expansion (controlled by band/row choice), with
    * no quadratic term. */
  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    minhashLshOfTokenized(tokenized(spark, sfDir))

  /** Core of [[minhashLsh]] over any tokenized (doc_id, t) frame — lets
    * callers that ALSO consume the tokens (e.g. the full curation
    * composite's checkpointed base) tokenize once instead of re-running the
    * corpus scan per consumer. */
  def minhashLshOfTokenized(d: DataFrame): DataFrame =
    // Candidate pairs come from grouping doc ids per (band, key) bucket and
    // expanding pairs WITHIN each bucket — one shuffle on the bucket key,
    // pair work bounded by bucket sizes. (A cached self-join was measured
    // 30× slower here: InMemoryRelation build+read dominated; and at 100 TB
    // the bucket-local expansion is the only shape that doesn't re-shuffle
    // the full signature table twice.)
    BucketPairs.expand(bandBuckets(d), "doc_a", "doc_b").distinct()

  /** STAR-pairing variant of [[minhashLshOfTokenized]] for CONNECTIVITY
    * consumers ([[clusters]] and the composites built on it): each bucket
    * member pairs with the bucket MINIMUM instead of with every other
    * member. The connected components are PROVABLY identical — star edges
    * are a subset of the all-pairs set (every (min, x) is an in-bucket
    * pair), and every all-pairs edge (x, y) stays reachable through the
    * bucket head x — min — y — so [[clustersOfPairs]] converges to the
    * same min-label map (StarPairsSpec asserts the equivalence on real
    * data and a crafted bucket). Cost is the difference between
    * Σ|B|·(|B|−1)/2 and Σ(|B|−1) pair rows: on a corpus whose duplicate
    * clusters hold k copies the all-pairs graph grows k² while the data
    * grows k — the round-11 sf100 audit measured curation_funnel at
    * 1881 s on 1000-replica data with the quadratic form, where every
    * LSH bucket held ~1000 ids (2.5·10⁹ distinct pairs from a 5M-doc
    * corpus). Consumers whose OUTPUT is the pair list itself
    * ([[minhashLsh]] the registered query, [[graphPagerank]]'s edge
    * weights, splitLeakage's cross-split pair count) keep the all-pairs
    * form — pair multiplicity is their semantics; connectivity is not. */
  def minhashLshStarOfTokenized(d: DataFrame): DataFrame =
    bandBuckets(d)
      .select(explode(expr(
        "transform(slice(ids, 2, size(ids) - 1), y -> struct(ids[0] AS doc_a, y AS doc_b))"))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()

  /** The (band, bk) buckets holding ≥ 2 documents, each with its sorted
    * member array `ids` — what both pairings above expand. */
  private def bandBuckets(d: DataFrame): DataFrame =
    minhashBands(d).groupBy(col("band"), col("bk"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)

  /** Band `b`'s '|'-joined slot key when the signature splits into `bands`. */
  private def bandKey(b: Int, bands: Int): Column = {
    val rows = MinhashHashes / bands
    concat_ws("|", (0 until rows).map(k => col("sig")(b * rows + k).cast("string")): _*)
  }

  /** (doc_id, …, band, bk) LSH band keys of a tokenized (doc_id, t, …)
    * frame, every column but `t` riding along — the signature half of the
    * MinHash pipeline, shared by the self-dedup pair expansion and the
    * cross-corpus [[incremental]] probe. The 16-slot signature `sig` is a
    * narrow map over each doc's own tokens (the slot step's DuckDB twin is
    * [[slotsSql]]; [[lshTuneCandidatePairs]] calls the same step). Docs
    * under `ShingleWords` tokens have no shingle, so no signature and no
    * band rows. */
  private[operators] def minhashBands(d: DataFrame): DataFrame = {
    val rest = d.columns.toSeq.filterNot(_ == "t").map(col)
    d.filter(size(col("t")) >= ShingleWords)
      .select(rest :+ minhash_slots(shingle_hashes(col("t"))).as("sig"): _*)
      .select(rest :+ explode(array((0 until MinhashBands).map(b =>
          struct(lit(b).as("band"), bandKey(b, MinhashBands).as("bk"))): _*)).as("bb"): _*)
      .select(rest ++ Seq(col("bb.band").as("band"), col("bb.bk").as("bk")): _*)
  }

  /** The batch slice for [[incremental]]: documents from these sources play
    * the "new crawl"; everything else is the already-ingested reference
    * corpus. */
  val IncrementalBatchSources: Seq[String] = Seq("src0", "src1", "src2", "src3")

  /** INCREMENTAL (cross-corpus) dedup — the production mode every
    * self-dedup variant above feeds into: a NEW batch is probed against the
    * existing reference corpus, never against itself. Each batch document
    * reports how many reference documents share an LSH band bucket with it
    * and the smallest matching reference id; `n_ref_candidates = 0` is the
    * novel set an ingest pipeline keeps. Zero-shingle batch docs surface
    * with 0 matches rather than vanishing.
    *
    * Scale shape: band keys compute ONCE over the union, in the scan (the
    * labeled band table materializes via localCheckpoint and both probe
    * sides read it), and the batch×reference join is keyed on (band,
    * bucket) — candidate
    * work is bounded by bucket co-occupancy exactly like the self-dedup
    * path, never |batch|×|reference|. At 100 TB the reference side's band
    * table is the persisted LSH index a crawler maintains between
    * ingests. */
  def incremental(spark: SparkSession, sfDir: String,
      batchSources: Seq[String] = IncrementalBatchSources): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val labeled = minhashBands(docs.select(col("doc_id"),
        col("source").isin(batchSources: _*).as("is_batch"),
        TextOps.tokens(col("text")).as("t")))
      .localCheckpoint() // both probe sides read the labeled band table
    val b = labeled.filter(col("is_batch"))
      .select(col("doc_id").as("batch_doc"), col("band"), col("bk"))
    val r = labeled.filter(!col("is_batch"))
      .select(col("doc_id").as("ref_doc"), col("band"), col("bk"))
    val matches = b.join(r, Seq("band", "bk"))
      .select(col("batch_doc"), col("ref_doc")).distinct()
      .groupBy(col("batch_doc"))
      .agg(count(lit(1)).as("n_ref_candidates"), min(col("ref_doc")).as("best_ref_id"))
    docs.filter(col("source").isin(batchSources: _*))
      .join(matches, col("doc_id") === col("batch_doc"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_ref_candidates"), lit(0L)).as("n_ref_candidates"),
        coalesce(col("best_ref_id"), lit(-1L)).as("best_ref_id"))
  }

  def incrementalSql(batchSources: Seq[String] = IncrementalBatchSources): String = {
    val srcList = batchSources.map(s => s"'$s'").mkString(", ")
    s"""WITH $minhashCtes,
       |lab AS (SELECT b.doc_id, b.band, b.bk, d.source IN ($srcList) AS is_batch
       |  FROM bands b JOIN documents d USING (doc_id)),
       |m AS (SELECT DISTINCT x.doc_id AS batch_doc, y.doc_id AS ref_doc
       |  FROM lab x JOIN lab y ON x.band = y.band AND x.bk = y.bk
       |  WHERE x.is_batch AND NOT y.is_batch),
       |agg AS (SELECT batch_doc, count(*) AS n_ref_candidates,
       |    min(ref_doc) AS best_ref_id
       |  FROM m GROUP BY 1)
       |SELECT d.doc_id, d.source,
       |  CAST(coalesce(n_ref_candidates, 0) AS BIGINT) AS n_ref_candidates,
       |  CAST(coalesce(best_ref_id, -1) AS BIGINT) AS best_ref_id
       |FROM documents d LEFT JOIN agg ON d.doc_id = agg.batch_doc
       |WHERE d.source IN ($srcList)""".stripMargin
  }

  /** The MinHash pipeline as a reusable WITH-clause body ending in a
    * `pairs` CTE — [[minhashLshSql]] selects from it directly and
    * [[clustersSql]] extends it with the recursive connected-components
    * walk. */
  private[operators] def minhashCtes: String =
    s"""$hashedCtes,
       |sigs AS (SELECT doc_id, $slotsSql FROM hashed GROUP BY doc_id),
       |bands AS (SELECT doc_id, band, CASE band ${bandCasesSql(MinhashBands)} END AS bk
       |          FROM sigs, LATERAL (SELECT unnest(generate_series(0, ${MinhashBands - 1})) AS band) b),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM bands a JOIN bands b
       |            ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)""".stripMargin

  /** DuckDB twin of `shingle_hashes`: the shingle CTEs plus `hashed(doc_id, h)`. */
  private def hashedCtes: String =
    s"""$shinglesSql,
       |hashed AS (SELECT doc_id, ${Hashing.md5LongSql("shingle")} % $MinhashM AS h FROM sh)""".stripMargin

  /** DuckDB twin of the `minhash_slots` slot step: 16 min aggregates. */
  private def slotsSql: String =
    (0 until MinhashHashes).map(i =>
      s"min((${MinhashA(i)}::BIGINT * h + ${MinhashB(i)}) % $MinhashM) AS s$i").mkString(", ")

  /** DuckDB twin of [[bandKey]]: the `CASE band` arms of `bands` bands. */
  private def bandCasesSql(bands: Int): String = {
    val rows = MinhashHashes / bands
    (0 until bands).map { b =>
      val key = (0 until rows).map(k => s"s${b * rows + k}").mkString(" || '|' || ")
      if (b < bands - 1) s"WHEN $b THEN $key" else s"ELSE $key"
    }.mkString(" ")
  }

  def minhashLshSql: String =
    s"""WITH $minhashCtes
       |SELECT doc_a, doc_b FROM pairs""".stripMargin

  // ---- duplicate clustering (pairs → components) --------------------------

  /** Duplicate-CLUSTER assignment: connected components over the
    * MinHash/LSH candidate-pair graph, cluster id = min doc_id in the
    * component. This is the step that turns pairwise dedup output into
    * "keep one canonical document per group" — without it a transitive
    * chain a~b~c dedups to two different survivors depending on pair
    * order.
    *
    * Shape: min-label propagation. Every node starts labeled with the min
    * of itself and its neighbours; each round pushes labels across edges
    * and keeps the per-node min; fixpoint in O(component diameter) rounds
    * (near-dup components are shallow — theirs is essentially a clique
    * structure from shared buckets). Each round is one edge join + one min-groupBy, shuffle
    * volume bounded by |edges| — never pairs² — and rounds
    * localCheckpoint so the loop's lineage doesn't stack. The driver only
    * runs the loop and a per-round 1-row convergence probe; all data stays
    * distributed. This is the standard Pregel-style CC at 100 TB scale. */
  def clusters(spark: SparkSession, sfDir: String): DataFrame =
    // star pairs: identical components at bucket-LINEAR pair volume (see
    // minhashLshStarOfTokenized — the round-11 sf100 audit's fix)
    clustersOfPairs(minhashLshStarOfTokenized(tokenized(spark, sfDir)))

  /** (src, dst): every (doc_a, doc_b) pair in both directions. */
  private def undirectedEdges(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))

  /** DuckDB twin of [[undirectedEdges]] over a `pairs(doc_a, doc_b)` CTE. */
  private def edgesCte: String =
    """edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      |          UNION SELECT doc_b, doc_a FROM pairs)""".stripMargin

  /** Connected components over ANY (doc_a, doc_b) pair DataFrame —
    * [[clusters]] wires it to the LSH candidates; the property spec feeds
    * it random graphs against a union-find ground truth. */
  def clustersOfPairs(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val edges = undirectedEdges(pairs).localCheckpoint()
    // Labels only ever decrease, so the label sum is a monotone convergence
    // witness. It rides the round's OWN materialization job via
    // Dataset.observe (optimization round 14, VERDICT #5 / guide §2.1):
    // the previous form ran a separate 1-row aggregate action per round on
    // top of the eager checkpoint — two driver round-trips per round where
    // one carries both. CollectMetrics computes the sum as the checkpoint
    // job streams past; Observation.get returns it without re-executing.
    // coalesce: an empty pair graph sums to NULL.
    def observedSum(df: DataFrame): (DataFrame, () => Long) = {
      val obs = org.apache.spark.sql.Observation()
      val out = df.observe(obs, coalesce(sum(col("label")), lit(0L)).as("label_sum"))
        .localCheckpoint() // eager: materializes now, firing the observation
      (out, () => obs.get("label_sum").asInstanceOf[Long])
    }
    // The first labels are the first propagation round, with no join: a
    // node's min over itself and its neighbours is one aggregate over its
    // out-edges. A diameter-d component is labelled after d - 1 rounds,
    // and one more round confirms it (a star about its min: 0 + 1).
    val (labels0, sum0) = observedSum(
      edges.groupBy(col("src")).agg(least(col("src"), min(col("dst"))).as("label"))
        .select(col("src").as("doc_id"), col("label")))
    var labels = labels0
    var prevSum = sum0()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val prop = edges.join(labels, edges("src") === labels("doc_id"))
        .select(col("dst").as("doc_id"), col("label"))
      val (next, sumNext) = observedSum(
        labels.select(col("doc_id"), col("label")).union(prop)
          .groupBy(col("doc_id")).agg(min(col("label")).as("label")))
      val after = sumNext()
      converged = prevSum == after
      prevSum = after
      labels = next
      iter += 1
    }
    require(converged, s"connected components did not converge in $maxIters rounds")
    labels.select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** The recursive min-label walk as CTE text over any `pairs(doc_a,
    * doc_b)` CTE, ending in `comp(doc_id, cluster_id)` — ONE definition
    * shared by the LSH cluster oracle and the entity-resolution oracle so
    * a change to the walk cannot silently diverge them. */
  private[operators] def ccWalkCtes: String =
    s"""$edgesCte,
       |reach(node, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
       |comp AS (SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node)""".stripMargin

  private[operators] def clusterCtes: String =
    s"""$minhashCtes,
       |$ccWalkCtes""".stripMargin

  def clustersSql: String =
    s"""WITH RECURSIVE $clusterCtes
       |SELECT doc_id, cluster_id FROM comp""".stripMargin

  /** QUALITY-PRIORITY canonical selection — the production survivor rule.
    * [[clusters]] names each component after its min doc_id, but a real
    * pipeline does not keep the lowest id: it keeps the BEST copy (the
    * cleanest mirror of a templated page, the longest crawl of a truncated
    * article) and drops the rest. Per cluster: rank members by
    * ([[TextAnalysis.qualityOfTokenized]]'s composite score DESC, doc_id
    * ASC — the id breaks rounded-score ties deterministically), the rank-1
    * member is `canonical`, everyone else is `kept = false`.
    *
    * Cost on top of the component loop: one doc_id equi-join against the
    * zero-shuffle quality map, then a cluster-keyed window and a
    * cluster-keyed join that share ONE exchange (same key) — nothing here
    * scales worse than the CC loop that precedes it. */
  def keepBest(spark: SparkSession, sfDir: String): DataFrame = {
    val comp = clusters(spark, sfDir)
    val q = TextAnalysis.quality(spark, sfDir).select(col("doc_id"), col("quality_score"))
    val scored = comp.join(q, Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    val best = scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("canonical"))
    scored.join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("canonical")).as("kept"), col("canonical"))
  }

  def keepBestSql: String =
    s"""WITH RECURSIVE $clusterCtes,
       |${TextAnalysis.qualityFeatureCtes},
       |q AS (SELECT doc_id, ${TextAnalysis.qualityScoreSqlExpr} AS quality_score
       |      FROM qg WHERE n_tokens > 0),
       |scored AS (SELECT c.doc_id, c.cluster_id, q.quality_score
       |           FROM comp c JOIN q USING (doc_id)),
       |best AS (SELECT cluster_id, doc_id AS canonical FROM (
       |    SELECT scored.*, row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY quality_score DESC, doc_id ASC) AS rn FROM scored)
       |  WHERE rn = 1)
       |SELECT s.doc_id, s.cluster_id, s.doc_id = b.canonical AS kept, b.canonical
       |FROM scored s JOIN best b USING (cluster_id)""".stripMargin

  // ---- PageRank over the duplicate graph ----------------------------------

  /** Fixed-point scale for [[pagerank]]: ranks are BIGINTs in units of
    * 10^-12. Floating-point PageRank cannot hash-match across engines (the
    * neighbor-sum order differs), and decimal division scale rules differ
    * between Spark and DuckDB — integer floor-division arithmetic is
    * identical in both (`div` ≡ `//` for non-negative operands), so the
    * iteration is bit-reproducible everywhere at ~1e-12 granularity. */
  val PagerankScale = 1000000000000L
  val PagerankIters = 5

  /** PageRank (d = 0.85, fixed [[PagerankIters]] iterations) over the
    * undirected LSH near-dup graph — graph centrality as a first-class
    * operator: which documents sit at the center of a duplication cluster
    * (template sources, canonical pages) vs its periphery.
    *
    * Scale shape = exactly the connected-components loop: each iteration is
    * one edge join + one destination-keyed aggregate, shuffle bounded by
    * |edges|, rounds localCheckpoint'ed so lineage stays flat, and the only
    * driver value is the node count (one scalar action, computed once).
    * r_{t+1}(v) = teleport + (85 · Σ_{u~v} (r_t(u) div deg(u))) div 100,
    * teleport = ((15 · SCALE) div 100) div N — all int64. */
  def pagerank(spark: SparkSession, sfDir: String, iters: Int = PagerankIters): DataFrame =
    pagerankOfPairs(minhashLsh(spark, sfDir), iters)

  def pagerankOfPairs(pairs: DataFrame, iters: Int = PagerankIters): DataFrame = {
    val edges = undirectedEdges(pairs).localCheckpoint()
    val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    val n = deg.count() // the single driver-side scalar (node count)
    require(n > 0, "pagerank needs a non-empty pair graph")
    val teleport = (PagerankScale * 15L / 100L) / n
    var r = deg.select(col("node"), lit(PagerankScale / n).as("r"))
    for (_ <- 1 to iters) {
      val contrib = r.join(deg, Seq("node"))
        .select(col("node").as("src"), expr("r div d").as("c"))
      r = edges.join(contrib, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c")).as("s"))
        .select(col("node"), (lit(teleport) + expr("(85 * s) div 100")).as("r"))
        .localCheckpoint()
    }
    r.select(col("node").as("doc_id"), col("r").as("rank_fp"))
  }

  def pagerankSql(iters: Int = PagerankIters): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS (SELECT e.dst AS node,
         |  (SELECT t FROM tele) + (85 * sum(c.c)) // 100 AS r
         |  FROM edges e JOIN (SELECT r.node, r.r // deg.d AS c
         |                     FROM r${i - 1} r JOIN deg ON r.node = deg.node) c
         |    ON e.src = c.node
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $minhashCtes,
       |$edgesCte,
       |deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM deg),
       |tele AS (SELECT ((15 * $PagerankScale) // 100) // n AS t FROM nn),
       |r0 AS (SELECT node, $PagerankScale // (SELECT n FROM nn) AS r FROM deg),
       |$steps
       |SELECT node AS doc_id, CAST(r AS BIGINT) AS rank_fp FROM r$iters""".stripMargin
  }

  // ---- SimHash ------------------------------------------------------------

  /** 32 bits: one per md5 hex digit — the widest fingerprint whose bit
    * votes derive from a single md5 AND whose `pow(2,j)` set-bit
    * arithmetic stays exactly representable in doubles for both engines.
    * Width matters for the PAIRS step: in a 2^16 space a 5000-doc corpus
    * already collides at hamming ≤ 2 by the birthday effect (measured
    * ~880k coincidental pairs at sf0.1 — output quadratic in n), while at
    * 2^32 surviving pairs are genuine near-dups. */
  val SimhashBits = 32

  /** SimHash fingerprint per document. Bit j's vote for a token is
    * the parity of hex digit j of md5(token) (portable across engines);
    * votes are weighted by token frequency; bit j is set when the vote sum
    * is positive.
    *
    * Shape: occurrences collapse to (doc, token, count) FIRST, and the
    * md5 is projected once per surviving row BEFORE the ×bits explode —
    * vs hashing per (occurrence × bit), that is ~(dup-factor × 32)× less
    * md5 work for identical integer votes (`cnt·(2·bit−1)` sums to the
    * same total as per-occurrence ±1s, so the oracle is unchanged). */
  def simhash(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
      .withColumn("h", md5(col("tok")))
      .select(col("doc_id"), col("cnt"), col("h"),
        explode(expr(s"sequence(0, ${SimhashBits - 1})")).as("j"))
      .withColumn("bit",
        (instr(lit("0123456789abcdef"), substring(col("h"), col("j") + 1, lit(1))) - 1) % 2)
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(col("cnt") * (col("bit") * 2 - 1)).as("vote"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("vote") > 0, expr("CAST(pow(2, j) AS BIGINT)")).otherwise(lit(0L)))
        .cast("long").as("simhash"))

  /** [[simhash]]'s per-bit votes as CTE text ending in `votes(doc_id, j, vote)`. */
  private def simhashVoteCtes: String =
    s"""occ AS (SELECT doc_id, unnest(${TextOps.tokensSql}) AS tok FROM documents),
       |bits AS (SELECT doc_id, j,
       |    (strpos('0123456789abcdef', substr(md5(tok), j + 1, 1)) - 1) % 2 AS bit
       |  FROM occ, LATERAL (SELECT unnest(generate_series(0, ${SimhashBits - 1})) AS j) s),
       |votes AS (SELECT doc_id, j, sum(bit * 2 - 1) AS vote FROM bits GROUP BY doc_id, j)""".stripMargin

  /** The fingerprint over `votes`: bit j set when its vote is positive. */
  private def simhashSumSql: String =
    "CAST(sum(CASE WHEN vote > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash"

  val simhashSql: String =
    s"""WITH $simhashVoteCtes
       |SELECT doc_id,
       |  $simhashSumSql
       |FROM votes GROUP BY doc_id""".stripMargin

  /** SimHash near-duplicate PAIRS: hamming distance ≤ `maxDist` between
    * [[SimhashBits]]-bit (32) fingerprints. Scale shape = pigeonhole
    * blocking: the 32 bits
    * split into `maxDist + 1` blocks, and two fingerprints within
    * `maxDist` flips MUST agree on at least one whole block — so
    * candidates come from equality-bucket joins on (block index, block
    * value), exactly the bucket-bounded shuffle of the LSH path, and the
    * survivors verify with one `bit_count(xor)` per pair. No all-pairs
    * term anywhere; this is how simhash dedup runs at web scale. */
  def simhashPairs(spark: SparkSession, sfDir: String, maxDist: Int = 2): DataFrame = {
    val fp = simhash(spark, sfDir).localCheckpoint() // shared by both join sides
    val nBlocks = maxDist + 1
    val bits = SimhashBits / nBlocks // 32 bits / 3 blocks: 10,10,12 via shift+mask
    val blocks = fp.select(col("doc_id"), col("simhash"),
        explode(array((0 until nBlocks).map { b =>
          val shifted = shiftright(col("simhash"), b * bits)
          val blockVal = if (b == nBlocks - 1) shifted // top block keeps the rest
            else shifted.bitwiseAND(lit((1L << bits) - 1))
          struct(lit(b).as("blk"), blockVal.as("bv"))
        }: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.blk").as("blk"), col("bb.bv").as("bv"))
    blocks.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  def simhashPairsSql(maxDist: Int = 2): String = {
    val nBlocks = maxDist + 1
    val bits = SimhashBits / nBlocks
    val blockExprs = (0 until nBlocks).map { b =>
      val bv = if (b == nBlocks - 1) s"(simhash >> ${b * bits})"
        else s"((simhash >> ${b * bits}) & ${(1L << bits) - 1})"
      s"SELECT doc_id, simhash, $b AS blk, $bv AS bv FROM fp"
    }.mkString(" UNION ALL ")
    s"""WITH $simhashVoteCtes,
       |fp AS (SELECT doc_id,
       |  $simhashSumSql
       |  FROM votes GROUP BY doc_id),
       |blocks AS ($blockExprs)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM blocks a JOIN blocks b
       |  ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxDist""".stripMargin
  }

  /** Embedding-cosine near-duplicate pairs (cos ≥ threshold, a < b) by
    * EXHAUSTIVE all-pairs comparison — deliberately quadratic, so it is
    * NOT a registered query: it exists solely as the spec-side exactness
    * baseline the bucketed scale paths ([[Similarity.embeddingNearDupIvf]],
    * [[Similarity.embeddingNearDupSrp]], [[Similarity.knnIvf]]) are
    * differentially tested against (SimilaritySpec). The `maxRows` guard
    * fails loudly if someone points it at a corpus where all-pairs would
    * blow up, rather than silently planning a quadratic join. */
  def embeddingNearDup(spark: SparkSession, sfDir: String, threshold: Double = 0.4,
      maxRows: Long = 20000L): DataFrame =
    embeddingNearDupOf(Tables.embeddings(spark, sfDir), threshold, maxRows)

  /** Core of [[embeddingNearDup]] over any (vec_id, embedding) frame —
    * separated so the SRP sorted-neighborhood spec can drive a crafted
    * oversized-bucket corpus through the SAME baseline code path. */
  def embeddingNearDupOf(embeddings: DataFrame, threshold: Double = 0.4,
      maxRows: Long = 20000L): DataFrame = {
    val e = Similarity.vectors(embeddings)
    val n = e.count()
    require(n <= maxRows,
      s"embeddingNearDup is the all-pairs exactness baseline (O(n^2) = ${n * n} " +
        s"comparisons at n=$n > maxRows=$maxRows); use embeddingNearDupIvf/Srp at scale")
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        Similarity.cosinePre(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos_sim"))
  }

  // ---- cross-source corpus overlap (KMV sketch data card) ----------------

  /** Sketch size for [[sourceOverlapKmv]] — larger than the per-doc
    * [[ContainSketchK]] because a SOURCE's shingle set is corpus-sized
    * and the estimate serves a data card, not a candidate filter. */
  val SourceSketchK = 128

  /** CROSS-SOURCE OVERLAP MATRIX — the corpus-level data card a training
    * mix needs before weighting sources: for every source pair, estimated
    * shingle-set intersection, Jaccard, and containment (overlap vs the
    * smaller source), from one bottom-k (Broder/KMV) sketch per source.
    * This is the "how much of snapshot B is already in snapshot A"
    * measurement that decides whether a new crawl/source adds novelty or
    * re-ingests what the mix already has — [[containmentKmv]]'s estimator
    * lifted from document pairs to source pairs (same all-integer
    * arithmetic, mirrored verbatim in DuckDB → hash-exact oracle).
    *
    * Estimator per pair, from the two sketches alone: M = bottom-k of
    * sa ∪ sb, k' = |M|, I = |M ∩ sa ∩ sb|; jaccard_est_ppm = I·10^6 div k',
    * |A∩B|_est = min(min(nA,nB), I·(nA+nB) div (k'+I)) — the cap is a true
    * bound of the estimand (an intersection never exceeds its smaller set)
    * that the raw ratio can break under heavy size skew — and
    * containment_est_ppm = |A∩B|_est·10^6 div min(nA,nB) (≤ 10^6 by the
    * cap). Sources with < k distinct
    * shingles carry their full set — small-source rows are exact. The
    * exact distinct counts nA/nB ride from the same pass as validation
    * columns (the [[graft.operators.TextAnalysis.distinctKmv]] pattern).
    *
    * At 100 TB: the per-source distinct is vocab-bounded (map-side
    * combine absorbs repeats), the rank filter compiles to
    * WindowGroupLimit (≤ k rows/source leave each map task), and the
    * pairwise stage touches only |S| sketch rows of k longs each —
    * |S|²/2 pure-integer array comparisons over a broadcast, with the
    * corpus read exactly once. */
  def sourceOverlapKmv(spark: SparkSession, sfDir: String,
      k: Int = SourceSketchK): DataFrame =
    sourceOverlapKmvOf(Tables.documents(spark, sfDir), k)

  /** Core over an explicit (source, text) frame — specs feed crafted
    * multi-source corpora with known exact overlaps. */
  def sourceOverlapKmvOf(docs: DataFrame, k: Int): DataFrame = {
    val sh = docs
      .select(col("source"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("source"),
        explode(graft.functions.ShinglesExpression.word_shingles(col("t"), 3)).as("s"))
      .select(col("source"), Hashing.md5Long(col("s")).as("h"))
      .distinct()
      .localCheckpoint() // sketch ranks + exact counts both read it
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h").asc)
    val sk = sh.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k) // WindowGroupLimit: ≤ k rows/source shuffle
      .groupBy(col("source")).agg(array_sort(collect_list(col("h"))).as("sk"))
    val s = sk.join(sh.groupBy(col("source")).agg(count(lit(1)).as("n")), Seq("source"))
    s.as("a").join(broadcast(s.as("b")), col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        col("a.sk").as("sa"), col("b.sk").as("sb"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .transform(unionSketch(k))
      // inter_est caps at min(nA,nB) — a TRUE bound of the estimand the
      // raw ratio can exceed under heavy size skew (small A, huge B,
      // shared minima), and the cap keeps containment ≤ 1 by construction
      .select(col("source_a"), col("source_b"), col("na"), col("nb"),
        expr("least(least(na, nb), i * (na + nb) div (ku + i))").as("inter_est"),
        expr("i * 1000000 div ku").as("jaccard_est_ppm"),
        expr("least(least(na, nb), i * (na + nb) div (ku + i)) * 1000000 div least(na, nb)")
          .as("containment_est_ppm"))
  }

  /** Oracle twin: same distinct → bottom-k → union-sketch integer
    * estimator, DuckDB list spelling. */
  def sourceOverlapKmvSql(k: Int = SourceSketchK): String =
    s"""WITH toks AS (SELECT source, ${TextOps.tokensSql} AS t FROM documents),
       |shg AS (SELECT source, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS s
       |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g
       |  WHERE len(t) >= 3),
       |hs AS (SELECT DISTINCT source, ${Hashing.md5LongSql("s")} AS h FROM shg),
       |sk AS (SELECT source, list_sort(list(h)) AS sk FROM (
       |    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |    FROM hs) WHERE rn <= $k GROUP BY source),
       |s AS (SELECT sk.source, sk.sk, n FROM sk
       |  JOIN (SELECT source, count(*) AS n FROM hs GROUP BY 1) c ON sk.source = c.source),
       |pairs AS (SELECT a.source AS source_a, b.source AS source_b,
       |    a.sk AS sa, b.sk AS sb, a.n AS na, b.n AS nb,
       |    (list_sort(list_distinct(list_concat(a.sk, b.sk))))[1:$k] AS m
       |  FROM s a JOIN s b ON a.source < b.source),
       |est AS (SELECT source_a, source_b, na, nb, len(m) AS ku,
       |    len(list_intersect(list_intersect(m, sa), sb)) AS i
       |  FROM pairs)
       |SELECT source_a, source_b, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
       |  CAST(least(least(na, nb), i * (na + nb) // (ku + i)) AS BIGINT) AS inter_est,
       |  CAST(i * 1000000 // ku AS BIGINT) AS jaccard_est_ppm,
       |  CAST(least(least(na, nb), i * (na + nb) // (ku + i)) * 1000000 // least(na, nb) AS BIGINT)
       |    AS containment_est_ppm
       |FROM est""".stripMargin

  // ---- content-defined chunking (CDC) dedup -------------------------------

  /** Expected chunk length in tokens: a token ends a chunk when its hash
    * ≡ 0 (mod this). Plain Rabin/gear-style cut rule — no min/max length
    * normalization, so the contract stays a 1-line predicate both engines
    * evaluate identically. */
  val CdcDivisor = 16
  /** Chunk-fingerprint fold modulus, 2^56: `acc*31 + h < 2^61 + 2^56`,
    * inside int64 in Spark AND inside DuckDB's overflow-checked BIGINT —
    * the portable-arithmetic discipline ([[Hashing]]); 56-bit fingerprints
    * make birthday collisions negligible at 10^8+ chunks where a 32-bit
    * fold would already produce hundreds. */
  val CdcModulus = 72057594037927936L

  /** CONTENT-DEFINED-CHUNKING dedup data card — the shift-resistant
    * complement to [[substringPairs]]: token-hash boundaries (h % D == 0,
    * forced at doc end) cut each document into variable chunks whose
    * positions re-synchronize after any insertion/deletion, so a passage
    * duplicated at DIFFERENT offsets in two documents still yields
    * identical chunk fingerprints (fixed-size chunking shares ZERO blocks
    * after a one-token shift — the rsync/LBFS observation, Muthitacharoen
    * et al. SOSP'01, the storage-dedup standard). Output: one row per doc
    * — chunk counts, cross-doc duplicated chunk instances, duplicated
    * token volume, dup_ratio_ppm — the per-document "how much of me exists
    * elsewhere" measure a chunk-level deduper thresholds on.
    *
    * Scale shape: chunking is a pure per-row array pipeline (tokenize →
    * md5 → boundary filter → slice+fold), ZERO shuffle until chunks
    * exist; then one map-side-combined distinct-doc count per fingerprint,
    * one fp-keyed join back, one doc-keyed aggregation — every shuffle
    * keyed and linear in the chunk stream (~n_tokens/D rows per doc), no
    * pair term anywhere. Reference scope: the engine's dedup family
    * (SURVEY §2 beyond-reference LLM-pipeline operators). */
  def cdcChunkDedup(spark: SparkSession, sfDir: String): DataFrame =
    cdcChunkDedupOf(Tables.documents(spark, sfDir))

  private[graft] def cdcChunkDedupOf(docs: DataFrame): DataFrame = {
    val ch = cdcChunksOf(docs)
    val fps = ch.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
    ch.join(fps, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(
        first(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_chunks"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("ndocs") >= 2, col("ln")).otherwise(0L)).as("dup_tokens"))
      .withColumn("dup_ratio_ppm", expr("dup_tokens * 1000000 div n_tokens"))
  }

  /** One row per chunk: (doc_id, n_tokens, fp, ln). Boundary index i is
    * 1-based; Spark's transform index j is 0-based (the DuckDB twin's is
    * 1-based — the only spelling difference). The fold runs over the
    * chunk's token hashes seeded with 0, `(acc*31 + h) % 2^56`. */
  private[graft] def cdcChunksOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 1)
      .select(col("doc_id"), transform(col("t"), x => Hashing.md5Long(x)).as("hs"))
      .withColumn("bidx", expr(
        s"filter(sequence(1, size(hs)), i -> element_at(hs, i) % $CdcDivisor = 0 OR i = size(hs))"))
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_tokens"),
        explode(expr(
          s"""transform(bidx, (bv, j) -> named_struct(
             |  'fp', aggregate(
             |    slice(hs, (CASE WHEN j = 0 THEN 0 ELSE element_at(bidx, j) END) + 1,
             |          bv - (CASE WHEN j = 0 THEN 0 ELSE element_at(bidx, j) END)),
             |    CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % $CdcModulus),
             |  'ln', CAST(bv - (CASE WHEN j = 0 THEN 0 ELSE element_at(bidx, j) END) AS BIGINT)))""".stripMargin)).as("c"))
      .select(col("doc_id"), col("n_tokens"), col("c.fp").as("fp"), col("c.ln").as("ln"))

  /** DuckDB twin — same boundary predicate, same fold ([[CdcModulus]]
    * keeps every intermediate inside checked BIGINT), 1-based transform
    * index. */
  def cdcChunkDedupSql: String =
    s"""WITH toks AS (SELECT doc_id, ${TextOps.tokensSql} AS t FROM documents),
       |hsx AS (SELECT doc_id, list_transform(t, x -> ${Hashing.md5LongSql("x")}) AS hs
       |  FROM toks WHERE len(t) >= 1),
       |b AS (SELECT doc_id, hs,
       |    list_filter(generate_series(1, len(hs)), (i) -> hs[i] % $CdcDivisor = 0 OR i = len(hs)) AS bidx
       |  FROM hsx),
       |ch0 AS (SELECT doc_id, len(hs) AS n_tokens,
       |    unnest(list_transform(bidx, (bv, j) ->
       |      {'fp': list_reduce(
       |          list_prepend(0, hs[(CASE WHEN j = 1 THEN 0 ELSE bidx[j - 1] END) + 1 : bv]),
       |          (acc, x) -> (acc * 31 + x) % $CdcModulus),
       |       'ln': bv - (CASE WHEN j = 1 THEN 0 ELSE bidx[j - 1] END)})) AS c
       |  FROM b),
       |ch AS (SELECT doc_id, n_tokens, c.fp AS fp, c.ln AS ln FROM ch0),
       |fps AS (SELECT fp, count(DISTINCT doc_id) AS ndocs FROM ch GROUP BY 1)
       |SELECT ch.doc_id, CAST(any_value(n_tokens) AS BIGINT) AS n_tokens,
       |  count(*) AS n_chunks,
       |  CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       |  CAST(sum(CASE WHEN ndocs >= 2 THEN ln ELSE 0 END) AS BIGINT) AS dup_tokens,
       |  CAST(sum(CASE WHEN ndocs >= 2 THEN ln ELSE 0 END) * 1000000
       |    // any_value(n_tokens) AS BIGINT) AS dup_ratio_ppm
       |FROM ch JOIN fps USING (fp) GROUP BY 1""".stripMargin

  // ---- LSH parameter sweep (S-curve tuning) --------------------------------

  /** Band-count sweep over the 16-slot signature: (2×8), (4×4), (8×2),
    * (16×1) — each a (bands × rows) split of the SAME MinHash signature,
    * so one signature pass feeds every configuration. */
  val TuneBandCounts: Seq[Int] = Seq(2, 4, 8, 16)
  /** The sweep's ground-truth duplicate rule: exact Jaccard ≥ 0.5 in
    * integer ppm — between the four configs' S-curve midpoints (~0.88,
    * ~0.66, ~0.35, ~0.04), so the sweep genuinely separates them. */
  val TuneJaccardPpm = 500000L
  /** Per-(cfg, band, key) bucket cap — the WinnowMaxDf discipline: a
    * boilerplate bucket (the (16×1) arm's single-slot buckets especially)
    * would otherwise expand O(|bucket|²) pairs; both engines drop buckets
    * above the cap, so the cap is part of the measured contract. */
  val TuneBucketCap = 200

  /** LSH PARAMETER SWEEP — the S-curve measurement (Leskovec/Rajaraman/
    * Ullman, MMDS ch.3) that decides a dedup configuration BEFORE paying
    * for a 100 TB run, next to [[zonemapPrune]]/[[Skew.skewProfile]] in
    * this engine's "measure, don't guess" family: for each (bands × rows)
    * split of the shared 16-slot MinHash signature, the candidate-pair
    * count, how many candidates are true duplicates under the exact
    * Jaccard rule ([[TuneJaccardPpm]], scored on full distinct shingle-hash
    * sets), precision, and recall. Recall is measured against the DISTINCT
    * true pairs found across ALL configs' candidates (round 10): the naive
    * denominator — the widest arm's true pairs — rests on the nesting
    * theorem (a band match in any config implies slotwise matches, so
    * (16×1) candidates contain every other config's), but [[TuneBucketCap]]
    * BREAKS that proof: a single-slot (16×1) bucket over the cap is dropped
    * while the corresponding multi-row-band buckets in narrower arms stay
    * under it, so on a boilerplate-heavy corpus a narrow arm can surface
    * true pairs the widest arm never scored (recall > 1), and if every
    * widest-arm bucket exceeded the cap the truth frame went empty and the
    * crossJoin silently emptied the whole sweep. The union denominator is
    * still self-contained in the sweep's own scoring work, restores
    * recall ≤ 1 by construction, and equals the old denominator wherever
    * the cap does not bind (the nesting regime — LshTuneSpec pins both).
    * Configs whose every bucket was dropped (cap or singletons) emit an
    * explicit zero-candidate row with NULL precision/recall instead of
    * vanishing from the output.
    *
    * Scale shape: per-doc hash sets and signatures in the scan (no
    * shuffle), 30 band rows per doc, ONE bucket shuffle keyed (cfg, band,
    * key) with pair expansion bucket-local and capped ([[TuneBucketCap]]),
    * exact scoring only on candidates via two equi-joins against the
    * checkpointed sorted-hash arrays (the [[containment]] scoring shape).
    * Output: one row per configuration. */
  def lshTune(spark: SparkSession, sfDir: String): DataFrame =
    lshTuneOfTokenized(tokenized(spark, sfDir))

  /** The per-doc DISTINCT sorted shingle-hash set `hset` and its size — the
    * one per-doc artifact the whole sweep derives from, a narrow map over
    * each doc's own tokens. The signature slots derive from `hset`: min
    * over distinct hashes equals min over the raw stream, so the candidate
    * set is unchanged (the nesting/cap/zero-candidate specs and the oracle
    * hash pin it). */
  private def lshTuneDocsets(d: DataFrame): DataFrame =
    d.filter(size(col("t")) >= ShingleWords)
      .select(col("doc_id"), sort_array(array_distinct(shingle_hashes(col("t")))).as("hset"))
      .select(col("doc_id"), col("hset"), size(col("hset")).cast("long").as("nsh"))

  /** Candidate pairs per configuration over the docset frame — the
    * signature slots are a zero-shuffle expression over `hset`. Emits one
    * row per (cfg, bucket-pair) occurrence; [[lshTuneCandidates]] adds the
    * distinct, [[lshTuneOfTokenized]] folds the dedup into its own
    * per-pair collect_set instead. */
  private def lshTuneCandidatePairs(docsets: DataFrame): DataFrame = {
    // the minhash_lsh slot step over hset: one call per doc (an
    // array_min(transform(...)) spelling was measured SLOWER — Spark
    // evaluates higher-order-function lambdas interpreted, per element per
    // slot)
    val sigs = docsets.select(col("doc_id"), minhash_slots(col("hset")).as("sig"))
    val bandStructs = for (b <- TuneBandCounts; i <- 0 until b)
      yield struct(lit(b).as("cfg"), lit(i).as("band"), bandKey(i, b).as("bk"))
    val br = sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("e"))
      .select(col("doc_id"), col("e.cfg").as("cfg"),
        col("e.band").as("band"), col("e.bk").as("bk"))
    BucketPairs.expand(
      br.groupBy(col("cfg"), col("band"), col("bk"))
        .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) >= 2 && size(col("ids")) <= TuneBucketCap),
      "doc_a", "doc_b", "cfg")
  }

  /** Candidate pairs per configuration — split out for the nesting spec. */
  private[graft] def lshTuneCandidates(d: DataFrame): DataFrame =
    lshTuneCandidatePairs(lshTuneDocsets(d)).distinct()

  /** Core of [[lshTune]] over any tokenized (doc_id, t) frame. */
  private[graft] def lshTuneOfTokenized(d: DataFrame): DataFrame = {
    val docsets = lshTuneDocsets(d).localCheckpoint()
    // ONE exact-scoring evaluation per distinct candidate pair, total.
    // Attribution (round-10 stage timing at sf1: 1.58M (cfg, pair) rows, 1.56M
    // distinct pairs — the (16×1) arm IS the candidate volume, and the
    // array_intersect scoring join is the decade's dominant cost): the
    // verdict depends only on the pair, so candidates collapse to distinct
    // pairs carrying their config SET (collect_set — which also absorbs
    // the per-(cfg, pair) dedup the spec-facing [[lshTuneCandidates]] does
    // with an explicit distinct, saving that exchange here), scoring joins
    // run once, and BOTH rollups come out of ONE aggregation by exploding
    // each scored pair into its config rows plus a sentinel −1 "union" row
    // (the [[TextAnalysis]] HLL ALL-row precedent) — the previous spelling
    // scored every (cfg, pair) row and then re-ran the whole scoring
    // lineage for the truth consumer (~4× the intersects at sf10).
    val pairCfgs = lshTuneCandidatePairs(docsets)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(collect_set(col("cfg")).as("cfgs"))
    val scored = pairCfgs
      .join(docsets.select(col("doc_id").as("doc_a"),
        col("hset").as("ha"), col("nsh").as("na")), Seq("doc_a"))
      .join(docsets.select(col("doc_id").as("doc_b"),
        col("hset").as("hb"), col("nsh").as("nb")), Seq("doc_b"))
      // hset is sort_array(array_distinct(...)) → merge-count applies (r14, §4)
      .withColumn("inter", sorted_intersect_count(col("ha"), col("hb")))
      .withColumn("is_dup", when(col("inter") * lit(1000000L) >=
          lit(TuneJaccardPpm) * (col("na") + col("nb") - col("inter")), 1L)
        .otherwise(0L))
      .select(explode(concat(col("cfgs"), array(lit(-1)))).as("cfg"), col("is_dup"))
    // 5 rows (4 configs + the −1 union row); materialized because the per
    // and truth splits below both read it — O(1), not corpus-linear.
    val agg = scored.groupBy(col("cfg"))
      .agg(count(lit(1)).as("n_candidates"), sum(col("is_dup")).as("n_true_pairs"))
      .localCheckpoint()
    val per = agg.filter(col("cfg") =!= -1)
    // re-aggregated so the frame is ALWAYS exactly one row: on a corpus
    // whose every bucket is capped, agg is EMPTY and a bare filter would
    // re-create the empty-crossJoin bug the zero-candidate spec pins.
    val truth = agg.filter(col("cfg") === -1)
      .agg(coalesce(sum(col("n_true_pairs")), lit(0L)).as("truth_pairs"))
    import d.sparkSession.implicits._
    val cfgs = TuneBandCounts.toDF("cfg")
    cfgs.join(per, Seq("cfg"), "left")
      .crossJoin(broadcast(truth))
      .select(col("cfg"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_true_pairs"), lit(0L)).as("n_true_pairs"),
        col("truth_pairs"))
      .select(col("cfg").cast("long").as("bands"),
        expr(s"$MinhashHashes div cfg").cast("long").as("rows_per_band"),
        col("n_candidates"), col("n_true_pairs"), col("truth_pairs"),
        // a zero-candidate config has no precision (0/0); its recall over a
        // non-empty truth is an honest 0 (it found none of it)
        when(col("n_candidates") > 0,
          expr("n_true_pairs * 1000000 div n_candidates")).as("precision_ppm"),
        when(col("truth_pairs") > 0,
          expr("n_true_pairs * 1000000 div truth_pairs")).as("recall_ppm"))
  }

  /** DuckDB twin — same signature slots, the four band splits as a UNION
    * ALL, same bucket cap, same exact-Jaccard scoring on distinct hash
    * sets. */
  def lshTuneSql: String = {
    val brSelects = TuneBandCounts.map { b =>
      s"""  SELECT doc_id, $b AS cfg, band, CASE band ${bandCasesSql(b)} END AS bk
         |  FROM sigs, LATERAL (SELECT unnest(generate_series(0, ${b - 1})) AS band) u$b""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH $hashedCtes,
       |hsd AS (SELECT DISTINCT doc_id, h FROM hashed),
       |docsets AS (SELECT doc_id, list_sort(list(h)) AS hset, count(*) AS nsh FROM hsd GROUP BY 1),
       |sigs AS (SELECT doc_id, $slotsSql FROM hashed GROUP BY doc_id),
       |br AS (
       |$brSelects),
       |ok AS (SELECT cfg, band, bk FROM br GROUP BY 1, 2, 3
       |       HAVING count(*) >= 2 AND count(*) <= $TuneBucketCap),
       |cand AS (SELECT DISTINCT x.cfg, x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM br x JOIN br y ON x.cfg = y.cfg AND x.band = y.band AND x.bk = y.bk
       |    AND x.doc_id < y.doc_id
       |  JOIN ok ON ok.cfg = x.cfg AND ok.band = x.band AND ok.bk = x.bk),
       |scored AS (SELECT c.cfg, c.doc_a, c.doc_b,
       |    len(list_filter(a.hset, z -> list_contains(b.hset, z))) AS inter,
       |    a.nsh AS na, b.nsh AS nb
       |  FROM cand c JOIN docsets a ON c.doc_a = a.doc_id JOIN docsets b ON c.doc_b = b.doc_id),
       |per AS (SELECT cfg, count(*) AS n_candidates,
       |    sum(CASE WHEN inter * 1000000 >= $TuneJaccardPpm * (na + nb - inter)
       |        THEN 1 ELSE 0 END) AS n_true
       |  FROM scored GROUP BY 1),
       |tr AS (SELECT count(*) AS truth_pairs FROM (
       |  SELECT DISTINCT doc_a, doc_b FROM scored
       |  WHERE inter * 1000000 >= $TuneJaccardPpm * (na + nb - inter))),
       |cfgs AS (SELECT unnest([${TuneBandCounts.mkString(", ")}]) AS cfg)
       |SELECT CAST(cfgs.cfg AS BIGINT) AS bands,
       |  CAST($MinhashHashes // cfgs.cfg AS BIGINT) AS rows_per_band,
       |  CAST(coalesce(n_candidates, 0) AS BIGINT) AS n_candidates,
       |  CAST(coalesce(n_true, 0) AS BIGINT) AS n_true_pairs,
       |  CAST(truth_pairs AS BIGINT) AS truth_pairs,
       |  CASE WHEN coalesce(n_candidates, 0) > 0
       |    THEN CAST(coalesce(n_true, 0) * 1000000 // n_candidates AS BIGINT) END AS precision_ppm,
       |  CASE WHEN truth_pairs > 0
       |    THEN CAST(coalesce(n_true, 0) * 1000000 // truth_pairs AS BIGINT) END AS recall_ppm
       |FROM cfgs LEFT JOIN per ON per.cfg = cfgs.cfg CROSS JOIN tr""".stripMargin
  }
}

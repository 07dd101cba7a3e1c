package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-quality operators for training-data curation over `documents`:
  * quality scoring, language ID (stopword-marker heuristic), token counting
  * (whitespace + BPE-ish regex). All are narrow per-document maps (zero or
  * one shuffle), so they scale embarrassingly — at 100 TB these run at scan
  * speed with full column pruning.
  */
object TextAnalysis {

  val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Per-document quality features + a composite score. Pure map — no
    * shuffle at all; every expression is codegen'd (no UDFs). */
  def quality(spark: SparkSession, sfDir: String): DataFrame =
    qualityOfTokenized(Tables.documents(spark, sfDir)
      .withColumn("t", TextOps.tokens(col("text"))))

  /** Core of [[quality]] over any (doc_id, text, t) frame — callers that
    * tokenize once for several consumers (the curation composite) feed
    * their shared projection here. */
  def qualityOfTokenized(d: DataFrame): DataFrame = {
    val stopList = Stopwords.map(s => s"'$s'").mkString(", ")
    d
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .withColumn("sum_tok_len", expr("aggregate(transform(t, x -> length(x)), 0, (acc, x) -> acc + x)"))
      .withColumn("n_stop", expr(s"size(filter(t, x -> x IN ($stopList)))"))
      .withColumn("avg_token_len",
        round(col("sum_tok_len").cast("double") / col("n_tokens").cast("double"), 6))
      .withColumn("punct_ratio",
        round(length(regexp_replace(col("text"), "[^.!?,;:]", "")).cast("double") /
          length(col("text")).cast("double"), 6))
      .withColumn("stopword_ratio",
        round(col("n_stop").cast("double") / col("n_tokens").cast("double"), 6))
      .withColumn("quality_score",
        round(col("n_stop").cast("double") / col("n_tokens").cast("double") * 0.3
          + least(col("n_tokens"), lit(100L)).cast("double") / 100.0 * 0.4
          + (lit(1.0) - length(regexp_replace(col("text"), "[^.!?,;:]", "")).cast("double") /
              length(col("text")).cast("double")) * 0.3, 6))
      .filter(col("n_tokens") > 0)
      .select("doc_id", "n_tokens", "avg_token_len", "punct_ratio", "stopword_ratio", "quality_score")
  }

  /** DISTINCT-n DIVERSITY (Li et al. 2016's distinct-1/2/3, the standard
    * text-diversity report, here per training-data SOURCE): for
    * n ∈ {1,2,3}, total n-grams, distinct n-grams, and their ratio in ppm
    * — the dashboard that catches a collapsed/templated source (low
    * distinct-2/3) before it trains a degenerate model. Integer-exact:
    * two counts and one cross-multiplied ratio, no floats.
    *
    * Scale: the corpus is scanned once per n (narrow gram explode); the
    * two-phase count_distinct aggregation is keyed on (source, n, gram) —
    * bounded by the distinct-gram vocabulary, with map-side partials
    * absorbing repeats; output is 3·|sources| rows at any corpus size. */
  def distinctN(spark: SparkSession, sfDir: String): DataFrame =
    distinctNOfDocs(Tables.documents(spark, sfDir))

  private[graft] def distinctNOfDocs(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("source"), TextOps.tokens(col("text")).as("t"))
    def grams(n: Int): DataFrame =
      if (n == 1) toks.select(col("source"), lit(1L).as("n"), explode(col("t")).as("g"))
      else toks.filter(size(col("t")) >= n)
        .select(col("source"), lit(n.toLong).as("n"),
          explode(graft.functions.ShinglesExpression.word_shingles(col("t"), n)).as("g"))
    grams(1).unionAll(grams(2)).unionAll(grams(3))
      .groupBy(col("source"), col("n"))
      .agg(count(lit(1)).as("total_grams"), count_distinct(col("g")).as("distinct_grams"))
      .withColumn("distinct_ppm", expr("(distinct_grams * 1000000) div total_grams"))
  }

  val distinctNSql: String =
    s"""WITH toks AS (SELECT source, ${TextOps.tokensSql} AS t FROM documents),
       |grams AS (
       |  SELECT source, CAST(1 AS BIGINT) AS n, unnest(t) AS g FROM toks
       |  UNION ALL
       |  SELECT source, 2, t[i] || ' ' || t[i + 1]
       |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g2
       |  WHERE len(t) >= 2
       |  UNION ALL
       |  SELECT source, 3, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
       |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g3
       |  WHERE len(t) >= 3)
       |SELECT source, n,
       |  CAST(count(*) AS BIGINT) AS total_grams,
       |  CAST(count(DISTINCT g) AS BIGINT) AS distinct_grams,
       |  CAST((count(DISTINCT g) * 1000000) // count(*) AS BIGINT) AS distinct_ppm
       |FROM grams GROUP BY 1, 2""".stripMargin

  /** Function words for [[gopherGate]]'s stopword rule — the module's
    * [[Stopwords]], standing in for Gopher's published 8-word English list
    * (the, be, to, of, and, that, have, with), most of which never occur
    * in this synthetic corpus; the RULE (≥ 2 distinct present) is the
    * published one and the list is a parameter, exactly as a production
    * deployment swaps in per-language lists. */
  val GopherMinStopwords = 2

  /** GOPHER QUALITY GATE (Rae et al. 2021, appendix A1.1) — the named
    * rule battery production pipelines cite, as a per-document boolean
    * data card plus the AND-of-all keep decision (where [[quality]]
    * reports soft ratios and a composite score, this is the published
    * hard filter). Rules, each in pure integer arithmetic — the ratio
    * thresholds are cross-multiplied so no division ever happens:
    * word count in [50, 100k]; mean word length in [3, 10]
    * (3n ≤ Σlen ≤ 10n); symbol-to-word ratio ≤ 0.1 (10·symbols ≤ n);
    * ≥ 2 distinct function words ([[GopherMinStopwords]]); ≥ 80% of
    * tokens contain an alphabetic character (10·alpha ≥ 8n).
    *
    * Scale: a pure codegen'd map over the scan — zero shuffles, no UDFs;
    * the fixed 7-element stopword probe iterates the LIST not the corpus
    * (`filter(stoplist, s -> array_contains(t, s))`), so per-row cost is
    * O(tokens + |list|). */
  def gopherGate(spark: SparkSession, sfDir: String): DataFrame =
    gopherGateOfDocs(Tables.documents(spark, sfDir))

  private[graft] def gopherGateOfDocs(docs: DataFrame): DataFrame = {
    val stopArr = Stopwords.map(s => s"'$s'").mkString(", ")
    docs
      .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("t"))
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .filter(col("n_tokens") > 0)
      .withColumn("sum_tok_len",
        expr("aggregate(transform(t, x -> length(x)), 0, (acc, x) -> acc + x)").cast("long"))
      .withColumn("n_symbols",
        length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")).cast("long"))
      .withColumn("n_stop",
        expr(s"size(filter(array($stopArr), s -> array_contains(t, s)))").cast("long"))
      .withColumn("n_alpha",
        expr("size(filter(t, x -> x rlike '[a-z]'))").cast("long"))
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens").between(50L, 100000L), 1L).otherwise(0L).as("r_wordcount"),
        when(col("sum_tok_len") >= col("n_tokens") * 3 &&
          col("sum_tok_len") <= col("n_tokens") * 10, 1L).otherwise(0L).as("r_mean_len"),
        when(col("n_symbols") * 10 <= col("n_tokens"), 1L).otherwise(0L).as("r_symbol"),
        when(col("n_stop") >= GopherMinStopwords, 1L).otherwise(0L).as("r_stopwords"),
        when(col("n_alpha") * 10 >= col("n_tokens") * 8, 1L).otherwise(0L).as("r_alpha"))
      .withColumn("keep",
        (col("r_wordcount") * col("r_mean_len") * col("r_symbol") *
          col("r_stopwords") * col("r_alpha")).as("keep"))
  }

  val gopherGateSql: String = {
    val stopArr = Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH toks AS (SELECT doc_id, text, ${TextOps.tokensSql} AS t FROM documents),
       |m AS (SELECT doc_id,
       |    CAST(len(t) AS BIGINT) AS n_tokens,
       |    CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS sum_tok_len,
       |    CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_symbols,
       |    CAST(len(list_filter([$stopArr], s -> list_contains(t, s))) AS BIGINT) AS n_stop,
       |    CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha
       |  FROM toks WHERE len(t) > 0)
       |SELECT doc_id, n_tokens,
       |  CAST(CASE WHEN n_tokens BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS BIGINT) AS r_wordcount,
       |  CAST(CASE WHEN sum_tok_len BETWEEN n_tokens * 3 AND n_tokens * 10 THEN 1 ELSE 0 END AS BIGINT) AS r_mean_len,
       |  CAST(CASE WHEN n_symbols * 10 <= n_tokens THEN 1 ELSE 0 END AS BIGINT) AS r_symbol,
       |  CAST(CASE WHEN n_stop >= $GopherMinStopwords THEN 1 ELSE 0 END AS BIGINT) AS r_stopwords,
       |  CAST(CASE WHEN n_alpha * 10 >= n_tokens * 8 THEN 1 ELSE 0 END AS BIGINT) AS r_alpha,
       |  CAST(CASE WHEN n_tokens BETWEEN 50 AND 100000 THEN 1 ELSE 0 END
       |     * CASE WHEN sum_tok_len BETWEEN n_tokens * 3 AND n_tokens * 10 THEN 1 ELSE 0 END
       |     * CASE WHEN n_symbols * 10 <= n_tokens THEN 1 ELSE 0 END
       |     * CASE WHEN n_stop >= $GopherMinStopwords THEN 1 ELSE 0 END
       |     * CASE WHEN n_alpha * 10 >= n_tokens * 8 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM m""".stripMargin
  }

  /** The composite-score formula as SQL text over columns (n_stop,
    * n_tokens, n_punct, n_chars) — ONE definition shared by [[qualitySql]]
    * and the keep-best dedup oracle, so the ranking score cannot silently
    * diverge from the reported score. */
  val qualityScoreSqlExpr: String =
    """round(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 0.3
      |    + CAST(least(n_tokens, 100) AS DOUBLE) / 100.0 * 0.4
      |    + (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.3, 6)""".stripMargin

  /** CTE text `qg(doc_id, n_tokens, sum_tok_len, n_stop, n_punct,
    * n_chars)` — the quality feature extraction over `documents`, shared
    * by [[qualitySql]] and composed oracles. */
  val qualityFeatureCtes: String = {
    val stopList = Stopwords.map(s => s"'$s'").mkString(", ")
    s"""qf AS (
       |  SELECT doc_id, ${TextOps.tokensSql} AS t, text FROM documents),
       |qg AS (
       |  SELECT doc_id,
       |    CAST(len(t) AS BIGINT) AS n_tokens,
       |    list_sum(list_transform(t, x -> length(x))) AS sum_tok_len,
       |    len(list_filter(t, x -> x IN ($stopList))) AS n_stop,
       |    length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
       |    length(text) AS n_chars
       |  FROM qf)""".stripMargin
  }

  val qualitySql: String =
    s"""WITH $qualityFeatureCtes
       |SELECT doc_id, n_tokens,
       |  round(CAST(sum_tok_len AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS avg_token_len,
       |  round(CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE), 6) AS punct_ratio,
       |  round(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS stopword_ratio,
       |  $qualityScoreSqlExpr AS quality_score
       |FROM qg WHERE n_tokens > 0""".stripMargin

  /** Language-marker vote lists (tiny, broadcast as literals into the
    * expression — no dimension table needed). */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "to"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "los", "las", "que", "y"))

  /** N-gram/stopword language ID: count marker hits per language, pick the
    * argmax (ties broken by language code; docs with zero hits → "und").
    * One doc_id-keyed shuffle over marker hits only — the non-marker tokens
    * are filtered out before the exchange. */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val markerCase = LangMarkers.toSeq.sortBy(_._1).map { case (lang, ws) =>
      s"WHEN tok IN (${ws.map(w => s"'$w'").mkString(", ")}) THEN '$lang'"
    }.mkString(" ")
    val votes = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .withColumn("lang_vote", expr(s"CASE $markerCase END"))
      .filter(col("lang_vote").isNotNull)
      .groupBy(col("doc_id"), col("lang_vote"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("votes").desc, col("lang_vote").asc)
    val top = votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id").as("v_doc_id"), col("lang_vote"), col("votes"))
    Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(top, col("doc_id") === col("v_doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lang_vote"), lit("und")).as("pred_lang"),
        coalesce(col("votes"), lit(0L)).as("votes"))
  }

  val langIdSql: String = {
    val markerCase = LangMarkers.toSeq.sortBy(_._1).map { case (lang, ws) =>
      s"WHEN tok IN (${ws.map(w => s"'$w'").mkString(", ")}) THEN '$lang'"
    }.mkString(" ")
    s"""WITH occ AS (SELECT doc_id, unnest(${TextOps.tokensSql}) AS tok FROM documents),
       |v AS (SELECT doc_id, lang_vote, count(*) AS votes FROM (
       |    SELECT doc_id, CASE $markerCase END AS lang_vote FROM occ)
       |  WHERE lang_vote IS NOT NULL GROUP BY doc_id, lang_vote),
       |top AS (SELECT doc_id, lang_vote, votes FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY votes DESC, lang_vote ASC) AS rn
       |    FROM v) WHERE rn = 1)
       |SELECT d.doc_id, coalesce(top.lang_vote, 'und') AS pred_lang,
       |  coalesce(top.votes, 0) AS votes
       |FROM documents d LEFT JOIN top ON d.doc_id = top.doc_id""".stripMargin
  }

  /** Token accounting per source: whitespace tokens, BPE-ish segments
    * (letter runs / single digits / single punctuation), characters. */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))).cast("long").as("ws_tokens"),
        sum(size(regexp_extract_all(lower(col("text")), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))))
          .cast("long").as("bpe_tokens"),
        sum(length(col("text"))).cast("long").as("n_chars"))

  val tokenCountSql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS ws_tokens,
      |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))) AS BIGINT) AS bpe_tokens,
      |  CAST(sum(length(text)) AS BIGINT) AS n_chars
      |FROM documents GROUP BY source""".stripMargin

  /** Fixed-point scale for [[tokenDiversity]] (9 decimal digits, the
    * [[graft.operators.Curation.LmScale]] discipline). */
  val DivScale = 1000000000L

  /** Per-document LEXICAL-DIVERSITY card: type-token ratio, the Simpson /
    * collision index Σ(c/n)², its inverse (the EFFECTIVE vocabulary size —
    * how many equally-frequent types would produce the same repetition),
    * and the top-token mass. Low diversity flags templated/boilerplate/
    * keyword-stuffed text the way Gopher's repetition gates do, but over
    * the WHOLE unigram distribution instead of the single top n-gram
    * ([[graft.operators.Curation.repetition]]'s complement).
    *
    * Deliberate variant: Rényi-2 (collision) diversity replaces Shannon
    * entropy — Shannon needs transcendental `log` floats that never
    * hash-match across engines (the [[graft.operators.Curation.lmScore]]
    * rationale), while Σc², n² and their ratios are exact integer
    * arithmetic at any scale, and −log2 is monotone so the ORDERING of
    * documents is the one entropy would induce on the collision index.
    * Wide intermediates (Σc²·10⁹, n²·10⁹) run in DECIMAL(38,0) with a
    * DuckDB HUGEINT twin (the `events_ewma` overflow discipline): int64
    * would wrap for documents past ~3·10⁹ tokens of one type.
    *
    * Plan: explode → one (doc_id, token) aggregation with map-side
    * partials → one doc_id aggregation; shuffle bounded by distinct
    * doc-term pairs, then by docs — never token volume after the partial
    * agg. All expressions codegen'd; zero-token docs carry no rows in
    * either engine (explode and unnest both drop them). */
  def tokenDiversity(spark: SparkSession, sfDir: String): DataFrame =
    tokenDiversityOfDocs(Tables.documents(spark, sfDir))

  /** Core of [[tokenDiversity]] over any (doc_id, text) frame — separated
    * so specs can drive crafted distributions (all-identical tokens,
    * all-distinct tokens) the corpus may not contain. */
  private[operators] def tokenDiversityOfDocs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("sumsq"),
        max(col("c")).as("cmax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        expr(s"(CAST($DivScale AS DECIMAL(38,0)) * n_types) div n_tokens").as("ttr_fp"),
        expr(s"(CAST($DivScale AS DECIMAL(38,0)) * sumsq) div (CAST(n_tokens AS DECIMAL(38,0)) * n_tokens)")
          .as("simpson_fp"),
        expr(s"(CAST($DivScale AS DECIMAL(38,0)) * n_tokens * n_tokens) div sumsq")
          .as("eff_types_fp"),
        expr(s"(CAST($DivScale AS DECIMAL(38,0)) * cmax) div n_tokens").as("top_frac_fp"))

  val tokenDiversitySql: String =
    s"""WITH occ AS (SELECT doc_id, tok, count(*) AS c FROM (
       |    SELECT doc_id, unnest(${TextOps.tokensSql}) AS tok FROM documents)
       |  GROUP BY 1, 2),
       |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    count(*) AS n_types, sum(CAST(c AS HUGEINT) * c) AS sumsq,
       |    max(c) AS cmax
       |  FROM occ GROUP BY 1)
       |SELECT doc_id, n_tokens, CAST(n_types AS BIGINT) AS n_types,
       |  CAST((CAST($DivScale AS HUGEINT) * n_types) // n_tokens AS BIGINT) AS ttr_fp,
       |  CAST((CAST($DivScale AS HUGEINT) * sumsq)
       |    // (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT) AS simpson_fp,
       |  CAST((CAST($DivScale AS HUGEINT) * n_tokens * n_tokens) // sumsq AS BIGINT) AS eff_types_fp,
       |  CAST((CAST($DivScale AS HUGEINT) * cmax) // n_tokens AS BIGINT) AS top_frac_fp
       |FROM d""".stripMargin

  /** Corpus vocabulary statistics: top-k terms by DOCUMENT frequency (the
    * IDF denominator a tokenizer/filtering pipeline needs), with collection
    * frequency alongside. Plan: explode → one (term) aggregation with
    * map-side partials (count-distinct expands to a two-phase aggregate on
    * (term, doc_id)) → TakeOrderedAndProject for the top-k — no global
    * sort, shuffle bounded by the vocabulary, not the token stream.
    * Output stays integral (df, cf) so cross-engine parity is exact; a
    * downstream IDF is one deterministic `ln` away but floats would hash
    * differently across libm implementations. */
  def termDf(spark: SparkSession, sfDir: String, topK: Int = 30): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("cf"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(topK)

  def termDfSql(topK: Int = 30): String =
    s"""SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
       |FROM (SELECT doc_id, unnest(${TextOps.tokensSql}) AS term FROM documents)
       |GROUP BY term ORDER BY df DESC, term LIMIT $topK""".stripMargin

  /** word2vec phrase-rule discount: pairs seen ≤ δ times can never pass,
    * killing one-off adjacencies before any ratio flatters them. */
  val PhraseDelta = 5L
  /** word2vec phrase-rule threshold (Mikolov et al. NeurIPS 2013 §4 use
    * single digits to low tens; Gensim's default is 10). */
  val PhraseThreshold = 10L
  val PhraseTopK = 50

  /** COLLOCATION / PHRASE DETECTION — the word2vec phrase pass (Mikolov et
    * al. NeurIPS 2013 §4; Gensim `Phrases`): adjacent word pairs whose
    * co-occurrence beats chance by the discounted ratio
    * `(c_ab − δ)·N / (c_a·c_b) ≥ T` are vocabulary-merge candidates — the
    * corpus statistic a tokenizer/vocab-prep stage mines before training
    * ("new york" becomes one token; "of the" does not, because its parts
    * are everywhere). Reported for the top-[[PhraseTopK]] bigrams by count
    * with the verdict DIVISION-FREE: the rule evaluates cross-multiplied
    * in DECIMAL(38,0) (HUGEINT in the twin) — products reach N², past
    * int64 at real corpus sizes, and comparisons in wide integers are
    * exact where a rounded division would wobble (the [[gopherGate]]
    * discipline). Output columns stay BIGINT.
    *
    * Shape: one token scan → unigram aggregation (vocab-bounded,
    * map-side combined) + adjacent-pair aggregation (bigram-vocab-bounded);
    * top-k compiles to TakeOrderedAndProject (count desc, pair asc — ASCII
    * tokens, so the string tie-break is engine-portable); the 50-row
    * shortlist then BROADCASTS against the unigram counts twice and the
    * 1-row total rides a broadcast crossJoin. No corpus-scale join
    * anywhere. */
  def phraseDetect(spark: SparkSession, sfDir: String): DataFrame =
    phraseDetectOf(Tables.documents(spark, sfDir))

  /** Core of [[phraseDetect]] over any (text) frame. */
  private[graft] def phraseDetectOf(docs: DataFrame): DataFrame = {
    val toks = docs.select(TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 1)
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val n = uni.agg(sum(col("c")).as("n_total"))
    val topk = toks.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), i -> named_struct('wa', element_at(t, i), 'wb', element_at(t, i + 1)))")).as("p"))
      .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
      .groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("c_ab"))
      .orderBy(col("c_ab").desc, col("wa").asc, col("wb").asc)
      .limit(PhraseTopK)
    val dec = "DECIMAL(38,0)"
    val withA = uni.select(col("w").as("wa"), col("c").as("c_a"))
      .join(broadcast(topk), Seq("wa"))
    uni.select(col("w").as("wb"), col("c").as("c_b"))
      .join(broadcast(withA), Seq("wb"))
      .crossJoin(broadcast(n))
      .withColumn("is_phrase",
        when(expr(s"(CAST(c_ab AS $dec) - $PhraseDelta) * CAST(n_total AS $dec)" +
            s" >= $PhraseThreshold * CAST(c_a AS $dec) * CAST(c_b AS $dec)"), 1L)
          .otherwise(0L))
      .select(col("wa"), col("wb"), col("c_ab"), col("c_a"), col("c_b"),
        col("n_total"), col("is_phrase"))
  }

  /** DuckDB twin — HUGEINT plays DECIMAL(38,0) in the cross-multiplied
    * rule; every output column casts back to BIGINT. */
  val phraseDetectSql: String =
    s"""WITH toks AS (SELECT ${TextOps.tokensSql} AS t FROM documents),
       |uni AS (SELECT w, count(*) AS c FROM (SELECT unnest(t) AS w FROM toks WHERE len(t) >= 1) GROUP BY 1),
       |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni),
       |bi AS (SELECT t[i] AS wa, t[i + 1] AS wb, count(*) AS c_ab
       |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
       |  WHERE len(t) >= 2 GROUP BY 1, 2),
       |topk AS (SELECT * FROM bi ORDER BY c_ab DESC, wa ASC, wb ASC LIMIT $PhraseTopK)
       |SELECT topk.wa, topk.wb, CAST(topk.c_ab AS BIGINT) AS c_ab,
       |  CAST(ua.c AS BIGINT) AS c_a, CAST(ub.c AS BIGINT) AS c_b, n.n_total,
       |  CAST(CASE WHEN (CAST(topk.c_ab AS HUGEINT) - $PhraseDelta) * n.n_total
       |      >= $PhraseThreshold * CAST(ua.c AS HUGEINT) * CAST(ub.c AS HUGEINT)
       |    THEN 1 ELSE 0 END AS BIGINT) AS is_phrase
       |FROM topk JOIN uni ua ON topk.wa = ua.w JOIN uni ub ON topk.wb = ub.w CROSS JOIN n""".stripMargin

  /** Token-count histogram with fixed integer-width bins (`n_tokens div
    * 32`): the length-distribution profile a curation pipeline reports
    * before choosing truncation/packing budgets. One aggregation whose
    * output is |bins| rows — scan-bound at any scale, all-integer. */
  def tokenHistogram(spark: SparkSession, sfDir: String, binWidth: Int = 32): DataFrame =
    Tables.documents(spark, sfDir)
      .select(size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(expr(s"n_tokens div $binWidth").as("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))

  def tokenHistogramSql(binWidth: Int = 32): String =
    s"""WITH t AS (SELECT CAST(len(${TextOps.tokensSql}) AS BIGINT) AS n_tokens FROM documents)
       |SELECT n_tokens // $binWidth AS bin, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       |FROM t GROUP BY 1""".stripMargin

  /** EXACT per-language document-length quartiles by rank (value at
    * `ceil(q·n)`): the deterministic, engine-portable profiling op —
    * `approx_percentile` sketches are cheaper at 100 TB but neither
    * reproducible across engines nor across partition layouts, so the
    * exact-by-rank form is what a correctness-gated pipeline reports.
    * Plan: one stratum shuffle, per-stratum sort for row_number, then a
    * conditional-max aggregate picks the quartile ranks; all outputs
    * integral. (0.25/0.5/0.75 are exact binary fractions and n < 2^53, so
    * ceil(n·q) is identical arithmetic in both engines.) */
  def lengthQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars").asc, col("doc_id").asc)
    val counts = Tables.documents(spark, sfDir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("n_chars"), col("doc_id"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .join(counts, Seq("lang"))
      .groupBy(col("lang"))
      .agg(
        max(col("n")).as("n_docs"),
        max(when(col("rn") === ceil(col("n") * 0.25).cast("long"), col("n_chars"))).as("p25"),
        max(when(col("rn") === ceil(col("n") * 0.5).cast("long"), col("n_chars"))).as("p50"),
        max(when(col("rn") === ceil(col("n") * 0.75).cast("long"), col("n_chars"))).as("p75"),
        max(when(col("rn") === col("n"), col("n_chars"))).as("p100"))
  }

  val lengthQuantilesSql: String =
    """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      |r AS (SELECT lang, n_chars, doc_id,
      |        row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn
      |      FROM documents)
      |SELECT r.lang, max(n) AS n_docs,
      |  max(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT) THEN n_chars END) AS p25,
      |  max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN n_chars END) AS p50,
      |  max(CASE WHEN rn = CAST(ceil(n * 0.75) AS BIGINT) THEN n_chars END) AS p75,
      |  max(CASE WHEN rn = n THEN n_chars END) AS p100
      |FROM r JOIN c ON r.lang = c.lang GROUP BY r.lang""".stripMargin

  /** Histogram bin width (chars) for [[histQuantiles]] — the estimator's
    * error bound: every estimate is within one bin width of exact. */
  val HistBinWidth = 256L

  /** Quantiles by MERGEABLE fixed-width HISTOGRAM sketch — the scale path
    * paired with the exact [[lengthQuantiles]], the same way the KMV
    * sketch pairs with exact distinct counting. The exact form sorts every
    * row through a per-group window (a full per-language sort of the
    * corpus); the sketch reduces each partition to O(bins) counts that
    * merge by ADDITION — Spark's partial aggregation IS the merge, so at
    * 100 TB the exchange carries bin counts, not documents. This is the
    * equi-width cousin of t-digest/KLL chosen because its estimate is a
    * pure integer function of the counts, hence oracle-verifiable
    * bit-for-bit where rank-interpolating sketches are not.
    *
    * Estimate = upper edge of the first bin whose cumulative count reaches
    * the target rank (`cum·k ≥ q·n` in integers, i.e. cum ≥ ⌈q·n⌉): the
    * bin holding the exact rank-statistic, so
    * `est − binWidth ≤ exact < est` — the spec pins that bound against
    * [[lengthQuantiles]]. The per-language cumulative pass runs over
    * O(bins) rows per group, not the corpus. */
  def histQuantiles(spark: SparkSession, sfDir: String): DataFrame =
    histQuantilesOfDocs(Tables.documents(spark, sfDir))

  private[graft] def histQuantilesOfDocs(docs: DataFrame): DataFrame = {
    val bins = docs
      .select(col("lang"), expr(s"n_chars div $HistBinWidth").as("bin"))
      .groupBy(col("lang"), col("bin")).agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("lang"))
    def est(reachNum: Int, reachDen: Int) = // cum·den ≥ num·n  ⟺  cum ≥ ⌈n·num/den⌉
      min(when(col("cum") * reachDen >= col("n") * reachNum,
        (col("bin") + 1L) * HistBinWidth))
    bins.withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wTot))
      .groupBy(col("lang"))
      .agg(max(col("n")).as("n_docs"),
        est(1, 4).as("p25_est"), est(1, 2).as("p50_est"),
        est(3, 4).as("p75_est"), est(9, 10).as("p90_est"))
  }

  val histQuantilesSql: String =
    s"""WITH b AS (SELECT lang, n_chars // $HistBinWidth AS bin, count(*) AS c
       |  FROM documents GROUP BY 1, 2),
       |t AS (SELECT lang, bin, c,
       |    sum(c) OVER (PARTITION BY lang ORDER BY bin) AS cum,
       |    sum(c) OVER (PARTITION BY lang) AS n
       |  FROM b)
       |SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
       |  CAST(min(CASE WHEN cum * 4 >= n THEN (bin + 1) * $HistBinWidth END) AS BIGINT) AS p25_est,
       |  CAST(min(CASE WHEN cum * 2 >= n THEN (bin + 1) * $HistBinWidth END) AS BIGINT) AS p50_est,
       |  CAST(min(CASE WHEN cum * 4 >= n * 3 THEN (bin + 1) * $HistBinWidth END) AS BIGINT) AS p75_est,
       |  CAST(min(CASE WHEN cum * 10 >= n * 9 THEN (bin + 1) * $HistBinWidth END) AS BIGINT) AS p90_est
       |FROM t GROUP BY lang""".stripMargin

  /** KMV sketch size: estimate from the k smallest distinct hash values. */
  val KmvK = 64

  /** `(KmvK-1) · 2^56` — the KMV numerator for a hash uniform on
    * [0, 2^56) ([[graft.operators.Hashing.md5Long]] keeps 56 md5 bits);
    * 63·2^56 ≈ 4.5e18 stays inside int64, so the whole estimator is exact
    * integer arithmetic. */
  val KmvNumerator: Long = (KmvK - 1).toLong * (1L << 56)

  /** Distinct word-3-gram (phrase) cardinality per language, exact AND by
    * KMV (k-minimum-values) sketch — the mergeable distinct-count estimator
    * (Bar-Yossef et al. 2002; the engine-agnostic cousin of HyperLogLog,
    * chosen here because its estimate is a pure integer function of hash
    * values, hence oracle-verifiable bit-for-bit — [[hllDistinct]] closes
    * the same gap for HLL itself with a fixed-point harmonic mean, so the
    * two standard distinct sketches now BOTH verify against the oracle:
    * KMV owns the small-cardinality regime via its exact rule, HLL the
    * n ≫ m regime). Counting distinct n-grams is the 100 TB job
    * this sketch exists for: the exact answer needs a shuffle of every
    * distinct phrase, the sketch needs k·|groups| longs.
    *
    * Estimate = (k−1)·2^56 div h_(k) with h_(k) the k-th smallest distinct
    * 56-bit hash; groups holding fewer than k distinct hashes report their
    * exact count (the standard small-range rule). The `rn ≤ k` window
    * filter compiles to WindowGroupLimit, so every map task forwards AT
    * MOST k hashes per group before the exchange — exactly how the sketch
    * merges on a 1000-executor cluster: O(groups·k) shuffle for the
    * estimate, independent of corpus size. The exact count sits alongside
    * as the (expensive at scale) validation column: the judge of the
    * sketch, not part of it. */
  def distinctKmv(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Tables.documents(spark, sfDir)
      .select(col("lang"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("lang"),
        explode(graft.functions.ShinglesExpression.word_shingles(col("t"), 3)).as("s"))
      .select(col("lang"), Hashing.md5Long(col("s")).as("h"))
      .distinct()
      // both consumers (k-th rank and the exact count) read the distinct
      // pairs: materialize once instead of re-running tokenize+shingle
      .localCheckpoint()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("h").asc)
    val kth = pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= KmvK) // WindowGroupLimit: ≤ k rows/group shuffle
      .filter(col("rn") === KmvK)
      .select(col("lang"), col("h").as("kth_h"))
    pairs.groupBy(col("lang")).agg(count(lit(1)).as("n_exact"))
      .join(kth, Seq("lang"), "left")
      .select(col("lang"), col("n_exact"),
        when(col("kth_h").isNull, col("n_exact"))
          .otherwise(expr(s"$KmvNumerator div kth_h")).as("kmv_estimate"))
  }

  val distinctKmvSql: String =
    s"""WITH toks AS (SELECT lang, ${TextOps.tokensSql} AS t FROM documents),
       |sh AS (SELECT lang, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS s
       |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g
       |  WHERE len(t) >= 3),
       |pairs AS (SELECT DISTINCT lang, ${Hashing.md5LongSql("s")} AS h FROM sh),
       |kth AS (SELECT lang, h AS kth_h FROM (
       |    SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
       |    FROM pairs) WHERE rn = $KmvK),
       |ex AS (SELECT lang, count(*) AS n_exact FROM pairs GROUP BY 1)
       |SELECT ex.lang, CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(CASE WHEN kth_h IS NULL THEN n_exact
       |            ELSE $KmvNumerator // kth_h END AS BIGINT) AS kmv_estimate
       |FROM ex LEFT JOIN kth ON ex.lang = kth.lang""".stripMargin

  /** HyperLogLog register count: 2^9 = 512 registers → ~4.6% standard
    * error. Bucket = low 9 hash bits; rho = trailing-zeros+1 of the
    * remaining 47 bits, CAPPED at [[HllRhoMax]] = 45 — the cap keeps the
    * whole fixed-point estimator inside int64 (see [[HllNumerator]]) and
    * is statistically free: a register reaches rho > 45 only after
    * ~2^45 ≈ 3.5e13 distinct elements LAND IN THAT ONE REGISTER, and even
    * then the capped summand inflates Z by < 1 part in 2^45 of a full
    * register's weight. */
  val HllP = 9
  val HllM: Long = 1L << HllP
  val HllRhoMax = 45

  /** `floor(0.7197 · m²) · 2^45` — the whole HLL numerator as ONE exact
    * int64 constant: α₅₁₂ ≈ 0.7213/(1+1.079/512) ≈ 0.7197 enters as the
    * rational 7197/10000, and the 2^45 factor is the fixed-point scale of
    * the harmonic-mean denominator (rho ≤ 45 ⇒ every register summand
    * 2^(45−rho) ≥ 1, so nothing floors to zero and the integer sum is the
    * EXACT scaled harmonic mean). 188660·2^45 ≈ 6.6e18 < 2^63; the
    * denominator tops out at m·2^45 ≈ 1.8e16. */
  val HllNumerator: Long = (7197L * HllM * HllM / 10000L) * (1L << 45)

  /** Distinct `event_id` cardinality per event_type AND merged, by
    * HyperLogLog (Flajolet et al. 2007) in EXACT fixed-point integer form —
    * the float-free spelling that makes HLL oracle-verifiable bit-for-bit
    * (the reason [[distinctKmv]]'s doc gives for historically preferring
    * KMV): every register contributes 2^(50−rho) to an integer harmonic
    * sum Z, and est = [[HllNumerator]] div Z. DELIBERATE VARIANT: no
    * small-range (linear-counting) correction — the raw estimator's
    * contract is the n ≫ m regime a 100 TB ingest lives in (id streams,
    * n-gram spaces); the small-range regime belongs to [[distinctKmv]]'s
    * exact rule. Estimates at tiny scale factors are therefore expectedly
    * biased high — the exact column rides alongside precisely so the bias
    * is measurable, and the sf0.01 corpus (10k ids, n/m ≈ 20) sits in the
    * valid regime.
    *
    * THE MERGE IS THE POINT: the 'ALL' row's registers are
    * max-per-register over the per-type sketches — 512 longs per sketch
    * moved, never re-hashed data. On a 1000-executor cluster each
    * executor's partial registers merge the same way (map-side combined
    * max), so the full pipeline is one |types|·m-row shuffle: the sketch
    * answer costs O(types·m) longs regardless of corpus size, while the
    * exact validation column pays the full distinct shuffle next to it. */
  def hllDistinct(spark: SparkSession, sfDir: String): DataFrame =
    hllDistinctOf(Tables.events(spark, sfDir))

  /** One element's HLL register update from its 56-bit hash `h`: `bucket`
    * = h mod m, and `rho` = trailing zeros + 1 of h div m, capped at
    * [[HllRhoMax]] (h div m = 0 reads as the cap). Shared by [[hllDistinct]]
    * and the streaming twin, [[graft.streaming.StreamingOps.streamingHll]];
    * `hllDistinctSql` and `streamingHllSql` spell the same math in DuckDB. */
  private[graft] def hllRegister(h: Column): Seq[Column] = {
    val x = call_function("div", h, lit(HllM))
    Seq((h % HllM).as("bucket"),
      when(x === 0, HllRhoMax).otherwise(least(bit_count((x bitwiseAND -x) - 1) + 1, lit(HllRhoMax)))
        .cast("long").as("rho"))
  }

  /** Core over an explicit events frame — the spec feeds a crafted corpus
    * with an event_type literally named 'ALL' to prove the merged row
    * cannot collide with it. */
  def hllDistinctOf(events: DataFrame): DataFrame = {
    val ids = events
      .filter(col("event_id").isNotNull)
      .select(col("event_type") +: hllRegister(Hashing.md5Long(col("event_id").cast("string"))): _*)
      .localCheckpoint() // registers + exact both read the hashed stream
    val regs = ids.groupBy(col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("r"))
      .localCheckpoint() // per-type sketches; the ALL row merges THESE
    // `merged` rides as an explicit 0/1 key next to the display scope: the
    // previous 'ALL' display string doubling as the JOIN key meant an
    // event_type literally named 'ALL' cross-matched the merged row in the
    // est/exact join — identically in both engines, so the oracle was
    // blind to it (round-8 ADVICE). With the flag in the join key the
    // collision is unrepresentable.
    val regsAll = regs.groupBy(col("bucket")).agg(max(col("r")).as("r"))
      .select(lit("ALL").as("scope"), lit(1L).as("merged"), col("bucket"), col("r"))
    val allRegs = regs.select(col("event_type").as("scope"),
        lit(0L).as("merged"), col("bucket"), col("r"))
      .unionAll(regsAll)
    val est = allRegs.groupBy(col("scope"), col("merged"))
      .agg(count(lit(1)).as("n_used"),
        sum(expr("shiftleft(1L, CAST(45 - r AS INT))")).as("z_present"))
      .select(col("scope"), col("merged"), col("n_used"),
        expr(s"$HllNumerator div (($HllM - n_used) * ${1L << 45}L + z_present)")
          .as("hll_est"))
    val exact = events
      .filter(col("event_id").isNotNull)
      .select(col("event_type"), col("event_id")).distinct()
      .localCheckpoint(eager = false)
    val exactByType = exact.groupBy(col("event_type").as("scope"))
      .agg(count(lit(1)).as("n_exact")).withColumn("merged", lit(0L))
    val exactAll = exact.select(col("event_id")).distinct()
      .agg(count(lit(1)).as("n_exact"))
      .select(lit("ALL").as("scope"), col("n_exact")).withColumn("merged", lit(1L))
    est.join(exactByType.unionAll(exactAll), Seq("scope", "merged"))
      .select(col("scope"), col("merged"), col("n_exact"), col("hll_est"), col("n_used"))
  }

  val hllDistinctSql: String = {
    val h = Hashing.md5LongSql("CAST(event_id AS VARCHAR)")
    s"""WITH ids AS (SELECT event_type,
       |    ($h) % $HllM AS bucket, ($h) // $HllM AS x
       |  FROM events WHERE event_id IS NOT NULL),
       |rho AS (SELECT event_type, bucket,
       |    CAST(CASE WHEN x = 0 THEN $HllRhoMax
       |         ELSE least(bit_count((x & (-x)) - 1) + 1, $HllRhoMax) END AS BIGINT) AS rho
       |  FROM ids),
       |regs AS (SELECT event_type, bucket, max(rho) AS r FROM rho GROUP BY 1, 2),
       |all_regs AS (
       |  SELECT event_type AS scope, CAST(0 AS BIGINT) AS merged, bucket, r FROM regs
       |  UNION ALL
       |  SELECT 'ALL', CAST(1 AS BIGINT), bucket, max(r) FROM regs GROUP BY 3),
       |est AS (SELECT scope, merged, count(*) AS n_used,
       |    $HllNumerator // (($HllM - count(*)) * ${1L << 45} + sum(1::BIGINT << (45 - r)))
       |      AS hll_est
       |  FROM all_regs GROUP BY 1, 2),
       |exact AS (
       |  SELECT event_type AS scope, CAST(0 AS BIGINT) AS merged,
       |    count(DISTINCT event_id) AS n_exact
       |  FROM events WHERE event_id IS NOT NULL GROUP BY 1
       |  UNION ALL
       |  SELECT 'ALL', CAST(1 AS BIGINT), count(DISTINCT event_id)
       |  FROM events WHERE event_id IS NOT NULL)
       |SELECT est.scope, est.merged, CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(hll_est AS BIGINT) AS hll_est, CAST(n_used AS BIGINT) AS n_used
       |FROM est JOIN exact ON est.scope = exact.scope AND est.merged = exact.merged""".stripMargin
  }

  /** Count-Min sketch geometry: depth (independent hash rows) × width
    * (counters per row). 4×1024 longs = 32 KiB per sketch — constant
    * regardless of corpus size, the whole point of the structure. */
  val CmsDepth = 4
  val CmsWidth = 1024
  val CmsTopK = 20

  private[graft] def cmsBucket(i: org.apache.spark.sql.Column, word: org.apache.spark.sql.Column) =
    Hashing.md5Long(concat(i.cast("string"), lit(":"), word)) % CmsWidth

  private def cmsBucketSql(i: String, word: String) =
    s"${Hashing.md5LongSql(s"$i || ':' || $word")} % $CmsWidth"

  /** The (i, bucket) → counter rows of a CMS over a (word, cnt) frequency
    * frame. Built from pre-aggregated counts (counter values are identical
    * to streaming every occurrence — addition commutes), grouped with
    * map-side partial aggregation, so no shuffle ever exceeds depth×width
    * rows per task. Exposed for CmsSpec's mergeability proof. */
  private[graft] def cmsSketch(perWord: DataFrame): DataFrame = {
    val depths = array((0 until CmsDepth).map(lit): _*)
    perWord.select(col("word"), col("cnt"), explode(depths).as("i"))
      .groupBy(col("i"), cmsBucket(col("i"), col("word")).as("b"))
      .agg(sum(col("cnt")).as("c"))
  }

  /** Count-Min-sketch frequency estimation (Cormode–Muthukrishnan 2005) —
    * the mergeable heavy-hitter counterpart to [[distinctKmv]]'s
    * cardinality sketch. Estimate for a word = min over the depth rows of
    * its counter; never an underestimate (collisions only add), proven for
    * EVERY word in CmsSpec. All arithmetic is integer (md5-derived 56-bit
    * hashes, integer min/sum), so the oracle reproduces the sketch
    * bit-for-bit — the same portability rule as the KMV estimator.
    *
    * 100 TB shape: the sketch is depth×width counters — 32 KiB — however
    * large the corpus, and builds with ONE map-side-combined aggregation;
    * merging shards is elementwise addition (the partial-agg combine
    * itself). The exact top-k sits alongside as the validation column,
    * exactly like KMV's exact twin: the judge of the sketch, not part of
    * it. */
  def cmsTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val perWord = Tables.documents(spark, sfDir)
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // feeds both the sketch build and the exact top-k
    val sketch = cmsSketch(perWord)
    val top = perWord.orderBy(col("cnt").desc, col("word")).limit(CmsTopK)
    val probe = top
      .select(col("word"), col("cnt").as("exact_cnt"),
        explode(array((0 until CmsDepth).map(lit): _*)).as("i"))
      .withColumn("b", cmsBucket(col("i"), col("word")))
    probe.join(sketch, Seq("i", "b"))
      .groupBy(col("word"), col("exact_cnt"))
      .agg(min(col("c")).as("cms_est"))
  }

  val cmsTopkSql: String =
    s"""WITH tok AS (SELECT unnest(${TextOps.tokensSql}) AS word FROM documents),
       |perword AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
       |ids(i) AS (VALUES ${(0 until CmsDepth).map(i => s"($i)").mkString(", ")}),
       |sketch AS (SELECT i, ${cmsBucketSql("i", "word")} AS b,
       |    CAST(sum(cnt) AS BIGINT) AS c
       |  FROM perword CROSS JOIN ids GROUP BY 1, 2),
       |top AS (SELECT word, cnt FROM perword ORDER BY cnt DESC, word LIMIT $CmsTopK)
       |SELECT t.word, CAST(t.cnt AS BIGINT) AS exact_cnt, CAST(min(s.c) AS BIGINT) AS cms_est
       |FROM top t CROSS JOIN ids
       |JOIN sketch s ON s.i = ids.i AND s.b = ${cmsBucketSql("ids.i", "t.word")}
       |GROUP BY t.word, t.cnt""".stripMargin

  /** Fixed-point scale for [[langClassify]]'s smoothed class-conditional
    * token likelihoods (9 decimal digits, same scale discipline as
    * [[graft.operators.Curation.LmScale]]). */
  val NbScale = 1000000000L

  /** Model-based classification trained IN-ENGINE — the supervised
    * counterpart of the [[langId]] heuristic, and the same plan a GPT-3
    * style model-based quality filter runs (that one is a binary
    * high/low-quality classifier over tokens; this one classifies `lang`,
    * where the corpus carries ground truth to evaluate against). Training:
    * add-one-smoothed class-conditional token likelihoods
    * `p(w|l) = (C(w,l)+1)/(C(l)+V)` in fixed point. Serving: every doc
    * scores against every class by its MEAN token likelihood (the same
    * deliberate arithmetic-mean-for-log-mean substitution as
    * [[graft.operators.Curation.lmScore]] — transcendental logs never
    * hash-match across engines; the ordering junk-vs-fluent survives),
    * argmax with a lang tie-break. Output: the confusion matrix
    * (actual, predicted, n_docs) — train AND serve AND evaluate in one
    * hash-verified expression, like [[kmeansTrain]] does for clustering.
    *
    * Scale shape: training aggregations are bounded by |vocab|·|classes|;
    * scoring re-shuffles only the per-doc DISTINCT term projection
    * (×|classes|), never raw token volume; class priors/defaults reach
    * every row as a broadcast |classes|-row table. */
  def langClassify(spark: SparkSession, sfDir: String): DataFrame =
    langClassifyOfDocs(Tables.documents(spark, sfDir))

  private[graft] def langClassifyOfDocs(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), col("lang"), explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("lang"), col("w")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // training and scoring both read the term counts
    val cw = tok.groupBy(col("lang").as("m_lang"), col("w"))
      .agg(sum(col("cnt")).as("c_wl"))
    val tot = cw.groupBy(col("m_lang")).agg(sum(col("c_wl")).as("tot_l"))
    val vocab = cw.select(col("w")).distinct().agg(count(lit(1)).as("v"))
    val model = cw.join(tot, "m_lang").crossJoin(broadcast(vocab))
      .select(col("m_lang"), col("w"),
        expr(s"($NbScale * (c_wl + 1)) div (tot_l + v)").as("p_fp"))
    // Per-class smoothing floor for words unseen in that class.
    val classes = tot.crossJoin(broadcast(vocab))
      .select(col("m_lang"), expr(s"$NbScale div (tot_l + v)").as("p0"))
    val scored = tok.crossJoin(broadcast(classes))
      .join(model, Seq("m_lang", "w"), "left")
      .groupBy(col("doc_id"), col("lang"), col("m_lang"))
      .agg(sum(col("cnt")).as("n_tok"),
        sum(col("cnt") * coalesce(col("p_fp"), col("p0"))).as("psum"))
      .select(col("doc_id"), col("lang"), col("m_lang"),
        expr("psum div n_tok").as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("m_lang").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("lang").as("actual_lang"), col("m_lang").as("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
  }

  val langClassifySql: String =
    s"""WITH tok AS (SELECT doc_id, lang, w, count(*) AS cnt FROM (
       |    SELECT doc_id, lang, unnest(${TextOps.tokensSql}) AS w FROM documents)
       |  GROUP BY 1, 2, 3),
       |cw AS (SELECT lang AS m_lang, w, sum(cnt) AS c_wl FROM tok GROUP BY 1, 2),
       |tot AS (SELECT m_lang, sum(c_wl) AS tot_l FROM cw GROUP BY 1),
       |vv AS (SELECT count(DISTINCT w) AS v FROM cw),
       |model AS (SELECT m_lang, w, ($NbScale * (c_wl + 1)) // (tot_l + v) AS p_fp
       |  FROM cw JOIN tot USING (m_lang) CROSS JOIN vv),
       |cls AS (SELECT m_lang, $NbScale // (tot_l + v) AS p0 FROM tot CROSS JOIN vv),
       |sc AS (SELECT t.doc_id, t.lang, c.m_lang,
       |    sum(t.cnt * coalesce(m.p_fp, c.p0)) // sum(t.cnt) AS score
       |  FROM tok t CROSS JOIN cls c
       |  LEFT JOIN model m ON m.m_lang = c.m_lang AND m.w = t.w
       |  GROUP BY 1, 2, 3),
       |pred AS (SELECT doc_id, lang, m_lang, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, m_lang) AS rn FROM sc)
       |SELECT lang AS actual_lang, m_lang AS predicted_lang,
       |  CAST(count(*) AS BIGINT) AS n_docs
       |FROM pred WHERE rn = 1 GROUP BY 1, 2""".stripMargin

  /** Incremental aggregate maintenance — the ETL pattern that keeps corpus
    * statistics current WITHOUT rescanning history: yesterday's per-language
    * state (count + char sum, a materialized artifact — here a checkpointed
    * 80 % "base" split) merges with an aggregation of only the 20 % "delta"
    * batch; sums and counts are associative, so state ⊎ delta ≡ full
    * recompute — which is exactly what the oracle checks, since its SQL
    * scans everything in one pass. The derived mean comes from the MERGED
    * partials (never averaged averages).
    *
    * At 100 TB this is the difference between touching |delta| and touching
    * the corpus: the state table is |languages| rows, the merge is a
    * key-bounded aggregation over state ∪ agg(delta), and history is never
    * re-read. The same algebra is why Spark's partial/final HashAggregate
    * split works — here it is lifted to a user-visible operator across
    * pipeline RUNS instead of within one shuffle. */
  def statsIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    def aggOf(df: DataFrame) = df.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
    // Yesterday's materialized state: checkpointed so the merge genuinely
    // consumes a stored artifact, not a re-derivable lineage.
    val state = aggOf(docs.filter(col("doc_id") % 5 =!= 0)).localCheckpoint()
    val delta = aggOf(docs.filter(col("doc_id") % 5 === 0))
    state.unionAll(delta)
      .groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("total_chars")).as("total_chars"))
      .select(col("lang"), col("n_docs"), col("total_chars"),
        expr("total_chars div n_docs").as("avg_chars"))
  }

  /** Oracle = the FULL recompute: equality proves the state+delta merge
    * loses and duplicates nothing. */
  val statsIncrementalSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(n_chars) // count(*) AS BIGINT) AS avg_chars
      |FROM documents GROUP BY lang""".stripMargin

  /** Feature-hash bucket count for [[classifierGate]] — the fastText /
    * DCLM "hashing trick" dimension (Weinberger et al. ICML 2009; Joulin
    * et al. 2017 §2.1). */
  val ClsBuckets = 4096L

  /** Fixed-point half-width of the classifier weights: each bucket's
    * weight is an integer in [-1000, 1000] (scale 1e-3). */
  val ClsWRange = 1000L

  /** MODEL-BASED quality gate: the hashed linear text classifier every
    * frontier curation pipeline runs after the rule gates (GPT-3's
    * WebText LR filter, CCNet's fastText step, DCLM-Baseline's fastText
    * classifier — the single highest-leverage intervention in the DCLM
    * ablations). Per document: token → md5-hash bucket (the hashing
    * trick, [[ClsBuckets]] dims — vocabulary-free, so the model is a
    * fixed-size array at ANY corpus scale), score = Σ per-token bucket
    * weights, verdict = score > 0. The weights here are a FIXED
    * pseudo-random projection (weight(b) = md5("w:"+b) mod 2001 − 1000)
    * standing in for trained coefficients — training is out of scope, but
    * the serving plumbing (hash → lookup-free weight, per-doc linear
    * score, corpus gate card) is the real thing and is what dominates
    * cost at 100 TB; swapping trained weights in changes one lambda.
    *
    * Plan: the per-doc score is computed ENTIRELY inside one row-level
    * expression — `aggregate(transform(tokens, w∘bucket), 0, +)` — so
    * there is NO token explode and NO per-token shuffle: one codegen'd
    * document scan, then a single (lang, source)-bounded aggregation.
    * This is the shape that wins at 100 TB: token volume never crosses an
    * exchange.
    *
    * Exactness: weights and scores are integers; the card's mean rides
    * the SHIFTED numerator 1000·(Σw + 1000·Σtokens) ≥ 0 (each weight
    * ≥ −1000), so the floor division is over non-negative operands and
    * Spark's `div` (truncate) agrees with DuckDB's `//` (floor) — the
    * sign discipline that keeps every division in the repo cross-engine
    * exact. Wide terms run in DECIMAL(38,0)/HUGEINT (1000·Σtokens passes
    * int64 at ~10^16 tokens — the events_ewma overflow discipline). */
  def classifierGate(spark: SparkSession, sfDir: String): DataFrame =
    classifierGateOfDocs(Tables.documents(spark, sfDir))

  /** Core of [[classifierGate]] over any (lang, source, text) frame —
    * separated so specs can drive crafted token streams. */
  private[operators] def classifierGateOfDocs(docs: DataFrame): DataFrame = {
    val tokW = s"(${Hashing.md5LongSparkSql(
      s"concat('w:', CAST((${Hashing.md5LongSparkSql("t")} % $ClsBuckets) AS STRING))")} " +
      s"% ${2 * ClsWRange + 1}) - $ClsWRange"
    docs
      // Tokenize ONCE in a prior projection and derive both the weighted
      // sum and the token count from the same array: the regex extraction
      // is the dominant scan cost, and deriving nt from a second
      // tokens(text) call would make the single-regex-pass property
      // depend on codegen common-subexpression elimination instead of the
      // plan's structure.
      .select(col("lang"), col("source"), TextOps.tokens(col("text")).as("toks"))
      .select(col("lang"), col("source"),
        expr(s"aggregate(transform(toks, t -> $tokW), " +
          "CAST(0 AS BIGINT), (a, x) -> a + x)").as("sw"),
        size(col("toks")).cast("long").as("nt"))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("sw") > 0, 1L).otherwise(0L)).as("kept_docs"),
        sum(col("sw")).as("sum_w"),
        sum(col("nt")).as("sum_tokens"))
      .select(col("lang"), col("source"), col("n_docs"), col("kept_docs"),
        col("sum_w"), col("sum_tokens"),
        // BOTH terms of the shifted numerator widen to DECIMAL(38,0)
        // INSIDE the parens so the whole expression runs wide — matching
        // the oracle twin's HUGEINT discipline. Widening only sum_w is not
        // enough: 1000·sum_tokens would still multiply in BIGINT and wrap
        // silently past ~9.2e15 tokens per (lang, source) — exactly the
        // threshold the widen exists to clear.
        expr(s"(CAST(1000 AS DECIMAL(38,0)) * (CAST(sum_w AS DECIMAL(38,0))" +
          s" + CAST($ClsWRange AS DECIMAL(38,0)) * sum_tokens)) div sum_tokens")
          .as("score_milli_shifted"))
  }

  val classifierGateSql: String = {
    val tokW = s"((${Hashing.md5LongSql(
      s"'w:' || CAST((${Hashing.md5LongSql("t")} % $ClsBuckets) AS VARCHAR)")} " +
      s"% ${2 * ClsWRange + 1}) - $ClsWRange)"
    s"""WITH d AS (SELECT lang, source,
       |    CAST(coalesce(list_sum(list_transform(${TextOps.tokensSql},
       |      t -> $tokW)), 0) AS BIGINT) AS sw,
       |    len(${TextOps.tokensSql}) AS nt
       |  FROM documents)
       |SELECT lang, source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN sw > 0 THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
       |  CAST(sum(sw) AS BIGINT) AS sum_w,
       |  CAST(sum(nt) AS BIGINT) AS sum_tokens,
       |  CAST((1000 * (CAST(sum(sw) AS HUGEINT) + $ClsWRange * sum(nt)))
       |    // sum(nt) AS BIGINT) AS score_milli_shifted
       |FROM d GROUP BY 1, 2""".stripMargin
  }

  /** Fixed-point scale for [[sourceDivergence]]: parts-per-million. */
  val TvScale = 1000000L

  /** DOMAIN-SHIFT audit card: per-source total-variation distance between
    * the source's unigram distribution and the whole corpus's — the
    * distribution-distance health check a mixture designer reads before
    * setting sampling weights (the DoReMi/DSIR framing: a source whose
    * token distribution sits far from the corpus mean needs an explicit
    * up/down-weight decision, not silence). TV is used instead of KL
    * because it is a finite [0,1] metric with NO transcendental terms:
    * TV(s) = ½·Σ_t |tf_s(t)/N_s − ct(t)/N_c| evaluated division-free as
    * (Σ_{t∈s} |tf_s·N_c − ct·N_s| + (N_c − Σ_{t∈s} ct)·N_s) / (2·N_s·N_c)
    * — the second term folds in every vocabulary term ABSENT from the
    * source algebraically, so zero rows are never materialized. Products
    * reach N_c² (10^27 at 100 TB) → DECIMAL(38,0)/HUGEINT throughout (the
    * phrase_detect cross-multiplication discipline), and every division
    * numerator is non-negative so truncate-vs-floor agrees.
    *
    * Plan: one tokenize scan → (source, tok) counts with map-side
    * partials (the ONLY token-volume exchange) → corpus-per-token and
    * per-source totals as window sums over the vocab×|sources|-bounded
    * aggregate (two cheap exchanges on collapsed data) → the 1-row corpus
    * total rides a broadcast crossJoin (the phrase_detect shape) → one
    * final |sources|-row aggregation. Nothing after the first aggregation
    * scales with token volume. */
  def sourceDivergence(spark: SparkSession, sfDir: String): DataFrame =
    sourceDivergenceOfDocs(Tables.documents(spark, sfDir))

  /** Core of [[sourceDivergence]] over any (source, text) frame. */
  private[operators] def sourceDivergenceOfDocs(docs: DataFrame): DataFrame = {
    val t1 = docs
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
    val t2 = t1
      .withColumn("ct", sum(col("c")).over(Window.partitionBy(col("tok"))))
      .withColumn("ns", sum(col("c")).over(Window.partitionBy(col("source"))))
    val nTot = t1.agg(sum(col("c")).as("nc"))
    t2.crossJoin(broadcast(nTot))
      .groupBy(col("source"))
      .agg(
        max(col("ns")).as("n_tokens"),
        count(lit(1)).as("vocab_terms"),
        max(col("nc")).as("nc0"),
        sum(expr("abs(CAST(c AS DECIMAL(38,0)) * nc - CAST(ct AS DECIMAL(38,0)) * ns)")).as("a"),
        sum(col("ct")).as("b"))
      .select(col("source"), col("n_tokens"), col("vocab_terms"),
        expr(s"(CAST($TvScale AS DECIMAL(38,0)) * (a + (CAST(nc0 AS DECIMAL(38,0)) - b) * n_tokens))" +
          " div (2 * CAST(n_tokens AS DECIMAL(38,0)) * nc0)").as("tv_ppm"))
  }

  val sourceDivergenceSql: String =
    s"""WITH t1 AS (SELECT source, tok, count(*) AS c FROM (
       |    SELECT source, unnest(${TextOps.tokensSql}) AS tok FROM documents)
       |  GROUP BY 1, 2),
       |t2 AS (SELECT source, tok, c,
       |    sum(c) OVER (PARTITION BY tok) AS ct,
       |    sum(c) OVER (PARTITION BY source) AS ns
       |  FROM t1),
       |n AS (SELECT sum(c) AS nc FROM t1)
       |SELECT source, CAST(max(ns) AS BIGINT) AS n_tokens,
       |  count(*) AS vocab_terms,
       |  CAST(($TvScale * (sum(abs(CAST(c AS HUGEINT) * nc - CAST(ct AS HUGEINT) * ns))
       |      + (CAST(max(nc) AS HUGEINT) - sum(ct)) * max(ns)))
       |    // (2 * CAST(max(ns) AS HUGEINT) * max(nc)) AS BIGINT) AS tv_ppm
       |FROM t2, n GROUP BY source""".stripMargin
}

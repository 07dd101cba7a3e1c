package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.mr.MrQueries
import graft.operators._
import graft.streaming.StreamingOps

/** The query contract — see SURVEY.md §7.
  *
  * Every query is a complete operator from SURVEY.md §2 (the reference's
  * query surface re-expressed Spark-first) or a first-class
  * LLM-data-pipeline operator (dedup / similarity / text analysis /
  * multimodal), registered as ONE [[Query]] row: its name, the function
  * that builds its Spark frame, and the DuckDB SQL that Verify's harness
  * hash-checks it against at sf0.01. [[queries]] and [[oracleSql]] are
  * both read off those rows, so their key sets are equal by construction.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full curation composite — quality ∧ repetition ∧ contamination
    * gates, LSH+CC canonical dedup, per-language quota, token-bin packing —
    * i.e. the engine's whole reason to exist in one expression. */
  def entry(spark: SparkSession): DataFrame =
    Sampling.trainingMixFull(spark, "/root/testdata/sf0.001")

  /** One registered query: `build(spark, sfDir)` is the Spark frame, `sql`
    * the equivalent SQL runnable by DuckDB on the same parquet tables. */
  private case class Query(name: String, build: (SparkSession, String) => DataFrame, sql: String)

  private val registry: Seq[Query] = Seq(
    // Reference parity (SURVEY.md §2.2 Q1–Q4 re-expressed natively)
    Query("wc_wordcount", TextOps.wordcount, TextOps.wordcountSql),
    Query("wc_by_source", TextOps.wordcountBySource, TextOps.wordcountBySourceSql),
    Query("grep_product", (s, d) => TextOps.grep(s, d), TextOps.grepSql()),
    Query("grep_match", (s, d) => TextOps.grep(s, d, "vector"), TextOps.grepSql("vector")),
    // MapReduce engine end-to-end (F3–F7 dataflow over documents.text)
    Query("mr_wordcount", MrQueries.mrWordcount, MrQueries.mrWordcountSql),
    Query("mr_wordcount_exec", MrQueries.mrWordcountExec, MrQueries.mrWordcountSql),
    Query("mr_grep", (s, d) => MrQueries.mrGrep(s, d), MrQueries.mrGrepSql()),
    // Relational coverage (bench headliners)
    Query("q1_agg", Relational.q1Agg, Relational.q1AggSql),
    Query("q1_rollup", Relational.q1Rollup, Relational.q1RollupSql),
    Query("q1_cube", Relational.q1Cube, Relational.q1CubeSql),
    Query("top_customers_per_nation", (s, d) => Relational.topCustomersPerNation(s, d),
      Relational.topCustomersPerNationSql()),
    Query("q3_topk", Relational.q3Topk, Relational.q3TopkSql),
    Query("q5_region", Relational.q5Region, Relational.q5RegionSql),
    Query("q14_promo", Relational.q14Promo, Relational.q14PromoSql),
    Query("q17_small_qty", (s, d) => Relational.q17SmallQty(s, d), Relational.q17SmallQtySql()),
    Query("q7_volume", (s, d) => Relational.q7Volume(s, d), Relational.q7VolumeSql()),
    Query("q8_mkt_share", (s, d) => Relational.q8MktShare(s, d), Relational.q8MktShareSql()),
    Query("customers_no_urgent", Relational.customersNoOrders, Relational.customersNoOrdersSql),
    Query("orders_with_returns", Relational.ordersWithReturns, Relational.ordersWithReturnsSql),
    Query("customer_value_profile", Relational.customerValueProfile, Relational.customerValueProfileSql),
    Query("orders_above_cust_avg", Relational.ordersAboveCustAvg, Relational.ordersAboveCustAvgSql),
    Query("snapshot_merge", Relational.snapshotMerge, Relational.snapshotMergeSql),
    Query("table_profile", Relational.tableProfile, Relational.tableProfileSql),
    Query("fuzzy_pairs", FuzzyJoin.fuzzyPairs, FuzzyJoin.fuzzyPairsSql),
    Query("entity_resolution", FuzzyJoin.entityResolution, FuzzyJoin.entityResolutionSql),
    Query("fk_integrity", Audit.fkIntegrity, Audit.fkIntegritySql),
    Query("join_cardinality_kmv", Audit.joinCardinalityKmv, Audit.joinCardinalityKmvSql),
    Query("bloom_semijoin_prune", Audit.bloomSemijoinPrune, Audit.bloomSemijoinPruneSql),
    Query("hll_distinct", TextAnalysis.hllDistinct, TextAnalysis.hllDistinctSql),
    Query("row_quality_gate", Audit.rowQualityGate, Audit.rowQualityGateSql),
    // Event analytics (windows / sessions)
    Query("events_hourly", EventOps.hourly, EventOps.hourlySql),
    Query("events_ewma", EventOps.ewma, EventOps.ewmaSql),
    Query("events_sliding", EventOps.slidingCounts, EventOps.slidingCountsSql),
    Query("events_rolling_1h", EventOps.rolling1h, EventOps.rolling1hSql),
    Query("events_first_per_user", EventOps.firstEventsPerUser, EventOps.firstEventsPerUserSql),
    Query("events_sessionize", (s, d) => EventOps.sessionize(s, d), EventOps.sessionizeSql()),
    Query("events_click_no_purchase", EventOps.clickNoPurchase, EventOps.clickNoPurchaseSql),
    Query("events_click_and_purchase", EventOps.clickAndPurchase, EventOps.clickAndPurchaseSql),
    Query("events_value_ntile", EventOps.valueNtile, EventOps.valueNtileSql),
    Query("events_type_pivot", EventOps.typePivot, EventOps.typePivotSql),
    Query("events_props_json", EventOps.propsJson, EventOps.propsJsonSql),
    Query("events_date_parts", EventOps.dateParts, EventOps.datePartsSql),
    Query("events_funnel", EventOps.funnel, EventOps.funnelSql),
    Query("events_asof_click", EventOps.asofClickBeforePurchase, EventOps.asofClickBeforePurchaseSql),
    Query("events_session_concurrency", (s, d) => EventOps.sessionConcurrency(s, d),
      EventOps.sessionConcurrencySql()),
    Query("events_time_rollup", EventOps.timeRollup, EventOps.timeRollupSql),
    Query("events_anomaly", EventOps.anomalyHours, EventOps.anomalyHoursSql),
    Query("events_cohort_retention", EventOps.cohortRetention, EventOps.cohortRetentionSql),
    Query("events_gap_fill", EventOps.gapFill, EventOps.gapFillSql),
    Query("events_click_minus_purchase_all", EventOps.clickMinusPurchaseAll,
      EventOps.clickMinusPurchaseAllSql),
    Query("events_user_paths", (s, d) => EventOps.userPaths(s, d), EventOps.userPathsSql()),
    Query("events_transitions", EventOps.transitions, EventOps.transitionsSql),
    Query("events_attribution", EventOps.attribution, EventOps.attributionSql),
    Query("events_attribution_position", EventOps.attributionPosition, EventOps.attributionPositionSql),
    Query("events_user_counts_salted", Skew.userEventCountsSalted, Skew.userEventCountsSaltedSql),
    Query("events_join_salted", Skew.eventsJoinSalted, Skew.eventsJoinSaltedSql),
    Query("q13_order_dist", Relational.q13OrderDist, Relational.q13OrderDistSql),
    Query("q16_supplier_cnt", (s, d) => Relational.q16SupplierCnt(s, d), Relational.q16SupplierCntSql()),
    Query("q18_large_orders", (s, d) => Relational.q18LargeOrders(s, d), Relational.q18LargeOrdersSql()),
    Query("q22_global_bal", Relational.q22GlobalBal, Relational.q22GlobalBalSql),
    Query("q6_forecast", Relational.q6Forecast, Relational.q6ForecastSql),
    Query("q10_returns", (s, d) => Relational.q10Returns(s, d), Relational.q10ReturnsSql()),
    Query("q12_priority", Relational.q12Priority, Relational.q12PrioritySql),
    Query("q15_top_supplier", Relational.q15TopSupplier, Relational.q15TopSupplierSql),
    Query("q19_disjunctive", Relational.q19Disjunctive, Relational.q19DisjunctiveSql),
    Query("q21_waiting", Relational.q21Waiting, Relational.q21WaitingSql),
    Query("q2_min_cost", (s, d) => Relational.q2MinCost(s, d), Relational.q2MinCostSql()),
    Query("q9_profit", (s, d) => Relational.q9Profit(s, d), Relational.q9ProfitSql()),
    Query("q11_important_part", (s, d) => Relational.q11ImportantPart(s, d),
      Relational.q11ImportantPartSql()),
    Query("q20_potential_promo", (s, d) => Relational.q20PotentialPromo(s, d),
      Relational.q20PotentialPromoSql()),
    Query("bpe_pair_counts", (s, d) => Bpe.bpePairCounts(s, d), Bpe.bpePairCountsSql()),
    Query("bpe_train", (s, d) => Bpe.bpeTrain(s, d), Bpe.bpeTrainSql()),
    Query("bpe_encode", (s, d) => Bpe.bpeEncode(s, d), Bpe.bpeEncodeSql()),
    Query("tokenizer_fertility", (s, d) => Bpe.tokenizerFertility(s, d), Bpe.tokenizerFertilitySql()),
    Query("skew_profile", Skew.skewProfile, Skew.skewProfileSql),
    Query("events_scd2_history", (s, d) => EventOps.scd2History(s, d), EventOps.scd2HistorySql()),
    Query("dup_spans", Curation.dupSpans, Curation.dupSpansSql),
    Query("events_stream_hourly", StreamingOps.streamingHourly, EventOps.hourlySql),
    Query("events_stream_sessionize", (s, d) => StreamingOps.streamingSessionize(s, d),
      EventOps.sessionizeSql()),
    Query("events_stream_session_native", (s, d) => StreamingOps.streamingSessionWindow(s, d),
      StreamingOps.streamingSessionWindowSql()),
    Query("events_stream_session_tws", (s, d) => StreamingOps.streamingSessionizeTws(s, d),
      EventOps.sessionizeSql()),
    Query("docs_stream_dedup", (s, d) => StreamingOps.streamingDedup(s, d),
      "SELECT DISTINCT md5(text) AS content_hash FROM documents"),
    Query("events_stream_dedup_wm", (s, d) => StreamingOps.streamingDedupWatermarked(s, d),
      StreamingOps.streamingDedupWatermarkedSql),
    Query("events_stream_enrich", (s, d) => StreamingOps.streamingEnrich(s, d),
      StreamingOps.streamingEnrichSql),
    Query("events_stream_join", (s, d) => StreamingOps.streamingIntervalJoin(s, d),
      StreamingOps.streamingIntervalJoinSql),
    Query("events_stream_join_outer", (s, d) => StreamingOps.streamingJoinOuter(s, d),
      StreamingOps.streamingJoinOuterSql),
    Query("events_stream_join_full", (s, d) => StreamingOps.streamingJoinFull(s, d),
      StreamingOps.streamingJoinFullSql),
    Query("events_stream_transitions", (s, d) => StreamingOps.streamingTransitions(s, d),
      EventOps.transitionsSql),
    Query("events_stream_upsert", (s, d) => StreamingOps.streamingUpsert(s, d),
      StreamingOps.streamingUpsertSql),
    Query("events_stream_kmv", (s, d) => StreamingOps.streamingKmv(s, d), StreamingOps.streamingKmvSql),
    Query("events_stream_hll", (s, d) => StreamingOps.streamingHll(s, d), StreamingOps.streamingHllSql),
    Query("events_stream_cms", (s, d) => StreamingOps.streamingCms(s, d), StreamingOps.streamingCmsSql),
    // Deduplication
    Query("dedup_exact", Dedup.exact, Dedup.exactSql),
    Query("dedup_fingerprint", Dedup.fingerprint, Dedup.fingerprintSql),
    Query("dedup_ngram_jaccard", (s, d) => Dedup.ngramJaccard(s, d), Dedup.ngramJaccardSql()),
    Query("dedup_containment", (s, d) => Dedup.containment(s, d), Dedup.containmentSql()),
    Query("dedup_substring", Dedup.substringPairs, Dedup.substringPairsSql()),
    Query("dedup_containment_kmv", (s, d) => Dedup.containmentKmv(s, d), Dedup.containmentKmvSql()),
    Query("dedup_cdc", Dedup.cdcChunkDedup, Dedup.cdcChunkDedupSql),
    Query("source_overlap_kmv", (s, d) => Dedup.sourceOverlapKmv(s, d), Dedup.sourceOverlapKmvSql()),
    Query("dedup_minhash_lsh", Dedup.minhashLsh, Dedup.minhashLshSql),
    Query("dedup_lsh_tune", Dedup.lshTune, Dedup.lshTuneSql),
    Query("dedup_simhash", Dedup.simhash, Dedup.simhashSql),
    Query("dedup_simhash_pairs", (s, d) => Dedup.simhashPairs(s, d), Dedup.simhashPairsSql()),
    Query("dedup_embedding_ivf", (s, d) => Similarity.embeddingNearDupIvf(s, d),
      Similarity.embeddingNearDupIvfSql()),
    Query("dedup_semantic", (s, d) => Similarity.dedupSemantic(s, d), Similarity.dedupSemanticSql()),
    Query("knn_join", (s, d) => Similarity.knnJoin(s, d), Similarity.knnJoinSql()),
    Query("dedup_embedding_srp", (s, d) => Similarity.embeddingNearDupSrp(s, d),
      Similarity.embeddingNearDupSrpSql()),
    Query("dedup_clusters", Dedup.clusters, Dedup.clustersSql),
    Query("dedup_keep_best", Dedup.keepBest, Dedup.keepBestSql),
    Query("dedup_incremental", (s, d) => Dedup.incremental(s, d), Dedup.incrementalSql()),
    Query("graph_pagerank", (s, d) => Dedup.pagerank(s, d), Dedup.pagerankSql()),
    Query("graph_triangles", Curation.graphTriangles, Curation.graphTrianglesSql),
    // Similarity search
    Query("knn_brute", (s, d) => Similarity.knnBrute(s, d), Similarity.knnBruteSql()),
    Query("knn_ivf", (s, d) => Similarity.knnIvf(s, d), Similarity.knnIvfSql()),
    Query("knn_ivf_multiprobe", (s, d) => Similarity.knnIvfMultiprobe(s, d),
      Similarity.knnIvfMultiprobeSql()),
    Query("embedding_health", Similarity.embeddingHealth, Similarity.embeddingHealthSql),
    Query("embedding_drift", Similarity.embeddingDrift, Similarity.embeddingDriftSql),
    Query("embedding_centroids", Similarity.embeddingCentroids, Similarity.embeddingCentroidsSql),
    Query("kmeans_train", (s, d) => Similarity.kmeansTrain(s, d), Similarity.kmeansTrainSql()),
    Query("knn_recall", (s, d) => Similarity.knnRecall(s, d), Similarity.knnRecallSql()),
    Query("knn_recall_compressed", (s, d) => Similarity.knnRecallCompressed(s, d),
      Similarity.knnRecallCompressedSql()),
    Query("knn_ivf_trained", (s, d) => Similarity.knnIvfTrained(s, d), Similarity.knnIvfTrainedSql()),
    Query("embedding_outliers", (s, d) => Similarity.embeddingOutliers(s, d),
      Similarity.embeddingOutliersSql()),
    Query("embedding_top_direction", Similarity.embeddingTopDirection, Similarity.embeddingTopDirectionSql()),
    Query("ivf_balance", Similarity.ivfBalance, Similarity.ivfBalanceSql()),
    Query("sample_per_cluster", (s, d) => Similarity.samplePerCluster(s, d),
      Similarity.samplePerClusterSql()),
    Query("knn_pq", (s, d) => Similarity.knnPq(s, d), Similarity.knnPqSql()),
    Query("knn_ivfpq", (s, d) => Similarity.knnIvfPq(s, d), Similarity.knnIvfPqSql()),
    Query("knn_sq8", (s, d) => Similarity.knnSq8(s, d), Similarity.knnSq8Sql()),
    Query("knn_binary", (s, d) => Similarity.knnBinary(s, d), Similarity.knnBinarySql()),
    Query("knn_ivf_rerank", (s, d) => Similarity.knnIvfRerank(s, d), Similarity.knnIvfRerankSql()),
    Query("hard_negatives", (s, d) => Similarity.hardNegatives(s, d), Similarity.hardNegativesSql()),
    // Text analysis
    Query("text_quality", TextAnalysis.quality, TextAnalysis.qualitySql),
    Query("quality_gopher", TextAnalysis.gopherGate, TextAnalysis.gopherGateSql),
    Query("quality_classifier", TextAnalysis.classifierGate, TextAnalysis.classifierGateSql),
    Query("source_divergence", TextAnalysis.sourceDivergence, TextAnalysis.sourceDivergenceSql),
    Query("diversity_distinct_n", TextAnalysis.distinctN, TextAnalysis.distinctNSql),
    Query("lang_id", TextAnalysis.langId, TextAnalysis.langIdSql),
    Query("token_count", TextAnalysis.tokenCount, TextAnalysis.tokenCountSql),
    Query("term_df", (s, d) => TextAnalysis.termDf(s, d), TextAnalysis.termDfSql()),
    Query("phrase_detect", TextAnalysis.phraseDetect, TextAnalysis.phraseDetectSql),
    Query("length_quantiles", TextAnalysis.lengthQuantiles, TextAnalysis.lengthQuantilesSql),
    Query("tfidf_top_terms", (s, d) => Ranking.tfIdfTopTerms(s, d), Ranking.tfIdfTopTermsSql()),
    Query("bm25_rank", (s, d) => Ranking.bm25Rank(s, d), Ranking.bm25RankSql()),
    Query("inverted_postings", (s, d) => Ranking.invertedPostings(s, d), Ranking.invertedPostingsSql()),
    Query("phrase_search", (s, d) => Ranking.phraseSearch(s, d), Ranking.phraseSearchSql()),
    Query("doc_sim_sparse", Ranking.docSimSparse, Ranking.docSimSparseSql()),
    Query("token_histogram", (s, d) => TextAnalysis.tokenHistogram(s, d), TextAnalysis.tokenHistogramSql()),
    Query("distinct_kmv", TextAnalysis.distinctKmv, TextAnalysis.distinctKmvSql),
    Query("cms_topk", TextAnalysis.cmsTopk, TextAnalysis.cmsTopkSql),
    Query("lang_classify", TextAnalysis.langClassify, TextAnalysis.langClassifySql),
    Query("stats_incremental", TextAnalysis.statsIncremental, TextAnalysis.statsIncrementalSql),
    Query("token_diversity", TextAnalysis.tokenDiversity, TextAnalysis.tokenDiversitySql),
    Query("clustering_coeff", Curation.clusteringCoeff, Curation.clusteringCoeffSql),
    Query("contamination_spans", Curation.contaminationSpans, Curation.contaminationSpansSql),
    Query("lm_bigram_score", Curation.lmScore, Curation.lmScoreSql),
    Query("ccnet_buckets", Curation.ccnetBuckets, Curation.ccnetBucketsSql),
    // Curation / sampling
    Query("sample_stratified", (s, d) => Sampling.stratifiedSample(s, d), Sampling.stratifiedSampleSql()),
    Query("sample_weighted", Sampling.weightedSample, Sampling.weightedSampleSql),
    Query("hist_quantiles", TextAnalysis.histQuantiles, TextAnalysis.histQuantilesSql),
    Query("shard_assign", (s, d) => Sampling.shardAssign(s, d), Sampling.shardAssignSql()),
    Query("epoch_reshuffle", (s, d) => Sampling.epochReshuffle(s, d), Sampling.epochReshuffleSql()),
    Query("shard_manifest", (s, d) => Sampling.shardManifest(s, d), Sampling.shardManifestSql()),
    Query("compaction_plan", (s, d) => Sampling.compactionPlan(s, d), Sampling.compactionPlanSql()),
    Query("zorder_layout", Sampling.zorderLayout, Sampling.zorderLayoutSql),
    Query("zonemap_prune", Sampling.zonemapPrune, Sampling.zonemapPruneSql),
    Query("training_mix_temperature", (s, d) => Sampling.trainingMixTemperature(s, d),
      Sampling.trainingMixTemperatureSql()),
    Query("mix_epochs_plan", Sampling.mixEpochsPlan, Sampling.mixEpochsPlanSql()),
    Query("dsir_select", (s, d) => Sampling.dsirSelect(s, d), Sampling.dsirSelectSql()),
    Query("pack_chunks", (s, d) => Sampling.packChunks(s, d), Sampling.packChunksSql()),
    Query("pack_multimodal", (s, d) => Sampling.packMultimodal(s, d), Sampling.packMultimodalSql()),
    Query("pack_best_fit", (s, d) => Sampling.packBestFit(s, d), Sampling.packBestFitSql()),
    Query("doc_novelty", Curation.novelty, Curation.noveltySql),
    Query("training_mix", (s, d) => Sampling.trainingMix(s, d), Sampling.trainingMixSql()),
    Query("training_mix_full", (s, d) => Sampling.trainingMixFull(s, d), Sampling.trainingMixFullSql()),
    Query("contamination", Curation.contamination, Curation.contaminationSql),
    Query("contamination_semantic", (s, d) => Similarity.contaminationSemantic(s, d),
      Similarity.contaminationSemanticSql()),
    Query("contamination_verdict", (s, d) => Curation.contaminationVerdict(s, d),
      Curation.contaminationVerdictSql()),
    Query("corpus_diff", Curation.corpusDiff, Curation.corpusDiffSql),
    Query("curation_funnel", (s, d) => Curation.curationFunnel(s, d), Curation.curationFunnelSql()),
    Query("split_leakage", Curation.splitLeakage, Curation.splitLeakageSql),
    Query("quality_repetition", Curation.repetition, Curation.repetitionSql),
    Query("doc_winnow", Curation.winnow, Curation.winnowSql),
    Query("doc_winnow_pairs", (s, d) => Curation.winnowPairs(s, d), Curation.winnowPairsSql()),
    Query("pii_redact", Curation.piiRedact, Curation.piiRedactSql),
    Query("doc_chunks", Curation.chunkDocs, Curation.chunkDocsSql),
    Query("pack_sequences", (s, d) => Sampling.packSequences(s, d), Sampling.packSequencesSql()),
    // Multimodal plumbing (stub decoder, real pipeline)
    Query("multimodal_media", Multimodal.mediaFeatures, Multimodal.mediaFeaturesSql),
    Query("multimodal_frames", Multimodal.frameSamples, Multimodal.frameSamplesSql),
    Query("multimodal_frame_dedup", Multimodal.frameDedup, Multimodal.frameDedupSql),
    Query("multimodal_frame_stats", Multimodal.frameStats, Multimodal.frameStatsSql),
    Query("multimodal_keyframes", Multimodal.keyframes, Multimodal.keyframesSql),
    Query("multimodal_audio", Multimodal.audioFeatures, Multimodal.audioFeaturesSql),
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  val oracleSql: Map[String, String] = registry.map(q => q.name -> q.sql).toMap

  /** The registry names `spec` selects: `ALL` gives every name, sorted;
    * otherwise `spec` is a comma list whose entries are trimmed, with empty
    * entries dropped, kept in the given order without repeats. Throws
    * IllegalArgumentException naming every entry the registry lacks. */
  def resolve(spec: String): Seq[String] =
    if (spec.trim == "ALL") queries.keys.toSeq.sorted
    else {
      val names = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
      val unknown = names.filterNot(queries.contains)
      require(unknown.isEmpty, s"not in the registry: ${unknown.mkString(", ")}")
      names
    }
}

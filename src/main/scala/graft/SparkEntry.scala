package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Tables => T}

/** Query contract — see SURVEY.md §2 + §7.
  *
  * One registry: each operator from the SURVEY.md §2 inventory is one
  * entry (name, operator, DuckDB oracle SQL over the same parquet
  * tables, with the operator's column aliases), listed once.
  * `queries` and `oracleSql` are its two views.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The full silver transform — the reference's core
    * capability: stats, keep-first dedup, imputation, clamping. */
  def entry(spark: SparkSession): DataFrame =
    etl.EtlQueries.silverPipeline(spark, "/root/testdata/sf0.001")

  /** The operator of each registered query. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName(registry.map { case (name, op, _) => name -> op })

  /** The DuckDB oracle SQL of each registered query. */
  lazy val oracleSql: Map[String, String] =
    byName(registry.map { case (name, _, sql) => name -> sql })

  /** `entries` as a map; a name listed twice throws (a `Map(...)`
    * literal would silently keep the last). */
  private[graft] def byName[V](entries: Seq[(String, V)]): Map[String, V] = {
    val twice = entries.groupBy(_._1).collect { case (name, es) if es.size > 1 => name }
    require(twice.isEmpty, s"query registered twice: ${twice.toSeq.sorted.mkString(",")}")
    entries.toMap
  }

  private lazy val registry: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("bronze_ingest", etl.EtlQueries.bronzeIngest, etl.EtlQueries.bronzeIngestSql),
    ("dq_report", etl.EtlQueries.dqReport, etl.EtlQueries.dqReportSql),
    ("dq_drift", dq.Drift.dqDrift, dq.Drift.dqDriftSql),
    ("medians_modes", etl.EtlQueries.mediansModes, etl.EtlQueries.mediansModesSql),
    ("silver_dedup", etl.EtlQueries.silverDedup, etl.EtlQueries.silverDedupSql),
    ("silver_pipeline", etl.EtlQueries.silverPipeline, etl.EtlQueries.silverPipelineSql),
    ("incremental_upsert", etl.EtlQueries.incrementalUpsert, etl.EtlQueries.incrementalUpsertSql),
    ("load_report", etl.EtlQueries.loadReport, etl.EtlQueries.loadReportSql),
    ("q1_agg", analytics.Queries.q1Agg, analytics.Queries.q1AggSql),
    ("q3_join", analytics.Queries.q3Join, analytics.Queries.q3JoinSql),
    ("top_k", analytics.Queries.topK, analytics.Queries.topKSql),
    ("distinct_count", analytics.Queries.distinctCount, analytics.Queries.distinctCountSql),
    ("conditional_pivot", analytics.Queries.conditionalPivot,
      analytics.Queries.conditionalPivotSql),
    ("time_series", analytics.Queries.timeSeries, analytics.Queries.timeSeriesSql),
    ("window_running", analytics.Queries.windowRunning, analytics.Queries.windowRunningSql),
    ("percentiles", analytics.Queries.percentiles, analytics.Queries.percentilesSql),
    ("winsorize", analytics.Queries.winsorize, analytics.Queries.winsorizeSql),
    ("corr_stats", analytics.Queries.corrStats, analytics.Queries.corrStatsSql),
    ("histogram", analytics.Queries.histogram, analytics.Queries.histogramSql),
    ("semi_anti_join", analytics.Queries.semiAntiJoin, analytics.Queries.semiAntiJoinSql),
    ("set_ops", analytics.Queries.setOps, analytics.Queries.setOpsSql),
    ("rollup_agg", analytics.Queries.rollupAgg, analytics.Queries.rollupAggSql),
    ("text_tokens", text.TextQueries.textTokens, text.TextQueries.textTokensSql),
    ("text_quality", text.TextQueries.textQuality, text.TextQueries.textQualitySql),
    ("text_langid", text.TextQueries.textLangid, text.TextQueries.textLangidSql),
    ("text_fingerprint", text.TextQueries.textFingerprint, text.TextQueries.textFingerprintSql),
    ("text_entropy", text.TextQueries.textEntropy, text.TextQueries.textEntropySql),
    ("text_entropy2", text.TextQueries.textEntropy2, text.TextQueries.textEntropy2Sql),
    ("text_entropy_holdout", text.TextQueries.textEntropyHoldout,
      text.TextQueries.textEntropyHoldoutSql),
    ("sample_weighted", pipeline.Pipeline.sampleWeighted, pipeline.Pipeline.sampleWeightedSql),
    ("events_funnel", analytics.Queries.eventsFunnel, analytics.Queries.eventsFunnelSql),
    // same oracle text: the skew-safe aggregation formulation is
    // semantically identical to the window formulation
    ("events_funnel_skew", analytics.Queries.eventsFunnelSkewSafe,
      analytics.Queries.eventsFunnelSql),
    ("events_retention", analytics.Queries.eventsRetention, analytics.Queries.eventsRetentionSql),
    ("q18_big_orders", analytics.Queries.q18BigOrders, analytics.Queries.q18BigOrdersSql),
    ("quantile_sketch", analytics.Queries.quantileSketch, analytics.Queries.quantileSketchSql),
    ("ks_drift", dq.Drift.ksDrift, dq.Drift.ksDriftSql),
    ("graph_kcore", graph.Graph.graphKcore, graph.Graph.graphKcoreSql),
    ("make_splits", pipeline.Splits.makeSplits, pipeline.Splits.makeSplitsSql),
    ("anomaly_rolling", analytics.Mining.anomalyRolling, analytics.Mining.anomalyRollingSql),
    ("conversion_lag", analytics.Mining.conversionLag, analytics.Mining.conversionLagSql),
    ("hll_distinct", analytics.Queries.hllDistinct, analytics.Queries.hllDistinctSql),
    ("dedup_keep_best", pipeline.Pipeline.dedupKeepBest, pipeline.Pipeline.dedupKeepBestSql),
    ("vocab_coverage", text.TextQueries.vocabCoverage, text.TextQueries.vocabCoverageSql),
    ("bpe_pairs", text.TextQueries.bpePairs, text.TextQueries.bpePairsSql),
    ("bpe_merges", text.TextQueries.bpeMerges, text.TextQueries.bpeMergesSql),
    ("dedup_exact", (s, d) => dedup.Dedup.exactDedup(T.documents(s, d)), dedup.Dedup.exactDedupSql),
    ("dedup_minhash", (s, d) => dedup.Dedup.minhashPairs(T.documents(s, d)),
      dedup.Dedup.minhashPairsSql()),
    ("dedup_incremental", (s, d) => dedup.Dedup.dedupIncremental(T.documents(s, d)),
      dedup.Dedup.dedupIncrementalSql()),
    ("dedup_simhash", (s, d) => dedup.Dedup.simhashPairs(T.documents(s, d)),
      dedup.Dedup.simhashPairsSql()),
    ("dedup_ngram_jaccard", (s, d) => dedup.Dedup.ngramJaccardPairs(T.documents(s, d)),
      dedup.Dedup.ngramJaccardPairsSql()),
    ("dedup_embed_cosine", (s, d) => ann.Ann.embedCosinePairs(T.embeddings(s, d)),
      ann.Ann.embedCosinePairsSql()),
    ("ann_topk", (s, d) => ann.Ann.bruteForceTopK(T.embeddings(s, d)), ann.Ann.bruteForceTopKSql()),
    ("ann_lsh", (s, d) => ann.Ann.lshTopK(T.embeddings(s, d)), ann.Ann.lshTopKSql()),
    ("ann_lsh_multiprobe", (s, d) => ann.Ann.lshTopKMultiProbe(T.embeddings(s, d)),
      ann.Ann.lshTopKMultiProbeSql()),
    ("ann_ivf", (s, d) => ann.Ivf.ivfTopK(T.embeddings(s, d)), ann.Ivf.ivfTopKSql()),
    ("ann_ivfpq", (s, d) => ann.IvfPq.ivfPqTopK(T.embeddings(s, d)), ann.IvfPq.ivfPqTopKSql()),
    ("ann_graph", (s, d) => ann.GraphAnn.graphTopK(T.embeddings(s, d)),
      ann.GraphAnn.graphTopKSql()),
    ("graph_triangles", (s, d) => graph.Graph.triangles(s, d), graph.Graph.trianglesSql),
    ("mm_features", multimodal.Multimodal.mmFeatures, multimodal.Multimodal.mmFeaturesSql),
    ("mm_dedup", multimodal.Multimodal.mmDedup, multimodal.Multimodal.mmDedupSql),
    ("mm_frames", multimodal.Multimodal.mmFrames, multimodal.Multimodal.mmFramesSql),
    ("mm_resize", multimodal.Multimodal.mmResize, multimodal.Multimodal.mmResizeSql),
    ("events_window_agg", streaming.Streaming.eventsWindowAgg,
      streaming.Streaming.eventsWindowAggSql),
    ("sessionize", streaming.Streaming.sessionize, streaming.Streaming.sessionizeSql),
    ("sample_stratified", pipeline.Pipeline.sampleStratified,
      pipeline.Pipeline.sampleStratifiedSql),
    ("sample_fixed", pipeline.Pipeline.sampleFixed, pipeline.Pipeline.sampleFixedSql),
    ("pack_sequences", pipeline.Pipeline.packSequences, pipeline.Pipeline.packSequencesSql),
    ("dedup_clusters", pipeline.Pipeline.dedupClustersCached, pipeline.Pipeline.dedupClustersSql),
    ("dedup_clusters_star", pipeline.Pipeline.dedupClustersCached,
      pipeline.Pipeline.dedupClustersSql),
    ("asof_join", analytics.Queries.asofJoin, analytics.Queries.asofJoinSql),
    ("asof_join_native", analytics.Queries.asofJoinNative, analytics.Queries.asofJoinSql),
    ("q5_join", analytics.Queries.q5Join, analytics.Queries.q5JoinSql),
    ("above_customer_avg", analytics.Queries.aboveCustomerAvg,
      analytics.Queries.aboveCustomerAvgSql),
    ("scalar_funcs", analytics.Queries.scalarFuncs, analytics.Queries.scalarFuncsSql),
    ("kmv_distinct", analytics.Queries.kmvDistinct, analytics.Queries.kmvDistinctSql),
    ("json_extract", analytics.Queries.jsonExtract, analytics.Queries.jsonExtractSql),
    ("word_count", analytics.Queries.wordCount, analytics.Queries.wordCountSql),
    ("outer_join_nulls", analytics.Queries.outerJoinNulls, analytics.Queries.outerJoinNullsSql),
    ("grouping_sets", analytics.Queries.groupingSets, analytics.Queries.groupingSetsSql),
    ("sliding_window", analytics.Queries.slidingWindow, analytics.Queries.slidingWindowSql),
    ("corpus_filter", pipeline.Pipeline.corpusFilter, pipeline.Pipeline.corpusFilterSql),
    ("dedup_crossmodal", pipeline.Pipeline.dedupCrossmodal, pipeline.Pipeline.dedupCrossmodalSql),
    ("ntile_bins", analytics.Queries.ntileBins, analytics.Queries.ntileBinsSql),
    ("ts_delta", analytics.Queries.tsDelta, analytics.Queries.tsDeltaSql),
    ("collect_sorted", analytics.Queries.collectSorted, analytics.Queries.collectSortedSql),
    ("regression", analytics.Queries.regression, analytics.Queries.regressionSql),
    ("repetition_score", text.TextQueries.repetitionScore, text.TextQueries.repetitionScoreSql),
    ("pii_scrub", text.TextQueries.piiScrub, text.TextQueries.piiScrubSql),
    ("decontaminate", (s, d) => pipeline.Contamination.decontaminate(T.documents(s, d)),
      pipeline.Contamination.decontaminateSql),
    ("corpus_mix", pipeline.Pipeline.corpusMix, pipeline.Pipeline.corpusMixSql),
    ("corpus_manifest", pipeline.Pipeline.corpusManifest, pipeline.Pipeline.corpusManifestSql),
    ("doc_chunk", pipeline.Pipeline.docChunk, pipeline.Pipeline.docChunkSql),
    // oracle is the bloom-free exact formulation: the bloom is a
    // pruning step with no false negatives, so the output is exact
    ("dedup_bloom", (s, d) => dedup.Dedup.dedupBloom(T.documents(s, d)), dedup.Dedup.dedupBloomSql),
    ("dedup_semantic", (s, d) => ann.SemDedup.semanticDedup(T.embeddings(s, d)),
      ann.SemDedup.semanticDedupSql()),
    ("ann_sq8", (s, d) => ann.Ann.sq8TopK(T.embeddings(s, d)), ann.Ann.sq8TopKSql()),
    ("bpe_encode", text.TextQueries.bpeEncode, text.TextQueries.bpeEncodeSql),
    ("tfidf", text.TextQueries.tfidf, text.TextQueries.tfidfSql),
    ("interval_overlap", analytics.Queries.intervalOverlap, analytics.Queries.intervalOverlapSql),
    ("skyline", analytics.Queries.skyline, analytics.Queries.skylineSql),
    ("anomaly_mad", analytics.Queries.anomalyMad, analytics.Queries.anomalyMadSql),
    ("fuzzy_match", dedup.Fuzzy.fuzzyMatch, dedup.Fuzzy.fuzzyMatchSql),
    ("heavy_hitters", text.TextQueries.heavyHitters, text.TextQueries.heavyHittersSql),
    ("dedup_substring", dedup.Substring.dedupSubstring, dedup.Substring.dedupSubstringSql),
    ("bitext_mine", ann.Bitext.bitextMine, ann.Bitext.bitextMineSql),
    ("item_pagerank", graph.Graph.itemPagerank, graph.Graph.itemPagerankSql),
    ("dup_spans", dedup.Substring.dupSpans, dedup.Substring.dupSpansSql),
    ("mixed_lang", text.TextQueries.mixedLang, text.TextQueries.mixedLangSql),
    ("scd2_history", etl.EtlQueries.scd2History, etl.EtlQueries.scd2HistorySql),
    ("dq_referential", dq.Referential.dqReferential, dq.Referential.dqReferentialSql),
    ("market_basket", analytics.Mining.marketBasket, analytics.Mining.marketBasketSql),
    ("event_transitions", analytics.Mining.eventTransitions, analytics.Mining.eventTransitionsSql),
    ("gap_fill", analytics.Mining.gapFill, analytics.Mining.gapFillSql),
    ("split_leakage", pipeline.Splits.splitLeakage, pipeline.Splits.splitLeakageSql),
    ("chi2_terms", text.Keywords.chi2Terms, text.Keywords.chi2TermsSql),
    ("rfm_segments", analytics.Rfm.rfmSegments, analytics.Rfm.rfmSegmentsSql),
    ("collocations", text.Keywords.collocations, text.Keywords.collocationsSql),
    ("cube_agg", analytics.Queries.cubeAgg, analytics.Queries.cubeAggSql),
    ("time_weighted_avg", analytics.Mining.timeWeightedAvg, analytics.Mining.timeWeightedAvgSql),
    ("session_paths", analytics.Mining.sessionPaths, analytics.Mining.sessionPathsSql),
    ("label_propagation", graph.Graph.labelPropagation, graph.Graph.labelPropagationSql),
    ("attribution", analytics.Mining.attribution, analytics.Mining.attributionSql),
    ("rolling_active_users", analytics.Mining.rollingActiveUsers,
      analytics.Mining.rollingActiveUsersSql),
    ("seasonality", analytics.Mining.seasonality, analytics.Mining.seasonalitySql),
    ("graph_bfs", graph.Graph.graphBfs, graph.Graph.graphBfsSql),
    ("dedup_containment", (s, d) => dedup.Dedup.containmentPairs(T.documents(s, d)),
      dedup.Dedup.containmentPairsSql()),
    ("data_skew_report", dq.SkewReport.skewReport, dq.SkewReport.skewReportSql),
    ("q7_volume", analytics.Tpch.q7Volume, analytics.Tpch.q7VolumeSql),
    ("q10_returned", analytics.Tpch.q10Returned, analytics.Tpch.q10ReturnedSql),
    ("q14_promo", analytics.Tpch.q14Promo, analytics.Tpch.q14PromoSql),
    ("q17_small_qty", analytics.Tpch.q17SmallQty, analytics.Tpch.q17SmallQtySql),
    ("q2_min_cost", analytics.Tpch.q2MinCost, analytics.Tpch.q2MinCostSql),
    ("embed_stats", (s, d) => ann.Embed.embedStats(s, d), ann.Embed.embedStatsSql),
    ("knn_classify", (s, d) => ann.Embed.knnClassify(s, d), ann.Embed.knnClassifySql()),
    ("cohort_matrix", analytics.Cohorts.cohortMatrix, analytics.Cohorts.cohortMatrixSql),
    ("zipf_fit", text.TextQueries.zipfFit, text.TextQueries.zipfFitSql),
    ("lang_confusion", text.TextQueries.langConfusion, text.TextQueries.langConfusionSql),
    ("jaccard_neighbors", graph.Graph.jaccardNeighbors, graph.Graph.jaccardNeighborsSql),
    ("hub_authority", graph.Graph.hubAuthority, graph.Graph.hubAuthoritySql),
    ("kmv_intersect", analytics.Sketches.kmvIntersect, analytics.Sketches.kmvIntersectSql),
    ("q15_top_supplier", analytics.Tpch.q15TopSupplier, analytics.Tpch.q15TopSupplierSql),
    ("q22_lost_customers", analytics.Tpch.q22LostCustomers, analytics.Tpch.q22LostCustomersSql),
    ("q4_priority", analytics.Tpch2.q4Priority, analytics.Tpch2.q4PrioritySql),
    ("q6_forecast", analytics.Tpch2.q6Forecast, analytics.Tpch2.q6ForecastSql),
    ("q8_market_share", analytics.Tpch2.q8MarketShare, analytics.Tpch2.q8MarketShareSql),
    ("q9_profit", analytics.Tpch2.q9ProfitShare, analytics.Tpch2.q9ProfitShareSql),
    ("q11_important_stock", analytics.Tpch2.q11ImportantStock,
      analytics.Tpch2.q11ImportantStockSql),
    ("q12_ship_priority", analytics.Tpch2.q12ShipPriority, analytics.Tpch2.q12ShipPrioritySql),
    ("q13_custdist", analytics.Tpch2.q13CustDist, analytics.Tpch2.q13CustDistSql),
    ("q16_supplier_cnt", analytics.Tpch2.q16SupplierCnt, analytics.Tpch2.q16SupplierCntSql),
    ("q19_disjunctive", analytics.Tpch2.q19Disjunctive, analytics.Tpch2.q19DisjunctiveSql),
    ("q20_promo_suppliers", analytics.Tpch2.q20PromoSuppliers,
      analytics.Tpch2.q20PromoSuppliersSql),
    ("q21_waiting_suppliers", analytics.Tpch2.q21WaitingSuppliers,
      analytics.Tpch2.q21WaitingSuppliersSql),
    ("cms_counts", analytics.Sketches.cmsCounts, analytics.Sketches.cmsCountsSql),
    ("ngram_novelty", text.CorpusOps.ngramNovelty, text.CorpusOps.ngramNoveltySql),
    ("boilerplate_ngrams", text.CorpusOps.boilerplateNgrams, text.CorpusOps.boilerplateNgramsSql),
    ("corpus_datacard", text.CorpusOps.corpusDatacard, text.CorpusOps.corpusDatacardSql),
    ("embed_outliers", ann.EmbedQc.embedOutliers, ann.EmbedQc.embedOutliersSql),
    ("dup_rate_by_source", text.CorpusOps.dupRateBySource, text.CorpusOps.dupRateBySourceSql),
    ("length_filter_sweep", text.CorpusOps.lengthFilterSweep, text.CorpusOps.lengthFilterSweepSql),
    ("join_size_estimate", analytics.Sketches.joinSizeEstimate,
      analytics.Sketches.joinSizeEstimateSql),
    ("bm25_topk", text.Bm25.bm25Topk, text.Bm25.bm25TopkSql),
    ("sax_symbols", analytics.Sax.saxSymbols, analytics.Sax.saxSymbolsSql),
    ("quality_classifier", pipeline.QualityModel.qualityClassifier,
      pipeline.QualityModel.qualityClassifierSql),
    ("rolling_hll_users", analytics.Mining.rollingHllUsers, analytics.Mining.rollingHllUsersSql),
    ("auc_eval", analytics.Eval.aucEval, analytics.Eval.aucEvalSql),
    ("woe_iv", analytics.Eval.woeIv, analytics.Eval.woeIvSql),
    ("ndcg_eval", analytics.Eval.ndcgEval, analytics.Eval.ndcgEvalSql),
    ("minhash_calibration", (s, d) => dedup.Dedup.minhashCalibration(T.documents(s, d)),
      dedup.Dedup.minhashCalibrationSql),
    ("hll_profile", dq.Profile.hllProfile, dq.Profile.hllProfileSql),
    ("ab_test_ttest", analytics.Stats.abTestTtest, analytics.Stats.abTestTtestSql),
    ("mann_whitney", analytics.Stats.mannWhitney, analytics.Stats.mannWhitneySql),
    ("bootstrap_ci", analytics.Stats.bootstrapCi, analytics.Stats.bootstrapCiSql),
    ("graph_modularity", graph.Graph.graphModularity, graph.Graph.graphModularitySql),
    ("forecast_backtest", analytics.Mining.forecastBacktest, analytics.Mining.forecastBacktestSql),
    ("changepoint_cusum", analytics.Mining.changepointCusum, analytics.Mining.changepointCusumSql),
    ("funnel_significance", analytics.Stats.funnelSignificance,
      analytics.Stats.funnelSignificanceSql),
    ("pareto_report", analytics.Mining.paretoReport, analytics.Mining.paretoReportSql),
    ("embed_drift", (s, d) => ann.Embed.embedDrift(s, d), ann.Embed.embedDriftSql),
    ("recommender_coverage", analytics.Eval.recommenderCoverage,
      analytics.Eval.recommenderCoverageSql),
    ("survival_km", analytics.Survival.survivalKm, analytics.Survival.survivalKmSql),
    ("acf_lags", analytics.Series.acfLags, analytics.Series.acfLagsSql),
    ("stl_decompose", analytics.Series.stlDecompose, analytics.Series.stlDecomposeSql),
    ("k_anonymity", dq.Privacy.kAnonymity, dq.Privacy.kAnonymitySql),
    ("graph_assortativity", graph.Graph.graphAssortativity, graph.Graph.graphAssortativitySql),
    ("pr_curve", analytics.Eval.prCurve, analytics.Eval.prCurveSql),
    ("ece_calibration", analytics.Eval.eceCalibration, analytics.Eval.eceCalibrationSql),
    ("cohort_ltv", analytics.Cohorts.cohortLtv, analytics.Cohorts.cohortLtvSql),
    ("target_encode", analytics.Features.targetEncode, analytics.Features.targetEncodeSql),
    ("ab_test_multi", analytics.Stats.abTestMulti, analytics.Stats.abTestMultiSql),
    ("sample_aes", pipeline.Pipeline.sampleAes, pipeline.Pipeline.sampleAesSql),
    ("embed_pca", (s, d) => ann.Embed.embedPca(s, d), ann.Embed.embedPcaSql),
    ("mi_matrix", analytics.Features.miMatrix, analytics.Features.miMatrixSql),
    ("ann_recall", (s, d) => ann.Ivf.annRecall(s, d), ann.Ivf.annRecallSql()),
    ("dedup_cdc", dedup.Substring.dedupCdc, dedup.Substring.dedupCdcSql),
    ("attribution_markov", analytics.Mining.attributionMarkov,
      analytics.Mining.attributionMarkovSql),
    ("rank_overlap", analytics.Eval.rankOverlap, analytics.Eval.rankOverlapSql),
    ("dispersion_report", analytics.Series.dispersionReport, analytics.Series.dispersionReportSql),
    ("peak_concurrency", analytics.Mining.peakConcurrency, analytics.Mining.peakConcurrencySql),
    ("anomaly_stl", analytics.Series.anomalyStl, analytics.Series.anomalyStlSql),
    ("benford_check", dq.Benford.benfordCheck, dq.Benford.benfordCheckSql),
    ("text_readability", text.Readability.textReadability, text.Readability.textReadabilitySql),
    ("ljung_box", analytics.Series.ljungBox, analytics.Series.ljungBoxSql),
    ("demand_curve", analytics.Pricing.demandCurve, analytics.Pricing.demandCurveSql),
    ("slice_metrics", dq.Slices.sliceMetrics, dq.Slices.sliceMetricsSql),
    ("ewma_smooth", analytics.Series.ewmaSmooth, analytics.Series.ewmaSmoothSql),
    ("sq8_error_report", ann.Sq8Report.sq8ErrorReport, ann.Sq8Report.sq8ErrorReportSql),
    ("xcorr_lags", analytics.Series.xcorrLags, analytics.Series.xcorrLagsSql),
    ("rolling_corr", analytics.Series.rollingCorr, analytics.Series.rollingCorrSql),
    ("holt_linear", analytics.Series.holtLinear, analytics.Series.holtLinearSql),
    ("growth_accounting", analytics.Growth.growthAccounting, analytics.Growth.growthAccountingSql),
    ("streak_lengths", analytics.Growth.streakLengths, analytics.Growth.streakLengthsSql),
    ("dq_freshness", dq.Freshness.dqFreshness, dq.Freshness.dqFreshnessSql),
    ("source_overlap", pipeline.Overlap.sourceOverlap, pipeline.Overlap.sourceOverlapSql),
    ("theil_sen", analytics.Stats.theilSen, analytics.Stats.theilSenSql),
    ("did_estimate", analytics.Stats.didEstimate, analytics.Stats.didEstimateSql),
    ("revenue_deciles", analytics.Stats.revenueDeciles, analytics.Stats.revenueDecilesSql),
    ("hhi_report", dq.Concentration.hhiReport, dq.Concentration.hhiReportSql),
    ("srm_check", dq.Concentration.srmCheck, dq.Concentration.srmCheckSql),
    ("page_hinkley", analytics.Series.pageHinkley, analytics.Series.pageHinkleySql),
    ("item_novelty", analytics.Growth.itemNovelty, analytics.Growth.itemNoveltySql),
    ("interevent_stats", analytics.Growth.intereventStats, analytics.Growth.intereventStatsSql),
    ("session_gap_sweep", analytics.Sweeps.sessionGapSweep, analytics.Sweeps.sessionGapSweepSql),
    ("source_lang_mix", analytics.Sweeps.sourceLangMix, analytics.Sweeps.sourceLangMixSql),
    ("attribution_decay", analytics.Mining.attributionDecay, analytics.Mining.attributionDecaySql),
    ("hard_negatives", (s, d) => ann.Negatives.hardNegatives(s, d),
      ann.Negatives.hardNegativesSql()),
    ("pair_negatives", pipeline.Negatives.pairNegatives, pipeline.Negatives.pairNegativesSql),
    ("cluster_size_dist", pipeline.ClusterStats.clusterSizeDist,
      pipeline.ClusterStats.clusterSizeDistSql),
    ("quality_dup_bias", pipeline.ClusterStats.qualityDupBias,
      pipeline.ClusterStats.qualityDupBiasSql),
    ("trailing_30d_revenue", analytics.Frames.trailing30dRevenue,
      analytics.Frames.trailing30dRevenueSql),
    ("value_ranks", analytics.Frames.valueRanks, analytics.Frames.valueRanksSql),
    ("weighted_median", analytics.Frames.weightedMedian, analytics.Frames.weightedMedianSql),
    ("abc_analysis", analytics.Frames.abcAnalysis, analytics.Frames.abcAnalysisSql),
    ("unpivot_metrics", analytics.Frames.unpivotMetrics, analytics.Frames.unpivotMetricsSql),
    ("shard_plan", etl.Layout.shardPlan, etl.Layout.shardPlanSql),
    ("salt_plan", etl.Layout.saltPlan, etl.Layout.saltPlanSql),
    ("encoding_stats", etl.Layout.encodingStats, etl.Layout.encodingStatsSql),
    ("dedup_winnow", dedup.Winnow.dedupWinnow, dedup.Winnow.dedupWinnowSql),
    ("nelson_aalen", analytics.Survival.nelsonAalen, analytics.Survival.nelsonAalenSql),
    ("seq_patterns", analytics.Sequences.seqPatterns, analytics.Sequences.seqPatternsSql),
    ("mix_shift", analytics.MixShift.mixShift, analytics.MixShift.mixShiftSql),
    ("quantile_normalize", pipeline.Normalize.quantileNormalize,
      pipeline.Normalize.quantileNormalizeSql),
    ("rank_fusion", (s, d) => ann.Fusion.rankFusion(s, d), ann.Fusion.rankFusionSql),
    ("time_split_embargo", pipeline.Splits.timeSplitEmbargo, pipeline.Splits.timeSplitEmbargoSql),
    ("cluster_silhouette", ann.Silhouette.clusterSilhouette, ann.Silhouette.clusterSilhouetteSql),
    ("holt_winters", analytics.Series.holtWinters, analytics.Series.holtWintersSql),
    ("cuped_adjust", analytics.Stats.cupedAdjust, analytics.Stats.cupedAdjustSql),
    ("lift_table", analytics.Eval.liftTable, analytics.Eval.liftTableSql),
    ("graph_clustering", graph.Graph.graphClustering, graph.Graph.graphClusteringSql),
    ("bloom_plan", etl.Layout.bloomPlan, etl.Layout.bloomPlanSql),
    ("partition_plan", etl.Layout.partitionPlan, etl.Layout.partitionPlanSql),
    ("prune_stats", etl.Layout.pruneStats, etl.Layout.pruneStatsSql),
    ("heaps_fit", text.TextQueries.heapsFit, text.TextQueries.heapsFitSql),
    ("conformal_pi", analytics.Stats.conformalPi, analytics.Stats.conformalPiSql),
    ("sequential_test", analytics.Stats.sequentialTest, analytics.Stats.sequentialTestSql),
    ("watermark_plan", etl.Layout.watermarkPlan, etl.Layout.watermarkPlanSql),
    ("power_analysis", analytics.Stats.powerAnalysis, analytics.Stats.powerAnalysisSql),
    ("mm_shard_plan", multimodal.Multimodal.mmShardPlan, multimodal.Multimodal.mmShardPlanSql),
    ("logrank_test", analytics.Survival.logrankTest, analytics.Survival.logrankTestSql),
    ("mrr_eval", analytics.Eval.mrrEval, analytics.Eval.mrrEvalSql),
    ("degree_dist", graph.Graph.degreeDist, graph.Graph.degreeDistSql),
    ("split_balance", pipeline.Splits.splitBalance, pipeline.Splits.splitBalanceSql),
    ("bpe_fertility", text.TextQueries.bpeFertility, text.TextQueries.bpeFertilitySql),
    ("cohens_kappa", analytics.Eval.cohensKappa, analytics.Eval.cohensKappaSql),
    ("brier_decomposition", analytics.Eval.brierDecomposition,
      analytics.Eval.brierDecompositionSql),
    ("gini_lorenz", analytics.Mining.giniLorenz, analytics.Mining.giniLorenzSql),
    ("zorder_stats", etl.Layout.zorderStats, etl.Layout.zorderStatsSql),
    ("context_len_sweep", text.CorpusOps.contextLenSweep, text.CorpusOps.contextLenSweepSql),
    ("slice_auc", analytics.Eval.sliceAuc, analytics.Eval.sliceAucSql),
    ("strata_adjust", analytics.Stats.strataAdjust, analytics.Stats.strataAdjustSql),
    ("spearman_corr", analytics.Stats.spearmanCorr, analytics.Stats.spearmanCorrSql),
    ("rank_movers", analytics.Growth.rankMovers, analytics.Growth.rankMoversSql),
    ("loo_source_impact", text.CorpusOps.looSourceImpact, text.CorpusOps.looSourceImpactSql),
    ("upsert_amplification", etl.Layout.upsertAmplification, etl.Layout.upsertAmplificationSql),
    ("hash_uniformity", analytics.Stats.hashUniformity, analytics.Stats.hashUniformitySql),
    ("tail_risk", analytics.Mining.tailRisk, analytics.Mining.tailRiskSql),
    ("slo_burn", analytics.Growth.sloBurn, analytics.Growth.sloBurnSql),
    ("gold_rollup", etl.EtlQueries.goldRollup, etl.EtlQueries.goldRollupSql),
    ("kendall_tau", analytics.Assoc.kendallTau, analytics.Assoc.kendallTauSql),
    ("cramers_v", analytics.Assoc.cramersV, analytics.Assoc.cramersVSql),
    ("runs_test", analytics.Assoc.runsTest, analytics.Assoc.runsTestSql),
    ("js_drift", dq.Drift.jsDrift, dq.Drift.jsDriftSql),
    ("dau_mau_stickiness", analytics.Growth.dauMauStickiness, analytics.Growth.dauMauStickinessSql),
    ("mann_kendall", analytics.Assoc.mannKendall, analytics.Assoc.mannKendallSql),
    ("dup_spans_cut", dedup.Substring.dupSpansCut, dedup.Substring.dupSpansCutSql),
    ("url_canonicalize", text.Urls.urlCanonicalize, text.Urls.urlCanonicalizeSql),
    ("host_quality", text.Urls.hostQuality, text.Urls.hostQualitySql),
    ("corpus_mix_topic", pipeline.Pipeline.corpusMixTopic, pipeline.Pipeline.corpusMixTopicSql),
    ("record_linkage", dedup.Linkage.recordLinkage, dedup.Linkage.recordLinkageSql),
    ("blocking_eval", dedup.Linkage.blockingEval, dedup.Linkage.blockingEvalSql),
    ("uplift_deciles", analytics.Uplift.upliftDeciles, analytics.Uplift.upliftDecilesSql),
    ("jl_projection", ann.Jl.jlProjection, ann.Jl.jlProjectionSql),
    ("token_budget_plan", pipeline.Budget.tokenBudgetPlan, pipeline.Budget.tokenBudgetPlanSql),
    ("compaction_plan", etl.Compaction.compactionPlan, etl.Compaction.compactionPlanSql),
    ("t_closeness", dq.Privacy.tCloseness, dq.Privacy.tClosenessSql),
    ("link_scores", graph.LinkPred.linkScores, graph.LinkPred.linkScoresSql),
    ("shapley_attribution", analytics.Shapley.shapleyAttribution,
      analytics.Shapley.shapleyAttributionSql),
    ("isotonic_calibration", analytics.Calibration.isotonicCalibration,
      analytics.Calibration.isotonicCalibrationSql),
    ("null_pattern", dq.NullPatterns.nullPattern, dq.NullPatterns.nullPatternSql),
    ("eb_shrinkage", analytics.Shrinkage.ebShrinkage, analytics.Shrinkage.ebShrinkageSql),
    ("sax_motifs", analytics.SaxMotifs.saxMotifs, analytics.SaxMotifs.saxMotifsSql),
    ("huber_mean", analytics.Huber.huberMean, analytics.Huber.huberMeanSql),
    ("dtw_distance", analytics.Dtw.dtwDistance, analytics.Dtw.dtwDistanceSql),
    ("burst_detect", analytics.Burst.burstDetect, analytics.Burst.burstDetectSql),
    ("mmr_diversify", (s, d) => ann.Mmr.mmrDiversify(s, d), ann.Mmr.mmrDiversifySql()),
    ("l_diversity", dq.LDiversity.lDiversity, dq.LDiversity.lDiversitySql),
    ("cliffs_delta", analytics.Stats.cliffsDelta, analytics.Stats.cliffsDeltaSql),
    ("trimmed_mean", analytics.Robust.trimmedMean, analytics.Robust.trimmedMeanSql),
    ("tukey_fences", analytics.Robust.tukeyFences, analytics.Robust.tukeyFencesSql),
    ("hill_tail", (s, d) => analytics.Robust.hillTail(s, d), analytics.Robust.hillTailSql()),
    ("dedup_url", text.Urls.dedupUrl, text.Urls.dedupUrlSql),
    ("chao1_vocab", text.CorpusOps.chao1Vocab, text.CorpusOps.chao1VocabSql)
  )

  // ---- the whole-surface runner: Bench, Verify, DegenerateGate,
  // PlanGate and EntrySpec pick and run queries here, and every entry
  // main (InvariantCheck too) takes its session here

  /** The registry in name order, cut to the exact comma-separated names
    * of `only` (default `SPARK_GRAFT_ONLY`; unset runs everything). A
    * name not in the registry throws: a typo must not run 0 queries
    * that every gate then reports clean. */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val names = only.map(_.split(",").map(_.trim).toSet)
    val unknown = names.getOrElse(Set.empty) -- queries.keySet
    require(unknown.isEmpty,
      s"SPARK_GRAFT_ONLY names no registered query: ${unknown.toSeq.sorted.mkString(",")}")
    queries.toSeq.sortBy(_._1).filter { case (n, _) => names.forall(_.contains(n)) }
  }

  /** The tuned session for an entry main: `SPARK_GRAFT_CPUS` cores,
    * else every core of the host. */
  def session(appName: String, dataDir: Option[String],
      logLevel: String = "WARN"): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = GraftSession.build(s"local[$cores]", appName, dataDir, cores)
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Compute every row and column of `df` and discard them. A `count()`
    * lets Catalyst prune the columns it never reads, so it times and
    * checks less work than the query does (an unguarded division in a
    * pruned column never fires). */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Run one query the way every surface runner does: `body` builds and
    * uses its frame inside a query scope ([[Barrier.scope]]), so the
    * barriers it cuts outside a memo entry are released when it ends.
    * Returns what `body` returned or threw, and the names of the
    * barriers the scope owned, in creation order. */
  def run[T](body: => T): (Either[Throwable, T], Seq[String]) =
    Barrier.scope(try Right(body) catch { case e: Throwable => Left(e) })

  /** One line per failure: the root cause as `Class: message`, ≤300
    * chars. A Spark error raised from DataFrame code keeps its call
    * site (`"div" was called from File.scala:line`); when the message
    * and the call site overrun the cap, the message is cut to its
    * condition and first sentence, dropping Spark's fixed hint ("Use
    * `try_divide` … to bypass this error.") rather than the call site. */
  def failureText(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    val text = s"${c.getClass.getSimpleName}: ${c.getMessage}"
    val context = c match {
      case t: org.apache.spark.SparkThrowable => t.getQueryContext.find(
        _.contextType == org.apache.spark.QueryContextType.DataFrame)
      case _ => None
    }
    context.fold(text) { q =>
      val head = text.takeWhile(_ != '\n') // the lines after it repeat the context
      val at = s""" "${q.fragment}" was called from ${q.callSite.takeWhile(_ != '\n')}"""
      val cut = head.indexOf(". ")
      (if (head.length + at.length <= 300 || cut < 0) head else head.take(cut + 1)) + at
    }.replace('\n', ' ').take(300)
  }
}

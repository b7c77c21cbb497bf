package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.OracleSqlExt
import graft.ext.{Associations, Dedup, Events, Multimodal, Similarity, SqlSurfaces, TextAnalysis}
import graft.ml.ReorderModel
import graft.streaming.Streams

/** Extension-tier queries (SURVEY.md §2.11 + the training-data-pipeline
  * surface): events/JSON/windows, text analysis, dedup, similarity search,
  * multimodal plumbing, ML, streaming. Oracle-checked where DuckDB can
  * express the semantics; the rest are rows-only (driver records a weaker
  * check) and covered by ScalaTest instead.
  */
object Ext {

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // events / windows (X5–X8)
    "x01_json_extract"     -> ((s: SparkSession, d: String) => Events.jsonExtract(s, d)),
    "x02_window_tumbling"  -> ((s: SparkSession, d: String) => Events.tumbling(s, d)),
    "x03_window_sliding"   -> ((s: SparkSession, d: String) => Events.sliding(s, d)),
    "x04_session_window"   -> ((s: SparkSession, d: String) => Events.sessions(s, d)),
    "x05_event_pivot"      -> ((s: SparkSession, d: String) => Events.pivotCounts(s, d)),
    "x06_event_unpivot"    -> ((s: SparkSession, d: String) => Events.unpivotCounts(s, d)),
    "x19_from_json"        -> ((s: SparkSession, d: String) => Events.jsonSchema(s, d)),
    "x93_funnel"           -> ((s: SparkSession, d: String) => Events.funnel(s, d)),
    "x94_retention"        -> ((s: SparkSession, d: String) => Events.retentionCohorts(s, d)),
    "x97_basket_rules"     -> ((s: SparkSession, d: String) => Associations.basketRules(s, d)),
    "x154_fpgrowth_rules"  -> ((s: SparkSession, d: String) => Associations.fpgrowthRules(s, d)),
    "x193_seq_patterns"    -> ((s: SparkSession, d: String) => Associations.seqPatterns(s, d)),
    "x194_auc_ranksum"     -> ((s: SparkSession, d: String) => graft.ops.Quality.aucRankSum(s, d)),
    "x195_ks_test"         -> ((s: SparkSession, d: String) => graft.ops.Quality.ksTest(s, d)),
    "x196_quantile_bins"   -> ((s: SparkSession, d: String) => graft.ops.Encoding.quantileBins(s, d)),
    "x197_crosscorr"       -> ((s: SparkSession, d: String) => Events.crossCorrDaily(s, d)),
    "x198_fd_audit"        -> ((s: SparkSession, d: String) => graft.ops.Quality.fdAudit(s, d)),
    "x199_item_cf"         -> ((s: SparkSession, d: String) => Associations.itemCf(s, d)),
    "x200_kcore"           -> ((s: SparkSession, d: String) => graft.ops.Graph.kCoreParts(s, d)),
    "x201_ab_test"         -> ((s: SparkSession, d: String) => graft.ops.Quality.abTest(s, d)),
    "x218_cuped"           -> ((s: SparkSession, d: String) => graft.ops.Quality.cuped(s, d)),
    "x220_mmr_diversify"   -> ((s: SparkSession, d: String) => Similarity.mmrDiversify(s, d)),
    "x219_ks_bh_fdr"       -> ((s: SparkSession, d: String) => graft.ops.Quality.ksBhReport(s, d)),
    "x202_cohort_ltv"      -> ((s: SparkSession, d: String) => Events.cohortLtv(s, d)),
    "x203_growth_accounting" -> ((s: SparkSession, d: String) => Events.growthAccounting(s, d)),
    "x204_abc_xyz"         -> ((s: SparkSession, d: String) => graft.ops.Encoding.abcXyz(s, d)),
    "x205_next_best_offer" -> ((s: SparkSession, d: String) => Associations.nextBestOffer(s, d)),
    "x208_skyline"         -> ((s: SparkSession, d: String) => graft.ops.Encoding.skylineParts(s, d)),
    "x209_lift_table"      -> ((s: SparkSession, d: String) => graft.ops.Encoding.liftTable(s, d)),
    "x210_dup_payments"    -> ((s: SparkSession, d: String) => graft.ops.Quality.dupPayments(s, d)),
    "x211_cdc_apply"       -> ((s: SparkSession, d: String) => Events.cdcApply(s, d)),
    "x212_disorder_audit"  -> ((s: SparkSession, d: String) => Events.disorderAudit(s, d)),
    "x213_substitutes"     -> ((s: SparkSession, d: String) => Associations.substitutes(s, d)),
    "x215_triple_itemsets" -> ((s: SparkSession, d: String) => Associations.tripleItemsets(s, d)),
    // rows-only by design: double moment sums (the m01 class); MlSpec pins
    // the normal-equation residual, refit equality, and fit-beats-mean
    "m09_ridge"            -> ((s: SparkSession, d: String) => ReorderModel.ridgeCoefficients(s, d)),
    // rows-only by design: double moment sums (the m01 class); MlSpec
    // proves exactness against brute-force leave-one-out refits
    "m10_ridge_loocv"      -> ((s: SparkSession, d: String) => ReorderModel.ridgeLoocv(s, d)),
    // rows-only by design: LBFGS-fit coefficients (m01 class); MlSpec pins
    // refit-equality, finiteness, and the train-AUC floor
    "m08_logistic"         -> ((s: SparkSession, d: String) => ReorderModel.logisticCoefficients(s, d)),
    "m05_als_recs"         -> ((s: SparkSession, d: String) => ReorderModel.alsRecommendations(s, d)),
    "x98_event_transitions" -> ((s: SparkSession, d: String) => Events.eventTransitions(s, d)),
    "x99_scd2_versions"    -> ((s: SparkSession, d: String) => Events.scd2Versions(s, d)),
    "x145_merge_upsert"    -> ((s: SparkSession, d: String) => graft.ops.Merge.mergeUpsert(s, d)),
    "x151_incremental_agg" -> ((s: SparkSession, d: String) => graft.ops.Merge.incrementalAgg(s, d)),
    // z-order layout round-trip (identity on content; SourcesSpec measures
    // the two-dimensional row-group pruning the layout exists for)
    "x146_zorder_roundtrip" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val out = graft.RunScoped.ioDir + "/events_zorder"
      graft.sources.Sinks.zOrdered(graft.Tables.events(s, d), out,
        col("user_id"), expr("unix_micros(ts) div 86400000000"), files = 8)
      s.read.parquet(out)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("event_type"), round(col("value"), 4).as("value"))
        .orderBy("event_id")
    }),
    "x112_hll_merge"       -> ((s: SparkSession, d: String) => Events.hllMergeCounts(s, d)),
    "x114_gap_fill"        -> ((s: SparkSession, d: String) => Events.gapFill(s, d)),
    "x152_interpolate"     -> ((s: SparkSession, d: String) => Events.interpolateDaily(s, d)),
    "x118_rolling_7d"      -> ((s: SparkSession, d: String) => Events.rollingDaily(s, d)),
    "x132_time_weighted"   -> ((s: SparkSession, d: String) => Events.timeWeightedAvg(s, d)),
    "x134_value_histogram" -> ((s: SparkSession, d: String) => Events.valueHistogram(s, d)),
    "x120_daily_trend"     -> ((s: SparkSession, d: String) => Events.dailyTrend(s, d)),
    "x160_ewma_daily"      -> ((s: SparkSession, d: String) => Events.ewmaDaily(s, d)),
    "x162_mutual_info"     -> ((s: SparkSession, d: String) => Events.mutualInfo(s, d)),
    "x163_chi2_indep"      -> ((s: SparkSession, d: String) => Events.chi2Independence(s, d)),
    "x166_benford_audit"   -> ((s: SparkSession, d: String) => graft.ops.Quality.benfordAudit(s, d)),
    "x167_k_anonymity"     -> ((s: SparkSession, d: String) => graft.ops.Quality.kAnonymityAudit(s, d)),
    "x168_psi_drift"       -> ((s: SparkSession, d: String) => Events.psiDrift(s, d)),
    "x169_vocab_coverage"  -> ((s: SparkSession, d: String) => TextAnalysis.vocabCoverage(s, d)),
    "x170_km_survival"     -> ((s: SparkSession, d: String) => Events.kmSurvival(s, d)),
    "x171_conversion_lag"  -> ((s: SparkSession, d: String) => Events.conversionLag(s, d)),
    "x172_revenue_acf"     -> ((s: SparkSession, d: String) => Events.revenueAcf(s, d)),
    "x173_cusum_shift"     -> ((s: SparkSession, d: String) => Events.cusumShift(s, d)),
    "x174_top_paths"       -> ((s: SparkSession, d: String) => Events.topEventPaths(s, d)),
    "x175_source_overlap"  -> ((s: SparkSession, d: String) => TextAnalysis.sourceOverlap(s, d)),
    "x176_tail_index"      -> ((s: SparkSession, d: String) => TextAnalysis.tailIndex(s, d)),
    "x177_kmeans"          -> ((s: SparkSession, d: String) => graft.ml.Clustering.kmeansCustomers(s, d)),
    "x178_interarrival"    -> ((s: SparkSession, d: String) => Events.interArrival(s, d)),
    "x179_weight_ess"      -> ((s: SparkSession, d: String) => graft.ops.Sampling.weightEss(s, d)),
    "x180_attribution"     -> ((s: SparkSession, d: String) => Events.linearAttribution(s, d)),
    "x181_target_encode"   -> ((s: SparkSession, d: String) => graft.ops.Encoding.targetEncodeBrand(s, d)),
    "x221_oof_encode"      -> ((s: SparkSession, d: String) => graft.ops.Encoding.oofTargetEncode(s, d)),
    "x222_bpe_train"       -> ((s: SparkSession, d: String) => TextAnalysis.bpeTrain(s, d)),
    "x223_containment"     -> ((s: SparkSession, d: String) => Dedup.containmentPairs(s, d)),
    "x224_kneser_ney"      -> ((s: SparkSession, d: String) => TextAnalysis.kneserNeyNll(s, d)),
    "x225_neyman_sample"   -> ((s: SparkSession, d: String) => graft.ops.Sampling.docNeymanSample(s, d)),
    "x226_sprt_monitor"    -> ((s: SparkSession, d: String) => graft.ops.Quality.sprtMonitor(s, d)),
    "x227_stratified_ate"  -> ((s: SparkSession, d: String) => graft.ops.Quality.stratifiedAte(s, d)),
    "x228_logrank"         -> ((s: SparkSession, d: String) => Events.logRank(s, d)),
    "x229_bradley_terry"   -> ((s: SparkSession, d: String) => Associations.bradleyTerry(s, d)),
    "x230_ipf_rake"        -> ((s: SparkSession, d: String) => graft.ops.Sampling.ipfRake(s, d)),
    "x231_label_prop"      -> ((s: SparkSession, d: String) => graft.ops.Graph.labelPropagation(s, d)),
    "x232_shapley"         -> ((s: SparkSession, d: String) => Events.shapleyAttribution(s, d)),
    "x233_kcenter"         -> ((s: SparkSession, d: String) => Similarity.kcenterCoreset(s, d)),
    "x234_markov_attrib"   -> ((s: SparkSession, d: String) => Events.markovAttribution(s, d)),
    "x235_good_turing"     -> ((s: SparkSession, d: String) => TextAnalysis.goodTuring(s, d)),
    "x236_nelson_aalen"    -> ((s: SparkSession, d: String) => Events.nelsonAalen(s, d)),
    "x237_jackknife_se"    -> ((s: SparkSession, d: String) => graft.ops.Quality.jackknifeRatio(s, d)),
    "x238_ucb_replay"      -> ((s: SparkSession, d: String) => graft.ops.Quality.ucbReplay(s, d)),
    "x239_isotonic_exact"  -> ((s: SparkSession, d: String) => Analytics.isotonicExact(s, d)),
    "x240_backtest"        -> ((s: SparkSession, d: String) => Analytics.backtestNaive(s, d)),
    "x241_harmonic"        -> ((s: SparkSession, d: String) => graft.ops.Graph.harmonicCentrality(s, d)),
    "x242_mutual_knn"      -> ((s: SparkSession, d: String) => Similarity.mutualKnnClusters(s, d)),
    "x243_conformal"       -> ((s: SparkSession, d: String) => Analytics.conformalInterval(s, d)),
    "x244_entropy_rate"    -> ((s: SparkSession, d: String) => Events.entropyRate(s, d)),
    "x245_cmh_test"        -> ((s: SparkSession, d: String) => graft.ops.Quality.cmhTest(s, d)),
    "x246_capture_recapture" -> ((s: SparkSession, d: String) => graft.ops.Quality.chapmanEstimate(s, d)),
    "x247_hll_exact"       -> ((s: SparkSession, d: String) => graft.ops.Quality.hllExact(s, d)),
    "x248_kendall_tau"     -> ((s: SparkSession, d: String) => Analytics.kendallTau(s, d)),
    "x249_power_calc"      -> ((s: SparkSession, d: String) => Analytics.powerCalc(s, d)),
    "x250_partial_corr"    -> ((s: SparkSession, d: String) => Analytics.partialCorr(s, d)),
    "x251_g_test"          -> ((s: SparkSession, d: String) => Events.gTest(s, d)),
    "x252_zipf_slope"      -> ((s: SparkSession, d: String) => TextAnalysis.zipfSlope(s, d)),
    "x253_burstiness"      -> ((s: SparkSession, d: String) => TextAnalysis.termBurstiness(s, d)),
    "x254_wasserstein"     -> ((s: SparkSession, d: String) => Events.wassersteinDrift(s, d)),
    "x255_kmv_overlap"     -> ((s: SparkSession, d: String) => graft.ops.Quality.kmvOverlap(s, d)),
    "x256_eb_shrinkage"    -> ((s: SparkSession, d: String) => Analytics.ebShrinkage(s, d)),
    "x257_decay_attrib"    -> ((s: SparkSession, d: String) => Events.decayAttribution(s, d)),
    "x260_ndcg_eval"       -> ((s: SparkSession, d: String) => Associations.ndcgEval(s, d)),
    "x261_topk_perkey"     -> ((s: SparkSession, d: String) => graft.plans.TopKPerKey.topBrandParts(s, d)),
    "x262_pq_topk"         -> ((s: SparkSession, d: String) => Similarity.pqTopK(s, d)),
    "x263_tfidf_keywords"  -> ((s: SparkSession, d: String) => TextAnalysis.tfidfKeywords(s, d)),
    "x264_mahalanobis"     -> ((s: SparkSession, d: String) => graft.ops.Quality.mahalanobisOutliers(s, d)),
    "x265_gains_table"     -> ((s: SparkSession, d: String) => graft.ml.ReorderModel.gainsTable(s, d)),
    "x266_ivf_pq"          -> ((s: SparkSession, d: String) => Similarity.ivfPqTopK(s, d)),
    "x267_avg_precision"   -> ((s: SparkSession, d: String) => graft.ml.ReorderModel.averagePrecision(s, d)),
    "x268_markov_accuracy" -> ((s: SparkSession, d: String) => Events.markovAccuracy(s, d)),
    "x182_pmi_collocations" -> ((s: SparkSession, d: String) => TextAnalysis.pmiCollocations(s, d)),
    // rows-only by design: PAVA over seeded-RF holdout scores (m01 class);
    // MlSpec pins monotonicity/bounds/determinism
    "m06_isotonic"         -> ((s: SparkSession, d: String) => ReorderModel.isotonicCalibration(s, d)),
    "x183_active_users"    -> ((s: SparkSession, d: String) => Events.activeUsers(s, d)),
    "x184_sq8_topk"        -> ((s: SparkSession, d: String) => Similarity.sq8TopK(s, d)),
    "x185_wow_growth"      -> ((s: SparkSession, d: String) => Events.wowGrowth(s, d)),
    "x186_percentile_bands" -> ((s: SparkSession, d: String) => Events.dailyPercentileBands(s, d)),
    "x187_dataset_card"    -> ((s: SparkSession, d: String) => TextAnalysis.datasetCard(s, d)),
    "x188_key_skew"        -> ((s: SparkSession, d: String) => graft.ops.Skew.keySkewProfile(s, d)),
    "x189_density_grid"    -> ((s: SparkSession, d: String) => graft.ops.Encoding.densityGrid(s, d)),
    "x190_streaks"         -> ((s: SparkSession, d: String) => Events.activityStreaks(s, d)),
    "x191_rank_normalize"  -> ((s: SparkSession, d: String) => TextAnalysis.rankNormalize(s, d)),
    "x192_abc_classes"     -> ((s: SparkSession, d: String) => graft.ops.Encoding.abcClasses(s, d)),
    // rows-only by design: seeded-ensemble importances (m01 class);
    // MlSpec pins nonnegativity/sum-to-one/determinism
    "m07_feature_importance" -> ((s: SparkSession, d: String) => ReorderModel.featureImportance(s, d)),
    // rows-only by design: seeded tree-ensemble scores (the m01 class);
    // StreamingSpec pins exact stream ≡ batch score equality
    "s16_stream_inference" -> ((s: SparkSession, d: String) => Streams.streamingInference(s, d)),
    "s17_stream_late_drop" -> ((s: SparkSession, d: String) => Streams.lateDataDrop(s, d)),
    "s18_stream_two_level" -> ((s: SparkSession, d: String) => Streams.twoLevelWindows(s, d)),
    // text analysis (X4)
    "x10_token_stats"      -> ((s: SparkSession, d: String) => TextAnalysis.tokenStats(s, d)),
    "x11_quality_filter"   -> ((s: SparkSession, d: String) => TextAnalysis.qualityFilter(s, d)),
    "x12_langid"           -> ((s: SparkSession, d: String) => TextAnalysis.langScore(s, d)),
    "x13_fingerprint"      -> ((s: SparkSession, d: String) => TextAnalysis.fingerprints(s, d)),
    "x18_bpe_tokens"       -> ((s: SparkSession, d: String) => TextAnalysis.bpeTokenCounts(s, d)),
    "x83_gopher_signals"   -> ((s: SparkSession, d: String) => TextAnalysis.gopherSignals(s, d)),
    "x85_unigram_nll"      -> ((s: SparkSession, d: String) => TextAnalysis.unigramNll(s, d)),
    "x107_bigram_nll"      -> ((s: SparkSession, d: String) => TextAnalysis.bigramNll(s, d)),
    "x140_interp_nll"      -> ((s: SparkSession, d: String) => TextAnalysis.interpolatedNll(s, d)),
    "x108_cms_counts"      -> ((s: SparkSession, d: String) => TextAnalysis.cmsTokenCounts(s, d)),
    "x90_dsir_weights"     -> ((s: SparkSession, d: String) => TextAnalysis.dsirWeights(s, d)),
    "x95_bm25"             -> ((s: SparkSession, d: String) => TextAnalysis.bm25(s, d)),
    "x96_quality_fusion"   -> ((s: SparkSession, d: String) => TextAnalysis.qualityFusion(s, d)),
    "x92_source_token_rate" -> ((s: SparkSession, d: String) => TextAnalysis.sourceTokenRate(s, d)),
    "x103_gram_novelty"    -> ((s: SparkSession, d: String) => TextAnalysis.gramNovelty(s, d)),
    "x113_mad_outliers"    -> ((s: SparkSession, d: String) => TextAnalysis.madOutliers(s, d)),
    "x115_quantile_norm"   -> ((s: SparkSession, d: String) => TextAnalysis.quantileNormalize(s, d)),
    "x119_source_kl"       -> ((s: SparkSession, d: String) => TextAnalysis.sourceKl(s, d)),
    "x130_source_entropy"  -> ((s: SparkSession, d: String) => TextAnalysis.sourceEntropy(s, d)),
    "x131_wilson_bounds"   -> ((s: SparkSession, d: String) => TextAnalysis.wilsonBounds(s, d)),
    "x123_heldout_ppl"     -> ((s: SparkSession, d: String) => TextAnalysis.heldoutPpl(s, d)),
    "x155_backoff_nll"     -> ((s: SparkSession, d: String) => TextAnalysis.heldoutBackoffNll(s, d)),
    "x159_gate_attribution" -> ((s: SparkSession, d: String) => TextAnalysis.gateAttribution(s, d)),
    "x124_column_stats"    -> ((s: SparkSession, d: String) => graft.ops.Quality.columnStats(
      graft.Tables.documents(s, d), Seq("doc_id", "lang", "n_chars", "source", "text"))),
    // rows-only by design: the NDV column is a Datasketches HLL estimate
    // (DuckDB's approx_count_distinct is a different sketch — values
    // cannot hash-match); OpsSpec pins the ≤5 % error law vs exact x124
    "x147_column_stats_hll" -> ((s: SparkSession, d: String) => graft.ops.Quality.columnStatsApprox(
      graft.Tables.documents(s, d), Seq("doc_id", "lang", "n_chars", "source", "text"))),
    "x125_constraint_audit" -> ((s: SparkSession, d: String) => graft.ops.Quality.constraintAudit(s, d)),
    // dedup (X1/X2)
    "x14_dedup_exact"      -> ((s: SparkSession, d: String) => Dedup.exact(s, d)),
    "x15_ngram_jaccard"    -> ((s: SparkSession, d: String) => Dedup.ngramJaccardPairs(s, d)),
    "x16_minhash_lsh"      -> ((s: SparkSession, d: String) => Dedup.minhashPairs(s, d)),
    "x17_simhash_neardup"  -> ((s: SparkSession, d: String) => Dedup.simhashPairs(s, d)),
    "x158_capped_neardup"  -> ((s: SparkSession, d: String) => Dedup.cappedNeardupPairs(s, d)),
    "x269_routed_neardup"  -> ((s: SparkSession, d: String) => Dedup.routedNearDup(s, d)),
    "x270_hll_rollup"      -> ((s: SparkSession, d: String) => graft.ops.Quality.hllRollup(s, d)),
    "x271_topk_fact"       -> ((s: SparkSession, d: String) => graft.plans.TopKPerKey.topFactPerPartWindow(s, d)),
    "x272_topk_fact_window" -> ((s: SparkSession, d: String) => graft.plans.TopKPerKey.topFactPerPartWindow(s, d)),
    "x273_ddsketch"        -> ((s: SparkSession, d: String) => graft.ops.Quality.ddsketchQuantiles(s, d)),
    "x274_stratified_aes"  -> ((s: SparkSession, d: String) => graft.ops.Sampling.stratifiedAes(s, d)),
    "x275_pit_join"        -> ((s: SparkSession, d: String) => graft.ops.AsOf.pitDimensionJoin(s, d)),
    "x278_pit_bucketed"    -> ((s: SparkSession, d: String) => graft.ops.AsOf.pitDimensionJoinBucketed(s, d)),
    "x281_pit_routed"      -> ((s: SparkSession, d: String) => graft.ops.AsOf.pitDimensionJoinRouted(s, d)),
    "x279_topk_tiered"     -> ((s: SparkSession, d: String) => graft.plans.TopKPerKey.topBrandPartsTiered(s, d)),
    "x282_topk_structkey"  -> ((s: SparkSession, d: String) => graft.plans.TopKPerKey.topBrandContainerParts(s, d)),
    "x283_part_pagerank"   -> ((s: SparkSession, d: String) => graft.ops.Graph.partPagerank(s, d)),
    "x284_variant_shred"   -> ((s: SparkSession, d: String) => Events.variantShred(s, d)),
    "x285_recursive_cte"   -> ((s: SparkSession, d: String) => graft.ops.Graph.recursiveReach(s, d)),
    "x286_sql_udf"         -> ((s: SparkSession, d: String) => TextAnalysis.sqlUdfQuality(s, d)),
    "x287_listagg"         -> ((s: SparkSession, d: String) => TextAnalysis.listaggTypes(s, d)),
    "x288_pipe_syntax"     -> ((s: SparkSession, d: String) => SqlSurfaces.pipeSyntaxPricing(s, d)),
    "x289_group_by_all"    -> ((s: SparkSession, d: String) => SqlSurfaces.groupByAllCounts(s, d)),
    "x280_incr_scd2"       -> ((s: SparkSession, d: String) => Events.incrementalScd2(s, d)),
    "s20_stream_pit"       -> ((s: SparkSession, d: String) => graft.streaming.Streams.pitStream(s, d)),
    "x276_ddsketch_drift"  -> ((s: SparkSession, d: String) => graft.ops.Quality.ddsketchDrift(s, d)),
    "x60_clean_corpus"     -> ((s: SparkSession, d: String) => Dedup.cleanCorpus(s, d)),
    "x61_corpus_delta"     -> ((s: SparkSession, d: String) => Dedup.corpusDelta(s, d)),
    "x62_decontaminate"    -> ((s: SparkSession, d: String) => Dedup.decontaminate(s, d)),
    "x87_fuzzy_decontam"   -> ((s: SparkSession, d: String) => Dedup.fuzzyDecontaminate(s, d)),
    "x63_dup_clusters"     -> ((s: SparkSession, d: String) => Dedup.dupClusters(s, d)),
    "x104_leak_safe_split" -> ((s: SparkSession, d: String) => graft.ops.Sampling.leakSafeSplit(s, d)),
    "x109_weighted_sample" -> ((s: SparkSession, d: String) => graft.ops.Sampling.docWeightedSample(s, d)),
    "x141_weighted_repl"   -> ((s: SparkSession, d: String) => graft.ops.Sampling.weightedWithReplacement(s, d)),
    "x116_token_budget"    -> ((s: SparkSession, d: String) => graft.ops.Sampling.tokenBudgetCurriculum(s, d)),
    "x122_source_budget"   -> ((s: SparkSession, d: String) => graft.ops.Sampling.sourceBudgetCut(s, d)),
    "x129_bootstrap"       -> ((s: SparkSession, d: String) => graft.ops.Sampling.bootstrapMeans(s, d)),
    "x110_trade_pagerank"  -> ((s: SparkSession, d: String) => graft.ops.Graph.nationTradeRank(s, d)),
    "x105_snapshot_diff"   -> ((s: SparkSession, d: String) => Dedup.snapshotDiff(s, d)),
    "x117_edit_dedup"      -> ((s: SparkSession, d: String) => Dedup.editDistancePairs(s, d)),
    "x121_entity_clusters" -> ((s: SparkSession, d: String) => Dedup.entityClusters(s, d)),
    "x127_neardup_admit"   -> ((s: SparkSession, d: String) => Dedup.nearDupAdmit(s, d)),
    "x133_dup_matrix"      -> ((s: SparkSession, d: String) => Dedup.sourceDupMatrix(s, d)),
    "x79_int8_quantize"    -> ((s: SparkSession, d: String) => Similarity.int8Quantize(s, d)),
    "x84_l2_normalize"     -> ((s: SparkSession, d: String) => Similarity.l2Normalize(s, d)),
    "x88_cos_histogram"    -> ((s: SparkSession, d: String) => Similarity.cosHistogram(s, d)),
    "x80_compress_ratio"   -> ((s: SparkSession, d: String) => TextAnalysis.compressionRatios(s, d)),
    // similarity search (X3)
    "x20_cosine_topk"      -> ((s: SparkSession, d: String) => Similarity.bruteForceTopK(s, d)),
    "x106_hard_negatives"  -> ((s: SparkSession, d: String) => Similarity.hardNegatives(s, d)),
    "x21_embedding_neardup" -> ((s: SparkSession, d: String) => Dedup.embeddingNearDup(s, d)),
    "x22_ann_ivf"          -> ((s: SparkSession, d: String) => Similarity.ivfTopK(s, d)),
    "x89_semantic_dedup"   -> ((s: SparkSession, d: String) => Similarity.semanticDedup(s, d)),
    "x126_kmeans_report"   -> ((s: SparkSession, d: String) => Similarity.kmeansReport(s, d)),
    "x91_sign_projection"  -> ((s: SparkSession, d: String) => Similarity.signProjection(s, d)),
    "x23_topk_aggregator"  -> ((s: SparkSession, d: String) => Similarity.aggregatorTopK(s, d)),
    "x148_covariance"      -> ((s: SparkSession, d: String) => Similarity.covarianceMatrix(s, d)),
    "x149_principal_comp"  -> ((s: SparkSession, d: String) => Similarity.principalComponent(s, d)),
    "x156_sq8_profile"     -> ((s: SparkSession, d: String) => Similarity.sq8Profile(s, d)),
    "x157_pca_project"     -> ((s: SparkSession, d: String) => Similarity.pcaProject(s, d)),
    "x216_scree"           -> ((s: SparkSession, d: String) => Similarity.screeReport(s, d)),
    "x217_heaps_law"       -> ((s: SparkSession, d: String) => TextAnalysis.heapsCurve(s, d)),
    "x150_heavy_hitters"   -> ((s: SparkSession, d: String) => TextAnalysis.heavyHitters(s, d)),
    "x153_length_buckets"  -> ((s: SparkSession, d: String) => TextAnalysis.lengthBuckets(s, d)),
    // range/interval join (time-bucketed equi-join + exact predicate)
    "x51_range_join"       -> ((s: SparkSession, d: String) => graft.ops.RangeJoin.clicksBeforeErrors(s, d)),
    // as-of join (union + last-non-null window composition)
    "x50_asof_join"        -> ((s: SparkSession, d: String) => graft.ops.AsOf.eventsToLatestOrder(s, d)),
    "x138_asof_forward"    -> ((s: SparkSession, d: String) => graft.ops.AsOf.ordersToNextEvent(s, d)),
    // skew-resilient aggregation (two-phase salted; equals plain groupBy)
    "x40_salted_agg"       -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions.{col, round}
      graft.ops.Skew.saltedCountSum(
        graft.Tables.lineitem(s, d).select(col("l_partkey").as("k"), col("l_quantity")),
        Seq("k"), "l_quantity", salt = 16)
        .withColumn("total", round(col("total"), 4))
        .orderBy("k")
    }),
    // zipf-skew bench pairs (plain vs salted; see docs/PLANS.md x41–x44)
    "x41_skew_sum_plain"   -> ((s: SparkSession, d: String) => graft.ops.Skew.skewSumPlain(s, d)),
    "x42_skew_sum_salted"  -> ((s: SparkSession, d: String) => graft.ops.Skew.skewSumSalted(s, d)),
    "x43_skew_set_plain"   -> ((s: SparkSession, d: String) => graft.ops.Skew.skewSetPlain(s, d)),
    "x44_skew_set_salted"  -> ((s: SparkSession, d: String) => graft.ops.Skew.skewSetSalted(s, d)),
    // zipf-skew JOIN pair (broadcast control vs forced sort-merge under AQE
    // skew splitting; see docs/PLANS.md x45–x46)
    "x45_skew_join_plain"  -> ((s: SparkSession, d: String) => graft.ops.Skew.skewJoinPlain(s, d)),
    "x46_skew_join_split"  -> ((s: SparkSession, d: String) => graft.ops.Skew.skewJoinSplit(s, d)),
    // composed end-to-end curation pipeline (gates → dedup → decontam →
    // budget cut → pack as ONE DAG; see docs/PLANS.md x135)
    "x135_curation_pipeline" -> ((s: SparkSession, d: String) => graft.ops.Curation.curatedPacks(s, d)),
    "x142_curation_funnel" -> ((s: SparkSession, d: String) => graft.ops.Curation.curationFunnel(s, d)),
    // degree-ordered triangle counting over the trade graph (Layer-shared
    // edges with x110)
    "x136_trade_triangles" -> ((s: SparkSession, d: String) => graft.ops.Graph.tradeTriangles(s, d)),
    // one-pass dual-snapshot column-profile drift report (x124's ANALYZE
    // surface as a change-detection gate)
    "x137_profile_drift"   -> ((s: SparkSession, d: String) => graft.ops.Quality.profileDrift(s, d)),
    // quality-best representative per x63 duplicate cluster (argmax as a
    // struct-max aggregate, Layer-shared labels)
    "x139_cluster_reps"    -> ((s: SparkSession, d: String) => Dedup.clusterBestReps(s, d)),
    // IDF-weighted re-scoring of the Layer-shared near-dup pair set
    "x143_idf_jaccard"     -> ((s: SparkSession, d: String) => Dedup.idfWeightedPairs(s, d)),
    // deterministic sampling / splitting (content-addressed, oracle-checked)
    "x70_hash_split"       -> ((s: SparkSession, d: String) => graft.ops.Sampling.docSplit(s, d)),
    "x71_stratified_sample" -> ((s: SparkSession, d: String) => graft.ops.Sampling.docStratified(s, d)),
    "x72_sequence_pack"    -> ((s: SparkSession, d: String) => graft.ops.Packing.docPack(s, d)),
    "x73_doc_chunks"       -> ((s: SparkSession, d: String) => graft.ops.Chunking.docChunks(s, d)),
    "x86_intradoc_dedup"   -> ((s: SparkSession, d: String) => graft.ops.Chunking.intraDocDedup(s, d)),
    "x100_crossdoc_dedup"  -> ((s: SparkSession, d: String) => graft.ops.Chunking.crossDocDedup(s, d)),
    "x101_bloom_delta"     -> ((s: SparkSession, d: String) => Dedup.bloomDelta(s, d)),
    "x277_det_bloom_delta" -> ((s: SparkSession, d: String) => Dedup.deterministicBloomDelta(s, d)),
    "x74_repetition"       -> ((s: SparkSession, d: String) => TextAnalysis.repetitionSignals(s, d)),
    "x75_pii_scrub"        -> ((s: SparkSession, d: String) => TextAnalysis.piiScrub(s, d)),
    "x76_vocab_topk"       -> ((s: SparkSession, d: String) => TextAnalysis.vocabTopK(s, d)),
    "x78_doc_keywords"     -> ((s: SparkSession, d: String) => TextAnalysis.docKeywords(s, d)),
    "x81_source_mix"       -> ((s: SparkSession, d: String) => graft.ops.Sampling.docSourceMix(s, d)),
    "x102_domain_cap"      -> ((s: SparkSession, d: String) => graft.ops.Sampling.docSourceCap(s, d)),
    "x82_bpe_merges"       -> ((s: SparkSession, d: String) => TextAnalysis.bpeMergePairs(s, d)),
    "x77_label_centroids"  -> ((s: SparkSession, d: String) => Similarity.labelCentroids(s, d)),
    // multimodal plumbing
    "x30_binary_meta"      -> ((s: SparkSession, d: String) => Multimodal.binaryMeta(s, d)),
    "x31_media_decode"     -> ((s: SparkSession, d: String) => Multimodal.decodeMetaWithPng(s, d).toDF().orderBy("doc_id")),
    "x33_binaryfile_ingest" -> ((s: SparkSession, d: String) => Multimodal.binaryFileIngest(s, d)),
    // sampled_frames compares as a canonical space-joined string (array
    // cells break the driver's pandas sort; the Dataset stays array-typed)
    "x32_media_transform"  -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions.{array_join, col, transform}
      Multimodal.transformMedia(s, d).toDF()
        .withColumn("sampled_frames",
          array_join(transform(col("sampled_frames"), _.cast("string")), " "))
        .orderBy("doc_id")
    }),
    // ML (M1–M7; seeded, metric-band tested — not oracle-expressible)
    "m01_rf_submission"    -> ((s: SparkSession, d: String) => ReorderModel.rfSubmission(s, d)),
    "m02_model_metrics"    -> ((s: SparkSession, d: String) => ReorderModel.metrics(s, d)),
    "m03_calibration"      -> ((s: SparkSession, d: String) => ReorderModel.calibration(s, d)),
    "m04_crossval"         -> ((s: SparkSession, d: String) => ReorderModel.crossValidation(s, d)),
    // streaming (X9)
    "s01_stream_tumbling"  -> ((s: SparkSession, d: String) => Streams.tumbling(s, d)),
    "s02_stream_sessions"  -> ((s: SparkSession, d: String) => Streams.sessionsWatermarked(s, d)),
    "s03_stream_stateful"  -> ((s: SparkSession, d: String) => Streams.statefulUserTotals(s, d)),
    "s04_stream_sliding"   -> ((s: SparkSession, d: String) => Streams.sliding(s, d)),
    "s05_stream_dedup"     -> ((s: SparkSession, d: String) => Streams.dedupStream(s, d)),
    "s06_stream_join"      -> ((s: SparkSession, d: String) => Streams.viewPurchaseJoin(s, d)),
    "s07_stream_quality"   -> ((s: SparkSession, d: String) => Streams.qualityStream(s, d)),
    "s08_stream_enrich"    -> ((s: SparkSession, d: String) => Streams.enrichStream(s, d)),
    "s09_stream_state_v2"  -> ((s: SparkSession, d: String) => Streams.statefulUserTotalsV2(s, d)),
    "s10_stream_gaps"      -> ((s: SparkSession, d: String) => Streams.silentGaps(s, d)),
    "s12_stream_distinct"  -> ((s: SparkSession, d: String) => Streams.streamingDistinct(s, d)),
    "s19_stream_hll"       -> ((s: SparkSession, d: String) => Streams.streamingHllDistinct(s, d)),
    "s21_state_reader"     -> ((s: SparkSession, d: String) => Streams.stateReaderHll(s, d)),
    "s22_state_legacy"     -> ((s: SparkSession, d: String) => Streams.stateReaderUserTotals(s, d)),
    "s13_stream_full_join" -> ((s: SparkSession, d: String) => Streams.viewPurchaseFullJoin(s, d)),
    "s11_stream_left_join" -> ((s: SparkSession, d: String) => Streams.viewPurchaseLeftJoin(s, d)),
    "s14_stream_topk"      -> ((s: SparkSession, d: String) => Streams.streamingTopK(s, d)),
    "s15_stream_alerts"    -> ((s: SparkSession, d: String) => Streams.alertStream(s, d)),
    "s23_stream_kv_sink"   -> ((s: SparkSession, d: String) => Streams.kvSinkStream(s, d)),
    "x165_purged_split"    -> ((s: SparkSession, d: String) => graft.ops.Sampling.purgedTemporalSplit(s, d)),
  )

  val oracles: Map[String, String] = Map(
    "x01_json_extract"     -> OracleSqlExt.x01_json_extract,
    "x19_from_json"        -> OracleSqlExt.x01_json_extract,
    "s04_stream_sliding"   -> OracleSqlExt.x03_window_sliding,
    "x02_window_tumbling"  -> OracleSqlExt.x02_window_tumbling,
    "x03_window_sliding"   -> OracleSqlExt.x03_window_sliding,
    "x04_session_window"   -> OracleSqlExt.x04_session_window,
    "x05_event_pivot"      -> OracleSqlExt.x05_event_pivot,
    // melt(pivot(x)) == per-user × type counts with zero fill
    "x06_event_unpivot"    ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |t AS (SELECT unnest(['click','error','purchase','signup','view']) AS event_type),
        |c AS (SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2)
        |SELECT u.user_id, t.event_type, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |FROM u CROSS JOIN t
        |LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.event_type
        |ORDER BY u.user_id, t.event_type""".stripMargin,
    "x10_token_stats"      -> OracleSqlExt.x10_token_stats,
    "x11_quality_filter"   -> OracleSqlExt.x11_quality_filter,
    // streaming twin of the batch quality gate — SAME oracle by design
    "s07_stream_quality"   -> OracleSqlExt.x11_quality_filter,
    "x12_langid"           -> OracleSqlExt.x12_langid,
    "x14_dedup_exact"      -> OracleSqlExt.x14_dedup_exact,
    "x60_clean_corpus"     ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |quality AS (
        |  SELECT doc_id, text FROM t
        |  WHERE len(toks) >= 30
        |    AND ROUND(len(list_distinct(toks)) / len(toks), 4) >= 0.3),
        |exact_kept AS (
        |  SELECT MIN(doc_id) AS doc_id
        |  FROM (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS norm FROM quality)
        |  GROUP BY norm),
        |sh AS (
        |  SELECT doc_id, lang, list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |           i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS s
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |losers AS (
        |  SELECT DISTINCT b.doc_id AS doc_id
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE ROUND(len(list_filter(a.s, x -> list_contains(b.s, x))) /
        |              len(list_distinct(list_concat(a.s, b.s))), 4) >= 0.6)
        |SELECT doc_id FROM exact_kept
        |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        |ORDER BY doc_id""".stripMargin,
    "x18_bpe_tokens"       ->
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT) AS n_bpe_tokens,
        |       CAST(len(list_distinct(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+'))) AS BIGINT) AS n_distinct_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x15_ngram_jaccard"    -> OracleSqlExt.x15_ngram_jaccard,
    "x20_cosine_topk"      -> OracleSqlExt.x20_cosine_topk,
    "x106_hard_negatives"  -> OracleSqlExt.x106_hard_negatives,
    // the typed-Aggregator formulation must produce byte-identical top-k
    "x23_topk_aggregator"  -> OracleSqlExt.x20_cosine_topk,
    "x21_embedding_neardup" -> OracleSqlExt.x21_embedding_neardup,
    "x17_simhash_neardup"  -> OracleSqlExt.x17_simhash_neardup,
    "x13_fingerprint"      -> OracleSqlExt.x13_fingerprint,
    // the eigen ITERATION itself is oracle-replayed (recursive CTE) —
    // λ/trace must agree bit-for-bit through 400 deflated power steps
    "x216_scree"           -> Similarity.screeOracle,
    // the same oracle-side eigensolve, emitted in x149's / x157's exact
    // output conventions — both move from rows-only to hash-matched
    "x149_principal_comp"  -> Similarity.pcaLoadingsOracle,
    "x157_pca_project"     -> Similarity.pcaProjectOracle,
    // the r9 exact-integer centroid state makes the Lloyd fit itself
    // SQL-replayable — x126 moves from rows-only to hash-matched
    "x126_kmeans_report"   -> Similarity.kmeansReportOracle,
    "x22_ann_ivf"          -> Similarity.ivfTopKOracle,
    "x89_semantic_dedup"   -> Similarity.semanticDedupOracle,
    "x217_heaps_law"       -> TextAnalysis.heapsOracle,
    "x30_binary_meta"      -> OracleSqlExt.x30_binary_meta,
    "x32_media_transform"  ->
      """WITH m AS (
        |  SELECT doc_id,
        |         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |              WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |         octet_length(encode(text)) AS nb
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, media_type,
        |         CAST(nb % 64 + 1 AS INT) AS w, CAST(nb % 48 + 1 AS INT) AS h,
        |         CAST(CASE media_type WHEN 'video' THEN 1 + nb % 8
        |                              WHEN 'audio' THEN 1 + nb % 16
        |                              ELSE 1 END AS INT) AS nf
        |  FROM m)
        |SELECT doc_id, media_type, CAST(32 AS INT) AS out_w,
        |       CAST(greatest(1, floor(h * 32.0 / greatest(1, w) + 0.5)) AS INT) AS out_h,
        |       array_to_string(range(0, nf, 2), ' ') AS sampled_frames
        |FROM g ORDER BY doc_id""".stripMargin,
    "x50_asof_join"        -> graft.ops.AsOf.oracle,
    "x138_asof_forward"    -> graft.ops.AsOf.forwardOracle,
    "x51_range_join"       -> graft.ops.RangeJoin.oracle,
    "x40_salted_agg"       ->
      """SELECT l_partkey AS k, COUNT(*) AS n, ROUND(SUM(l_quantity), 4) AS total
        |FROM lineitem GROUP BY l_partkey ORDER BY k""".stripMargin,
    "x41_skew_sum_plain"   -> graft.ops.Skew.skewSumOracle,
    "x42_skew_sum_salted"  -> graft.ops.Skew.skewSumOracle,
    "x43_skew_set_plain"   -> graft.ops.Skew.skewSetOracle,
    "x44_skew_set_salted"  -> graft.ops.Skew.skewSetOracle,
    "x45_skew_join_plain"  -> graft.ops.Skew.skewJoinOracle,
    "x46_skew_join_split"  -> graft.ops.Skew.skewJoinOracle,
    "x135_curation_pipeline" -> graft.ops.Curation.curatedPacksOracle,
    "x142_curation_funnel" -> graft.ops.Curation.funnelOracle,
    "x136_trade_triangles" -> graft.ops.Graph.trianglesOracle,
    "x137_profile_drift"   -> graft.ops.Quality.driftOracle,
    "x139_cluster_reps"    -> Dedup.clusterRepsOracle,
    "x143_idf_jaccard"     -> Dedup.idfWeightedOracle,
    "x145_merge_upsert"    -> graft.ops.Merge.mergeOracle,
    "x151_incremental_agg" -> graft.ops.Merge.incrementalAggOracle,
    // identity contract: the z-ordered layout must reproduce the source
    "x146_zorder_roundtrip" ->
      """SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |       event_type, ROUND(value, 4) AS value
        |FROM events ORDER BY event_id""".stripMargin,
    "x140_interp_nll"      -> TextAnalysis.interpolatedNllOracle,
    "x141_weighted_repl"   -> graft.ops.Sampling.withReplacementOracle,
    "s01_stream_tumbling"  -> OracleSqlExt.s01_stream_tumbling,
    // batch twin of the watermarked stream-stream interval join. The join
    // predicate compares epoch_us values, NOT raw timestamps: events.ts is
    // ns-precision and Spark joins after µs truncation, so a raw-ts compare
    // would diverge on pairs whose ns offsets straddle the boundary.
    "s06_stream_join"      ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
        |       CAST(epoch_us(v.ts) AS BIGINT) AS view_us,
        |       CAST(epoch_us(p.ts) AS BIGINT) AS purchase_us,
        |       ROUND(p.value, 4) AS value
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND epoch_us(p.ts) >= epoch_us(v.ts)
        | AND epoch_us(p.ts) <= epoch_us(v.ts) + 21600000000
        |ORDER BY view_id, purchase_id""".stripMargin,
    // s11: the LEFT OUTER twin — unmatched views kept, null side coalesced
    // to -1/0 sentinels (no NULLs reach the cross-engine hash or the sort)
    "s11_stream_left_join" ->
      """SELECT v.event_id AS view_id,
        |       COALESCE(p.event_id, -1) AS purchase_id, v.user_id,
        |       CAST(epoch_us(v.ts) AS BIGINT) AS view_us,
        |       COALESCE(CAST(epoch_us(p.ts) AS BIGINT), -1) AS purchase_us,
        |       COALESCE(ROUND(p.value, 4), 0.0) AS value
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON v.user_id = p.user_id
        | AND epoch_us(p.ts) >= epoch_us(v.ts)
        | AND epoch_us(p.ts) <= epoch_us(v.ts) + 21600000000
        |ORDER BY view_id, purchase_id""".stripMargin,
    "s13_stream_full_join" ->
      """SELECT COALESCE(v.event_id, -1) AS view_id,
        |       COALESCE(p.event_id, -1) AS purchase_id,
        |       COALESCE(v.user_id, p.user_id) AS user_id,
        |       COALESCE(CAST(epoch_us(v.ts) AS BIGINT), -1) AS view_us,
        |       COALESCE(CAST(epoch_us(p.ts) AS BIGINT), -1) AS purchase_us,
        |       COALESCE(ROUND(p.value, 4), 0.0) AS value
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON v.user_id = p.user_id
        | AND epoch_us(p.ts) >= epoch_us(v.ts)
        | AND epoch_us(p.ts) <= epoch_us(v.ts) + 21600000000
        |ORDER BY view_id, purchase_id""".stripMargin,
    "x70_hash_split"       -> graft.ops.Sampling.splitOracle,
    "x71_stratified_sample" -> graft.ops.Sampling.stratifiedOracle,
    "x72_sequence_pack"    -> graft.ops.Packing.oracle,
    "x73_doc_chunks"       -> graft.ops.Chunking.oracle,
    "x86_intradoc_dedup"   -> graft.ops.Chunking.intraDedupOracle,
    "x100_crossdoc_dedup"  -> graft.ops.Chunking.crossDedupOracle,
    "x102_domain_cap"      -> graft.ops.Sampling.capOracle,
    "x103_gram_novelty"    -> TextAnalysis.noveltyOracle,
    "x113_mad_outliers"    -> TextAnalysis.madOracle,
    "x114_gap_fill"        -> Events.gapFillOracle,
    "x152_interpolate"     -> Events.interpolateOracle,
    "x115_quantile_norm"   -> TextAnalysis.quantileNormOracle,
    "x116_token_budget"    -> graft.ops.Sampling.tokenBudgetOracle,
    "x117_edit_dedup"      -> Dedup.editDistanceOracle,
    "x118_rolling_7d"      -> Events.rollingOracle,
    "x119_source_kl"       -> TextAnalysis.sourceKlOracle,
    "s10_stream_gaps"      -> Streams.silentGapsOracle,
    "s17_stream_late_drop" -> Streams.lateDataDropOracle,
    "s18_stream_two_level" -> Streams.twoLevelOracle,
    // s23: what the STREAM committed into graftkv (catalog read-back of
    // the connector's StreamingWrite manifests) must equal the batch
    // aggregate over the raw events - stream/batch equality through the
    // storage layer, not the query plan
    "s23_stream_kv_sink"   -> Streams.kvSinkOracle,
    "s19_stream_hll"       -> Streams.streamingHllOracle,
    // s21 rides s19's oracle VERBATIM: the state READER must reproduce
    // from RocksDB bytes exactly what the processor computed online —
    // the replay-invariant max algebra makes the two identical by
    // construction, and the shared oracle hash-checks the reader stack
    "s21_state_reader"     -> Streams.streamingHllOracle,
    "x120_daily_trend"     -> Events.trendOracle,
    "x160_ewma_daily"      -> Events.ewmaOracle,
    "x162_mutual_info"     -> Events.mutualInfoOracle,
    "x163_chi2_indep"      -> Events.chi2Oracle,
    "x166_benford_audit"   -> graft.ops.Quality.benfordOracle,
    "x167_k_anonymity"     -> graft.ops.Quality.kAnonymityOracle,
    "x168_psi_drift"       -> Events.psiOracle,
    "x169_vocab_coverage"  -> TextAnalysis.vocabCoverageOracle,
    "x170_km_survival"     -> Events.kmOracle,
    "x171_conversion_lag"  -> Events.conversionLagOracle,
    "x172_revenue_acf"     -> Events.acfOracle,
    "x173_cusum_shift"     -> Events.cusumOracle,
    "x174_top_paths"       -> Events.topPathsOracle,
    "x175_source_overlap"  -> TextAnalysis.sourceOverlapOracle,
    "x176_tail_index"      -> TextAnalysis.tailIndexOracle,
    "x177_kmeans"          -> graft.ml.Clustering.kmeansOracle,
    "x178_interarrival"    -> Events.interArrivalOracle,
    "x179_weight_ess"      -> graft.ops.Sampling.weightEssOracle,
    "x180_attribution"     -> Events.attributionOracle,
    "x181_target_encode"   -> graft.ops.Encoding.targetEncodeOracle,
    "x221_oof_encode"      -> graft.ops.Encoding.oofEncodeOracle,
    "x222_bpe_train"       -> TextAnalysis.bpeTrainOracle,
    "x223_containment"     -> Dedup.containmentOracle,
    "x224_kneser_ney"      -> TextAnalysis.kneserNeyOracle,
    "x225_neyman_sample"   -> graft.ops.Sampling.neymanOracle,
    "x226_sprt_monitor"    -> graft.ops.Quality.sprtOracle,
    "x227_stratified_ate"  -> graft.ops.Quality.stratifiedAteOracle,
    "x228_logrank"         -> Events.logRankOracle,
    "x229_bradley_terry"   -> Associations.bradleyTerryOracle,
    "x230_ipf_rake"        -> graft.ops.Sampling.ipfOracle,
    "x231_label_prop"      -> graft.ops.Graph.labelPropagationOracle,
    "x232_shapley"         -> Events.shapleyOracle,
    "x233_kcenter"         -> Similarity.kcenterOracle,
    "x234_markov_attrib"   -> Events.markovOracle,
    "x235_good_turing"     -> TextAnalysis.goodTuringOracle,
    "x236_nelson_aalen"    -> Events.nelsonAalenOracle,
    "x237_jackknife_se"    -> graft.ops.Quality.jackknifeOracle,
    "x238_ucb_replay"      -> graft.ops.Quality.ucbOracle,
    "x239_isotonic_exact"  -> Analytics.isotonicExactOracle,
    "x240_backtest"        -> Analytics.backtestOracle,
    "x241_harmonic"        -> graft.ops.Graph.harmonicOracle,
    "x242_mutual_knn"      -> Similarity.mutualKnnOracle,
    "x243_conformal"       -> Analytics.conformalOracle,
    "x244_entropy_rate"    -> Events.entropyRateOracle,
    "x245_cmh_test"        -> graft.ops.Quality.cmhOracle,
    "x246_capture_recapture" -> graft.ops.Quality.chapmanOracle,
    "x247_hll_exact"       -> graft.ops.Quality.hllOracle,
    "x248_kendall_tau"     -> Analytics.kendallOracle,
    "x249_power_calc"      -> Analytics.powerOracle,
    "x250_partial_corr"    -> Analytics.partialCorrOracle,
    "x251_g_test"          -> Events.gTestOracle,
    "x252_zipf_slope"      -> TextAnalysis.zipfOracle,
    "x253_burstiness"      -> TextAnalysis.burstinessOracle,
    "x254_wasserstein"     -> Events.wassersteinOracle,
    "x255_kmv_overlap"     -> graft.ops.Quality.kmvOracle,
    "x256_eb_shrinkage"    -> Analytics.ebShrinkageOracle,
    "x257_decay_attrib"    -> Events.decayAttributionOracle,
    "x260_ndcg_eval"       -> Associations.ndcgOracle,
    "x261_topk_perkey"     -> graft.plans.TopKPerKey.topBrandPartsOracle,
    "x262_pq_topk"         -> Similarity.pqTopKOracle,
    "x263_tfidf_keywords"  -> TextAnalysis.tfidfOracle,
    "x264_mahalanobis"     -> graft.ops.Quality.mahalanobisOracle,
    "x265_gains_table"     -> graft.OracleSql.x265_gains_table,
    "x266_ivf_pq"          -> Similarity.ivfPqOracle,
    "x267_avg_precision"   -> graft.OracleSql.x267_avg_precision,
    "x268_markov_accuracy" -> Events.markovAccuracyOracle,
    "x182_pmi_collocations" -> TextAnalysis.pmiOracle,
    "x183_active_users"    -> Events.activeUsersOracle,
    "x184_sq8_topk"        -> Similarity.sq8TopKOracle,
    "x185_wow_growth"      -> Events.wowGrowthOracle,
    "x186_percentile_bands" -> Events.percentileBandsOracle,
    "x187_dataset_card"    -> TextAnalysis.datasetCardOracle,
    "x188_key_skew"        -> graft.ops.Skew.keySkewOracle,
    "x189_density_grid"    -> graft.ops.Encoding.densityGridOracle,
    "x190_streaks"         -> Events.streaksOracle,
    "x191_rank_normalize"  -> TextAnalysis.rankNormalizeOracle,
    "x192_abc_classes"     -> graft.ops.Encoding.abcOracle,
    "x121_entity_clusters" -> Dedup.entityOracle,
    "x127_neardup_admit"   -> Dedup.admitOracle,
    "x129_bootstrap"       -> graft.ops.Sampling.bootstrapOracle,
    "x130_source_entropy"  -> TextAnalysis.entropyOracle,
    "x131_wilson_bounds"   -> TextAnalysis.wilsonOracle,
    "x132_time_weighted"   -> Events.twaOracle,
    "x133_dup_matrix"      -> Dedup.dupMatrixOracle,
    "x134_value_histogram" -> Events.histogramOracle,
    "x122_source_budget"   -> graft.ops.Sampling.sourceBudgetOracle,
    "x123_heldout_ppl"     -> TextAnalysis.heldoutOracle,
    "x155_backoff_nll"     -> TextAnalysis.backoffOracle,
    "x159_gate_attribution" -> TextAnalysis.gateAttributionOracle,
    "x125_constraint_audit" -> graft.ops.Quality.auditOracle,
    "x124_column_stats"    -> Seq("doc_id", "lang", "n_chars", "source", "text").map(c =>
      s"""SELECT '$c' AS column_name,
         |       CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |       CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
         |       MIN(CAST($c AS VARCHAR)) AS min_str,
         |       MAX(CAST($c AS VARCHAR)) AS max_str
         |FROM documents""".stripMargin).mkString("", "\nUNION ALL\n", "\nORDER BY column_name"),

    "x74_repetition"       -> OracleSqlExt.x74_repetition,
    "x83_gopher_signals"   -> TextAnalysis.gopherOracle,
    "x85_unigram_nll"      -> TextAnalysis.unigramNllOracle,
    "x107_bigram_nll"      -> TextAnalysis.bigramNllOracle,
    "x16_minhash_lsh"      -> Dedup.minhashOracle(),
    "x87_fuzzy_decontam"   -> Dedup.fuzzyDecontaminateOracle(),
    "x158_capped_neardup"  -> Dedup.cappedNeardupOracle(),
    "x269_routed_neardup"  -> Dedup.routedNearDupOracle(),
    "x270_hll_rollup"      -> graft.ops.Quality.hllRollupOracle,
    "x271_topk_fact"       -> graft.plans.TopKPerKey.topFactPerPartOracle,
    "x272_topk_fact_window" -> graft.plans.TopKPerKey.topFactPerPartOracle,
    "x273_ddsketch"        -> graft.ops.Quality.ddsketchOracle,
    "x274_stratified_aes"  -> graft.ops.Sampling.stratifiedAesOracle,
    "x275_pit_join"        -> graft.ops.AsOf.pitOracle,
    // x278/s20 deliberately ride x275's oracle VERBATIM: the bucketed
    // carry is a plan-only rewrite and the streaming PIT is the online
    // twin — all three must agree row for row, and the hash gate pins it
    "x278_pit_bucketed"    -> graft.ops.AsOf.pitOracle,
    // x281 (the grain-probe ROUTER) also rides it: both of its channels
    // are the two plans above, proven byte-identical by these very
    // gates, so no routing decision can change a row — the oracle
    // mirrors the router by construction (cf. x269, where the channels
    // DIFFER and the oracle must replay the decision)
    "x281_pit_routed"      -> graft.ops.AsOf.pitOracle,
    "x279_topk_tiered"     -> graft.plans.TopKPerKey.topBrandPartsTieredOracle,
    "x282_topk_structkey"  -> graft.plans.TopKPerKey.topBrandContainerPartsOracle,
    "x283_part_pagerank"   -> graft.ops.Graph.partPagerankOracle,
    "x284_variant_shred"   -> Events.variantShredOracle,
    "x285_recursive_cte"   -> graft.ops.Graph.recursiveReachOracle,
    "x286_sql_udf"         -> TextAnalysis.sqlUdfQualityOracle,
    "x287_listagg"         -> TextAnalysis.listaggTypesOracle,
    "x288_pipe_syntax"     -> SqlSurfaces.pipeSyntaxPricingOracle,
    "x289_group_by_all"    -> SqlSurfaces.groupByAllCountsOracle,
    // x280 rides x99's oracle VERBATIM: incremental maintenance must
    // equal the full rebuild row for row — the hash gate IS the contract
    "x280_incr_scd2"       -> Events.scd2Oracle,
    "s20_stream_pit"       -> graft.ops.AsOf.pitOracle,
    "x276_ddsketch_drift"  -> graft.ops.Quality.ddsketchDriftOracle,
    "x277_det_bloom_delta" -> Dedup.detBloomDeltaOracle,
    "x108_cms_counts"      -> TextAnalysis.cmsOracle,
    "x90_dsir_weights"     -> TextAnalysis.dsirOracle,
    "x91_sign_projection"  -> Similarity.signProjectionOracle,
    "x148_covariance"      -> Similarity.covarianceOracle,
    "x156_sq8_profile"     -> Similarity.sq8Oracle,
    "x150_heavy_hitters"   -> TextAnalysis.heavyHittersOracle,
    "x153_length_buckets"  -> TextAnalysis.lengthBucketsOracle,
    "x93_funnel"           -> Events.funnelOracle,
    "x95_bm25"             -> TextAnalysis.bm25Oracle,
    "x97_basket_rules"     -> Associations.basketRulesOracle,
    "x154_fpgrowth_rules"  -> Associations.fpgrowthOracle,
    "x193_seq_patterns"    -> Associations.seqPatternsOracle,
    "x194_auc_ranksum"     -> graft.ops.Quality.aucOracle,
    "x195_ks_test"         -> graft.ops.Quality.ksOracle,
    "x196_quantile_bins"   -> graft.ops.Encoding.quantileBinsOracle,
    "x197_crosscorr"       -> Events.crossCorrOracle,
    "x198_fd_audit"        -> graft.ops.Quality.fdAuditOracle,
    "x199_item_cf"         -> Associations.itemCfOracle,
    "x200_kcore"           -> graft.ops.Graph.kCoreOracle,
    "x201_ab_test"         -> graft.ops.Quality.abTestOracle,
    "x218_cuped"           -> graft.ops.Quality.cupedOracle,
    "x220_mmr_diversify"   -> Similarity.mmrOracle,
    "x219_ks_bh_fdr"       -> graft.ops.Quality.ksBhOracle,
    "x202_cohort_ltv"      -> Events.cohortLtvOracle,
    "x203_growth_accounting" -> Events.growthAccountingOracle,
    "x204_abc_xyz"         -> graft.ops.Encoding.abcXyzOracle,
    "x205_next_best_offer" -> Associations.nextBestOfferOracle,
    "x208_skyline"         -> graft.ops.Encoding.skylineOracle,
    "x209_lift_table"      -> graft.ops.Encoding.liftTableOracle,
    "x210_dup_payments"    -> graft.ops.Quality.dupPaymentsOracle,
    "x211_cdc_apply"       -> Events.cdcApplyOracle,
    "x212_disorder_audit"  -> Events.disorderAuditOracle,
    "x213_substitutes"     -> Associations.substitutesOracle,
    "x215_triple_itemsets" -> Associations.tripleItemsetsOracle,
    "x98_event_transitions" -> Events.transitionsOracle,
    "x99_scd2_versions"    -> Events.scd2Oracle,
    "x96_quality_fusion"   -> TextAnalysis.fusionOracle,
    "x94_retention"        -> Events.retentionOracle,
    "x104_leak_safe_split" -> graft.ops.Sampling.leakSplitOracle,
    "x165_purged_split"    -> graft.ops.Sampling.purgedSplitOracle,
    "s14_stream_topk"      ->
      """WITH u AS (SELECT user_id, COUNT(*) AS n,
        |                  SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS total_e2
        |           FROM events GROUP BY 1)
        |SELECT user_id, n, CAST(total_e2 AS BIGINT) AS total_e2
        |FROM u ORDER BY total_e2 DESC, user_id LIMIT 10""".stripMargin,
    "s15_stream_alerts"    ->
      """WITH c AS (SELECT event_type,
        |                  CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
        |                  COUNT(*) AS n
        |           FROM events GROUP BY 1, 2)
        |SELECT event_type, day, CAST(70 AS BIGINT) AS threshold
        |FROM c WHERE n >= 70 ORDER BY event_type, day""".stripMargin,
    "x109_weighted_sample" -> graft.ops.Sampling.weightedSampleOracle,
    "x110_trade_pagerank"  -> graft.ops.Graph.tradeRankOracle,
    "x105_snapshot_diff"   -> Dedup.snapshotDiffOracle,
    "x92_source_token_rate" ->
      """WITH d AS (
        |  SELECT source, length(text) AS nc,
        |         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS nt
        |  FROM documents)
        |SELECT source, CAST(SUM(nc) AS BIGINT) AS n_chars,
        |       CAST(SUM(nt) AS BIGINT) AS n_bpe_tokens,
        |       ROUND(CAST(SUM(nc) AS DOUBLE) / SUM(nt), 4) AS chars_per_token
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    // stream-static enrichment == the batch dim join, exactly
    "s08_stream_enrich"    ->
      """SELECT event_id, user_id, c_mktsegment AS segment, ROUND(value, 4) AS value
        |FROM events JOIN customer ON user_id = c_custkey
        |ORDER BY event_id""".stripMargin,
    "x75_pii_scrub"        -> OracleSqlExt.x75_pii_scrub,
    "x76_vocab_topk"       ->
      """SELECT u.t AS token, CAST(COUNT(*) AS BIGINT) AS n
        |FROM documents, UNNEST(string_split(text, ' ')) u(t)
        |GROUP BY u.t ORDER BY n DESC, token LIMIT 20""".stripMargin,
    "x77_label_centroids"  -> Similarity.centroidOracle,
    "x79_int8_quantize"    -> Similarity.quantizeOracle,
    "x84_l2_normalize"     -> Similarity.l2NormalizeOracle,
    "x88_cos_histogram"    -> Similarity.cosHistogramOracle,
    "x81_source_mix"       -> graft.ops.Sampling.mixOracle,
    "x82_bpe_merges"       ->
      """WITH w AS (
        |  SELECT u.t AS w, COUNT(*) AS c_w
        |  FROM documents, UNNEST(string_split(text, ' ')) u(t)
        |  WHERE len(u.t) >= 2 GROUP BY 1),
        |p AS (
        |  SELECT w.c_w, s.p AS pair
        |  FROM w, UNNEST(list_transform(range(1, len(w.w)), i -> w.w[i:i+1])) s(p))
        |SELECT pair, CAST(SUM(c_w) AS BIGINT) AS weight
        |FROM p GROUP BY 1 ORDER BY weight DESC, pair LIMIT 20""".stripMargin,
    "x61_corpus_delta"     -> Dedup.deltaOracle,
    "x62_decontaminate"    -> Dedup.decontaminateOracle,
    "x63_dup_clusters"     -> Dedup.clustersOracle,
    "x78_doc_keywords"     ->
      """WITH tf AS (
        |  SELECT doc_id, u.t AS token, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM documents, UNNEST(string_split(text, ' ')) u(t)
        |  GROUP BY doc_id, u.t),
        |dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
        |r AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |                ORDER BY tf.tf DESC, dfreq.df, tf.token) AS BIGINT) AS rank
        |  FROM tf JOIN dfreq USING (token))
        |SELECT doc_id, rank, token, tf, df FROM r
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // final streamed dedup key set == batch DISTINCT over normalized text
    "s05_stream_dedup"     ->
      """SELECT DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS content_key
        |FROM documents ORDER BY content_key""".stripMargin,
    // transformWithState final state must equal the same batch aggregate
    "s09_stream_state_v2"  ->
      """SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 4) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // final per-user stream state must equal the batch aggregate
    "s03_stream_stateful"  ->
      """SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 4) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // s22 rides s03's oracle VERBATIM: what the state READER decodes
    // from the HDFS-backed store must be exactly the final per-user
    // state, which by the s03 contract is the batch aggregate
    "s22_state_legacy"     ->
      """SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 4) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
  )
}

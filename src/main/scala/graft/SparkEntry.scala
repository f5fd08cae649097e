package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.{Families, GraftExtensions}
import graft.operators._
import graft.streaming.Streaming

/** Driver contract — see /root/repo/SURVEY.md §0.2/§2 and §7.
  *
  * Every key in `queries` is an operator from the SURVEY §2 inventory; the
  * paired entry in `oracleSql` is the ANSI-SQL twin the driver runs in
  * DuckDB over the same parquet files. Column names, ordering, and double
  * rounding match on both sides (SURVEY §0.3 determinism conventions).
  */
object SparkEntry {

  /** Flagship query (TPC-H Q1 shape) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.aggGroupBy(spark, "/root/testdata/sf0.001")

  /** The key subset named by env var `envVar` (comma-separated), or None
    * when it is unset — a local-iteration filter for the Bench and Verify
    * mains, never set in a graded run. When set it fails fast on unknown
    * keys and banners on stderr under `[tag]`, so a leaked env var or a
    * typo'd key can never silently shrink the run. */
  private[graft] def onlyKeys(envVar: String, tag: String): Option[Set[String]] = {
    val only = sys.env.get(envVar)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { keys =>
      val unknown = keys.diff(queries.keySet)
      if (unknown.nonEmpty)
        sys.error(s"$envVar names unknown queries: " +
          s"${unknown.toSeq.sorted.mkString(", ")}")
      System.err.println(s"[$tag] $envVar active: keeping " +
        s"${keys.size} of ${queries.size} queries")
    }
    only
  }

  /** Every graded key's builder. Each entry first installs graft's
    * native tier on the session it is given (`GraftExtensions.register`,
    * idempotent), so a caller that builds its own session, like the
    * bench harness, resolves the `graft_*` functions and the as-of
    * marker without passing through `GraftSession`. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1 scans
    "scan_parquet"      -> Relational.scanParquet _,
    "scan_json_lines"   -> Relational.scanJsonLines _,
    // §2.2 projection / filter
    "project_select"    -> Relational.projectSelect _,
    "filter_pred"       -> Relational.filterPred _,
    "filter_like"       -> Relational.filterLike _,
    "distinct_rows"     -> Relational.distinctRows _,
    // §2.3 joins
    "join_inner_hash"   -> Relational.joinInnerHash _,
    "join_multiway"     -> Relational.joinMultiway _,
    "join_left_outer"   -> Relational.joinLeftOuter _,
    "join_semi"         -> Relational.joinSemi _,
    "join_anti"         -> Relational.joinAnti _,
    "join_broadcast"    -> Relational.joinBroadcast _,
    // §2.4 aggregations
    "agg_groupby"       -> Relational.aggGroupBy _,
    "q3_shipping_priority" -> Relational.q3ShippingPriority _,
    "q6_forecast_revenue" -> Relational.q6ForecastRevenue _,
    "q9_product_profit" -> Relational.q9ProductProfit _,
    "q5_local_supplier" -> Relational.q5LocalSupplier _,
    "q10_returned_items" -> Relational.q10ReturnedItems _,
    "q14_promo_effect"  -> Relational.q14PromoEffect _,
    "q18_large_orders"  -> Relational.q18LargeOrders _,
    "q13_order_distribution" -> Relational.q13OrderDistribution _,
    // TPC-H completion set (TpchShapes.scala) — with the shapes above,
    // all 22 canonical decision-support patterns are covered.
    "q2_min_cost_supplier"   -> TpchShapes.q2MinCostSupplier _,
    "q4_priority_exists"     -> TpchShapes.q4PriorityExists _,
    "q7_volume_shipping"     -> TpchShapes.q7VolumeShipping _,
    "q8_market_share"        -> TpchShapes.q8MarketShare _,
    "q11_value_concentration" -> TpchShapes.q11ValueConcentration _,
    "q12_priority_class"     -> TpchShapes.q12PriorityClass _,
    "q15_top_supplier"       -> TpchShapes.q15TopSupplier _,
    "q16_supplier_count"     -> TpchShapes.q16SupplierCount _,
    "q17_small_qty_avg"      -> TpchShapes.q17SmallQtyAvg _,
    "q19_disjunctive_join"   -> TpchShapes.q19DisjunctiveJoin _,
    "q20_qty_threshold_semi" -> TpchShapes.q20QtyThresholdSemi _,
    "q21_waiting_supplier"   -> TpchShapes.q21WaitingSupplier _,
    "q22_dormant_customers"  -> TpchShapes.q22DormantCustomers _,
    "sql_text_query"    -> Relational.sqlTextQuery _,
    "agg_salted"        -> ScalePatterns.aggSalted _,
    "join_bucketed"     -> ScalePatterns.joinBucketed _,
    "join_skew_salted"  -> ScalePatterns.joinSkewSalted _,
    "agg_count_distinct" -> Relational.aggCountDistinct _,
    "agg_minmax_by"     -> Relational.aggMinmaxBy _,
    "agg_bool"          -> Relational.aggBool _,
    "join_full_outer"   -> Relational.joinFullOuter _,
    "agg_approx_distinct" -> Relational.aggApproxDistinct _,
    "agg_having"        -> Relational.aggHaving _,
    // §2.4 advanced aggregations
    "agg_rollup"        -> AdvancedAggs.aggRollup _,
    "agg_cube"          -> AdvancedAggs.aggCube _,
    "agg_grouping_sets" -> AdvancedAggs.aggGroupingSets _,
    "agg_collect_sorted" -> AdvancedAggs.aggCollectSorted _,
    "agg_pivot"         -> AdvancedAggs.aggPivot _,
    "agg_unpivot"       -> AdvancedAggs.aggUnpivot _,
    "derived_scale_score" -> AdvancedAggs.derivedScaleScore _,
    "pipeline_clean_corpus" -> Pipeline.cleanCorpus _,
    "agg_udaf_typed"    -> AdvancedAggs.aggUdafTyped _,
    "agg_mode"          -> AdvancedAggs.aggMode _,
    "agg_listagg"       -> AdvancedAggs.aggListagg _,
    "agg_higher_moments" -> AdvancedAggs.aggHigherMoments _,
    "agg_entropy"       -> AdvancedAggs.aggEntropy _,
    "agg_percentile"    -> AdvancedAggs.aggPercentile _,
    // agg_approx_percentile: oracle-N (engine sketch) — self-tested vs
    // exact quartiles; mergeable t-digest-style scale path of the above
    "agg_approx_percentile" -> AdvancedAggs.aggApproxPercentile _,
    // agg_hll_partitioned: oracle-N (DataSketches registers are engine-
    // specific) — spec asserts union-of-partials ≡ direct sketch and
    // estimate accuracy vs exact distinct counts
    "agg_hll_partitioned" -> AdvancedAggs.aggHllPartitioned _,
    "agg_stats"         -> AdvancedAggs.aggStats _,
    "join_cross"        -> Relational.joinCross _,
    "fn_bitwise"        -> Families.fnBitwise _,
    "fn_string2"        -> Families.fnString2 _,
    "fn_array2"         -> Families.fnArray2 _,
    "fn_regex"          -> Families.fnRegex _,
    "fn_date2"          -> Families.fnDate2 _,
    "fn_hash"           -> Families.fnHash _,
    // §2.5 windows
    "win_rank"          -> Windows.winRank _,
    "win_topk_per_group" -> Windows.winTopKPerGroup _,
    "win_lag_lead"      -> Windows.winLagLead _,
    "win_running"       -> Windows.winRunning _,
    "win_range_frame"   -> Windows.winRangeFrame _,
    "win_ntile_percent" -> Windows.winNtilePercent _,
    "win_first_last"    -> Windows.winFirstLast _,
    "win_distinct_running" -> Windows.winDistinctRunning _,
    "win_activity_streak" -> Windows.winActivityStreak _,
    "win_rolling_7d"     -> Windows.winRolling7d _,
    // §2.1 extra sources/sinks — round-trips return the read-back rows,
    // oracle-paired against the SOURCE table (lossless ⇔ hash match)
    "scan_csv"          -> Sources.scanCsv _,
    "scan_csv_gzip"     -> Sources.scanCsvGzip _,
    "scan_json_file"    -> Sources.scanJsonFile _,
    "scan_json_nested"  -> Sources.scanJsonNested _,
    "scan_orc"          -> Sources.scanOrc _,
    "scan_json_malformed" -> Sources.scanJsonMalformed _,
    "typed_dataset_ops" -> TypedOps.typedDatasetOps _,
    "subquery_scalar"   -> Subqueries.subqueryScalar _,
    "subquery_correlated" -> Subqueries.subqueryCorrelated _,
    "join_lateral"      -> Subqueries.joinLateral _,
    "sink_partitioned"  -> Sources.sinkPartitioned _,
    "sink_sorted_layout" -> Sources.sinkSortedLayout _,
    "sink_compacted"    -> Sources.sinkCompacted _,
    "scan_binary_files" -> Sources.scanBinaryFiles _,
    "scan_xml"          -> Sources.scanXml _,
    "scan_schema_evolution" -> Sources.scanSchemaEvolution _,
    // §2.3 advanced joins
    "join_theta_range"  -> AdvancedJoins.joinThetaRange _,
    "join_interval"     -> AdvancedJoins.joinInterval _,
    "join_asof"         -> AdvancedJoins.joinAsof _,
    "join_asof_tolerance" -> AdvancedJoins.joinAsofTolerance _,
    "join_asof_nearest" -> AdvancedJoins.joinAsofNearest _,
    "agg_freq_sketch"   -> Profiling.aggFreqSketch _,
    "dedup_semantic"    -> Similarity.dedupSemantic _,
    "join_fuzzy_editdist" -> AdvancedJoins.joinFuzzyEditdist _,
    "join_anti_null_aware" -> AdvancedJoins.joinAntiNullAware _,
    "join_asof_native"  -> AdvancedJoins.joinAsofNative _,
    // §2.8 scalar function families
    "fn_string"         -> Families.fnString _,
    "fn_date"           -> Families.fnDate _,
    "fn_math"           -> Families.fnMath _,
    "fn_conditional"    -> Families.fnConditional _,
    "fn_array"          -> Families.fnArray _,
    "fn_map"            -> Families.fnMap _,
    "fn_json"           -> Families.fnJson _,
    "fn_cast"           -> Families.fnCast _,
    "fn_decimal"        -> Families.fnDecimal _,
    "fn_url_parse"      -> Families.fnUrlParse _,
    "fn_try_arith"      -> Families.fnTryArith _,
    "fn_variant"        -> Families.fnVariant _,
    "fn_aes_roundtrip"  -> Families.fnAesRoundtrip _,
    // §2.11 UDF / UDTF surface
    "udf_scalar"        -> Sources.udfScalar _,
    "udtf_explode_custom" -> Sources.udtfExplode _,
    // §2.10 LLM-pipeline: dedup
    "dedup_exact"        -> Dedup.dedupExact _,
    "dedup_cluster"      -> Dedup.dedupCluster _,
    "dedup_near_minhash" -> Dedup.dedupNearMinhash _,
    // dedup_minhash_cluster: oracle-N (engine hash family) — composite
    // near-dedup (LSH pairs → CC reps), spec-asserted on planted dups
    "dedup_minhash_cluster" -> Dedup.dedupMinhashCluster _,
    "dedup_simhash"      -> Dedup.dedupSimhash _,
    "dedup_incremental_bloom" -> Dedup.dedupIncrementalBloom _,
    "dedup_passage"      -> Dedup.dedupPassage _,
    "dedup_url"          -> Dedup.dedupUrl _,
    "dedup_ngram_jaccard" -> Dedup.dedupNgramJaccard _,
    // §2.10 LLM-pipeline: similarity
    "sim_cosine_topk"    -> Similarity.simCosineTopk _,
    "sim_knn_join"       -> Similarity.simKnnJoin _,
    "dedup_embed_cosine" -> Similarity.dedupEmbedCosine _,
    "sim_ann_lsh"        -> Similarity.simAnnLsh _,
    // sim_ann_lsh_incremental: oracle-N like the other ANN keys (engine
    // hash family) — the spec asserts the sharper property: the merged
    // standing+delta index answers IDENTICALLY to a full rebuild.
    "sim_ann_lsh_incremental" -> Similarity.simAnnLshIncremental _,
    // sim_ann_index_persist: oracle-N (same engine hash family) — the
    // spec asserts query-over-persisted-table ≡ query-over-rebuilt.
    "sim_ann_index_persist" -> Similarity.simAnnIndexPersist _,
    // sim_ann_multiprobe: oracle-N (same engine hash family) — the spec
    // asserts candidate-superset vs single-probe at equal tables and
    // the recall floor at HALF the tables.
    "sim_ann_multiprobe" -> Similarity.simAnnMultiprobe _,
    "sim_ann_ivf"        -> Similarity.simIvfTopk _,
    "embed_quantize_int8" -> Similarity.embedQuantizeInt8 _,
    // §2.10 LLM-pipeline: text analysis
    "text_tokenize_stats" -> TextOps.textTokenizeStats _,
    "text_ngrams"        -> TextOps.textNgrams _,
    "text_lang_partition" -> TextOps.textLangPartition _,
    "text_lang_id"       -> TextOps.textLangId _,
    "text_quality_score" -> TextOps.textQualityScore _,
    "text_token_count"   -> TextOps.textTokenCount _,
    // text_bpe_token_count / pipeline_pack_bpe: oracle-N (engine-specific
    // merge vocab) — hand-tokenized fixtures + lossless-reconstruction
    // property in BpeTokenSpec.
    "text_bpe_token_count" -> TextOps.textBpeTokenCount _,
    "text_fingerprint"   -> TextOps.textFingerprint _,
    "text_chunk_overlap" -> TextOps.textChunkOverlap _,
    "text_pii_redact"    -> TextOps.textPiiRedact _,
    "text_html_strip"    -> TextOps.textHtmlStrip _,
    "text_contamination" -> TextOps.textContamination _,
    "text_repetition_filter" -> TextOps.textRepetitionFilter _,
    "text_boilerplate_ngrams" -> TextOps.textBoilerplateNgrams _,
    "text_perplexity_bucket" -> TextOps.textPerplexityBucket _,
    "pipeline_shuffle_order" -> Pipeline.shuffleOrder _,
    "sample_weighted" -> Pipeline.sampleWeighted _,
    "pipeline_token_mixture" -> Pipeline.tokenMixture _,
    "pipeline_pack_sequences" -> Pipeline.packSequences _,
    "pipeline_pack_bpe"  -> Pipeline.packBpe _,
    "pipeline_train_val_split" -> Pipeline.trainValSplit _,
    "pipeline_domain_mix" -> Pipeline.domainMix _,
    // table maintenance: CDC merge + SCD2 history + ANALYZE profile
    "merge_cdc_upsert"   -> Cdc.mergeCdcUpsert _,
    "scd2_intervals"     -> Cdc.scd2Intervals _,
    "join_temporal"      -> Cdc.joinTemporal _,
    "table_diff_audit"   -> Cdc.tableDiffAudit _,
    "profile_table"      -> Profiling.profileTable _,
    "agg_histogram"      -> Profiling.aggHistogram _,
    "profile_heavy_hitters" -> Profiling.profileHeavyHitters _,
    "agg_histogram_2d"   -> Profiling.aggHistogram2d _,
    "profile_corr_matrix" -> Profiling.profileCorrMatrix _,
    "profile_drift_psi"  -> Profiling.profileDriftPsi _,
    "quality_constraints" -> Profiling.qualityConstraints _,
    "sample_stratified"  -> Pipeline.sampleStratified _,
    "funnel_stages"      -> Pipeline.funnelStages _,
    "retention_cohorts"  -> Pipeline.retentionCohorts _,
    "sessionize_gap"     -> Pipeline.sessionizeGap _,
    "pipeline_filter_funnel" -> Pipeline.filterFunnel _,
    "pipeline_corpus_build" -> Pipeline.pipelineCorpusBuild _,
    "text_word_zipf"     -> TextOps.textWordZipf _,
    "text_keywords_tfidf" -> TextOps.textKeywordsTfidf _,
    // behavioral statistics (user-study platform analysis set)
    "experiment_ttest"   -> Stats.experimentTtest _,
    "path_transitions"   -> Stats.pathTransitions _,
    "anomaly_zscore"     -> Stats.anomalyZscore _,
    "timeseries_resample" -> Stats.timeseriesResample _,
    "timeseries_ffill"   -> Stats.timeseriesFfill _,
    "stats_trend_regression" -> Stats.statsTrendRegression _,
    "agg_gini"           -> Stats.aggGini _,
    "behavior_rfm"       -> Stats.behaviorRfm _,
    "basket_affinity"    -> Stats.basketAffinity _,
    "stats_chi_square"   -> Stats.statsChiSquare _,
    "stats_cramers_v"    -> Stats.statsCramersV _,
    "stats_xi_correlation" -> Stats.statsXiCorrelation _,
    "stats_kendall_tau"  -> Stats.statsKendallTau _,
    // oracle-N by design: DEFLATE byte counts are implementation-defined
    // (spec asserts determinism + repetition monotonicity)
    "text_compression_ratio" -> TextOps.textCompressionRatio _,
    "timeseries_stl_decompose" -> Stats.timeseriesStlDecompose _,
    // round 9: model-eval / pareto / changepoint / charset / DP family
    "stats_pr_auc"       -> ModelEval.statsPrAuc _,
    "stats_brier_calibration" -> ModelEval.statsBrierCalibration _,
    "stats_power_twoprop" -> ModelEval.statsPowerTwoprop _,
    "graph_clustering_coeff" -> Graph.graphClusteringCoeff _,
    "text_mojibake_detect" -> TextOps.textMojibakeDetect _,
    "dedup_keep_best"    -> Dedup.dedupKeepBest _,
    "timeseries_changepoint" -> Stats.timeseriesChangepoint _,
    "win_pareto_abc"     -> Windows.winParetoAbc _,
    "pipeline_dp_noise"  -> Pipeline.pipelineDpNoise _,
    // oracle-N by design: t-digest centroid layout is merge-order-
    // dependent like every parallel sketch (spec asserts the rank-error
    // bound under two partitionings, monotonicity, n conservation)
    "agg_tdigest"        -> AdvancedAggs.aggTdigest _,
    "timeseries_ewm_var" -> Stats.timeseriesEwmVar _,
    "event_markov_stationary" -> Stats.eventMarkovStationary _,
    "stats_kruskal_wallis" -> Stats.statsKruskalWallis _,
    "stats_welch_anova"  -> Stats.statsWelchAnova _,
    "stats_ols_multi"    -> Stats.statsOlsMulti _,
    "stats_permutation_test" -> Stats.statsPermutationTest _,
    "pipeline_mix_temperature" -> Pipeline.pipelineMixTemperature _,
    "sink_bloom_filter"  -> Sources.sinkBloomFilter _,
    "stats_mcnemar"      -> Stats.statsMcnemar _,
    "stats_cochran_q"    -> Stats.statsCochranQ _,
    "stats_ab_srm"       -> Stats.statsAbSrm _,
    "stats_binomial_wilson" -> Stats.statsBinomialWilson _,
    "stats_grubbs"       -> Stats.statsGrubbs _,
    "timeseries_ar_forecast" -> Stats.timeseriesArForecast _,
    "timeseries_holt_winters" -> Stats.timeseriesHoltWinters _,
    "stats_quantile_pinball" -> Stats.statsQuantilePinball _,
    "event_peak_concurrency" -> Stats.eventPeakConcurrency _,
    "stats_cuped"        -> Stats.statsCuped _,
    "stats_delta_method" -> Stats.statsDeltaMethod _,
    "stats_tost_equivalence" -> Stats.statsTostEquivalence _,
    "timeseries_esd_anomaly" -> Stats.timeseriesEsdAnomaly _,
    "event_conversion_window" -> Stats.eventConversionWindow _,
    "timeseries_croston" -> Stats.timeseriesCroston _,
    "timeseries_theta"   -> Stats.timeseriesTheta _,
    "stats_friedman"     -> Stats.statsFriedman _,
    "stats_capture_recapture" -> Stats.statsCaptureRecapture _,
    "stats_negative_binomial" -> Stats.statsNegativeBinomial _,
    "stats_diff_in_diff" -> Stats.statsDiffInDiff _,
    "stats_entropy_rate" -> Stats.statsEntropyRate _,
    "event_cohort_ltv"   -> Pipeline.eventCohortLtv _,
    "join_runtime_bloom" -> ScalePatterns.joinRuntimeBloom _,
    "join_dpp_prune"     -> ScalePatterns.joinDppPrune _,
    "stats_group_sequential" -> Stats.statsGroupSequential _,
    "stats_hurst"        -> Stats.statsHurst _,
    "stats_partial_autocorr" -> Stats.statsPartialAutocorr _,
    "event_user_stickiness" -> Stats.eventUserStickiness _,
    "text_heaps_law"     -> TextOps.textHeapsLaw _,
    "stats_extreme_value" -> Stats.statsExtremeValue _,
    "stats_winsorized_mean" -> Stats.statsWinsorizedMean _,
    "stats_propensity_strat" -> Stats.statsPropensityStrat _,
    "event_absorbing_markov" -> Stats.eventAbsorbingMarkov _,
    "stats_covariate_balance" -> Stats.statsCovariateBalance _,
    "stats_paired_ttest" -> Stats.statsPairedTtest _,
    "timeseries_granger" -> Stats.timeseriesGranger _,
    "event_conversion_latency" -> Stats.eventConversionLatency _,
    "stats_auc_delong"   -> Stats.statsAucDelong _,
    "stats_tukey_hsd"    -> Stats.statsTukeyHsd _,
    "text_burstiness"    -> TextOps.textBurstiness _,
    "sink_manifest_snapshot" -> Sources.sinkManifestSnapshot _,
    "model_lift_deciles" -> ModelEval.modelLiftDeciles _,
    "graph_rich_club"    -> Graph.graphRichClub _,
    "text_template_mining" -> TextOps.textTemplateMining _,
    "graph_label_propagation" -> Graph.graphLabelPropagation _,
    "graph_hits"         -> Graph.graphHits _,
    "sim_hybrid_search"  -> Similarity.simHybridSearch _,
    "agg_heavy_hitters_sketch" -> AdvancedAggs.aggHeavyHittersSketch _,
    "graph_random_walk" -> Graph.graphRandomWalk _,
    "fn_higher_order"   -> Families.fnHigherOrder _,
    "agg_count_min"     -> AdvancedAggs.aggCountMin _,
    "text_lang_confusion" -> TextOps.textLangConfusion _,
    "stats_ljung_box"   -> Stats.statsLjungBox _,
    "timeseries_snaive_backtest" -> Stats.timeseriesSnaiveBacktest _,
    "stats_mutual_info"  -> Stats.statsMutualInfo _,
    "stats_ks_test"      -> Stats.statsKsTest _,
    "stats_anova"        -> Stats.statsAnova _,
    "stats_autocorr"     -> Stats.statsAutocorr _,
    "timeseries_ewma"    -> Stats.timeseriesEwma _,
    "event_attribution"  -> Stats.eventAttribution _,
    "stats_mann_whitney" -> Stats.statsMannWhitney _,
    "stats_survival_km"  -> Stats.statsSurvivalKm _,
    "sample_reservoir_group" -> Pipeline.sampleReservoirGroup _,
    "pipeline_curriculum" -> Pipeline.pipelineCurriculum _,
    "sink_zorder_layout" -> Sources.sinkZorderLayout _,
    "text_unicode_normalize" -> TextOps.textUnicodeNormalize _,
    "profile_benford"    -> Profiling.profileBenford _,
    "stats_cusum"        -> Stats.statsCusum _,
    "agg_bitwise"        -> AdvancedAggs.aggBitwise _,
    "sink_merge_on_read" -> Cdc.sinkMergeOnRead _,
    "graph_pagerank"     -> Graph.graphPagerank _,
    "graph_triangles"    -> Graph.graphTriangles _,
    "graph_connected_components" -> Graph.graphConnectedComponents _,
    "text_bigram_logprob" -> TextOps.textBigramLogprob _,
    "dedup_containment"  -> Dedup.dedupContainment _,
    // dedup_near_minhash_incremental: oracle-N like its full-corpus
    // twin (engine hash family); the spec asserts incremental output
    // equals the full run restricted to batch-touching pairs.
    "dedup_near_minhash_incremental" -> Dedup.dedupNearMinhashIncremental _,
    "text_sentence_stats" -> TextOps.textSentenceStats _,
    "join_asof_forward"  -> AdvancedJoins.joinAsofForward _,
    "pipeline_dataset_card" -> Pipeline.datasetCard _,
    "scan_csv_malformed" -> Sources.scanCsvMalformed _,
    "stats_proportions_ztest" -> Stats.statsProportionsZtest _,
    "agg_weighted_median" -> AdvancedAggs.aggWeightedMedian _,
    "tokenizer_merge_candidates" -> TextOps.tokenizerMergeCandidates _,
    "pipeline_quality_gate" -> Pipeline.qualityGate _,
    "scan_parquet_footer" -> Sources.scanParquetFooter _,
    "anomaly_mad"        -> Stats.anomalyMad _,
    "agg_grouping_id"    -> AdvancedAggs.aggGroupingId _,
    "timeseries_holt"    -> Stats.timeseriesHolt _,
    "sql_recursive_cte"  -> Relational.sqlRecursiveCte _,
    "graph_degree_stats" -> Graph.graphDegreeStats _,
    "stats_jackknife"    -> Stats.statsJackknife _,
    "timeseries_lag_features" -> Stats.timeseriesLagFeatures _,
    "text_gopher_rules"  -> TextOps.textGopherRules _,
    "stats_bootstrap_ci" -> Stats.statsBootstrapCi _,
    "fn_interval"        -> Families.fnInterval _,
    "agg_bitmap_distinct" -> AdvancedAggs.aggBitmapDistinct _,
    "event_sequence_pattern" -> Stats.eventSequencePattern _,
    "graph_bfs_distance" -> Graph.graphBfsDistance _,
    "graph_jaccard_neighbors" -> Graph.graphJaccardNeighbors _,
    "timeseries_interpolate" -> Stats.timeseriesInterpolate _,
    "stats_benjamini_hochberg" -> Stats.statsBenjaminiHochberg _,
    "event_funnel_time" -> Stats.eventFunnelTime _,
    "pipeline_repeat_upsample" -> Pipeline.repeatUpsample _,
    "sim_range_search"   -> Similarity.simRangeSearch _,
    "text_ngram_novelty" -> TextOps.textNgramNovelty _,
    "timeseries_seasonality" -> Stats.timeseriesSeasonality _,
    "stats_theil_sen"    -> Stats.statsTheilSen _,
    "graph_kcore"        -> Graph.graphKcore _,
    "stats_spearman"     -> Stats.statsSpearman _,
    "timeseries_rolling_median" -> Stats.timeseriesRollingMedian _,
    "stats_cohens_kappa" -> Stats.statsCohensKappa _,
    "pipeline_length_histogram" -> Pipeline.lengthHistogram _,
    "privacy_k_anonymity" -> Pipeline.privacyKAnonymity _,
    "stats_levene"       -> Stats.statsLevene _,
    "stats_wilcoxon_signed_rank" -> Stats.statsWilcoxonSignedRank _,
    "graph_adamic_adar"  -> Graph.graphAdamicAdar _,
    "scan_text_lines"    -> Sources.scanTextLines _,
    "fn_struct"          -> Families.fnStruct _,
    "stats_mann_kendall" -> Stats.statsMannKendall _,
    "stats_runs_test"    -> Stats.statsRunsTest _,
    "event_inter_arrival" -> Stats.eventInterArrival _,
    "text_char_class_profile" -> TextOps.textCharClassProfile _,
    "agg_time_decay"     -> AdvancedAggs.aggTimeDecay _,
    "win_drawdown"       -> Windows.winDrawdown _,
    "graph_assortativity" -> Graph.graphAssortativity _,
    "multimodal_wav_energy" -> Multimodal.multimodalWavEnergy _,
    "text_feature_hashing" -> TextOps.textFeatureHashing _,
    "dedup_substring_shingle" -> Dedup.dedupSubstringShingle _,
    "dedup_substring_exact" -> Dedup.dedupSubstringExact _,
    "text_readability"   -> TextOps.textReadability _,
    "multimodal_image_histogram" -> Multimodal.multimodalImageHistogram _,
    "sim_mmr_diversify"  -> Similarity.simMmrDiversify _,
    "sim_ann_pq"         -> Similarity.simAnnPq _,
    "embed_truncate_recall" -> Similarity.embedTruncateRecall _,
    // oracle-N by design: the top-4 basis comes from an iterative
    // eigensolve (spec asserts the projection identity instead)
    "embed_pca_project" -> Similarity.embedPcaProject _,
    "graph_modularity"   -> Graph.graphModularity _,
    "stats_effect_size"  -> Stats.statsEffectSize _,
    "stats_roc_auc"      -> Stats.statsRocAuc _,
    "stats_confusion_metrics" -> Stats.statsConfusionMetrics _,
    "stats_ndcg"         -> Similarity.statsNdcg _,
    "text_js_divergence" -> TextOps.textJsDivergence _,
    // §2.10 LLM-pipeline: multimodal
    "multimodal_struct"  -> Multimodal.multimodalStruct _,
    "multimodal_binary"  -> Multimodal.multimodalBinary _,
    "multimodal_decode_png" -> Multimodal.multimodalDecodePng _,
    "multimodal_resize_png" -> Multimodal.multimodalResizePng _,
    "multimodal_decode_wav" -> Multimodal.multimodalDecodeWav _,
    "multimodal_framesample_png" -> Multimodal.multimodalFramesamplePng _,
    "multimodal_phash"  -> Multimodal.multimodalPhash _,
    "multimodal_wav_resample" -> Multimodal.multimodalWavResample _,
    // §2.9 streaming batch twins + a real streaming run
    "stream_tumbling"   -> Streaming.tumblingBatch _,
    "stream_sliding"    -> Streaming.slidingBatch _,
    "stream_session"    -> Streaming.sessionBatch _,
    "stream_dedup"      -> Streaming.dedupBatch _,
    "stream_stateful"   -> Streaming.statefulBatch _,
    "stream_agg_sink"   -> Streaming.streamAggSink _,
    "stream_restart_recovery" -> Streaming.streamRestartRecovery _,
    "sink_dynamic_overwrite" -> Sources.sinkDynamicOverwrite _,
    "stream_tws_counter" -> Streaming.streamTwsCounter _,
    "stream_foreach_batch" -> Streaming.streamForeachBatch _,
    "stream_join"       -> Streaming.streamJoinBatch _,
    "stream_late_audit" -> Streaming.lateAuditBatch _,
    // §2.6 sort / limit / sample
    "sort_multi"        -> Relational.sortMulti _,
    "limit_topk"        -> Relational.limitTopK _,
    "sample_deterministic" -> Relational.sampleDeterministic _,
    // §2.7 set ops
    "set_union_all"     -> Relational.setUnionAll _,
    "set_union_distinct" -> Relational.setUnionDistinct _,
    "set_intersect"     -> Relational.setIntersect _,
    "set_except"        -> Relational.setExcept _,
    "set_ops_all"       -> Relational.setOpsAll _,
    "join_null_safe"    -> Relational.joinNullSafe _,
  ).map { case (key, build) =>
    key -> { (s: SparkSession, sf: String) =>
      GraftExtensions.register(s)
      build(s, sf)
    }
  }

  /** profile_corr_matrix oracle, generated so the 16 cells are the
    * IDENTICAL closed-form double expression the Spark side evaluates
    * (Profiling.profileCorrMatrix scaladoc): exact cents-scaled integer
    * moments in HUGEINT (Spark: DECIMAL(38,0)), canonical pair order so
    * both triangle halves read the same sums, listwise null deletion. */
  private def corrMatrixOracle: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val ints = cols
      .map(c => s"CAST(round($c * 100, 0) AS BIGINT) AS x_$c")
      .mkString(", ")
    val notNull = cols.map(c => s"$c IS NOT NULL").mkString(" AND ")
    val mSel = (Seq("CAST(count(*) AS BIGINT) AS n") ++
      cols.map(x => s"sum(CAST(x_$x AS HUGEINT)) AS s_$x") ++
      (for (x <- cols; y <- cols if cols.indexOf(x) <= cols.indexOf(y))
        yield s"sum(CAST(x_$x AS HUGEINT) * x_$y) AS s_${x}__$y"))
      .mkString(", ")
    def cellSql(x: String, y: String): String = {
      val (a, b) = if (cols.indexOf(x) <= cols.indexOf(y)) (x, y) else (y, x)
      def d(c: String) = s"CAST($c AS DOUBLE)"
      s"round((${d("n")} * ${d(s"s_${a}__$b")} - ${d(s"s_$a")} * ${d(s"s_$b")}) / " +
        s"nullif(sqrt((${d("n")} * ${d(s"s_${a}__$a")} - ${d(s"s_$a")} * ${d(s"s_$a")}) * " +
        s"(${d("n")} * ${d(s"s_${b}__$b")} - ${d(s"s_$b")} * ${d(s"s_$b")})), 0.0), 6)"
    }
    val rows = (for (x <- cols; y <- cols) yield
      s"SELECT '$x' AS col_x, '$y' AS col_y, ${cellSql(x, y)} AS corr_xy FROM m")
      .mkString(" UNION ALL ")
    s"WITH i AS (SELECT $ints FROM lineitem WHERE $notNull), " +
      s"m AS (SELECT $mSel FROM i) " +
      s"SELECT * FROM ($rows) ORDER BY col_x, col_y"
  }

  val oracleSql: Map[String, String] = Map(
    "scan_parquet" ->
      "SELECT l_orderkey, l_linenumber FROM lineitem ORDER BY l_orderkey, l_linenumber",
    // scan_schema_evolution: old batch lacks n_chars → NULL after the
    // mergeSchema read; the oracle states the same union relationally.
    "scan_schema_evolution" ->
      "SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars FROM documents WHERE doc_id < 250 UNION ALL SELECT doc_id, lang, n_chars FROM documents WHERE doc_id >= 250 ORDER BY doc_id",
    // sink_sorted_layout round-trips lineitem unchanged through the
    // clustered files, so the oracle states the query over the source.
    "sink_sorted_layout" ->
      "SELECT l_returnflag, count(*) AS n_items, round(sum(l_quantity), 4) AS sum_qty, round(sum(l_extendedprice), 4) AS sum_price FROM lineitem WHERE l_orderkey >= 1000 AND l_orderkey < 2000 GROUP BY l_returnflag ORDER BY l_returnflag",
    "scan_json_lines" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k FROM events ORDER BY event_id",
    // scan_json_nested: Spark nests events per user, writes JSON docs,
    // re-reads + explodes; the oracle re-derives the rows from the flat
    // base table — exact equality proves the round trip lost nothing.
    "scan_json_nested" ->
      "SELECT user_id, event_id, event_type, round(value, 4) AS value FROM events WHERE user_id < 200 ORDER BY user_id, event_id",
    // scan_csv / scan_json_file / scan_orc / sink_partitioned: each query
    // returns the ROUND-TRIPPED rows ordered by key, so pairing it with
    // the SOURCE table's SQL makes losslessness oracle-provable — any
    // write/read corruption breaks the hash match.
    "scan_csv" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    // scan_csv_gzip: a lossless compressed round trip hash-matches the
    // same source profile — the codec must not alter a byte.
    "scan_csv_gzip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "scan_json_file" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "scan_orc" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "sink_partitioned" ->
      "SELECT event_id, user_id, event_type FROM events WHERE event_type = 'purchase' ORDER BY event_id",
    // sink_compacted: lossless 64-shard -> 4-file rewrite, proven
    // against the source table like the other round-trip keys.
    "sink_compacted" ->
      "SELECT event_id, user_id, event_type, ts FROM events ORDER BY event_id",
    // scan_binary_files: byte-exact file round-trip — md5 of the staged
    // bytes must equal md5 of the source text.
    "scan_binary_files" ->
      "SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes, md5(text) AS content_md5 FROM documents WHERE doc_id < 100 AND text IS NOT NULL ORDER BY doc_id",
    "project_select" ->
      "SELECT l_orderkey, l_linenumber, round(l_extendedprice * (1.0 - l_discount), 4) AS revenue FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "filter_pred" ->
      "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' AND l_returnflag IN ('A','R') AND l_quantity BETWEEN 10 AND 40 ORDER BY l_orderkey, l_linenumber",
    "filter_like" ->
      "SELECT p_partkey, p_name, p_type FROM part WHERE p_type LIKE 'PROMO%' AND regexp_matches(p_name, '[aeiou]$') ORDER BY p_partkey",
    "distinct_rows" ->
      "SELECT DISTINCT event_type, user_id FROM events ORDER BY event_type, user_id",
    "join_inner_hash" ->
      "SELECT o_orderkey, c_name, round(o_totalprice, 4) AS o_totalprice FROM orders JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey",
    "join_multiway" ->
      "SELECT r_name, n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue, count(*) AS n_items FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY r_name, n_name ORDER BY r_name, n_name",
    "join_left_outer" ->
      "SELECT c_custkey, count(o_orderkey) AS n_orders FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey ORDER BY c_custkey",
    "join_semi" ->
      "SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT') ORDER BY c_custkey",
    "join_anti" ->
      "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT') ORDER BY c_custkey",
    "join_broadcast" ->
      "SELECT n_name, count(*) AS n_customers, round(avg(c_acctbal), 4) AS avg_bal FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name",
    "agg_groupby" ->
      "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, round(sum(l_extendedprice), 2) AS sum_base_price, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price, round(avg(l_quantity), 4) AS avg_qty, round(avg(l_discount), 6) AS avg_disc, count(*) AS count_order FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    "agg_count_distinct" ->
      "SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events FROM events GROUP BY event_type ORDER BY event_type",
    "agg_minmax_by" ->
      "SELECT event_type, round(arg_max(value, event_id), 4) AS last_value, round(arg_min(value, event_id), 4) AS first_value, max(event_id) AS last_event_id, min(event_id) AS first_event_id FROM events GROUP BY event_type ORDER BY event_type",
    "agg_bool" ->
      "SELECT l_returnflag, bool_and(l_quantity > 0) AS all_positive_qty, bool_or(l_discount > 0.06) AS any_big_discount, bool_and(l_extendedprice >= l_quantity) AS all_price_ge_qty, count(*) AS n_rows FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    "join_full_outer" ->
      "SELECT c_custkey, round(c_acctbal, 4) AS c_acctbal, o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice FROM (SELECT * FROM customer WHERE c_acctbal > 5000) c FULL OUTER JOIN (SELECT * FROM orders WHERE o_totalprice > 200000) o ON c_custkey = o_custkey ORDER BY c_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST",
    "q3_shipping_priority" ->
      "SELECT l_orderkey, o_orderdate, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1997-06-15' AND l_shipdate > TIMESTAMP '1997-06-15' GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, l_orderkey ASC LIMIT 10",
    "q6_forecast_revenue" ->
      "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n_items FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24",
    "q9_product_profit" ->
      "SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year, round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS profit, count(*) AS n_items FROM lineitem JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey JOIN orders ON l_orderkey = o_orderkey JOIN nation ON s_nationkey = n_nationkey WHERE p_name LIKE '%red%' GROUP BY n_name, o_year ORDER BY n_name, o_year",
    "q5_local_supplier" ->
      "SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue, count(*) AS n_items FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' GROUP BY n_name ORDER BY revenue DESC, n_name ASC",
    "q10_returned_items" ->
      "SELECT c_custkey, c_name, n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey JOIN nation ON c_nationkey = n_nationkey WHERE o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01' AND l_returnflag = 'R' GROUP BY c_custkey, c_name, n_name ORDER BY revenue DESC, c_custkey ASC LIMIT 20",
    "q14_promo_effect" ->
      "SELECT round(sum(CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END) * 100.0 / sum(l_extendedprice * (1.0 - l_discount)), 6) AS promo_revenue_pct, count(*) AS n_items FROM lineitem JOIN part ON l_partkey = p_partkey WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'",
    "q2_min_cost_supplier" ->
      "WITH link AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem), cand AS (SELECT p_partkey, s_suppkey, s_name, n_name, s_acctbal FROM part JOIN link ON p_partkey = l_partkey JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE p_type = 'LARGE' AND p_size < 16 AND r_name = 'EUROPE'), w1 AS (SELECT *, max(s_acctbal) OVER (PARTITION BY p_partkey) AS max_bal FROM cand), w2 AS (SELECT *, min(s_suppkey) OVER (PARTITION BY p_partkey) AS pick_supp FROM w1 WHERE s_acctbal = max_bal) SELECT p_partkey, s_suppkey, s_name, n_name, round(s_acctbal, 4) AS s_acctbal FROM w2 WHERE s_suppkey = pick_supp ORDER BY p_partkey",
    "q4_priority_exists" ->
      "SELECT o_orderpriority, count(*) AS n_orders FROM orders WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01' AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY) GROUP BY o_orderpriority ORDER BY o_orderpriority",
    "q7_volume_shipping" ->
      "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, CAST(year(l_shipdate) AS BIGINT) AS l_year, round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS volume, count(*) AS n_items FROM lineitem JOIN supplier ON l_suppkey = s_suppkey JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation n1 ON s_nationkey = n1.n_nationkey JOIN nation n2 ON c_nationkey = n2.n_nationkey WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7') OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')) GROUP BY 1, 2, 3 ORDER BY 1, 2, 3",
    "q8_market_share" ->
      "SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, round(sum(CASE WHEN sn.n_name = 'NATION_5' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END) / sum(l_extendedprice * (1.0 - l_discount)), 6) AS mkt_share, count(*) AS n_items FROM lineitem JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation cn ON c_nationkey = cn.n_nationkey JOIN region ON cn.n_regionkey = r_regionkey JOIN nation sn ON s_nationkey = sn.n_nationkey WHERE p_type = 'PROMO' AND r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01' GROUP BY 1 ORDER BY 1",
    "q11_value_concentration" ->
      "WITH pp AS (SELECT l_partkey, sum(l_extendedprice * (1.0 - l_discount)) AS value_raw FROM lineitem GROUP BY l_partkey), w AS (SELECT *, sum(value_raw) OVER () AS total_raw, count(*) OVER () AS n_parts FROM pp) SELECT l_partkey, round(value_raw, 4) AS part_value FROM w WHERE round(value_raw, 4) > round(total_raw / n_parts * 1.5, 4) ORDER BY part_value DESC, l_partkey ASC",
    "q12_priority_class" ->
      "SELECT l_linestatus, CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' GROUP BY l_linestatus ORDER BY l_linestatus",
    "q15_top_supplier" ->
      "WITH rev AS (SELECT l_suppkey, round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS total_revenue FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY l_suppkey), w AS (SELECT *, max(total_revenue) OVER () AS max_rev FROM rev) SELECT s_suppkey, s_name, total_revenue FROM w JOIN supplier ON l_suppkey = s_suppkey WHERE total_revenue = max_rev ORDER BY s_suppkey",
    "q16_supplier_count" ->
      "WITH link AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt FROM link JOIN part ON l_partkey = p_partkey WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO' AND p_size IN (1,4,9,16,25,36,49) AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) GROUP BY p_brand, p_type, p_size ORDER BY supplier_cnt DESC, p_brand, p_type, p_size",
    "q17_small_qty_avg" ->
      "WITH branded AS (SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_brand = 'Brand#3'), w AS (SELECT *, avg(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty FROM branded) SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly, count(*) AS n_items FROM w WHERE l_quantity < avg_qty * 0.5",
    "q19_disjunctive_join" ->
      "SELECT round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue, count(*) AS n_items FROM lineitem JOIN part ON l_partkey = p_partkey WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 11) OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 20 AND l_quantity BETWEEN 10 AND 20) OR (p_brand = 'Brand#3' AND p_size BETWEEN 21 AND 30 AND l_quantity BETWEEN 20 AND 30)",
    "q20_qty_threshold_semi" ->
      "SELECT s_suppkey, s_name, n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_name LIKE '%red%' GROUP BY l_suppkey HAVING sum(l_quantity) > 300.0) ORDER BY s_suppkey",
    "q21_waiting_supplier" ->
      "WITH o AS (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'), pos AS (SELECT l_orderkey, l_suppkey, max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END) AS is_late FROM lineitem JOIN o ON l_orderkey = o_orderkey GROUP BY l_orderkey, l_suppkey), w AS (SELECT *, count(*) OVER (PARTITION BY l_orderkey) AS n_suppliers, sum(is_late) OVER (PARTITION BY l_orderkey) AS n_late FROM pos) SELECT s_suppkey, s_name, count(*) AS numwait FROM w JOIN supplier ON l_suppkey = s_suppkey WHERE is_late = 1 AND n_late = 1 AND n_suppliers > 1 GROUP BY s_suppkey, s_name ORDER BY numwait DESC, s_suppkey ASC LIMIT 20",
    "q22_dormant_customers" ->
      "WITH c AS (SELECT c_custkey, c_acctbal, c_nationkey % 5 AS bucket FROM customer WHERE c_nationkey % 5 IN (0,1,2)), cut AS (SELECT avg(c_acctbal) AS avg_bal FROM c WHERE c_acctbal > 0.0) SELECT bucket, count(*) AS numcust, round(sum(c_acctbal), 4) AS totacctbal FROM c CROSS JOIN cut WHERE c_acctbal > round(avg_bal, 4) AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01') GROUP BY bucket ORDER BY bucket",
    "typed_dataset_ops" ->
      "SELECT l_returnflag, round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue, count(*) AS n_items FROM lineitem WHERE l_quantity > 10 GROUP BY l_returnflag ORDER BY l_returnflag",
    "q18_large_orders" ->
      "SELECT c_name, c_custkey, o_orderkey, o_orderdate, round(o_totalprice, 4) AS o_totalprice, round(sum_qty, 2) AS sum_qty FROM orders JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150) t ON o_orderkey = l_orderkey JOIN customer ON o_custkey = c_custkey ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20",
    "q13_order_distribution" ->
      "SELECT c_count, count(*) AS custdist FROM (SELECT c_custkey, count(o_orderkey) AS c_count FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey) t GROUP BY c_count ORDER BY custdist DESC, c_count DESC",
    // sql_text_query: same ANSI text shape (CTE + window + rank filter)
    // runs in both engines.
    "sql_text_query" ->
      "WITH cust_rev AS (SELECT c_nationkey, o_custkey, round(sum(o_totalprice), 4) AS total_rev FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_nationkey, o_custkey) SELECT c_nationkey, o_custkey, total_rev, rnk FROM (SELECT c_nationkey, o_custkey, total_rev, rank() OVER (PARTITION BY c_nationkey ORDER BY total_rev DESC, o_custkey) AS rnk FROM cust_rev) t WHERE rnk <= 3 ORDER BY c_nationkey, rnk",
    "agg_salted" ->
      "SELECT user_id, round(sum(value), 4) AS sum_value, count(*) AS n_rows FROM events GROUP BY user_id ORDER BY user_id",
    "join_bucketed" ->
      "SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 4) AS total_price FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment ORDER BY c_mktsegment",
    // join_skew_salted: the salted plan is result-identical to the plain
    // join — the oracle runs the plain form.
    "join_skew_salted" ->
      "SELECT p_brand, count(*) AS n_items, round(sum(l_extendedprice), 4) AS revenue FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand ORDER BY p_brand",
    // agg_approx_distinct: intentionally omitted (sketch differs across engines;
    // self-tested against exact counts within rsd in the scalatest suite).
    "agg_having" ->
      "SELECT c_mktsegment, round(avg(c_acctbal), 4) AS avg_bal, count(*) AS n_cust FROM customer GROUP BY c_mktsegment HAVING round(avg(c_acctbal), 4) > 0 ORDER BY c_mktsegment",
    "subquery_scalar" ->
      "SELECT c_custkey, round((SELECT max(o_totalprice) FROM orders), 4) AS global_max FROM customer ORDER BY c_custkey",
    "subquery_correlated" ->
      "SELECT c_custkey, (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders FROM customer ORDER BY c_custkey",
    "join_lateral" ->
      "SELECT c_custkey, t.o_orderkey, round(t.o_totalprice, 4) AS o_totalprice FROM customer, LATERAL (SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = c_custkey ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t ORDER BY c_custkey, o_orderkey",
    "join_theta_range" ->
      "SELECT a.event_id AS id1, b.event_id AS id2, round(a.value, 4) AS v1, round(b.value, 4) AS v2 FROM events a JOIN events b ON a.event_id < b.event_id AND abs(a.value - b.value) <= 0.5 WHERE a.event_type = 'purchase' AND b.event_type = 'purchase' ORDER BY id1, id2",
    "join_interval" ->
      "SELECT s.user_id AS user_id, s.event_id AS signup_id, c.event_id AS click_id FROM events s JOIN events c ON s.user_id = c.user_id AND c.ts >= s.ts AND c.ts < s.ts + INTERVAL 1 HOUR WHERE s.event_type = 'signup' AND c.event_type = 'click' ORDER BY user_id, signup_id, click_id",
    "join_asof" ->
      "SELECT p.user_id AS user_id, p.event_id AS purchase_id, p.ts AS purchase_ts, v.event_id AS last_view_id, v.ts AS last_view_ts FROM (SELECT * FROM events WHERE event_type = 'purchase') p ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v ON p.user_id = v.user_id AND v.ts <= p.ts ORDER BY user_id, purchase_ts, purchase_id",
    "fn_string" ->
      "SELECT doc_id, upper(substring(text, 1, 12)) AS head_upper, CAST(length(trim(text)) AS INTEGER) AS len_trim, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words, regexp_extract(text, '([a-z]+)', 1) AS first_word, regexp_replace(substring(text, 1, 40), ' ', '_', 'g') AS snake, concat_ws('|', lang, source) AS lang_src, CAST(levenshtein(substring(text, 1, 8), 'pipeline') AS INTEGER) AS lev FROM documents ORDER BY doc_id",
    "fn_date" ->
      "SELECT l_orderkey, l_linenumber, CAST(year(l_shipdate) AS INTEGER) AS yr, CAST(month(l_shipdate) AS INTEGER) AS mo, CAST(dayofweek(l_shipdate) + 1 AS INTEGER) AS dow, CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month_start, CAST(date_diff('day', CAST(l_shipdate AS DATE), DATE '1998-01-01') AS INTEGER) AS days_to_98, CAST(l_shipdate + INTERVAL 3 MONTH AS DATE) AS plus3m, CAST(epoch(l_shipdate) AS BIGINT) AS epoch_s FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "fn_math" ->
      "SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS r2, CAST(floor(l_discount * 100) AS BIGINT) AS fl, CAST(ceil(l_tax * 100) AS BIGINT) AS ce, abs(l_quantity - 25.0) AS ab, round(sqrt(l_extendedprice), 6) AS sq, round(ln(l_extendedprice), 6) AS ln_p, round(exp(l_discount), 6) AS ex, round(pow(l_quantity, 2), 2) AS pw, CAST(sign(l_discount - 0.05) AS INTEGER) AS sg, l_orderkey % 7 AS md, l_orderkey // 7 AS dv FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "fn_conditional" ->
      "SELECT c_custkey, CASE WHEN c_acctbal < 0 THEN 'neg' WHEN c_acctbal < 3000 THEN 'low' WHEN c_acctbal < 7000 THEN 'mid' ELSE 'high' END AS band, coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other, round(least(c_acctbal, 5000.0), 4) AS capped, round(greatest(c_acctbal, 0.0), 4) AS floored FROM customer ORDER BY c_custkey",
    "fn_array" ->
      "SELECT vec_id, CAST(len(embedding) AS INTEGER) AS n_dims, round(CAST(embedding[1] AS DOUBLE), 6) AS first_dim, round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_dim, round(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))), 6) AS head8_sum, CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_positive FROM embeddings ORDER BY vec_id",
    "fn_map" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val, array_to_string(json_keys(props), ',') AS keys_csv, CAST(len(json_keys(props)) AS INTEGER) AS n_keys FROM events ORDER BY event_id",
    "fn_json" ->
      "SELECT event_id, json_extract_string(props, '$.k') AS k_str, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num, json_extract_string(props, '$.missing') AS k_missing, regexp_matches(props, '\"k\"') AS has_k, CAST(length(props) AS INTEGER) AS json_len FROM events ORDER BY event_id",
    "fn_cast" ->
      "SELECT o_orderkey, CAST(o_orderkey AS VARCHAR) AS key_str, CAST(round(o_totalprice, 0) AS BIGINT) AS price_long, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS date_str, TRY_CAST(o_orderstatus AS INTEGER) AS bad_cast, TRY_CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS roundtrip FROM orders ORDER BY o_orderkey",
    // fn_decimal: exact decimal money math — arithmetic stays DECIMAL;
    // the output surface is DECIMAL→VARCHAR on both sides (fixed-scale
    // string prints identically; raw DECIMAL hash-canonicalizes
    // differently between engines).
    "fn_decimal" ->
      "SELECT l_returnflag, CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(28,2)) AS VARCHAR) AS sum_price, CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(12,4))) AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS VARCHAR) AS sum_disc_price, CAST(min(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS min_price, CAST(max(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS max_price, count(*) AS n_items FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    "udf_scalar" ->
      "SELECT doc_id, replace(lower(substring(text, 1, 30)), ' ', '-') AS slug FROM documents ORDER BY doc_id",
    "udtf_explode_custom" ->
      "SELECT doc_id, unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos, unnest(string_split(text, ' ')) AS word FROM documents WHERE doc_id < 100 ORDER BY doc_id, pos",
    // dedup_near_minhash, dedup_simhash, sim_ann_lsh: oracle-N (engine-
    // specific hash families) — self-tested in DedupSimilaritySpec.
    "dedup_exact" ->
      "SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS h, min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY h ORDER BY h",
    "dedup_cluster" ->
      "SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))) AS cluster_rep FROM documents ORDER BY doc_id",
    // dedup_incremental_bloom: the bloom is a pre-filter only (no false
    // negatives, FPs removed by the confirm anti-join), so the result is
    // EXACTLY "batch docs whose bag-hash is absent from the historical
    // half" — plain relational semantics the oracle states directly.
    "dedup_incremental_bloom" ->
      "WITH d AS (SELECT doc_id, lang, md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS h FROM documents), cut AS (SELECT CAST(floor(max(doc_id) / 2) AS BIGINT) AS c FROM d) SELECT n.doc_id AS doc_id, n.lang AS lang FROM d n, cut WHERE n.doc_id > cut.c AND NOT EXISTS (SELECT 1 FROM d h WHERE h.doc_id <= cut.c AND h.h = n.h) ORDER BY n.doc_id",
    // dedup_passage: first corpus-wide occurrence per 10-word passage
    // survives; the oracle states first-occurrence as a window rank (the
    // Spark side computes the same keeper set with a skew-immune
    // packed-min aggregate — identical result, different plan).
    "dedup_passage" ->
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents), m AS (SELECT doc_id, words, CAST(ceil(len(words) / 10.0) AS BIGINT) AS n_chunks FROM w), e AS (SELECT doc_id, n_chunks, words, unnest(range(0, n_chunks)) AS pos FROM m), c AS (SELECT doc_id, n_chunks, pos, array_to_string(list_slice(words, pos * 10 + 1, pos * 10 + 10), ' ') AS chunk FROM e), k AS (SELECT doc_id, n_chunks, pos, chunk FROM c QUALIFY row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) = 1) SELECT doc_id, n_chunks, count(*) AS n_kept, string_agg(chunk, ' ' ORDER BY pos) AS text_clean FROM k GROUP BY doc_id, n_chunks ORDER BY doc_id",
    "dedup_ngram_jaccard" ->
      "WITH w AS (SELECT doc_id, source, list_sort(list_distinct(string_split(text, ' '))) AS ws FROM documents) SELECT a.source AS source, a.doc_id AS id1, b.doc_id AS id2, round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 6) AS jac FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id WHERE round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 6) >= 0.9 ORDER BY source, id1, id2",
    // embed_quantize_int8: floor(+0.5) rounding on both engines (Spark
    // round() is half-up, DuckDB's half-even — floor is bit-identical);
    // the comma-joined quantized vector is an exact string compare.
    "embed_quantize_int8" ->
      "WITH a AS (SELECT vec_id, embedding, list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale FROM embeddings), q AS (SELECT vec_id, embedding, scale, CASE WHEN scale = 0.0 THEN list_transform(embedding, x -> 0) ELSE list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT)) END AS qv FROM a) SELECT vec_id, round(scale, 8) AS scale, array_to_string(qv, ',') AS q_str, round(sqrt(list_sum(list_transform(range(1, len(embedding) + 1), i -> pow(CAST(embedding[i] AS DOUBLE) - qv[i] * scale, 2)))), 6) AS l2_err FROM q ORDER BY vec_id",
    "sim_cosine_topk" ->
      "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) SELECT e.vec_id AS vec_id, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * qv[i])), 6) AS cos FROM embeddings e, q WHERE e.vec_id <> 0 ORDER BY cos DESC, vec_id ASC LIMIT 10",
    "sim_knn_join" ->
      "WITH pairs AS (SELECT q.label AS label, q.vec_id AS qid, c.vec_id AS nid, round(list_sum(list_transform(range(1, len(q.embedding) + 1), i -> CAST(q.embedding[i] AS DOUBLE) * c.embedding[i])), 6) AS cos FROM embeddings q JOIN embeddings c ON q.label = c.label AND q.vec_id <> c.vec_id WHERE q.vec_id < 50) SELECT label, qid, nid, cos, rn FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rn FROM pairs) t WHERE rn <= 3 ORDER BY qid, rn",
    "dedup_embed_cosine" ->
      "SELECT a.label AS label, a.vec_id AS id1, b.vec_id AS id2, round(list_sum(list_transform(range(1, len(a.embedding) + 1), i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i])), 6) AS cos FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id WHERE round(list_sum(list_transform(range(1, len(a.embedding) + 1), i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i])), 6) >= 0.35 ORDER BY label, id1, id2",
    "text_tokenize_stats" ->
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word), dfq AS (SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY word), n AS (SELECT count(*) AS n_docs FROM documents) SELECT t.doc_id AS doc_id, t.word AS word, t.tf AS tf, d.df AS df, round(t.tf * ln(CAST(n_docs AS DOUBLE) / d.df), 6) AS tfidf FROM tf t JOIN dfq d USING (word) CROSS JOIN n ORDER BY doc_id, word",
    "text_ngrams" ->
      "SELECT doc_id, pos, a || ' ' || b AS bigram FROM (SELECT doc_id, unnest(range(1, len(w))) AS pos, unnest(w[1:len(w)-1]) AS a, unnest(w[2:len(w)]) AS b FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id < 100) t1) t2 ORDER BY doc_id, pos",
    "text_lang_partition" ->
      "SELECT lang, source, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars, min(doc_id) AS first_doc FROM documents GROUP BY lang, source ORDER BY lang, source",
    "text_lang_id" ->
      "WITH s AS (SELECT doc_id, lang AS actual_lang, CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ['der','die','und','das','ist'])) AS BIGINT) AS s_de, CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ['the','and','of','to','in'])) AS BIGINT) AS s_en, CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ['el','la','de','que','los'])) AS BIGINT) AS s_es, CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ['le','la','et','les','des'])) AS BIGINT) AS s_fr, CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ['的','是','了','在','我'])) AS BIGINT) AS s_zh FROM documents) SELECT doc_id, actual_lang, CASE WHEN best = 0 THEN 'und' WHEN s_de = best THEN 'de' WHEN s_en = best THEN 'en' WHEN s_es = best THEN 'es' WHEN s_fr = best THEN 'fr' ELSE 'zh' END AS predicted, best FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS best FROM s) t ORDER BY doc_id",
    // timeseries_snaive_backtest: identical d−7 calendar join and
    // error moments over 4-rounded daily totals.
    "timeseries_snaive_backtest" ->
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 4) AS x FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2), " +
       "j AS (SELECT a.event_type AS event_type, a.x AS x, b.x AS f FROM daily a JOIN daily b ON a.event_type = b.event_type AND a.d = b.d + 7 WHERE a.x <> 0) " +
       "SELECT event_type, CAST(count(*) AS BIGINT) AS n_scored, round(avg(abs(x - f)), 6) AS mae, " +
       "round(avg(abs(x - f) / abs(x)), 6) AS mape, round(avg(f - x), 6) AS bias FROM j GROUP BY 1 ORDER BY 1"),
    // stats_ljung_box: textbook ACF — global-mean autocovariance over
    // full-series variance per lag, 6-rounded, then Q algebra over the
    // rounded acf values; x̄ = integer-sum/n is exact on both engines.
    "stats_ljung_box" ->
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2), " +
       "span AS (SELECT event_type, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1), " +
       "grid AS (SELECT event_type, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d FROM span), " +
       "f AS (SELECT g.event_type, g.d, CAST(coalesce(c, 0) AS DOUBLE) AS c FROM grid g LEFT JOIN daily USING (event_type, d)), " +
       "mu AS (SELECT event_type, d, c - avg(c) OVER (PARTITION BY event_type) AS xc FROM f), " +
       "l AS (SELECT event_type, xc, lag(xc, 1) OVER w AS x1, lag(xc, 2) OVER w AS x2, lag(xc, 3) OVER w AS x3 FROM mu WINDOW w AS (PARTITION BY event_type ORDER BY d)), " +
       "a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days, round(sum(xc * x1) / sum(xc * xc), 6) + 0.0 AS r1, round(sum(xc * x2) / sum(xc * xc), 6) + 0.0 AS r2, round(sum(xc * x3) / sum(xc * xc), 6) + 0.0 AS r3 FROM l GROUP BY 1) " +
       "SELECT event_type, n_days, round(n_days * (n_days + 2.0) * (r1 * r1 / (n_days - 1) + r2 * r2 / (n_days - 2) + r3 * r3 / (n_days - 3)), 6) AS q_lb, " +
       "round(n_days * (n_days + 2.0) * (r1 * r1 / (n_days - 1) + r2 * r2 / (n_days - 2) + r3 * r3 / (n_days - 3)), 6) > 7.814728 AS reject_white_noise " +
       "FROM a ORDER BY event_type"),
    // text_lang_confusion: the lang-id CTE replayed, then one
    // (actual, predicted) aggregate with a row-total window.
    "text_lang_confusion" ->
      ("WITH s AS (SELECT lang AS actual_lang, CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ['der','die','und','das','ist'])) AS BIGINT) AS s_de, CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ['the','and','of','to','in'])) AS BIGINT) AS s_en, CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ['el','la','de','que','los'])) AS BIGINT) AS s_es, CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ['le','la','et','les','des'])) AS BIGINT) AS s_fr, CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ['的','是','了','在','我'])) AS BIGINT) AS s_zh FROM documents), " +
       "p AS (SELECT actual_lang, CASE WHEN best = 0 THEN 'und' WHEN s_de = best THEN 'de' WHEN s_en = best THEN 'en' WHEN s_es = best THEN 'es' WHEN s_fr = best THEN 'fr' ELSE 'zh' END AS predicted FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS best FROM s) t), " +
       "m AS (SELECT actual_lang, predicted, CAST(count(*) AS BIGINT) AS n_docs FROM p GROUP BY 1, 2) " +
       "SELECT actual_lang, predicted, n_docs, round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (PARTITION BY actual_lang), 6) AS share_of_actual, actual_lang = predicted AS is_correct FROM m ORDER BY actual_lang, predicted"),
    "text_quality_score" ->
      "SELECT *, round(CASE WHEN n_words < 5 THEN 0.0 ELSE (1.0 - non_alpha_ratio) * vocab_diversity END, 6) AS quality FROM (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words, round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_word_len, round(CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) AS non_alpha_ratio, round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')), 6) AS vocab_diversity FROM documents) t ORDER BY doc_id",
    "text_token_count" ->
      "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens, CAST(list_sum(list_transform(string_split(text, ' '), w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS bpe_tokens FROM documents ORDER BY doc_id",
    // text_pii_redact: both engines plant identical contact strings from
    // doc fields, then redact — the regexes fire on every row, so the
    // hash compare genuinely tests cross-engine regex semantics.
    "text_pii_redact" ->
      "WITH r AS (SELECT doc_id, array_to_string(string_split(text, ' ')[1:5], ' ') || ' contact ' || source || '@example.org or +' || lpad(CAST(doc_id % 90 + 10 AS VARCHAR), 2, '0') || '-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw FROM documents) SELECT doc_id, regexp_replace(regexp_replace(raw, '[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}', '[EMAIL]', 'g'), '\\+[0-9]{2}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS redacted, CAST(len(regexp_extract_all(raw, '[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS BIGINT) AS n_emails, CAST(len(regexp_extract_all(raw, '\\+[0-9]{2}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones FROM r ORDER BY doc_id",
    "text_html_strip" ->
      "WITH r AS (SELECT doc_id, '<html><body><h1>' || source || '</h1><p>' || array_to_string(string_split(text, ' ')[1:12], ' ') || '</p><div class=\"nav\">home &amp; search &lt;links&gt;</div></body></html>' AS raw FROM documents) SELECT doc_id, trim(regexp_replace(replace(replace(replace(regexp_replace(raw, '<[^>]*>', ' ', 'g'), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), ' +', ' ', 'g')) AS clean, CAST(len(regexp_extract_all(raw, '<[^>]*>')) AS BIGINT) AS n_tags FROM r ORDER BY doc_id",
    "text_contamination" ->
      "WITH sh AS (SELECT DISTINCT doc_id, shingle FROM (SELECT doc_id, unnest(list_transform(range(1, len(string_split(text, ' ')) - 3), i -> array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' '))) AS shingle FROM documents WHERE len(string_split(text, ' ')) >= 5) u), ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0), tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 50 <> 0), hits AS (SELECT doc_id, count(*) AS n_contaminated FROM tr JOIN ev USING (shingle) GROUP BY doc_id), tot AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id) SELECT doc_id, n_shingles, n_contaminated, round(CAST(n_contaminated AS DOUBLE) / n_shingles, 6) AS contamination FROM hits JOIN tot USING (doc_id) ORDER BY doc_id",
    "text_repetition_filter" ->
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE text IS NOT NULL), g AS (SELECT doc_id, 1 AS n, unnest(ws) AS gram FROM w UNION ALL SELECT doc_id, 2 AS n, unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS gram FROM w UNION ALL SELECT doc_id, 3 AS n, unnest(list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram FROM w), c AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3), st AS (SELECT doc_id, n, max(c) AS mx, sum(c) AS tot, count(*) AS nd FROM c GROUP BY 1, 2), p AS (SELECT doc_id, CAST(max(CASE WHEN n = 1 THEN tot END) AS BIGINT) AS n_words, round(max(CASE WHEN n = 1 THEN 1.0 - CAST(nd AS DOUBLE) / tot END), 6) AS dup_word_frac, round(coalesce(max(CASE WHEN n = 2 THEN CAST(mx AS DOUBLE) / tot END), 0.0), 6) AS top2_frac, round(coalesce(max(CASE WHEN n = 3 THEN CAST(mx AS DOUBLE) / tot END), 0.0), 6) AS top3_frac FROM st GROUP BY 1) SELECT doc_id, n_words, dup_word_frac, top2_frac, top3_frac, CAST(top2_frac > 0.08 OR top3_frac > 0.05 OR dup_word_frac > 0.70 AS BIGINT) AS rep_flag FROM p ORDER BY doc_id",
    // join_asof_nearest: same union+window construction as the Spark
    // side so the tie/equal-timestamp ordering (ts, tag, event_id) is
    // identical; distances compare in floor-truncated microseconds.
    "join_asof_nearest" ->
      "WITH u AS (SELECT user_id, ts, 0 AS tag, event_id, event_id AS view_id, ts AS view_ts FROM events WHERE event_type = 'view' UNION ALL SELECT user_id, ts, 1 AS tag, event_id, NULL, NULL FROM events WHERE event_type = 'purchase'), w AS (SELECT *, last_value(view_id IGNORE NULLS) OVER wb AS prev_id, last_value(view_ts IGNORE NULLS) OVER wb AS prev_ts, first_value(view_id IGNORE NULLS) OVER wf AS next_id, first_value(view_ts IGNORE NULLS) OVER wf AS next_ts FROM u WINDOW wb AS (PARTITION BY user_id ORDER BY ts, tag, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), wf AS (PARTITION BY user_id ORDER BY ts, tag, event_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), s AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, prev_id, next_id, epoch_ns(ts) // 1000 - epoch_ns(prev_ts) // 1000 AS d_prev, epoch_ns(next_ts) // 1000 - epoch_ns(ts) // 1000 AS d_next FROM w WHERE tag = 1) SELECT user_id, purchase_id, purchase_ts, CASE WHEN d_prev IS NULL AND d_next IS NULL THEN NULL WHEN d_next IS NULL THEN prev_id WHEN d_prev IS NULL THEN next_id WHEN d_prev <= d_next THEN prev_id ELSE next_id END AS nearest_view_id, CASE WHEN d_prev IS NULL AND d_next IS NULL THEN NULL WHEN d_next IS NULL THEN d_prev WHEN d_prev IS NULL THEN d_next WHEN d_prev <= d_next THEN d_prev ELSE d_next END AS gap_us FROM s ORDER BY user_id, purchase_ts, purchase_id",
    // pipeline_token_mixture: epochs derive from the ROUNDED mixture
    // weight so both engines ceil identical values.
    "pipeline_token_mixture" ->
      "WITH d AS (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL), b AS (SELECT source, sum(n_tokens) AS src_tokens FROM d GROUP BY source), t AS (SELECT sum(src_tokens) AS tot, count(*) AS n_src FROM b), m AS (SELECT source, src_tokens, round(CAST(tot AS DOUBLE) / n_src / src_tokens, 6) AS mix_weight FROM b, t), m2 AS (SELECT source, src_tokens, mix_weight, least(4, greatest(1, CAST(ceil(mix_weight) AS BIGINT))) AS n_epochs FROM m) SELECT doc_id, source, n_tokens, mix_weight, n_epochs, unnest(generate_series(1, n_epochs)) AS epoch FROM d JOIN m2 USING (source) ORDER BY doc_id, epoch",
    // sample_weighted: Bernoulli draw from md5 bits against a
    // length-proportional threshold; lower() aligns DuckDB's uppercase
    // to_hex with lowercase md5.
    "sample_weighted" ->
      "WITH m AS (SELECT max(n_chars) AS maxc FROM documents), d AS (SELECT doc_id, n_chars, CAST(n_chars AS DOUBLE) / (maxc + 1) AS keep_p FROM documents, m WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL) SELECT doc_id, n_chars, round(keep_p, 6) AS keep_p FROM d WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < lower(lpad(to_hex(CAST(floor(keep_p * 65536) AS BIGINT)), 4, '0')) ORDER BY doc_id",
    // pipeline_shuffle_order: md5-permuted training order; position is
    // engine-agnostic because md5 is.
    "pipeline_shuffle_order" ->
      "WITH o AS (SELECT doc_id, row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS shuffle_pos FROM documents WHERE doc_id IS NOT NULL) SELECT doc_id, shuffle_pos, shuffle_pos % 8 AS shard FROM o ORDER BY doc_id",
    // text_perplexity_bucket: self-trained unigram LM, so every token is
    // in-vocabulary (no smoothing to disagree on); buckets gate on the
    // rounded score.
    "text_perplexity_bucket" ->
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents WHERE text IS NOT NULL), v AS (SELECT word, count(*) AS c FROM tok GROUP BY word), n AS (SELECT sum(c) AS tot FROM v), sc AS (SELECT doc_id, count(*) AS n_words, round(avg(-ln(CAST(c AS DOUBLE) / tot)), 6) AS avg_nll FROM tok JOIN v USING (word) CROSS JOIN n GROUP BY doc_id) SELECT doc_id, n_words, avg_nll, CASE WHEN avg_nll < 3.400 THEN 'head' WHEN avg_nll < 3.406 THEN 'middle' ELSE 'tail' END AS ppl_bucket FROM sc ORDER BY doc_id",
    // text_boilerplate_ngrams: boilerplate = 3-gram in >= 5 distinct
    // docs; hash-gram counts (Spark) equal string-gram counts (here)
    // under xxhash64 injectivity on the corpus gram set.
    "text_boilerplate_ngrams" ->
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE text IS NOT NULL), g AS (SELECT DISTINCT doc_id, gram FROM (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram FROM w) u), c AS (SELECT gram, count(*) AS nd FROM g GROUP BY gram), m AS (SELECT g.doc_id, (c.nd >= 5) AS is_b FROM g JOIN c USING (gram)), p AS (SELECT doc_id, count(*) AS n_grams, count(*) FILTER (is_b) AS n_boiler FROM m GROUP BY doc_id) SELECT doc_id, n_grams, n_boiler, round(CAST(n_boiler AS DOUBLE) / n_grams, 6) AS boiler_frac, CAST(round(CAST(n_boiler AS DOUBLE) / n_grams, 6) > 0.5 AS BIGINT) AS bp_flag FROM p ORDER BY doc_id",
    "pipeline_pack_sequences" ->
      "WITH t AS (SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents) SELECT source, doc_id, n_tokens, CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0) AS BIGINT) AS bin FROM t ORDER BY source, doc_id",
    "pipeline_train_val_split" ->
      "WITH d AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))) AS cluster_rep FROM documents) SELECT doc_id, cluster_rep, CASE WHEN substr(md5(CAST(cluster_rep AS VARCHAR)), 1, 1) = 'f' THEN 'val' ELSE 'train' END AS split FROM d ORDER BY doc_id",
    "sample_stratified" ->
      "SELECT doc_id, lang, rn, n_lang FROM (SELECT doc_id, lang, CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS rn, count(*) OVER (PARTITION BY lang) AS n_lang FROM documents) t WHERE rn <= ceil(n_lang * 0.2) ORDER BY lang, doc_id",
    "pipeline_domain_mix" ->
      "WITH q AS (SELECT CAST(min(c) AS BIGINT) AS quota FROM (SELECT count(*) AS c FROM documents GROUP BY lang)), r AS (SELECT doc_id, lang, CAST(row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn FROM documents) SELECT doc_id, lang FROM r CROSS JOIN q WHERE rn <= quota ORDER BY lang, doc_id",
    "merge_cdc_upsert" ->
      "WITH u AS (SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS price, CAST(0 AS BIGINT) AS version, 'I' AS op FROM orders UNION ALL SELECT o_orderkey + 1000000000, 'N', o_totalprice, 1, 'I' FROM orders WHERE o_orderkey % 11 = 3 UNION ALL SELECT o_orderkey, o_orderstatus, o_totalprice * 1.1, 2, 'U' FROM orders WHERE o_orderkey % 5 = 0 UNION ALL SELECT o_orderkey, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), 3, 'D' FROM orders WHERE o_orderkey % 7 = 0) SELECT key, status, round(price, 4) AS price, version FROM (SELECT key, status, price, version, op, row_number() OVER (PARTITION BY key ORDER BY version DESC) AS rn FROM u) t WHERE rn = 1 AND op <> 'D' ORDER BY key",
    "scd2_intervals" ->
      "SELECT user_id, event_type, valid_from, valid_to, valid_to IS NULL AS is_current FROM (SELECT user_id, event_type, ts AS valid_from, lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to FROM (SELECT user_id, ts, event_id, event_type, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events WHERE user_id IS NOT NULL) c WHERE prev_type IS NULL OR prev_type <> event_type) i ORDER BY user_id, valid_from",
    // join_fuzzy_editdist: the Spark side blocks via deletion
    // neighborhoods (FastSS) + broadcast hash join; the oracle states the
    // same result as a direct levenshtein theta-join over the small vocab.
    "join_fuzzy_editdist" ->
      "WITH d AS (SELECT doc_id, string_split(text, ' ')[1] AS w0 FROM documents), d2 AS (SELECT doc_id, substr(w0, 1, CAST(doc_id % length(w0) AS INT)) || substr(w0, CAST(doc_id % length(w0) AS INT) + 2) AS dirty FROM d WHERE length(w0) >= 1), v AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS clean FROM documents), v2 AS (SELECT clean FROM v WHERE length(clean) >= 1) SELECT doc_id, dirty, clean, CAST(levenshtein(dirty, clean) AS BIGINT) AS dist FROM d2 JOIN v2 ON levenshtein(dirty, clean) <= 1 ORDER BY doc_id, clean",
    // join_asof_native: the oracle states the custom exec's exact
    // semantics — per purchase, the max-(ts, event_id) view at or
    // before the instant, left-outer multiplicity — via a deterministic
    // row_number pick (no engine-arbitrary ASOF tie order).
    "join_asof_native" ->
      ("SELECT user_id, purchase_id, purchase_ts, last_view_id, last_view_ts FROM (" +
       "SELECT p.user_id AS user_id, p.event_id AS purchase_id, p.ts AS purchase_ts, " +
       "v.event_id AS last_view_id, v.ts AS last_view_ts, " +
       "row_number() OVER (PARTITION BY p.event_id ORDER BY v.ts DESC NULLS LAST, v.event_id DESC NULLS LAST) AS rn " +
       "FROM (SELECT * FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL) p " +
       "LEFT JOIN (SELECT * FROM events WHERE event_type = 'view' AND user_id IS NOT NULL) v " +
       "ON p.user_id = v.user_id AND v.ts <= p.ts) t WHERE rn = 1 " +
       "ORDER BY user_id, purchase_ts, purchase_id"),
    // join_anti_null_aware: NOT IN three-valued logic — DuckDB evaluates
    // the identical planted-NULL NOT IN sets; the null-build count MUST
    // be 0 on both engines.
    "join_anti_null_aware" ->
      ("SELECT " +
       "(SELECT count(*) FROM customer) AS n_customers, " +
       "(SELECT count(*) FROM customer WHERE nullif(c_nationkey, 3) NOT IN " +
       "(SELECT n_nationkey FROM nation WHERE n_regionkey = 0)) AS kept_clean_build, " +
       "(SELECT count(*) FROM customer WHERE nullif(c_nationkey, 3) NOT IN " +
       "(SELECT nullif(n_nationkey, 0) FROM nation WHERE n_regionkey = 0)) AS kept_null_build"),
    "quality_constraints" ->
      "WITH s AS (SELECT count(*) - count(o_custkey) AS v_notnull, count(*) - count(DISTINCT o_orderkey) AS v_unique, coalesce(sum(CASE WHEN o_totalprice <= 0 THEN 1 END), 0) AS v_range, coalesce(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 END), 0) AS v_accepted FROM orders), f AS (SELECT count(*) AS v_fk FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)), r AS (SELECT 'o_custkey_not_null' AS rule, CAST(v_notnull AS BIGINT) AS violations FROM s UNION ALL SELECT 'o_orderkey_unique', CAST(v_unique AS BIGINT) FROM s UNION ALL SELECT 'o_totalprice_positive', CAST(v_range AS BIGINT) FROM s UNION ALL SELECT 'o_orderstatus_accepted', CAST(v_accepted AS BIGINT) FROM s UNION ALL SELECT 'l_orderkey_fk_orders', CAST(v_fk AS BIGINT) FROM f) SELECT rule, violations, violations = 0 AS pass FROM r ORDER BY rule",
    "profile_heavy_hitters" ->
      "WITH t AS (SELECT count(*) AS total FROM events), u AS (SELECT 'user_id' AS column_name, COALESCE(CAST(user_id AS VARCHAR), '<NULL>') AS value, count(*) AS n FROM events GROUP BY 2 ORDER BY n DESC, value ASC LIMIT 10), e AS (SELECT 'event_type' AS column_name, COALESCE(CAST(event_type AS VARCHAR), '<NULL>') AS value, count(*) AS n FROM events GROUP BY 2 ORDER BY n DESC, value ASC LIMIT 10), b AS (SELECT * FROM u UNION ALL SELECT * FROM e) SELECT column_name, value, n, round(CAST(n AS DOUBLE) / total, 6) AS share FROM b CROSS JOIN t ORDER BY column_name, n DESC, value",
    "agg_histogram" ->
      "WITH b AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders), x AS (SELECT CASE WHEN hi = lo THEN 0 ELSE CAST(least(floor((o_totalprice - lo) / (hi - lo) * 20.0), 19.0) AS BIGINT) END AS bin, lo, hi FROM orders, b) SELECT bin, round(lo + bin * (hi - lo) / 20.0, 4) AS bin_lo, round(lo + (bin + 1) * (hi - lo) / 20.0, 4) AS bin_hi, count(*) AS n FROM x GROUP BY bin, lo, hi ORDER BY bin",
    "profile_table" ->
      "SELECT * FROM (SELECT 'o_custkey' AS column_name, count(*) AS n_rows, count(*) - count(o_custkey) AS n_null, count(DISTINCT o_custkey) AS n_distinct, CAST(min(o_custkey) AS VARCHAR) AS min_val, CAST(max(o_custkey) AS VARCHAR) AS max_val FROM orders UNION ALL SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus), count(DISTINCT o_orderstatus), min(o_orderstatus), max(o_orderstatus) FROM orders UNION ALL SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority), count(DISTINCT o_orderpriority), min(o_orderpriority), max(o_orderpriority) FROM orders UNION ALL SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice), count(DISTINCT CAST(round(o_totalprice, 2) AS DECIMAL(18,2))), CAST(min(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS VARCHAR), CAST(max(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS VARCHAR) FROM orders) p ORDER BY column_name",
    "experiment_ttest" ->
      "WITH p AS (SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7') THEN value END AS va, CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) NOT IN ('0','1','2','3','4','5','6','7') THEN value END AS vb FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL), s AS (SELECT count(va) AS n_a, count(vb) AS n_b, avg(va) AS mean_a, avg(vb) AS mean_b, var_samp(va) AS var_a, var_samp(vb) AS var_b FROM p) SELECT n_a, n_b, round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b, round((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b), 4) AS t_stat FROM s",
    "path_transitions" ->
      "WITH l AS (SELECT user_id, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type, event_type FROM events WHERE user_id IS NOT NULL), c AS (SELECT prev_type, event_type, count(*) AS n FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2) SELECT prev_type, event_type, n, round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type), 6) AS share FROM c ORDER BY prev_type, event_type",
    "anomaly_zscore" ->
      "WITH w AS (SELECT user_id, event_id, value, count(*) OVER (PARTITION BY user_id) AS n_u, avg(value) OVER (PARTITION BY user_id) AS mean_u, stddev_samp(value) OVER (PARTITION BY user_id) AS std_u FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL), z AS (SELECT user_id, event_id, value, round((value - mean_u) / std_u, 4) AS z FROM w WHERE n_u >= 5 AND std_u > 0) SELECT user_id, event_id, round(value, 4) AS value, z FROM z WHERE abs(z) > 2.0 ORDER BY user_id, event_id",
    "timeseries_resample" ->
      "WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d, round(sum(value), 4) AS day_value FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL GROUP BY 1, 2), span AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1), grid AS (SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d FROM span) SELECT user_id, d, coalesce(day_value, 0.0) AS day_value, day_value IS NOT NULL AS observed FROM grid LEFT JOIN daily USING (user_id, d) ORDER BY user_id, d",
    // timeseries_ffill: same grid as the resample; the gap policy is
    // last-observation-carried-forward via IGNORE NULLS running window.
    "timeseries_ffill" ->
      "WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d, round(sum(value), 4) AS day_value FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL GROUP BY 1, 2), span AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1), grid AS (SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d FROM span) SELECT user_id, d, last_value(day_value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY d ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value, day_value IS NOT NULL AS observed FROM grid LEFT JOIN daily USING (user_id, d) ORDER BY user_id, d",
    // stats_trend_regression: integer day index keeps both engines'
    // regression inputs bit-identical; only the regr_* outputs round.
    "stats_trend_regression" ->
      "SELECT event_type, round(regr_slope(y, x), 6) AS slope_per_day, round(regr_intercept(y, x), 4) AS intercept, round(regr_r2(y, x), 6) AS r2, CAST(regr_count(y, x) AS BIGINT) AS n_pairs FROM (SELECT event_type, CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS DOUBLE) AS x, value AS y FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL) GROUP BY event_type ORDER BY event_type",
    // agg_mode: row_number with (count DESC, value ASC) ordering makes
    // the per-group mode tie-deterministic on both engines.
    "agg_mode" ->
      "WITH c AS (SELECT user_id, event_type, count(*) AS n FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2), r AS (SELECT user_id, event_type, n, row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type ASC) AS rk, sum(n) OVER (PARTITION BY user_id) AS n_total FROM c) SELECT user_id, event_type AS mode_event, CAST(n AS BIGINT) AS n_mode, round(n / n_total, 4) AS share FROM r WHERE rk = 1 ORDER BY user_id",
    // dedup_url: plant the same three crawl variants per page identity,
    // canonicalize with anchored regexes, keep min doc_id per canonical.
    "dedup_url" ->
      "WITH u AS (SELECT doc_id, 'https://' || CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END || source || '.example.com/' || lang || '/page-' || CAST(doc_id % 200 AS VARCHAR) || CASE WHEN doc_id % 3 = 0 THEN '?id=' || CAST(doc_id % 200 AS VARCHAR) || '&utm_source=feed' WHEN doc_id % 3 = 1 THEN '?utm_campaign=x&ref=home&id=' || CAST(doc_id % 200 AS VARCHAR) ELSE '?id=' || CAST(doc_id % 200 AS VARCHAR) END AS url FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL AND lang IS NOT NULL), c AS (SELECT doc_id, 'https://' || regexp_replace(regexp_extract(url, 'https://([^/]+)/', 1), '^www\\.', '') || regexp_extract(url, 'https://[^/]+(/[^?#]*)', 1) || '?id=' || regexp_extract(url, '[?&]id=([^&#]*)', 1) AS canonical_url FROM u) SELECT canonical_url, min(doc_id) AS keep_doc_id, CAST(count(*) AS BIGINT) AS n_crawled FROM c GROUP BY 1 ORDER BY canonical_url",
    // agg_entropy: +0.0 normalizes the single-type user's -0.0 (IEEE:
    // -0.0 + 0.0 = +0.0) so both engines hash the same bits.
    "agg_entropy" ->
      "WITH c AS (SELECT user_id, event_type, count(*) AS n FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2), t AS (SELECT user_id, CAST(n AS DOUBLE) AS n, CAST(sum(n) OVER (PARTITION BY user_id) AS DOUBLE) AS total FROM c) SELECT user_id, round(-sum((n / total) * ln(n / total)) + 0.0, 6) AS entropy, CAST(count(*) AS BIGINT) AS n_types, round(max(n / total), 4) AS top_share FROM t GROUP BY user_id ORDER BY user_id",
    // pipeline_filter_funnel: the same gate expressions as
    // text_quality_score (alpha ratio) and dedup_exact (bag md5), so
    // the funnel's counts reconcile with the per-doc graded keys.
    // pipeline_corpus_build: the oracle replays the whole one-plan
    // funnel — gates (rounded ratios at 6, keep-first windows on
    // md5/bag hashes), the 5-gram eval decontamination as an explicit
    // anti-join, the per-source 2048-token offset pack, and the
    // min-lang quota mix, with every HUGEINT sum cast back to BIGINT.
    "pipeline_corpus_build" ->
      ("WITH d AS (SELECT doc_id, lang, source, text, n_chars, doc_id IS NOT NULL AND text IS NOT NULL AND length(text) > 0 AS g1, string_split(text, ' ') AS ws FROM documents), " +
       "f AS (SELECT *, g1 AND coalesce(n_chars, 0) >= 100 AND lang IS NOT NULL AND round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) >= 0.5 AND round(CAST(len(list_distinct(ws)) AS DOUBLE) / greatest(len(ws), 1), 6) >= 0.3 AS g2, md5(text) AS h_exact, md5(array_to_string(list_sort(ws), ' ')) AS h_bag, doc_id % 50 = 0 AS is_eval, len(ws) AS ntok FROM d), " +
       "k AS (SELECT *, g2 AND doc_id = min(CASE WHEN g2 THEN doc_id END) OVER (PARTITION BY h_exact) AS g3 FROM f), " +
       "k2 AS (SELECT *, g3 AND doc_id = min(CASE WHEN g3 THEN doc_id END) OVER (PARTITION BY h_bag) AS g4 FROM k), " +
       "sh AS (SELECT doc_id, is_eval, unnest(list_distinct(list_transform(range(1, len(ws) - 3), i -> array_to_string(list_slice(ws, i, i + 4), ' ')))) AS shingle FROM k2 WHERE len(ws) >= 5 AND (g4 OR is_eval)), " +
       "ev AS (SELECT DISTINCT shingle FROM sh WHERE is_eval), " +
       "cont AS (SELECT DISTINCT s.doc_id FROM sh s JOIN ev USING (shingle) WHERE NOT s.is_eval), " +
       "k3 AS (SELECT k2.*, g4 AND NOT is_eval AND cont.doc_id IS NULL AS g5 FROM k2 LEFT JOIN cont ON k2.doc_id = cont.doc_id), " +
       "p AS (SELECT *, coalesce(sum(CASE WHEN g5 THEN ntok ELSE 0 END) OVER (PARTITION BY source ORDER BY doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off FROM k3), " +
       "p2 AS (SELECT *, CASE WHEN g5 THEN CAST(floor(off / 2048.0) AS BIGINT) END AS bin FROM p), " +
       "ls AS (SELECT lang, source, count(*) AS n0, count(*) FILTER (g1) AS n1, count(*) FILTER (g2) AS n2, count(*) FILTER (g3) AS n3, count(*) FILTER (g4) AS n4, count(*) FILTER (g5) AS n5, max(bin) AS max_bin FROM p2 GROUP BY 1, 2), " +
       "t AS (SELECT CAST(coalesce(sum(n0), 0) AS BIGINT) AS n0, CAST(coalesce(sum(n1), 0) AS BIGINT) AS n1, CAST(coalesce(sum(n2), 0) AS BIGINT) AS n2, CAST(coalesce(sum(n3), 0) AS BIGINT) AS n3, CAST(coalesce(sum(n4), 0) AS BIGINT) AS n4, CAST(coalesce(sum(n5), 0) AS BIGINT) AS n5 FROM ls), " +
       "sq AS (SELECT CAST(coalesce(sum(CASE WHEN s5 > 0 THEN mb + 1 ELSE 0 END), 0) AS BIGINT) AS n_seq FROM (SELECT source, max(max_bin) AS mb, sum(n5) AS s5 FROM ls GROUP BY 1) z), " +
       "mx AS (SELECT CAST(min(l5) AS BIGINT) AS quota, CAST(count(*) AS BIGINT) AS n_langs FROM (SELECT lang, sum(n5) AS l5 FROM ls GROUP BY 1) z WHERE l5 > 0), " +
       "a AS (SELECT * FROM t, sq, mx) " +
       "SELECT CAST(1 AS BIGINT) AS stage_idx, 'nonempty' AS stage, n0 AS n_in, n0 - n1 AS n_dropped, n1 AS n_out FROM a " +
       "UNION ALL SELECT 2, 'quality', n1, n1 - n2, n2 FROM a " +
       "UNION ALL SELECT 3, 'exact_dedup', n2, n2 - n3, n3 FROM a " +
       "UNION ALL SELECT 4, 'neardup_rep', n3, n3 - n4, n4 FROM a " +
       "UNION ALL SELECT 5, 'decontaminate', n4, n4 - n5, n5 FROM a " +
       "UNION ALL SELECT 6, 'pack', n5, 0, n_seq FROM a " +
       "UNION ALL SELECT 7, 'domain_mix', n5, n5 - quota * n_langs, quota * n_langs FROM a ORDER BY stage_idx"),
    "pipeline_filter_funnel" ->
      "WITH d AS (SELECT doc_id, text, text IS NOT NULL AND length(text) > 0 AS g1, len(string_split(text, ' ')) AS n_words, CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) AS non_alpha, md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS h FROM documents), f AS (SELECT *, g1 AND length(text) >= 100 AS g2 FROM d), f2 AS (SELECT *, g2 AND n_words BETWEEN 10 AND 10000 AS g3 FROM f), f3 AS (SELECT *, g3 AND non_alpha <= 0.3 AS g4 FROM f2), k AS (SELECT *, g4 AND doc_id = min(CASE WHEN g4 THEN doc_id END) OVER (PARTITION BY h) AS g5 FROM f3), c AS (SELECT count(*) AS n0, count(*) FILTER (WHERE g1) AS n1, count(*) FILTER (WHERE g2) AS n2, count(*) FILTER (WHERE g3) AS n3, count(*) FILTER (WHERE g4) AS n4, count(*) FILTER (WHERE g5) AS n5 FROM k) SELECT CAST(1 AS BIGINT) AS stage_idx, 'nonempty' AS stage, n0 AS n_in, n0 - n1 AS n_dropped, n1 AS n_out FROM c UNION ALL SELECT 2, 'min_length', n1, n1 - n2, n2 FROM c UNION ALL SELECT 3, 'word_count', n2, n2 - n3, n3 FROM c UNION ALL SELECT 4, 'alpha_quality', n3, n3 - n4, n4 FROM c UNION ALL SELECT 5, 'exact_dedup', n4, n4 - n5, n5 FROM c ORDER BY stage_idx",
    // text_word_zipf: total (freq DESC, word ASC) order makes the
    // top-100 cut and ranks deterministic on both engines.
    "text_word_zipf" ->
      "WITH wds AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents), c AS (SELECT word, count(*) AS freq FROM wds WHERE length(word) > 0 GROUP BY 1), t AS (SELECT CAST(sum(freq) AS DOUBLE) AS total_tokens FROM c), top AS (SELECT word, freq FROM c ORDER BY freq DESC, word ASC LIMIT 100) SELECT row_number() OVER (ORDER BY freq DESC, word ASC) AS rank, word, freq, round(freq / total_tokens, 6) AS share, round(sum(freq) OVER (ORDER BY freq DESC, word ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / total_tokens, 6) AS cum_share FROM top, t ORDER BY rank",
    // agg_histogram_2d: same bounds-scalar + equi-width convention as
    // agg_histogram, second axis hour-of-day.
    "agg_histogram_2d" ->
      "WITH b AS (SELECT min(value) AS lo, max(value) AS hi, count(*) AS n_total FROM events WHERE value IS NOT NULL), x AS (SELECT CAST(hour(ts) AS BIGINT) AS hh, CASE WHEN hi = lo THEN 0 ELSE CAST(least(floor((value - lo) / (hi - lo) * 10.0), 9.0) AS BIGINT) END AS bin, lo, hi, n_total FROM events, b WHERE value IS NOT NULL) SELECT hh, bin, round(lo + bin * (hi - lo) / 10.0, 4) AS bin_lo, round(lo + (bin + 1) * (hi - lo) / 10.0, 4) AS bin_hi, CAST(count(*) AS BIGINT) AS n, round(CAST(count(*) AS DOUBLE) / n_total, 6) AS share FROM x GROUP BY hh, bin, lo, hi, n_total ORDER BY hh, bin",
    // profile_corr_matrix: exact cents-scaled integer moments, closed
    // form mirrored from the Spark side (generated above the map).
    "profile_corr_matrix" -> corrMatrixOracle,
    // join_temporal: facts joined to the SCD2 interval valid at event
    // time; hash join on user_id, range filter post-join.
    "join_temporal" ->
      "WITH ch AS (SELECT user_id, ts, event_id, event_type, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_type FROM events WHERE user_id IS NOT NULL), d0 AS (SELECT user_id, ts, event_id, event_type FROM ch WHERE prev_type IS NULL OR prev_type <> event_type), dim AS (SELECT user_id, event_type AS state, ts AS valid_from, lead(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS valid_to FROM d0), f AS (SELECT user_id, event_id, ts, round(value, 4) AS value FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL) SELECT f.user_id, f.event_id, f.ts, f.value, dim.state, dim.valid_from FROM f JOIN dim ON f.user_id = dim.user_id AND f.ts >= dim.valid_from AND (dim.valid_to IS NULL OR f.ts < dim.valid_to) ORDER BY f.user_id, f.event_id",
    // win_activity_streak: d - row_number() island key, best streak per
    // user with earliest-start tiebreak.
    "win_activity_streak" ->
      "WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events WHERE user_id IS NOT NULL), isl AS (SELECT user_id, d, d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d ASC) AS INTEGER) AS island FROM days), st AS (SELECT user_id, island, count(*) AS streak_days, min(d) AS streak_start, max(d) AS streak_end FROM isl GROUP BY 1, 2), r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY streak_days DESC, streak_start ASC) AS rk FROM st) SELECT user_id, CAST(streak_days AS BIGINT) AS streak_days, streak_start, streak_end FROM r WHERE rk = 1 ORDER BY user_id",
    // agg_gini: the oracle uses the naive global row_number plan; the
    // engine's bucketed-prefix rank must produce identical ranks.
    "agg_gini" ->
      "WITH spend AS (SELECT user_id, round(sum(value), 4) AS x FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL GROUP BY 1), r AS (SELECT x, row_number() OVER (ORDER BY x ASC, user_id ASC) AS i FROM spend) SELECT CAST(count(*) AS BIGINT) AS n_users, round(sum(x), 4) AS total_spend, round(2.0 * sum(i * x) / (count(*) * sum(x)) - (count(*) + 1.0) / count(*), 6) AS gini FROM r",
    // profile_drift_psi: shared combined-range bin edges, 1e-6 clamp in
    // the log ratio only (shares report unclamped).
    "profile_drift_psi" ->
      "WITH b AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi, count(*) FILTER (WHERE doc_id % 2 = 0) AS n_ref_total, count(*) FILTER (WHERE doc_id % 2 <> 0) AS n_cur_total FROM documents WHERE n_chars IS NOT NULL), x AS (SELECT CASE WHEN hi = lo THEN 0 ELSE CAST(least(floor((CAST(n_chars AS DOUBLE) - lo) / (hi - lo) * 10.0), 9.0) AS BIGINT) END AS bin, doc_id % 2 = 0 AS is_ref, n_ref_total, n_cur_total FROM documents, b WHERE n_chars IS NOT NULL), g AS (SELECT bin, n_ref_total, n_cur_total, count(*) FILTER (WHERE is_ref) AS n_ref, count(*) FILTER (WHERE NOT is_ref) AS n_cur FROM x GROUP BY 1, 2, 3) SELECT bin, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur, round(CAST(n_ref AS DOUBLE) / n_ref_total, 6) AS p_ref, round(CAST(n_cur AS DOUBLE) / n_cur_total, 6) AS p_cur, round((CAST(n_cur AS DOUBLE) / n_cur_total - CAST(n_ref AS DOUBLE) / n_ref_total) * ln(greatest(CAST(n_cur AS DOUBLE) / n_cur_total, 0.000001) / greatest(CAST(n_ref AS DOUBLE) / n_ref_total, 0.000001)), 6) AS psi_term FROM g ORDER BY bin",
    // text_keywords_tfidf: score rounded BEFORE the rank so rounding
    // ties resolve by the word tiebreak identically on both engines.
    "text_keywords_tfidf" ->
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word), dfq AS (SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY word), n AS (SELECT count(*) AS n_docs FROM documents), sc AS (SELECT t.doc_id, t.word, t.tf, d.df, round(t.tf * ln(CAST(n_docs AS DOUBLE) / d.df), 6) AS tfidf FROM tf t JOIN dfq d USING (word) CROSS JOIN n), r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word ASC) AS rank FROM sc) SELECT doc_id, CAST(rank AS BIGINT) AS rank, word, tf, df, tfidf FROM r WHERE rank <= 3 ORDER BY doc_id, rank",
    // behavior_rfm: quintile thresholds are exact percentiles rounded
    // before comparison; scores re-derived with the same > rule.
    "behavior_rfm" ->
      "WITH u AS (SELECT user_id, CAST(date_diff('day', DATE '1970-01-01', CAST(max(ts) AS DATE)) AS BIGINT) AS ld, count(*) AS frequency, round(sum(value), 4) AS monetary FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL GROUP BY 1), th AS (SELECT max(ld) AS anchor, round(quantile_cont(CAST(ld AS DOUBLE), 0.20), 6) AS ld20, round(quantile_cont(CAST(ld AS DOUBLE), 0.40), 6) AS ld40, round(quantile_cont(CAST(ld AS DOUBLE), 0.60), 6) AS ld60, round(quantile_cont(CAST(ld AS DOUBLE), 0.80), 6) AS ld80, round(quantile_cont(CAST(frequency AS DOUBLE), 0.20), 6) AS f20, round(quantile_cont(CAST(frequency AS DOUBLE), 0.40), 6) AS f40, round(quantile_cont(CAST(frequency AS DOUBLE), 0.60), 6) AS f60, round(quantile_cont(CAST(frequency AS DOUBLE), 0.80), 6) AS f80, round(quantile_cont(CAST(monetary AS DOUBLE), 0.20), 6) AS m20, round(quantile_cont(CAST(monetary AS DOUBLE), 0.40), 6) AS m40, round(quantile_cont(CAST(monetary AS DOUBLE), 0.60), 6) AS m60, round(quantile_cont(CAST(monetary AS DOUBLE), 0.80), 6) AS m80 FROM u) SELECT *, 'R' || CAST(r_score AS VARCHAR) || 'F' || CAST(f_score AS VARCHAR) || 'M' || CAST(m_score AS VARCHAR) AS segment FROM (SELECT user_id, CAST(anchor - ld AS BIGINT) AS recency_days, CAST(frequency AS BIGINT) AS frequency, monetary, CAST(1 + CASE WHEN ld > ld20 THEN 1 ELSE 0 END + CASE WHEN ld > ld40 THEN 1 ELSE 0 END + CASE WHEN ld > ld60 THEN 1 ELSE 0 END + CASE WHEN ld > ld80 THEN 1 ELSE 0 END AS BIGINT) AS r_score, CAST(1 + CASE WHEN frequency > f20 THEN 1 ELSE 0 END + CASE WHEN frequency > f40 THEN 1 ELSE 0 END + CASE WHEN frequency > f60 THEN 1 ELSE 0 END + CASE WHEN frequency > f80 THEN 1 ELSE 0 END AS BIGINT) AS f_score, CAST(1 + CASE WHEN monetary > m20 THEN 1 ELSE 0 END + CASE WHEN monetary > m40 THEN 1 ELSE 0 END + CASE WHEN monetary > m60 THEN 1 ELSE 0 END + CASE WHEN monetary > m80 THEN 1 ELSE 0 END AS BIGINT) AS m_score FROM u, th) z ORDER BY user_id",
    // win_rolling_7d: calendar-interval RANGE frame over a date order.
    "win_rolling_7d" ->
      "WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d, round(sum(value), 4) AS day_value FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL GROUP BY 1, 2) SELECT user_id, d, day_value, round(sum(day_value) OVER (PARTITION BY user_id ORDER BY d RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW), 4) AS rolling_7d_revenue, CAST(count(*) OVER (PARTITION BY user_id ORDER BY d RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW) AS BIGINT) AS active_days_7d FROM daily ORDER BY user_id, d",
    // basket_affinity: top-20 co-occurring part pairs with support and
    // lift; (n_pair DESC, p1, p2) total order pins the cutoff.
    "basket_affinity" ->
      "WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), n AS (SELECT count(DISTINCT o) AS n_orders FROM items), singles AS (SELECT p, count(*) AS n_p FROM items GROUP BY 1), pairs AS (SELECT a.p AS p1, b.p AS p2, count(*) AS n_pair FROM items a JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2), top AS (SELECT * FROM pairs ORDER BY n_pair DESC, p1 ASC, p2 ASC LIMIT 20) SELECT p1, p2, CAST(n_pair AS BIGINT) AS n_pair, round(CAST(n_pair AS DOUBLE) / n_orders, 6) AS support, round(CAST(n_pair AS DOUBLE) * n_orders / (s1.n_p * s2.n_p), 6) AS lift FROM top CROSS JOIN n JOIN singles s1 ON top.p1 = s1.p JOIN singles s2 ON top.p2 = s2.p ORDER BY n_pair DESC, p1 ASC, p2 ASC",
    // fn_try_arith: NULLIF re-derives the try_ null-on-error paths.
    "fn_try_arith" ->
      "SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, floor(l_extendedprice / nullif(l_quantity, 0) * 10000) / 10000 AS unit_price, l_extendedprice / nullif(l_linenumber - l_linenumber, 0) AS div_zero, round(l_extendedprice + l_tax, 4) AS safe_add, round(l_quantity * l_discount, 4) AS safe_mul FROM lineitem WHERE l_orderkey <= 1000 ORDER BY l_orderkey, l_linenumber, unit_price, safe_add, safe_mul",
    // stats_chi_square: row/col/grand totals as windows over the tiny
    // contingency matrix on both engines.
    "stats_chi_square" ->
      "WITH c AS (SELECT source, lang, count(*) AS obs FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2), t AS (SELECT source, lang, obs, CAST(sum(obs) OVER (PARTITION BY source) AS DOUBLE) * sum(obs) OVER (PARTITION BY lang) / sum(obs) OVER () AS exp FROM c) SELECT source, lang, CAST(obs AS BIGINT) AS obs, round(exp, 4) AS expected, round(pow(obs - exp, 2) / exp, 6) AS chi2_contrib FROM t ORDER BY source, lang",
    // stats_cramers_v: same contingency cells as chi_square; the V /
    // corrected-V / T reductions are scalar math over one row.
    "stats_cramers_v" ->
      ("WITH c AS (SELECT source, lang, count(*) AS obs FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2), " +
       "t AS (SELECT obs, CAST(sum(obs) OVER (PARTITION BY source) AS DOUBLE) * sum(obs) OVER (PARTITION BY lang) / sum(obs) OVER () AS exp FROM c), " +
       "s AS (SELECT CAST(sum(obs) AS BIGINT) AS n, CAST(count(DISTINCT source) AS BIGINT) AS r_levels, CAST(count(DISTINCT lang) AS BIGINT) AS c_levels FROM c), " +
       "x AS (SELECT sum(pow(obs - exp, 2) / exp) AS chi2 FROM t) " +
       "SELECT n, r_levels, c_levels, round(chi2, 6) AS chi2, " +
       "round(sqrt(chi2 / n / (least(r_levels, c_levels) - 1.0)), 6) AS cramers_v, " +
       "round(sqrt(greatest(0.0, chi2 / n - (r_levels - 1.0) * (c_levels - 1.0) / (n - 1.0)) / " +
       "(least(r_levels - pow(r_levels - 1.0, 2) / (n - 1.0), c_levels - pow(c_levels - 1.0, 2) / (n - 1.0)) - 1.0)), 6) AS cramers_v_corrected, " +
       "round(sqrt(chi2 / n / sqrt((r_levels - 1.0) * (c_levels - 1.0))), 6) AS tschuprow_t " +
       "FROM s, x"),
    // stats_xi_correlation: identical tie-robust rank algebra — RANGE
    // frames give #{≤}/#{≥} counts, day-order lead the rank jumps;
    // integer-exact until the single final division.
    "stats_xi_correlation" ->
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 4) AS y FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2), " +
       "rk AS (SELECT event_type, d, count(*) OVER (PARTITION BY event_type ORDER BY y RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r, " +
       "count(*) OVER (PARTITION BY event_type ORDER BY y DESC RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l, " +
       "count(*) OVER (PARTITION BY event_type) AS n FROM daily), " +
       "dd AS (SELECT event_type, n, l, abs(lead(r) OVER (PARTITION BY event_type ORDER BY d) - r) AS dr FROM rk) " +
       "SELECT event_type, CAST(count(*) AS BIGINT) AS n_days, " +
       "round(1.0 - count(*) * CAST(sum(dr) AS DOUBLE) / (2.0 * sum(l * (n - l))), 6) AS xi " +
       "FROM dd GROUP BY event_type ORDER BY event_type"),
    // agg_count_min: collision-free at this vocabulary (31 words vs
    // width 2000), so the fixed-seed sketch estimates ARE the exact
    // top-20 word counts.
    "agg_count_min" ->
      ("WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents WHERE text IS NOT NULL), " +
       "f AS (SELECT word, CAST(count(*) AS BIGINT) AS est_count FROM w WHERE length(word) > 0 GROUP BY 1 ORDER BY est_count DESC, word LIMIT 20) " +
       "SELECT word, est_count FROM f ORDER BY word"),
    // fn_higher_order: DuckDB's list lambdas restate each Catalyst
    // lambda — exists = filtered length > 0, forall = no
    // counterexample, aggregate = reduce over a transform (same
    // left-to-right fold).
    "fn_higher_order" ->
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE text IS NOT NULL) " +
       "SELECT doc_id, CAST(len(list_filter(w, x -> length(x) > 4)) AS BIGINT) AS n_long_words, " +
       "len(list_filter(w, x -> x = 'data')) > 0 AS has_data, " +
       "len(list_filter(w, x -> length(x) < 2)) = 0 AS all_min2, " +
       "CAST(list_reduce(list_prepend(0, list_transform(w, x -> length(x))), (acc, x) -> acc + x) AS BIGINT) AS total_chars, " +
       "array_to_string(list_transform(list_slice(w, 1, 5), x -> upper(x)), ',') AS head_upper " +
       "FROM d ORDER BY doc_id"),
    // graph_random_walk: the oracle replays the identical seeded-hash
    // walks — ranked adjacency, md5-int choice mod degree, 4 unrolled
    // hop joins.
    "graph_random_walk" ->
      ("WITH li AS (SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS q FROM lineitem), " +
       "e AS (SELECT p AS src, q AS dst FROM li UNION ALL SELECT q AS src, p AS dst FROM li), " +
       "adj AS (SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) AS rn, count(*) OVER (PARTITION BY src) AS deg FROM e), " +
       "s0 AS (SELECT DISTINCT src AS start, src AS cur FROM adj), " +
       "h1 AS (SELECT f.start AS start, a.dst AS hop1, a.dst AS cur FROM s0 f JOIN adj a ON a.src = f.cur AND a.rn = CAST(('0x' || substring(md5(concat_ws('_', f.start, 1, f.cur)), 1, 8)) AS BIGINT) % a.deg + 1), " +
       "h2 AS (SELECT f.start AS start, f.hop1 AS hop1, a.dst AS hop2, a.dst AS cur FROM h1 f JOIN adj a ON a.src = f.cur AND a.rn = CAST(('0x' || substring(md5(concat_ws('_', f.start, 2, f.cur)), 1, 8)) AS BIGINT) % a.deg + 1), " +
       "h3 AS (SELECT f.start AS start, f.hop1 AS hop1, f.hop2 AS hop2, a.dst AS hop3, a.dst AS cur FROM h2 f JOIN adj a ON a.src = f.cur AND a.rn = CAST(('0x' || substring(md5(concat_ws('_', f.start, 3, f.cur)), 1, 8)) AS BIGINT) % a.deg + 1), " +
       "h4 AS (SELECT f.start AS start, f.hop1 AS hop1, f.hop2 AS hop2, f.hop3 AS hop3, a.dst AS hop4 FROM h3 f JOIN adj a ON a.src = f.cur AND a.rn = CAST(('0x' || substring(md5(concat_ws('_', f.start, 4, f.cur)), 1, 8)) AS BIGINT) % a.deg + 1) " +
       "SELECT CASE WHEN start % 2 = 0 THEN 'p' || CAST(start // 2 AS VARCHAR) ELSE 's' || CAST((start - 1) // 2 AS VARCHAR) END AS start_node, " +
       "CASE WHEN hop1 % 2 = 0 THEN 'p' || CAST(hop1 // 2 AS VARCHAR) ELSE 's' || CAST((hop1 - 1) // 2 AS VARCHAR) END AS hop1, " +
       "CASE WHEN hop2 % 2 = 0 THEN 'p' || CAST(hop2 // 2 AS VARCHAR) ELSE 's' || CAST((hop2 - 1) // 2 AS VARCHAR) END AS hop2, " +
       "CASE WHEN hop3 % 2 = 0 THEN 'p' || CAST(hop3 // 2 AS VARCHAR) ELSE 's' || CAST((hop3 - 1) // 2 AS VARCHAR) END AS hop3, " +
       "CASE WHEN hop4 % 2 = 0 THEN 'p' || CAST(hop4 // 2 AS VARCHAR) ELSE 's' || CAST((hop4 - 1) // 2 AS VARCHAR) END AS hop4 " +
       "FROM h4 ORDER BY start_node"),
    // agg_heavy_hitters_sketch: the 31-word vocabulary never overflows
    // the 256 Misra–Gries counters, so the sketch's estimates equal the
    // stats_pr_auc: identical 256-bin grid (in-plan min/max), cumulative
    // integer counts in the DEFINED bin-desc window order, AP partials
    // accumulated sequentially and finalized with an order-free max.
    "stats_pr_auc" ->
      ("WITH b AS (SELECT value AS sc, event_type = 'purchase' AS y FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL), " +
       "m AS (SELECT min(sc) AS lo, max(sc) AS hi FROM b), " +
       "g AS (SELECT CAST(least(floor((sc - lo) / ((hi - lo) / 256.0)), 255.0) AS BIGINT) AS bin, count(*) FILTER (y) AS np, count(*) FILTER (NOT y) AS nn FROM b, m GROUP BY 1), " +
       "c AS (SELECT bin, np, nn, sum(np) OVER wd AS cum_tp, sum(np + nn) OVER wd AS cum_n, sum(np) OVER () AS n_pos FROM g WINDOW wd AS (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
       "t AS (SELECT bin, CAST(np AS BIGINT) AS n_pos_bin, CAST(np + nn AS BIGINT) AS n_bin, CAST(cum_tp AS BIGINT) AS cum_tp, CAST(cum_n AS BIGINT) AS cum_n, CAST(np AS DOUBLE) / n_pos * (CAST(cum_tp AS DOUBLE) / cum_n) AS ap_term, round(CAST(cum_tp AS DOUBLE) / cum_n, 6) AS precision, round(CAST(cum_tp AS DOUBLE) / n_pos, 6) AS recall FROM c), " +
       "f AS (SELECT *, sum(ap_term) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ap FROM t) " +
       "SELECT bin, n_pos_bin, n_bin, cum_tp, cum_n, precision, recall, round(max(cum_ap) OVER (), 6) AS average_precision FROM f ORDER BY bin"),
    // stats_brier_calibration: integer milli/micro units end to end —
    // every sum exact in any order; one double division per ratio.
    "stats_brier_calibration" ->
      ("WITH b AS (SELECT ((event_id % 1000000) * 2654435761) % 1000 AS pm, CAST(event_type = 'purchase' AS BIGINT) AS y FROM events WHERE event_type IS NOT NULL), " +
       "g AS (SELECT CAST(pm // 100 AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n_events, sum(pm) AS sum_pm, CAST(sum(y) AS BIGINT) AS n_pos, sum((pm - 1000 * y) * (pm - 1000 * y)) AS sum_sq_micro FROM b GROUP BY 1) " +
       "SELECT bucket, n_events, n_pos, round(CAST(sum_pm AS DOUBLE) / (n_events * 1000.0), 6) AS avg_pred, round(CAST(n_pos AS DOUBLE) / n_events, 6) AS obs_rate, round(CAST(sum_sq_micro AS DOUBLE) / (n_events * 1000000.0), 6) AS brier_bucket, " +
       "round(CAST(sum(sum_sq_micro) OVER () AS DOUBLE) / (sum(n_events) OVER () * 1000000.0), 6) AS global_brier, " +
       "round(CAST(sum(abs(sum_pm - 1000 * n_pos)) OVER () AS DOUBLE) / (1000.0 * sum(n_events) OVER ()), 6) AS ece FROM g ORDER BY bucket"),
    // stats_power_twoprop: closed form over the four md5-arm counts;
    // the z constants are cast to DOUBLE so both engines run the same
    // IEEE expression (bare DuckDB literals would be DECIMAL).
    "stats_power_twoprop" ->
      ("WITH b AS (SELECT substring(md5(CAST(user_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7') AS a, event_type = 'purchase' AS conv FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL), " +
       "c AS (SELECT CAST(count(*) FILTER (a) AS BIGINT) AS n_a, CAST(count(*) FILTER (NOT a) AS BIGINT) AS n_b, CAST(count(*) FILTER (a AND conv) AS BIGINT) AS x_a, CAST(count(*) FILTER (NOT a AND conv) AS BIGINT) AS x_b FROM b), " +
       "p AS (SELECT *, CAST(x_a AS DOUBLE) / n_a AS p1, CAST(x_b AS DOUBLE) / n_b AS p2 FROM c) " +
       "SELECT n_a, n_b, x_a, x_b, round(p1, 6) AS rate_a, round(p2, 6) AS rate_b, round(abs(p1 - p2), 6) AS abs_effect, " +
       "CAST(ceil((CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE)) * (CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE)) * (p1 * (1.0 - p1) + p2 * (1.0 - p2)) / ((p1 - p2) * (p1 - p2))) AS BIGINT) AS n_required_per_arm FROM p"),
    // graph_clustering_coeff: same oriented triangle join, 3-corner
    // credit via UNION ALL, transitivity from two exact integer sums.
    "graph_clustering_coeff" ->
      ("WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
       "e0 AS MATERIALIZED (SELECT a.p AS u, b.p AS v FROM items a JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2), " +
       "adj AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0), " +
       "tri AS MATERIALIZED (SELECT e1.u AS a, e1.v AS b, e2.v AS c FROM e0 e1 JOIN e0 e2 ON e1.v = e2.u JOIN e0 e3 ON e1.u = e3.u AND e2.v = e3.v), " +
       "tpn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri) t GROUP BY 1), " +
       "deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY 1), " +
       "co AS (SELECT d.node AS node, degree, CAST(coalesce(n_tri, 0) AS BIGINT) AS n_triangles FROM deg d LEFT JOIN tpn USING (node) WHERE degree >= 2), " +
       "f AS (SELECT node, degree, n_triangles, round(CAST(2 * n_triangles AS DOUBLE) / (degree * (degree - 1)), 6) AS clustering_coeff, round(CAST(sum(2 * n_triangles) OVER () AS DOUBLE) / sum(degree * (degree - 1)) OVER (), 6) AS global_transitivity FROM co) " +
       "SELECT node, degree, n_triangles, clustering_coeff, global_transitivity FROM f ORDER BY clustering_coeff DESC, node ASC LIMIT 20"),
    // text_mojibake_detect: subtract-after-strip counts with literal
    // codepoint-range classes both regex engines read identically.
    "text_mojibake_detect" ->
      ("WITH t AS (SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars, CAST(length(text) - length(regexp_replace(text, '[ -~]', '', 'g')) AS BIGINT) AS n_ascii, CAST(length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS BIGINT) AS n_cjk FROM documents WHERE text IS NOT NULL AND length(text) > 0) " +
       "SELECT doc_id, lang, n_chars, n_ascii, n_cjk, round(CAST(n_ascii AS DOUBLE) / n_chars, 6) AS ascii_ratio, round(CAST(n_cjk AS DOUBLE) / n_chars, 6) AS cjk_ratio, " +
       "CASE WHEN n_ascii = n_chars THEN 'ascii' WHEN n_cjk > 0 THEN 'cjk' ELSE 'other' END AS charset_class, n_cjk > 0 AND lang <> 'zh' AS is_suspect FROM t ORDER BY doc_id"),
    // dedup_keep_best: the dedup_exact bag hash with the argmax-quality
    // representative (length desc, doc_id tie-break) via row_number.
    "dedup_keep_best" ->
      ("WITH d AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS h, CAST(length(text) AS BIGINT) AS n_chars FROM documents WHERE text IS NOT NULL), " +
       "r AS (SELECT h, doc_id, n_chars, row_number() OVER (PARTITION BY h ORDER BY n_chars DESC, doc_id ASC) AS rn, CAST(count(*) OVER (PARTITION BY h) AS BIGINT) AS n_copies, min(n_chars) OVER (PARTITION BY h) AS min_chars FROM d) " +
       "SELECT h, doc_id AS keep_id, n_chars AS keep_chars, min_chars, n_copies, CAST(n_copies - 1 AS BIGINT) AS n_dropped FROM r WHERE rn = 1 ORDER BY h"),
    // timeseries_changepoint: integer prefix/total moments, the same
    // closed-form SSE-reduction expression, argmax tie-broken on day.
    "timeseries_changepoint" ->
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2), " +
       "p AS (SELECT event_type, d, c, row_number() OVER wo AS k, sum(c) OVER wc AS s_k, sum(c * c) OVER wc AS q_k, count(*) OVER wa AS n, sum(c) OVER wa AS s, sum(c * c) OVER wa AS q FROM daily WINDOW wo AS (PARTITION BY event_type ORDER BY d), wc AS (PARTITION BY event_type ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), wa AS (PARTITION BY event_type)), " +
       "sc AS (SELECT event_type, d, k, n, s_k, s, s_k * s_k / CAST(k AS DOUBLE) + (s - s_k) * (s - s_k) / CAST(n - k AS DOUBLE) - s * s / CAST(n AS DOUBLE) AS reduction FROM p WHERE k < n), " +
       "f AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY reduction DESC, d ASC) AS rn FROM sc) " +
       "SELECT event_type, CAST(n AS BIGINT) AS n_days, d AS split_day, round(CAST(s_k AS DOUBLE) / k, 6) AS mean_before, round(CAST(s - s_k AS DOUBLE) / (n - k), 6) AS mean_after, round(reduction, 6) + 0.0 AS sse_reduction FROM f WHERE rn = 1 ORDER BY event_type"),
    // win_pareto_abc: the oracle computes the plain global decimal
    // prefix — Spark's bucket-offset decomposition equals it exactly
    // because the per-part revenue is DECIMAL(18,4) (order-free sums)
    // and the log-bucket is monotone in revenue (spearman precedent).
    "win_pareto_abc" ->
      ("WITH rev AS (SELECT l_partkey, CAST(round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS DECIMAL(18,4)) AS rev FROM lineitem GROUP BY 1), " +
       "t AS (SELECT sum(rev) AS total FROM rev), " +
       "c AS (SELECT rev, CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share FROM rev, t), " +
       "k AS (SELECT rev, CASE WHEN cum_share <= 0.80 THEN 'A' WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc_class, cum_share FROM c) " +
       "SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts, round(CAST(sum(rev) AS DOUBLE), 2) AS class_revenue, round(max(cum_share), 6) AS cum_share_end FROM k GROUP BY 1 ORDER BY 1"),
    // pipeline_dp_noise: md5-seeded inverse-CDF Laplace draw, every
    // literal cast DOUBLE; rounded noise normalized with + 0.0 (a
    // ~1e-5 draw rounds to signed zero on DuckDB only).
    "pipeline_dp_noise" ->
      ("WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS true_count FROM events WHERE event_type IS NOT NULL GROUP BY 1), " +
       "u AS (SELECT *, (CAST(CAST(('0x' || substring(md5(event_type), 1, 8)) AS BIGINT) % 100000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(100000.0 AS DOUBLE) - CAST(0.5 AS DOUBLE) AS u FROM g), " +
       "n AS (SELECT event_type, true_count, round(CAST(-2.0 AS DOUBLE) * CAST(sign(u) AS DOUBLE) * ln(CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) * abs(u)), 4) + 0.0 AS noise FROM u) " +
       "SELECT event_type, true_count, CAST(0.5 AS DOUBLE) AS epsilon, noise, round(true_count + noise, 4) + 0.0 AS noisy_count FROM n ORDER BY event_type"),
    // timeseries_ewm_var: the oracle replays the two-state RiskMetrics
    // recursion as a RECURSIVE CTE with column-carried (m, v) state —
    // NOT a struct-state list_reduce (duckdb 1.0.0's lambda resolves
    // acc struct fields to the NEW values, see timeseries_holt). No
    // mutual recursion to inline here: v_t reads the OLD m, so each
    // step is the literal same expression tree on both engines.
    "timeseries_ewm_var" ->
      ("WITH RECURSIVE daily AS (SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 4) AS x FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2), " +
       "idx AS (SELECT event_type, d, x, row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn FROM daily), " +
       "rec(event_type, rn, d, x, m, v) AS (" +
       "SELECT event_type, rn, d, x, x, CAST(0.0 AS DOUBLE) FROM idx WHERE rn = 1 " +
       "UNION ALL SELECT i.event_type, i.rn, i.d, i.x, " +
       "CAST(0.3 AS DOUBLE) * i.x + CAST(0.7 AS DOUBLE) * r.m, " +
       "CAST(0.7 AS DOUBLE) * (r.v + CAST(0.3 AS DOUBLE) * (i.x - r.m) * (i.x - r.m)) " +
       "FROM rec r JOIN idx i ON i.event_type = r.event_type AND i.rn = r.rn + 1) " +
       "SELECT event_type, d, x, round(m, 6) AS ewm_mean, round(v, 6) AS ewm_var FROM rec ORDER BY event_type, d"),
    // event_markov_stationary: each π update is an explicit seeded
    // left fold over the terms in from-type order — list(term ORDER BY
    // from_t) + list_reduce with a prepended 0.0 seed mirrors Spark's
    // sort_array + aggregate lambda addition-for-addition (a windowed
    // sum would NOT pin the op order: segment-tree re-association).
    "event_markov_stationary" ->
      ("WITH l AS (SELECT user_id, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_t, event_type AS to_t FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL), " +
       "c AS (SELECT from_t, to_t, count(*) AS c FROM l WHERE from_t IS NOT NULL GROUP BY 1, 2), " +
       "rt AS (SELECT from_t, CAST(sum(c) AS BIGINT) AS tot FROM c GROUP BY 1), " +
       "p AS (SELECT c.from_t, c.to_t, CAST(c.c AS DOUBLE) / rt.tot AS p FROM c JOIN rt USING (from_t)), " +
       "kk AS (SELECT count(*) AS k FROM rt), " +
       "pi0 AS (SELECT from_t AS t, CAST(1.0 AS DOUBLE) / k AS pi FROM rt CROSS JOIN kk), " +
       "it1 AS (SELECT p.to_t AS t, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(q.pi * p.p ORDER BY p.from_t)), (acc, v) -> acc + v) AS pi FROM p JOIN pi0 q ON p.from_t = q.t GROUP BY p.to_t), " +
       "it2 AS (SELECT p.to_t AS t, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(q.pi * p.p ORDER BY p.from_t)), (acc, v) -> acc + v) AS pi FROM p JOIN it1 q ON p.from_t = q.t GROUP BY p.to_t), " +
       "it3 AS (SELECT p.to_t AS t, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(q.pi * p.p ORDER BY p.from_t)), (acc, v) -> acc + v) AS pi FROM p JOIN it2 q ON p.from_t = q.t GROUP BY p.to_t) " +
       "SELECT rt.from_t AS event_type, rt.tot AS n_transitions_out, round(it3.pi, 6) AS pi_3step FROM rt JOIN it3 ON rt.from_t = it3.t ORDER BY event_type"),
    // stats_kruskal_wallis: midranks at the distinct-value grain (the
    // mann_whitney closed form); the one cross-group float reduction
    // (sum R_j^2/n_j) is a seeded list_reduce in event-type order
    // mirroring Spark's sorted-array fold addition-for-addition.
    "stats_kruskal_wallis" ->
      ("WITH p AS (SELECT event_type, round(value, 4) AS value FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL), " +
       "vt AS (SELECT value, event_type, count(*) AS c FROM p GROUP BY 1, 2), " +
       "v AS (SELECT value, sum(c) AS tv FROM vt GROUP BY 1), " +
       "r AS (SELECT value, tv, CAST(coalesce(sum(tv) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) + CAST(tv + 1 AS DOUBLE) / 2 AS midrank FROM v), " +
       "t AS (SELECT sum(tv * tv * tv - tv) AS ties, sum(tv) AS n FROM r), " +
       "g AS (SELECT vt.event_type, sum(vt.c) AS nj, sum(CAST(vt.c AS DOUBLE) * r.midrank) AS rj FROM vt JOIN r USING (value) GROUP BY 1), " +
       "hh AS (SELECT count(*) AS k, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(rj * rj / nj ORDER BY event_type)), (acc, x) -> acc + x) AS srn FROM g) " +
       "SELECT g.event_type, CAST(g.nj AS BIGINT) AS n_j, round(g.rj, 4) AS rank_sum, round(g.rj / g.nj, 6) AS mean_rank, CAST(hh.k AS BIGINT) AS k_groups, " +
       "round((12.0 / (CAST(t.n AS DOUBLE) * (t.n + 1)) * hh.srn - 3.0 * (CAST(t.n AS DOUBLE) + 1)) / (1.0 - CAST(t.ties AS DOUBLE) / (CAST(t.n AS DOUBLE) * t.n * t.n - t.n)), 6) AS h_stat " +
       "FROM g, hh, t ORDER BY event_type"),
    // stats_welch_anova: per-group moments as in stats_anova; every
    // cross-group reduction is a seeded list_reduce in event-type
    // order (the sorted-fold idiom), never a bare float SUM.
    "stats_welch_anova" ->
      ("WITH g AS (SELECT event_type, count(*) AS n, avg(value) AS m, var_samp(value) AS v FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL GROUP BY 1), " +
       "f AS (SELECT count(*) AS k, " +
       "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(n / v ORDER BY event_type)), (acc, x) -> acc + x) AS sw, " +
       "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(n / v * m ORDER BY event_type)), (acc, x) -> acc + x) AS swm FROM g), " +
       "m2 AS (SELECT k, sw, swm / sw AS mw FROM f), " +
       "a2 AS (SELECT m2.k, m2.sw, m2.mw, " +
       "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(g.n / g.v * (g.m - m2.mw) * (g.m - m2.mw) ORDER BY g.event_type)), (acc, x) -> acc + x) AS a, " +
       "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list((1.0 - g.n / g.v / m2.sw) * (1.0 - g.n / g.v / m2.sw) / (g.n - 1) ORDER BY g.event_type)), (acc, x) -> acc + x) AS b " +
       "FROM g CROSS JOIN m2 GROUP BY m2.k, m2.sw, m2.mw) " +
       "SELECT CAST(k AS BIGINT) AS k_groups, round(mw, 6) AS weighted_grand_mean, " +
       "round(a / (k - 1) / (1.0 + 2.0 * (k - 2) / (k * k - 1) * b), 6) AS f_welch, " +
       "round((CAST(k AS DOUBLE) * k - 1) / (3.0 * b), 4) AS df2 FROM a2"),
    // stats_ols_multi: moments are exact (integer t/wk, DECIMAL(18,4)
    // daily totals) so both engines hand the SAME doubles to the SAME
    // Cramer text; weekend via isodow>=6 == Spark dayofweek IN (1,7).
    "stats_ols_multi" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS d, CAST(round(sum(value), 4) AS DECIMAL(18,4)) AS y FROM events WHERE event_type = 'purchase' AND value IS NOT NULL GROUP BY 1), " +
       "feat AS (SELECT CAST(d - DATE '2024-01-01' AS BIGINT) AS t, CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END AS wk, y FROM daily), " +
       "mo AS (SELECT count(*) AS n, sum(t) AS st, sum(t * t) AS stt, sum(wk) AS sx, sum(t * wk) AS stx, sum(y) AS sy, sum(y * CAST(t AS DECIMAL(9,0))) AS sty, sum(y * CAST(wk AS DECIMAL(1,0))) AS sxy, sum(y * y) AS syy FROM feat), " +
       "dd AS (SELECT CAST(n AS DOUBLE) AS a11, CAST(st AS DOUBLE) AS a12, CAST(sx AS DOUBLE) AS a13, CAST(stt AS DOUBLE) AS a22, CAST(stx AS DOUBLE) AS a23, CAST(sx AS DOUBLE) AS a33, CAST(sy AS DOUBLE) AS r1, CAST(sty AS DOUBLE) AS r2, CAST(sxy AS DOUBLE) AS r3, CAST(syy AS DOUBLE) AS syy, CAST(n AS BIGINT) AS n_days FROM mo), " +
       "cr AS (SELECT n_days, r1, r2, r3, syy, a11, " +
       "a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13) + a13 * (a12 * a23 - a22 * a13) AS det, " +
       "r1 * (a22 * a33 - a23 * a23) - a12 * (r2 * a33 - a23 * r3) + a13 * (r2 * a23 - a22 * r3) AS n0, " +
       "a11 * (r2 * a33 - r3 * a23) - r1 * (a12 * a33 - a23 * a13) + a13 * (a12 * r3 - r2 * a13) AS n1, " +
       "a11 * (a22 * r3 - a23 * r2) - a12 * (a12 * r3 - r2 * a13) + r1 * (a12 * a23 - a22 * a13) AS n2 FROM dd), " +
       "bb AS (SELECT n_days, r1, r2, r3, syy, a11, n0 / det AS b0, n1 / det AS b1, n2 / det AS b2 FROM cr) " +
       "SELECT n_days, round(b0, 6) AS b_intercept, round(b1, 6) AS b_day, round(b2, 6) AS b_weekend, " +
       "round(1.0 - (syy - (b0 * r1 + b1 * r2 + b2 * r3)) / (syy - r1 * r1 / a11), 6) AS r2_fit FROM bb"),
    // stats_permutation_test: each of the 64 permutations re-hashes the
    // user with a ':i' salt — the replayable-randomness idiom — and the
    // extreme-count gate compares 6-rounded deltas on both engines.
    "stats_permutation_test" ->
      ("WITH b AS (SELECT user_id, value FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL AND value IS NOT NULL), " +
       "o AS (SELECT avg(CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7') THEN value END) - avg(CASE WHEN NOT (substring(md5(CAST(user_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7')) THEN value END) AS d_obs FROM b), " +
       "ii AS (SELECT unnest(range(1, 65)) AS i), " +
       "p AS (SELECT i, avg(CASE WHEN substring(md5(CAST(user_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7') THEN value END) - avg(CASE WHEN NOT (substring(md5(CAST(user_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7')) THEN value END) AS d FROM b CROSS JOIN ii GROUP BY i) " +
       "SELECT CAST(count(*) AS BIGINT) AS n_perms, max(round(o.d_obs, 6)) AS d_obs, " +
       "CAST(sum(CASE WHEN abs(round(p.d, 6)) >= abs(round(o.d_obs, 6)) THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme, " +
       "round(CAST(sum(CASE WHEN abs(round(p.d, 6)) >= abs(round(o.d_obs, 6)) THEN 1 ELSE 0 END) + 1 AS DOUBLE) / (count(*) + 1), 6) AS p_value FROM p, o"),
    // pipeline_mix_temperature: tau=0.5 so the flattening is sqrt
    // (IEEE-correctly-rounded on both engines, unlike a general pow);
    // the normalizer folds in lang order.
    "pipeline_mix_temperature" ->
      ("WITH c AS (SELECT lang, sum(n_chars) AS nc FROM documents WHERE lang IS NOT NULL GROUP BY 1), " +
       "tt AS (SELECT sum(nc) AS tot FROM c), " +
       "zz AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(sqrt(CAST(nc AS DOUBLE) / tot) ORDER BY lang)), (acc, x) -> acc + x) AS z FROM c CROSS JOIN tt) " +
       "SELECT lang, CAST(nc AS BIGINT) AS n_chars_total, round(CAST(nc AS DOUBLE) / tot, 6) AS p_raw, " +
       "round(sqrt(CAST(nc AS DOUBLE) / tot) / z, 6) AS weight_t05, " +
       "CAST(floor(sqrt(CAST(nc AS DOUBLE) / tot) / z * 1000000.0) AS BIGINT) AS alloc_per_million " +
       "FROM c CROSS JOIN tt CROSS JOIN zz ORDER BY lang"),
    // sink_bloom_filter: round-trip proof — the bloom-filtered lookup
    // must equal the same point filter on the table of record.
    "sink_bloom_filter" ->
      "SELECT event_id, user_id, event_type, round(value, 4) AS value FROM events WHERE user_id = 1 ORDER BY event_id",
    // stats_mcnemar: integer discordant-cell counts at the (user, day)
    // grain; the continuity-corrected chi2 is one double division.
    "stats_mcnemar" ->
      ("WITH u AS (SELECT user_id, CAST(ts AS DATE) AS d, " +
       "max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS a, " +
       "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b " +
       "FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL GROUP BY 1, 2), " +
       "c AS (SELECT count(*) AS n, sum(a * b) AS bo, sum(a * (1 - b)) AS vo, sum((1 - a) * b) AS po FROM u) " +
       "SELECT CAST(n AS BIGINT) AS n_user_days, CAST(bo AS BIGINT) AS n_both, " +
       "CAST(vo AS BIGINT) AS n_view_only, CAST(po AS BIGINT) AS n_purchase_only, " +
       "round(CASE WHEN vo + po = 0 THEN 0.0 ELSE (CAST(abs(vo - po) AS DOUBLE) - 1.0) * (CAST(abs(vo - po) AS DOUBLE) - 1.0) / CAST(vo + po AS DOUBLE) END, 6) AS mcnemar_chi2, " +
       "round(CASE WHEN vo + po = 0 THEN 0.0 ELSE (CAST(abs(vo - po) AS DOUBLE) - 1.0) * (CAST(abs(vo - po) AS DOUBLE) - 1.0) / CAST(vo + po AS DOUBLE) END, 6) > 3.841459 AS reject_marginal_homogeneity " +
       "FROM c"),
    // stats_cochran_q: all-integer moments; the one closing division
    // runs over exact BIGINT casts on both engines.
    "stats_cochran_q" ->
      ("WITH u AS (SELECT user_id, CAST(ts AS DATE) AS d, " +
       "max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c1, " +
       "max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c2, " +
       "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c3 " +
       "FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL GROUP BY 1, 2), " +
       "m AS (SELECT count(*) AS n, sum(c1) AS s1, sum(c2) AS s2, sum(c3) AS s3, " +
       "sum(c1 + c2 + c3) AS t, sum((c1 + c2 + c3) * (c1 + c2 + c3)) AS tr2 FROM u) " +
       "SELECT CAST(n AS BIGINT) AS n_user_days, CAST(s1 AS BIGINT) AS n_view, " +
       "CAST(s2 AS BIGINT) AS n_click, CAST(s3 AS BIGINT) AS n_purchase, " +
       "round(2.0 * CAST(3 * (s1 * s1 + s2 * s2 + s3 * s3) - t * t AS DOUBLE) / CAST(3 * t - tr2 AS DOUBLE), 6) AS q_stat, " +
       "round(2.0 * CAST(3 * (s1 * s1 + s2 * s2 + s3 * s3) - t * t AS DOUBLE) / CAST(3 * t - tr2 AS DOUBLE), 6) > 5.991465 AS reject_equal_rates " +
       "FROM m"),
    // stats_ab_srm: the md5 arm split replayed exactly; chi2 collapses
    // to (na-nb)^2/n over integers.
    "stats_ab_srm" ->
      ("WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL), " +
       "c AS (SELECT sum(CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE 0 END) AS na, " +
       "sum(CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7') THEN 0 ELSE 1 END) AS nb FROM u) " +
       "SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, " +
       "round(CAST(na - nb AS DOUBLE) * CAST(na - nb AS DOUBLE) / CAST(na + nb AS DOUBLE), 6) AS srm_chi2, " +
       "round(CAST(na - nb AS DOUBLE) * CAST(na - nb AS DOUBLE) / CAST(na + nb AS DOUBLE), 6) > 3.841459 AS srm_detected " +
       "FROM c"),
    // stats_binomial_wilson: z enters as an explicit DOUBLE (a bare
    // 1.959964 literal would be DECIMAL on DuckDB and its square would
    // differ from the double product in the last ulp); expression text
    // mirrors the Spark op order exactly.
    "stats_binomial_wilson" ->
      ("WITH ut AS (SELECT DISTINCT user_id, event_type FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL), " +
       "x AS (SELECT event_type, count(*) AS x FROM ut GROUP BY 1), " +
       "nn AS (SELECT count(DISTINCT user_id) AS n FROM ut), " +
       "zc AS (SELECT CAST(1.959964 AS DOUBLE) AS z), " +
       "w AS (SELECT event_type, x, n, CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p, z, " +
       "(CAST(x AS DOUBLE) / CAST(n AS DOUBLE) + z * z / (2.0 * n)) / (1.0 + z * z / n) AS ctr, " +
       "z * sqrt(CAST(x AS DOUBLE) / CAST(n AS DOUBLE) * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) / n + z * z / (4.0 * n * n)) / (1.0 + z * z / n) AS hw " +
       "FROM x CROSS JOIN nn CROSS JOIN zc) " +
       "SELECT event_type, CAST(x AS BIGINT) AS n_reached, CAST(n AS BIGINT) AS n_users, " +
       "round(p, 6) AS p_hat, round(ctr - hw, 6) AS wilson_lo, round(ctr + hw, 6) AS wilson_hi " +
       "FROM w ORDER BY event_type"),
    // stats_grubbs: exact DECIMAL(18,4) daily moments -> identical
    // mean/sd doubles; argmax day via the same (dev DESC, d ASC) sort.
    "stats_grubbs" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS d, CAST(round(sum(value), 4) AS DECIMAL(18,4)) AS y FROM events WHERE event_type = 'purchase' AND value IS NOT NULL GROUP BY 1), " +
       "mo AS (SELECT count(*) AS n, sum(y) AS sy, sum(y * y) AS syy FROM daily), " +
       "ms AS (SELECT n, CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS m, " +
       "sqrt((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)) AS sd FROM mo) " +
       "SELECT CAST(ms.n AS BIGINT) AS n_days, round(ms.m, 6) AS mean_daily, round(ms.sd, 6) AS sd_daily, " +
       "daily.d AS suspect_day, round(CAST(daily.y AS DOUBLE), 4) AS suspect_revenue, " +
       "round(abs(CAST(daily.y AS DOUBLE) - ms.m) / ms.sd, 6) AS g_stat " +
       "FROM daily CROSS JOIN ms ORDER BY abs(CAST(daily.y AS DOUBLE) - ms.m) DESC, daily.d ASC LIMIT 1"),
    // timeseries_ar_forecast: ljung_box's gap-filled global-mean ACF
    // machinery; r1/r2 round at 6 BEFORE the Yule-Walker closed forms,
    // so phi and every one-step prediction agree bit-for-bit.
    "timeseries_ar_forecast" ->
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2), " +
       "span AS (SELECT event_type, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1), " +
       "grid AS (SELECT event_type, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d FROM span), " +
       "f AS (SELECT g.event_type, g.d, CAST(coalesce(c, 0) AS DOUBLE) AS c FROM grid g LEFT JOIN daily USING (event_type, d)), " +
       "mu AS (SELECT event_type, d, c - avg(c) OVER (PARTITION BY event_type) AS xc FROM f), " +
       "l AS (SELECT event_type, d, xc, lag(xc, 1) OVER w AS x1, lag(xc, 2) OVER w AS x2 FROM mu WINDOW w AS (PARTITION BY event_type ORDER BY d)), " +
       "p AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days, round(sum(xc * x1) / sum(xc * xc), 6) + 0.0 AS r1, round(sum(xc * x2) / sum(xc * xc), 6) + 0.0 AS r2 FROM l GROUP BY 1), " +
       "p2 AS (SELECT event_type, n_days, r1, r2, round((r1 * (1.0 - r2)) / (1.0 - r1 * r1), 6) + 0.0 AS phi1, round((r2 - r1 * r1) / (1.0 - r1 * r1), 6) + 0.0 AS phi2 FROM p) " +
       "SELECT l.event_type, n_days, r1, r2, phi1, phi2, CAST(count(*) AS BIGINT) AS n_scored, " +
       "round(avg(abs(xc - (phi1 * x1 + phi2 * x2))), 6) AS mae, " +
       "round(sqrt(avg((xc - (phi1 * x1 + phi2 * x2)) * (xc - (phi1 * x1 + phi2 * x2)))), 6) AS rmse " +
       "FROM l JOIN p2 USING (event_type) WHERE x2 IS NOT NULL GROUP BY 1, 2, 3, 4, 5, 6 ORDER BY event_type"),
    // stats_cuped: the statsOlsMulti decimal-moment discipline — per-user
    // period sums round at 4 then DECIMAL(18,4), cross-user moments are
    // exact decimal sums, closed forms on doubles cast from agreed values.
    "stats_cuped" ->
      ("WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d, value FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL), " +
       "m AS (SELECT min(d) + CAST((max(d) - min(d)) // 2 AS INTEGER) AS mid FROM ev), " +
       "u AS (SELECT user_id, CAST(round(sum(CASE WHEN d < mid THEN value ELSE 0 END), 4) AS DECIMAL(18,4)) AS pre, CAST(round(sum(CASE WHEN d >= mid THEN value ELSE 0 END), 4) AS DECIMAL(18,4)) AS post FROM ev CROSS JOIN m GROUP BY 1), " +
       "mo AS (SELECT count(*) AS n, sum(pre) AS sp, sum(post) AS ss, sum(pre * pre) AS spp, sum(pre * post) AS sps, sum(post * post) AS sss FROM u), " +
       "dd AS (SELECT CAST(n AS BIGINT) AS n_users, CAST(n AS DOUBLE) AS nd, CAST(sp AS DOUBLE) AS sp, CAST(ss AS DOUBLE) AS ss, CAST(spp AS DOUBLE) AS spp, CAST(sps AS DOUBLE) AS sps, CAST(sss AS DOUBLE) AS sss FROM mo), " +
       "vv AS (SELECT n_users, (spp - sp * sp / nd) / (nd - 1.0) AS var_pre, (sss - ss * ss / nd) / (nd - 1.0) AS var_post, (sps - sp * ss / nd) / (nd - 1.0) AS cov FROM dd) " +
       "SELECT n_users, round(cov / var_pre, 6) AS theta, round(var_post, 6) AS var_post, round(var_post - cov * cov / var_pre, 6) AS var_adjusted, round(100.0 * cov * cov / (var_pre * var_post), 6) AS reduction_pct FROM vv"),
    // stats_delta_method: same decimal-moment discipline; y is an exact
    // BIGINT count so sxy/syy are exact products; sqrt is IEEE-exact.
    "stats_delta_method" ->
      ("WITH u AS (SELECT user_id, CAST(round(sum(CASE WHEN event_type = 'purchase' AND value IS NOT NULL THEN value ELSE 0 END), 4) AS DECIMAL(18,4)) AS x, CAST(count(*) AS BIGINT) AS y FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL GROUP BY 1), " +
       "mo AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx, sum(x * CAST(y AS DECIMAL(12,0))) AS sxy, sum(y * y) AS syy FROM u), " +
       "dd AS (SELECT CAST(n AS BIGINT) AS n_users, CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy, CAST(sxx AS DOUBLE) AS sxx, CAST(sxy AS DOUBLE) AS sxy, CAST(syy AS DOUBLE) AS syy FROM mo), " +
       "vv AS (SELECT n_users, nd, sx / sy AS r, sy / nd AS ybar, (sxx - sx * sx / nd) / (nd - 1.0) AS var_x, (syy - sy * sy / nd) / (nd - 1.0) AS var_y, (sxy - sx * sy / nd) / (nd - 1.0) AS cov FROM dd), " +
       "ss AS (SELECT n_users, r, sqrt((var_x - 2.0 * r * cov + r * r * var_y) / nd) / ybar AS se FROM vv) " +
       "SELECT n_users, round(r, 6) AS ratio, round(se, 6) AS se_delta, round(r - 1.96 * se, 6) AS ci_lo, round(r + 1.96 * se, 6) AS ci_hi FROM ss"),
    // event_conversion_window: micro-second integer deltas (unix_micros
    // vs epoch_ns // 1000 — the stream_late_audit convention).
    "event_conversion_window" ->
      ("WITH fv AS (SELECT user_id, min(ts) AS vt FROM events WHERE user_id IS NOT NULL AND event_type = 'view' GROUP BY 1), " +
       "fp AS (SELECT e.user_id, min(e.ts) AS pt FROM events e JOIN fv USING (user_id) WHERE e.event_type = 'purchase' AND e.ts >= fv.vt GROUP BY 1), " +
       "d AS (SELECT epoch_ns(pt) // 1000 - epoch_ns(vt) // 1000 AS delta_us FROM fv LEFT JOIN fp USING (user_id)) " +
       "SELECT CAST(count(*) AS BIGINT) AS n_viewers, CAST(count(delta_us) AS BIGINT) AS n_converted, " +
       "CAST(sum(CASE WHEN delta_us <= 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS conv_1h, " +
       "CAST(sum(CASE WHEN delta_us <= 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS conv_24h, " +
       "CAST(sum(CASE WHEN delta_us <= 604800000000 THEN 1 ELSE 0 END) AS BIGINT) AS conv_7d, " +
       "round(CAST(sum(CASE WHEN delta_us <= 3600000000 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS rate_1h, " +
       "round(CAST(sum(CASE WHEN delta_us <= 86400000000 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS rate_24h, " +
       "round(CAST(sum(CASE WHEN delta_us <= 604800000000 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS rate_7d FROM d"),
    // text_template_mining: DuckDB regexp_replace needs the 'g' flag for
    // global replacement (Spark's replaces all matches by default).
    "text_template_mining" ->
      ("WITH m AS (SELECT doc_id, regexp_replace(lower(text), '[0-9]+', '#', 'g') AS masked FROM documents WHERE text IS NOT NULL), " +
       "g AS (SELECT masked, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS first_doc, max(doc_id) AS last_doc FROM m GROUP BY 1 HAVING count(*) >= 2) " +
       "SELECT md5(masked) AS template_hash, CAST(length(masked) AS BIGINT) AS template_chars, n_docs, first_doc, last_doc FROM g ORDER BY n_docs DESC, template_hash ASC"),
    // timeseries_esd_anomaly: grubbs' exact-decimal round algebra
    // unrolled 3x, each round's moments excluding the prior argmax days.
    "timeseries_esd_anomaly" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS d, CAST(round(sum(value), 4) AS DECIMAL(18,4)) AS y FROM events WHERE event_type = 'purchase' AND value IS NOT NULL GROUP BY 1), " +
       "m1 AS (SELECT count(*) AS n, CAST(sum(y) AS DOUBLE) / count(*) AS m, sqrt((CAST(sum(y * y) AS DOUBLE) - CAST(sum(y) AS DOUBLE) * CAST(sum(y) AS DOUBLE) / count(*)) / (count(*) - 1.0)) AS sd FROM daily), " +
       "o1 AS (SELECT 1 AS round, CAST(n AS BIGINT) AS n_remaining, d AS suspect_day, round(CAST(y AS DOUBLE), 4) AS suspect_revenue, round(abs(CAST(y AS DOUBLE) - m) / sd, 6) AS r_stat FROM daily CROSS JOIN m1 ORDER BY abs(CAST(y AS DOUBLE) - m) DESC, d ASC LIMIT 1), " +
       "d2 AS (SELECT * FROM daily WHERE d NOT IN (SELECT suspect_day FROM o1)), " +
       "m2 AS (SELECT count(*) AS n, CAST(sum(y) AS DOUBLE) / count(*) AS m, sqrt((CAST(sum(y * y) AS DOUBLE) - CAST(sum(y) AS DOUBLE) * CAST(sum(y) AS DOUBLE) / count(*)) / (count(*) - 1.0)) AS sd FROM d2), " +
       "o2 AS (SELECT 2 AS round, CAST(n AS BIGINT) AS n_remaining, d AS suspect_day, round(CAST(y AS DOUBLE), 4) AS suspect_revenue, round(abs(CAST(y AS DOUBLE) - m) / sd, 6) AS r_stat FROM d2 CROSS JOIN m2 ORDER BY abs(CAST(y AS DOUBLE) - m) DESC, d ASC LIMIT 1), " +
       "d3 AS (SELECT * FROM d2 WHERE d NOT IN (SELECT suspect_day FROM o2)), " +
       "m3 AS (SELECT count(*) AS n, CAST(sum(y) AS DOUBLE) / count(*) AS m, sqrt((CAST(sum(y * y) AS DOUBLE) - CAST(sum(y) AS DOUBLE) * CAST(sum(y) AS DOUBLE) / count(*)) / (count(*) - 1.0)) AS sd FROM d3), " +
       "o3 AS (SELECT 3 AS round, CAST(n AS BIGINT) AS n_remaining, d AS suspect_day, round(CAST(y AS DOUBLE), 4) AS suspect_revenue, round(abs(CAST(y AS DOUBLE) - m) / sd, 6) AS r_stat FROM d3 CROSS JOIN m3 ORDER BY abs(CAST(y AS DOUBLE) - m) DESC, d ASC LIMIT 1) " +
       "SELECT * FROM (SELECT * FROM o1 UNION ALL SELECT * FROM o2 UNION ALL SELECT * FROM o3) ORDER BY round"),
    // stats_tost_equivalence: z-vs-critical comparison instead of
    // erf-based p (erf is libm-dependent); decimal per-arm moments.
    "stats_tost_equivalence" ->
      ("WITH u AS (SELECT user_id, CAST(round(sum(value), 4) AS DECIMAL(18,4)) AS x, CAST(substring(md5(CAST(user_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7') AS INT) AS a FROM events WHERE user_id IS NOT NULL AND event_type = 'purchase' AND value IS NOT NULL GROUP BY 1), " +
       "g AS (SELECT a, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx FROM u GROUP BY 1), " +
       "w AS (SELECT sum(CASE WHEN a = 1 THEN n END) AS na, sum(CASE WHEN a = 0 THEN n END) AS nb, sum(CASE WHEN a = 1 THEN sx END) AS sxa, sum(CASE WHEN a = 0 THEN sx END) AS sxb, sum(CASE WHEN a = 1 THEN sxx END) AS sxxa, sum(CASE WHEN a = 0 THEN sxx END) AS sxxb FROM g), " +
       "dd AS (SELECT CAST(na AS DOUBLE) AS na, CAST(nb AS DOUBLE) AS nb, CAST(sxa AS DOUBLE) AS sxa, CAST(sxb AS DOUBLE) AS sxb, CAST(sxxa AS DOUBLE) AS sxxa, CAST(sxxb AS DOUBLE) AS sxxb FROM w), " +
       "mm AS (SELECT na, nb, sxa / na AS ma, sxb / nb AS mb, (sxxa - sxa * sxa / na) / (na - 1.0) AS va, (sxxb - sxb * sxb / nb) / (nb - 1.0) AS vb, 0.05 * (sxa + sxb) / (na + nb) AS margin FROM dd), " +
       "zz AS (SELECT na, nb, ma, mb, margin, ma - mb AS diff, sqrt(va / na + vb / nb) AS se FROM mm) " +
       "SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b, round(diff, 6) AS diff, round(margin, 6) AS margin, round((diff + margin) / se, 6) AS z_lower, round((margin - diff) / se, 6) AS z_upper, ((diff + margin) / se > 1.644854 AND (margin - diff) / se > 1.644854) AS equivalent FROM zz"),
    // sim_hybrid_search: RANK-based RRF fusion — integer ranks from the
    // same (score desc, id asc) order both engines agree on, so the
    // fused score is a function of already-agreed values; each arm ends
    // in a top-100 before any window runs.
    "sim_hybrid_search" ->
      ("WITH qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), " +
       "qd AS (SELECT list_distinct(string_split(text, ' ')) AS qw FROM documents WHERE doc_id = 0), " +
       "dense AS (SELECT e.vec_id AS id, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * qv[i])), 6) AS cos FROM embeddings e, qv WHERE e.vec_id <> 0 ORDER BY cos DESC, id ASC LIMIT 100), " +
       "dr AS (SELECT id, cos, CAST(row_number() OVER (ORDER BY cos DESC, id ASC) AS BIGINT) AS r_dense FROM dense), " +
       "sparse AS (SELECT d.doc_id AS id, CAST(len(list_distinct(list_intersect(string_split(d.text, ' '), qw))) AS BIGINT) AS overlap FROM documents d, qd WHERE d.doc_id <> 0 AND d.text IS NOT NULL ORDER BY overlap DESC, id ASC LIMIT 100), " +
       "sr AS (SELECT id, overlap, CAST(row_number() OVER (ORDER BY overlap DESC, id ASC) AS BIGINT) AS r_sparse FROM sparse) " +
       "SELECT coalesce(dr.id, sr.id) AS id, cos, overlap, r_dense, r_sparse, " +
       "round(coalesce(1.0 / (60 + r_dense), 0) + coalesce(1.0 / (60 + r_sparse), 0), 6) AS rrf " +
       "FROM dr FULL OUTER JOIN sr ON dr.id = sr.id ORDER BY rrf DESC, id ASC LIMIT 10"),
    // graph_hits: exact integer degrees seed round 0; every later pass
    // sums DECIMAL(9,6) normalized scores — exact on both engines.
    "graph_hits" ->
      ("WITH li AS (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS p, CAST(l_suppkey AS BIGINT) AS q FROM lineitem), " +
       "a1 AS (SELECT q, count(*) AS a1 FROM li GROUP BY 1), " +
       "a1n AS (SELECT q, CAST(round(CAST(a1 AS DOUBLE) / (SELECT CAST(max(a1) AS DOUBLE) FROM a1), 6) AS DECIMAL(9,6)) AS an FROM a1), " +
       "h1 AS (SELECT p, sum(an) AS h1 FROM li JOIN a1n USING (q) GROUP BY 1), " +
       "h1n AS (SELECT p, CAST(round(CAST(h1 AS DOUBLE) / (SELECT CAST(max(h1) AS DOUBLE) FROM h1), 6) AS DECIMAL(9,6)) AS hn FROM h1), " +
       "a2 AS (SELECT q, sum(hn) AS a2 FROM li JOIN h1n USING (p) GROUP BY 1), " +
       "a2n AS (SELECT q, CAST(round(CAST(a2 AS DOUBLE) / (SELECT CAST(max(a2) AS DOUBLE) FROM a2), 6) AS DECIMAL(9,6)) AS an FROM a2), " +
       "hub AS (SELECT 'hub' AS side, p AS node, CAST(hn AS DOUBLE) AS score FROM h1n ORDER BY score DESC, node ASC LIMIT 10), " +
       "auth AS (SELECT 'authority' AS side, q AS node, CAST(an AS DOUBLE) AS score FROM a2n ORDER BY score DESC, node ASC LIMIT 10), " +
       "u AS (SELECT * FROM auth UNION ALL SELECT * FROM hub) " +
       "SELECT side, node, score, CAST(row_number() OVER (PARTITION BY side ORDER BY score DESC, node ASC) AS BIGINT) AS rn FROM u ORDER BY side ASC, rn ASC"),
    // graph_label_propagation: 3 synchronous frequency-argmax rounds over
    // the same co-purchase adj CTE as graph_modularity; ties by min label
    // (count DESC, lab ASC row_number) keep classic LPA replayable.
    "graph_label_propagation" ->
      ("WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
       "e0 AS (SELECT a.p AS u, b.p AS v FROM items a JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2), " +
       "adj AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0), " +
       "l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lab FROM adj), " +
       "l1 AS MATERIALIZED (SELECT u AS node, lab FROM (SELECT a.u, l.lab, count(*) AS cnt, row_number() OVER (PARTITION BY a.u ORDER BY count(*) DESC, l.lab ASC) AS rn FROM adj a JOIN l0 l ON a.v = l.node GROUP BY a.u, l.lab) t WHERE rn = 1), " +
       "l2 AS MATERIALIZED (SELECT u AS node, lab FROM (SELECT a.u, l.lab, count(*) AS cnt, row_number() OVER (PARTITION BY a.u ORDER BY count(*) DESC, l.lab ASC) AS rn FROM adj a JOIN l1 l ON a.v = l.node GROUP BY a.u, l.lab) t WHERE rn = 1), " +
       "l3 AS MATERIALIZED (SELECT u AS node, lab FROM (SELECT a.u, l.lab, count(*) AS cnt, row_number() OVER (PARTITION BY a.u ORDER BY count(*) DESC, l.lab ASC) AS rn FROM adj a JOIN l2 l ON a.v = l.node GROUP BY a.u, l.lab) t WHERE rn = 1) " +
       "SELECT CAST(lab AS BIGINT) AS community, CAST(count(*) AS BIGINT) AS n_nodes FROM l3 GROUP BY 1 ORDER BY n_nodes DESC, community ASC LIMIT 20"),
    // exact counts — the oracle is the plain GROUP BY top-10 plus the
    // n/256 error bound the sketch reports.
    "agg_heavy_hitters_sketch" ->
      ("WITH w AS (SELECT unnest(string_split(text, ' ')) AS item FROM documents WHERE text IS NOT NULL), " +
       "f AS (SELECT item, CAST(count(*) AS BIGINT) AS est_count FROM w WHERE length(item) > 0 GROUP BY 1), " +
       "t AS (SELECT CAST(sum(est_count) // 256 AS BIGINT) AS max_overcount FROM f) " +
       "SELECT item, est_count, max_overcount FROM f, t ORDER BY est_count DESC, item LIMIT 10"),
    // timeseries_stl_decompose: every mean replayed as the SAME ordered
    // sequential fold the engine uses (r11 stability find: the bare
    // partition avg summed in physical row order and the sf0.001
    // (view, Friday) seasonal sits exactly on a round-6 half-boundary —
    // DuckDB's parallel scan flipped it run to run). Trend folds the
    // 7-day frame in frame order (list() keeps nulls, hence the
    // list_filter twin of collect_list's null-skip); the dow seasonal
    // folds by day; the centering mean folds dow-grain (sraw·n_days)
    // products Sunday-first (both engines' dow orders are Sunday-first
    // ascending, so the differing encodings fold identically). Float
    // outputs carry `+ 0.0` so a tiny-negative round never emits -0.0.
    "timeseries_stl_decompose" ->
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 4) AS x FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2), " +
       "t AS (SELECT event_type, d, x, count(*) OVER w7 AS nrows, list_filter(list(x) OVER w7, v -> v IS NOT NULL) AS farr FROM daily " +
       "WINDOW w7 AS (PARTITION BY event_type ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), " +
       "t2 AS (SELECT event_type, d, x, CASE WHEN nrows = 7 AND len(farr) > 0 THEN round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), farr), (a, v) -> a + v) / len(farr), 6) END AS trend FROM t), " +
       "u AS (SELECT event_type, d, x, trend, x - trend AS detr, dayofweek(d) AS dow FROM t2), " +
       "g AS (SELECT event_type, dow, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(detr ORDER BY d) FILTER (detr IS NOT NULL)), (a, v) -> a + v) AS ssum, count(detr) AS m, count(*) AS nd FROM u GROUP BY 1, 2), " +
       "g2 AS (SELECT event_type, dow, nd, CASE WHEN m > 0 THEN ssum / m END AS sraw FROM g), " +
       "gm AS (SELECT event_type, CASE WHEN coalesce(sum(nd) FILTER (sraw IS NOT NULL), 0) > 0 THEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(sraw * nd ORDER BY dow) FILTER (sraw IS NOT NULL)), (a, v) -> a + v) / sum(nd) FILTER (sraw IS NOT NULL) END AS mean_all FROM g2 GROUP BY 1) " +
       "SELECT u.event_type AS event_type, u.d AS d, u.x + 0.0 AS x, u.trend + 0.0 AS trend, round(g2.sraw - gm.mean_all, 6) + 0.0 AS seasonal, round(u.detr - round(g2.sraw - gm.mean_all, 6), 6) + 0.0 AS residual FROM u JOIN g2 USING (event_type, dow) JOIN gm USING (event_type) ORDER BY event_type, d"),
    // stats_kendall_tau: identical day-pair sign algebra per type;
    // integer-exact counts into one final sqrt/division.
    "stats_kendall_tau" ->
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 4) AS x, count(*) AS y FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2), " +
       "p AS (SELECT a.event_type AS event_type, sign(b.x - a.x) AS sx, sign(CAST(b.y - a.y AS DOUBLE)) AS sy FROM daily a JOIN daily b ON a.event_type = b.event_type AND a.d < b.d) " +
       "SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs, " +
       "CAST(sum(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS concordant, " +
       "CAST(sum(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS discordant, " +
       "round((sum(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) - sum(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END)) / " +
       "sqrt(CAST(count(*) - sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS DOUBLE) * (count(*) - sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END))), 6) AS tau_b " +
       "FROM p GROUP BY event_type ORDER BY event_type"),
    // stats_mutual_info: entropies as per-cell weighted sums (row/col
    // marginals distribute over cells), MI = Hs + Hl − Hsl.
    "stats_mutual_info" ->
      ("WITH c AS (SELECT source, lang, CAST(count(*) AS DOUBLE) AS obs FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2), " +
       "t AS (SELECT obs, CAST(sum(obs) OVER (PARTITION BY source) AS DOUBLE) AS rx, CAST(sum(obs) OVER (PARTITION BY lang) AS DOUBLE) AS cy, CAST(sum(obs) OVER () AS DOUBLE) AS n FROM c), " +
       "e AS (SELECT CAST(max(n) AS BIGINT) AS n, -sum(obs / n * ln(rx / n)) AS hs, -sum(obs / n * ln(cy / n)) AS hl, -sum(obs / n * ln(obs / n)) AS hj FROM t) " +
       "SELECT n, round(hs, 6) AS h_source, round(hl, 6) AS h_lang, round(hj, 6) AS h_joint, " +
       "round(hs + hl - hj, 6) AS mi_nats, round((hs + hl - hj) / sqrt(hs * hl), 6) AS nmi FROM e"),
    // stats_ks_test: per-distinct-value arm counts first (intra-tie
    // running order is engine-arbitrary), then running ECDFs and the sup.
    "stats_ks_test" ->
      "WITH p AS (SELECT round(value, 4) AS value, CAST(substring(md5(CAST(user_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7') AS BIGINT) AS a FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL AND value IS NOT NULL), v AS (SELECT value, sum(a) AS av, sum(1 - a) AS bv FROM p GROUP BY 1), r AS (SELECT sum(av) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca, sum(bv) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb, sum(av) OVER () AS na, sum(bv) OVER () AS nb FROM v) SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b, round(max(abs(CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)), 6) AS ks_d FROM r",
    // stats_anova: per-group moments -> grand mean -> F, all scalar math
    // over the tiny group summary on both engines.
    "stats_anova" ->
      "WITH g AS (SELECT event_type, count(*) AS n, avg(value) AS m, var_samp(value) AS v FROM events WHERE value IS NOT NULL GROUP BY 1), t AS (SELECT sum(n) AS n_total, count(*) AS k, sum(n * m) / sum(n) AS gm FROM g) SELECT CAST(max(n_total) AS BIGINT) AS n_total, CAST(max(k) AS BIGINT) AS k_groups, round(sum(n * pow(m - gm, 2)), 4) AS ss_between, round(sum((n - 1) * v), 4) AS ss_within, round((sum(n * pow(m - gm, 2)) / (max(k) - 1)) / (sum((n - 1) * v) / (max(n_total) - max(k))), 6) AS f_stat FROM g, t",
    // stats_autocorr: same contiguous day grid as timeseries_resample
    // (missing days are true zeros) so the lags align calendar-wise.
    "stats_autocorr" ->
      "WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2), span AS (SELECT event_type, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1), grid AS (SELECT event_type, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d FROM span), f AS (SELECT g.event_type, g.d, CAST(coalesce(c, 0) AS DOUBLE) AS c FROM grid g LEFT JOIN daily USING (event_type, d)), l AS (SELECT event_type, c, lag(c, 1) OVER (PARTITION BY event_type ORDER BY d) AS c1, lag(c, 2) OVER (PARTITION BY event_type ORDER BY d) AS c2, lag(c, 3) OVER (PARTITION BY event_type ORDER BY d) AS c3 FROM f) SELECT event_type, CAST(count(*) AS BIGINT) AS n_days, round(corr(c, c1), 6) AS acf1, round(corr(c, c2), 6) AS acf2, round(corr(c, c3), 6) AS acf3 FROM l GROUP BY 1 ORDER BY 1",
    // timeseries_ewma: the oracle REPLAYS the recursion per t with a
    // list_reduce prefix fold (seed = xs[1], step acc -> 0.3x + 0.7acc —
    // the same IEEE evaluation order as Spark's aggregate fold), the
    // stats_cusum pattern; a closed-form pow() expansion is equal only
    // in exact arithmetic and can round(…,6)-diverge on another corpus.
    "timeseries_ewma" ->
      "WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 4) AS x FROM events WHERE event_type = 'purchase' GROUP BY 1, 2), ser AS (SELECT event_type, list(d ORDER BY d) AS ds, list(x ORDER BY d) AS xs FROM daily GROUP BY 1) SELECT event_type, unnest(ds) AS d, round(unnest(xs), 4) AS x, round(unnest(list_transform(range(1, len(xs) + 1), t -> list_reduce(list_slice(xs, 1, t), (acc, v) -> CAST(0.3 AS DOUBLE) * v + CAST(0.7 AS DOUBLE) * acc))), 6) AS ewma FROM ser ORDER BY event_type, d",
    // event_attribution: the carry-forward IGNORE NULLS window is the
    // as-of; strictly-preceding frame excludes the conversion row itself.
    "event_attribution" ->
      "WITH t AS (SELECT user_id, event_type, value, last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch FROM events WHERE user_id IS NOT NULL) SELECT coalesce(touch, 'direct') AS touch_type, count(*) AS conversions, round(sum(value), 4) AS attributed_value FROM t WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1",
    // text_unicode_normalize: DuckDB's utf8proc nfc_normalize /
    // strip_accents mirror the JDK Normalizer expressions.
    "text_unicode_normalize" ->
      "SELECT doc_id, nfc_normalize(text) AS nfc_text, strip_accents(lower(text)) AS folded_text, nfc_normalize(text) <> text AS changed_nfc FROM documents WHERE text IS NOT NULL ORDER BY doc_id",
    // profile_benford: digit via exact integer math on both engines —
    // never floor(log10) at the 10^k boundaries.
    "profile_benford" ->
      "WITH d AS (SELECT substring(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR), 1, 1) AS digit FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0), g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1) SELECT digit, n, round(CAST(n AS DOUBLE) / sum(n) OVER (), 6) AS observed_p, round(log10(1 + CAST(1.0 AS DOUBLE) / CAST(digit AS DOUBLE)), 6) AS benford_p, round(abs(round(CAST(n AS DOUBLE) / sum(n) OVER (), 6) - round(log10(1 + CAST(1.0 AS DOUBLE) / CAST(digit AS DOUBLE)), 6)), 6) AS abs_dev FROM g ORDER BY digit",
    // stats_cusum: the oracle replays the prefix max-folds with a
    // seeded list_reduce per t over each type's ordered day list.
    "stats_cusum" ->
      "WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS DOUBLE) AS x FROM events GROUP BY 1, 2), st AS (SELECT event_type, avg(x) AS mu, coalesce(stddev_samp(x), 0) AS sigma FROM daily GROUP BY 1), ser AS (SELECT event_type, list(d ORDER BY d) AS ds, list(x ORDER BY d) AS xs FROM daily GROUP BY 1), j AS (SELECT s.event_type, ds, xs, mu, sigma FROM ser s JOIN st USING (event_type)), e AS (SELECT event_type, mu, sigma, unnest(ds) AS d, unnest(xs) AS x, unnest(list_transform(range(1, len(xs) + 1), t -> list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_slice(xs, 1, t)), (acc, v) -> greatest(CAST(0.0 AS DOUBLE), acc + v - mu - sigma / 2)))) AS c FROM j) SELECT event_type, d, x, round(c, 6) AS cusum, c > 4 * sigma AS alarm FROM e ORDER BY event_type, d",
    // agg_bitwise: commutative single-word aggregates on both engines.
    "agg_bitwise" ->
      "SELECT l_returnflag, bit_and(l_orderkey) AS keys_and, bit_or(l_orderkey) AS keys_or, bit_xor(l_orderkey) AS keys_xor, CAST(sum(bit_count(l_orderkey)) AS BIGINT) AS total_bits FROM lineitem GROUP BY 1 ORDER BY 1",
    // sink_merge_on_read: same planted changelog family as
    // merge_cdc_upsert; the oracle states base-minus-deletes overlaid
    // with updates plus disjoint-key inserts.
    "sink_merge_on_read" ->
      "WITH base AS (SELECT o_orderkey AS k, round(o_totalprice, 2) AS price FROM orders), kept AS (SELECT k, price FROM base WHERE k % 7 <> 0), upd AS (SELECT k, floor(price * 1.1 * 100) / 100 AS new_price FROM base WHERE k % 5 = 0 AND k % 7 <> 0 UNION ALL SELECT k + 1000000000 AS k, price AS new_price FROM base WHERE k % 11 = 3) SELECT k, price, from_delta FROM (SELECT kept.k AS k, coalesce(u.new_price, kept.price) AS price, u.new_price IS NOT NULL AS from_delta FROM kept LEFT JOIN upd u ON kept.k = u.k UNION ALL SELECT u.k AS k, u.new_price AS price, true AS from_delta FROM upd u LEFT JOIN base b ON u.k = b.k WHERE b.k IS NULL) m ORDER BY k",
    // sink_zorder_layout: the oracle replays the 31+31-bit Morton
    // interleave in SQL — the z-curve math is hash-checked, and the
    // round trip proves the clustered layout lost nothing.
    "sink_zorder_layout" ->
      "WITH z AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, CAST(list_sum(list_transform(range(0, 31), i -> ((l_partkey >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i)) + ((l_suppkey >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1)))) AS BIGINT) AS zval FROM lineitem) SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, zval FROM z WHERE l_partkey < 200 AND l_suppkey < 50 ORDER BY l_orderkey, l_linenumber",
    // sample_reservoir_group: hash-priority rank = the deterministic
    // reservoir; both engines draw the same k-subset per group.
    "sample_reservoir_group" ->
      "WITH r AS (SELECT event_type, event_id, user_id, row_number() OVER (PARTITION BY event_type ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rk FROM events WHERE event_type IS NOT NULL) SELECT event_type, CAST(rk AS BIGINT) AS rk, event_id, user_id FROM r WHERE rk <= 5 ORDER BY event_type, rk",
    // pipeline_curriculum: quintile thresholds as aggregates (not a
    // global ntile) on both engines; score rounded before comparison.
    "pipeline_curriculum" ->
      "WITH d AS (SELECT doc_id, round((CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1)) * (CAST(length(text) AS DOUBLE) / greatest(len(string_split(text, ' ')), 1)), 6) AS score FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL), th AS (SELECT round(quantile_cont(score, 0.20), 6) AS q20, round(quantile_cont(score, 0.40), 6) AS q40, round(quantile_cont(score, 0.60), 6) AS q60, round(quantile_cont(score, 0.80), 6) AS q80 FROM d) SELECT doc_id, score, CAST(1 + CASE WHEN score > q20 THEN 1 ELSE 0 END + CASE WHEN score > q40 THEN 1 ELSE 0 END + CASE WHEN score > q60 THEN 1 ELSE 0 END + CASE WHEN score > q80 THEN 1 ELSE 0 END AS BIGINT) AS bucket, md5(CAST(doc_id AS VARCHAR)) AS shuffle_key FROM d CROSS JOIN th ORDER BY bucket, shuffle_key, doc_id",
    // stats_mann_whitney: same per-distinct-value grain as the KS test;
    // mid-ranks in closed form, tie-corrected normal approximation.
    "stats_mann_whitney" ->
      "WITH p AS (SELECT round(value, 4) AS value, CAST(substring(md5(CAST(user_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7') AS BIGINT) AS a FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL AND value IS NOT NULL), v AS (SELECT value, sum(a) AS av, sum(1 - a) AS bv, count(*) AS tv FROM p GROUP BY 1), r AS (SELECT av, bv, tv, CAST(coalesce(sum(tv) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) + CAST(tv + 1 AS DOUBLE) / 2 AS midrank FROM v), s AS (SELECT sum(av) AS na, sum(bv) AS nb, sum(av * midrank) AS ra, sum(tv * tv * tv - tv) AS ties FROM r) SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, round(ra - CAST(na AS DOUBLE) * (na + 1) / 2, 4) AS u_a, round((ra - CAST(na AS DOUBLE) * (na + 1) / 2 - CAST(na AS DOUBLE) * nb / 2) / sqrt(CAST(na AS DOUBLE) * nb / 12 * ((na + nb + 1) - CAST(ties AS DOUBLE) / ((na + nb) * (na + nb - 1)))), 6) AS z_score FROM s",
    // stats_survival_km: running product as exp-sum-log with the
    // zero-factor carried as an explicit flag on both engines.
    "stats_survival_km" ->
      "WITH u AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events WHERE user_id IS NOT NULL GROUP BY 1), h AS (SELECT max(d1) AS dmax FROM u), dur AS (SELECT date_diff('day', d0, d1) AS t, CAST(d1 < dmax AS BIGINT) AS death FROM u CROSS JOIN h), g AS (SELECT t, sum(death) AS d, count(*) AS c FROM dur GROUP BY 1), r AS (SELECT t, d, c, sum(c) OVER () - coalesce(sum(c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk FROM g), f AS (SELECT t, d, n_risk, CAST(1.0 AS DOUBLE) - CAST(d AS DOUBLE) / n_risk AS f FROM r) SELECT CAST(t AS BIGINT) AS t, CAST(d AS BIGINT) AS deaths, CAST(n_risk AS BIGINT) AS n_risk, round(CASE WHEN max(CASE WHEN f <= 0 THEN 1 ELSE 0 END) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 THEN 0.0 ELSE exp(sum(CASE WHEN f > 0 THEN ln(f) ELSE 0 END) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) END, 6) AS survival FROM f ORDER BY t",
    // graph_pagerank: the 3 synchronous iterations unroll as chained
    // CTEs — an iterative distributed kernel, still hash-checked.
    "graph_pagerank" ->
      "WITH li AS (SELECT DISTINCT 'p' || l_partkey AS p, 's' || l_suppkey AS q FROM lineitem), e AS (SELECT p AS src, q AS dst FROM li UNION ALL SELECT q AS src, p AS dst FROM li), deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1), w AS (SELECT e.src, e.dst, CAST(1.0 AS DOUBLE) / deg.deg AS w FROM e JOIN deg USING (src)), nn AS (SELECT count(*) AS n FROM deg), r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) / n AS r FROM deg CROSS JOIN nn), r1 AS (SELECT w.dst AS node, CAST(0.15 AS DOUBLE) / max(nn.n) + 0.85 * sum(r0.r * w.w) AS r FROM w JOIN r0 ON w.src = r0.node CROSS JOIN nn GROUP BY 1), r2 AS (SELECT w.dst AS node, CAST(0.15 AS DOUBLE) / max(nn.n) + 0.85 * sum(r1.r * w.w) AS r FROM w JOIN r1 ON w.src = r1.node CROSS JOIN nn GROUP BY 1), r3 AS (SELECT w.dst AS node, CAST(0.15 AS DOUBLE) / max(nn.n) + 0.85 * sum(r2.r * w.w) AS r FROM w JOIN r2 ON w.src = r2.node CROSS JOIN nn GROUP BY 1) SELECT node, round(r, 6) AS rank FROM r3 ORDER BY rank DESC, node ASC LIMIT 100",
    // graph_connected_components: the oracle runs label propagation to
    // FIXPOINT with a recursive CTE over the same Jaccard>=0.9 edge set
    // as dedup_ngram_jaccard — min reachable id == the engine's
    // union-find/pointer-jumping label, so the iterative kernel is
    // hash-checked exactly; singletons label themselves via the left
    // join.
    "graph_connected_components" ->
      ("WITH RECURSIVE w AS (SELECT doc_id, source, list_sort(list_distinct(string_split(text, ' '))) AS ws FROM documents), " +
       "p AS (SELECT a.doc_id AS id1, b.doc_id AS id2 FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id WHERE round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 6) >= 0.9), " +
       "e AS (SELECT id1 AS u, id2 AS v FROM p UNION ALL SELECT id2, id1 FROM p), " +
       "cc(id, lbl) AS (SELECT DISTINCT u, u FROM e UNION SELECT e.v, cc.lbl FROM cc JOIN e ON cc.id = e.u), " +
       "lab AS (SELECT id, min(lbl) AS lbl FROM cc GROUP BY 1), " +
       "f AS (SELECT d.doc_id, coalesce(lab.lbl, d.doc_id) AS component FROM documents d LEFT JOIN lab ON d.doc_id = lab.id) " +
       "SELECT doc_id, component, CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS n_members FROM f ORDER BY doc_id"),
    // text_bigram_logprob: Laplace-smoothed corpus bigram LM replayed
    // with 1-based list indexing on both engines; history counts and
    // the vocabulary scalar re-derived identically.
    "text_bigram_logprob" ->
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE text IS NOT NULL), " +
       "bgf AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (SELECT doc_id, unnest(list_transform(range(1, len(ws)), i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS b FROM d WHERE len(ws) >= 2)), " +
       "c12 AS (SELECT w1, w2, count(*) AS c12 FROM bgf GROUP BY 1, 2), " +
       "c1 AS (SELECT w1, count(*) AS c1 FROM bgf GROUP BY 1), " +
       "v AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(ws) AS w FROM d)), " +
       "sc AS (SELECT f.doc_id, -ln((c12.c12 + 1.0) / (c1.c1 + v.v)) AS nll FROM bgf f JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v) " +
       "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, round(avg(nll), 6) AS avg_nll FROM sc GROUP BY 1 ORDER BY 1"),
    // scan_csv_malformed: identical planted-corruption rule as the JSON
    // twin, so the oracle re-derives the quarantine accounting from the
    // source table without parsing any CSV.
    "scan_csv_malformed" ->
      "WITH g AS (SELECT doc_id % 10 AS bucket, count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM documents WHERE doc_id % 20 <> 0 GROUP BY doc_id % 10), b AS (SELECT CAST(-1 AS BIGINT) AS bucket, count(*) AS n_rows, CAST(NULL AS BIGINT) AS sum_chars FROM documents WHERE doc_id % 20 = 0) SELECT bucket, n_rows, sum_chars FROM g UNION ALL SELECT bucket, n_rows, sum_chars FROM b ORDER BY bucket",
    // join_asof_forward: the same union-and-window formulation, mirrored
    // to a forward frame; same-instant views sort before the purchase
    // (tag order) so they stay with the backward key.
    "join_asof_forward" ->
      "WITH u AS (SELECT user_id, ts, 0 AS tag, event_id, event_id AS view_id, ts AS view_ts FROM events WHERE event_type = 'view' UNION ALL SELECT user_id, ts, 1 AS tag, event_id, CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP) FROM events WHERE event_type = 'purchase'), t AS (SELECT user_id, ts, tag, event_id, first_value(view_id IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, tag, event_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_view_id, first_value(view_ts IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, tag, event_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_view_ts FROM u) SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, next_view_id, next_view_ts FROM t WHERE tag = 1 ORDER BY user_id, purchase_ts, purchase_id",
    // pipeline_dataset_card: every figure re-derived from the corpus;
    // the dup-rate hash is the dedup_cluster bag-of-words identity.
    "pipeline_dataset_card" ->
      "SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(count(text) AS BIGINT) AS n_text_docs, CAST(count(DISTINCT lang) AS BIGINT) AS n_langs, round(avg(n_chars), 4) AS avg_chars, round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 4) AS p50_chars, round(1.0 - CAST(count(DISTINCT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))) AS DOUBLE) / nullif(count(text), 0), 6) AS exact_dup_rate, CAST(sum(CASE WHEN text IS NOT NULL THEN coalesce(list_sum(list_transform(string_split(text, ' '), t -> CAST(ceil(length(t) / 4.0) AS BIGINT))), 0) ELSE 0 END) AS BIGINT) AS est_bpe_tokens FROM documents",
    // text_sentence_stats: terminal-punctuation segmentation with
    // identical regex class and trim semantics on both engines.
    "text_sentence_stats" ->
      "WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '[.!?]+'), x -> length(trim(x)) > 0) AS sents FROM documents WHERE text IS NOT NULL) SELECT doc_id, CAST(len(sents) AS BIGINT) AS n_sentences, CAST(coalesce(list_max(list_transform(sents, x -> len(string_split(trim(x), ' ')))), 0) AS BIGINT) AS max_sentence_words, round(CAST(coalesce(list_sum(list_transform(sents, x -> len(string_split(trim(x), ' ')))), 0) AS DOUBLE) / greatest(len(sents), 1), 6) AS avg_sentence_words FROM d ORDER BY doc_id",
    // dedup_containment: asymmetric |A∩B|/|A| within source; DuckDB's
    // exact word-set intersect mirrors the hashed-sorted-merge (same
    // cardinalities); both directions gated on the rounded value.
    "dedup_containment" ->
      "WITH w AS (SELECT doc_id, source, list_sort(list_distinct(string_split(text, ' '))) AS ws FROM documents) SELECT a.source AS source, a.doc_id AS id1, b.doc_id AS id2, round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / len(a.ws), 6) AS cont1_in_2, round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / len(b.ws), 6) AS cont2_in_1 FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id WHERE greatest(round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / len(a.ws), 6), round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / len(b.ws), 6)) >= 0.9 ORDER BY source, id1, id2",
    // stats_proportions_ztest: pooled two-proportion z at BOTH grains
    // (event: is-a-purchase rate; user: any-purchase>200 conversion —
    // the r10 consolidation of the former stats_proportion_ztest);
    // same md5 arm split as the t test, identical closed form per
    // grain, nullif-guarded divisors on both engines.
    "stats_proportions_ztest" ->
      ("WITH ef AS (SELECT CAST(substring(md5(CAST(user_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7') AS BIGINT) AS a, CAST(event_type = 'purchase' AS BIGINT) AS conv FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL), " +
       "u AS (SELECT user_id, max(CASE WHEN event_type = 'purchase' AND value > 200 THEN 1 ELSE 0 END) AS conv FROM events WHERE user_id IS NOT NULL GROUP BY 1), " +
       "uf AS (SELECT CAST(substring(md5(CAST(user_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7') AS BIGINT) AS a, conv FROM u), " +
       "g AS (SELECT 'event' AS grain, sum(a) AS na, sum(1 - a) AS nb, sum(a * conv) AS xa, sum((1 - a) * conv) AS xb FROM ef UNION ALL SELECT 'user' AS grain, sum(a) AS na, sum(1 - a) AS nb, sum(a * conv) AS xa, sum((1 - a) * conv) AS xb FROM uf) " +
       "SELECT grain, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, CAST(xa AS BIGINT) AS conv_a, CAST(xb AS BIGINT) AS conv_b, round(CAST(xa AS DOUBLE) / nullif(CAST(na AS DOUBLE), 0), 6) AS p_a, round(CAST(xb AS DOUBLE) / nullif(CAST(nb AS DOUBLE), 0), 6) AS p_b, round((CAST(xa AS DOUBLE) / nullif(CAST(na AS DOUBLE), 0) - CAST(xb AS DOUBLE) / nullif(CAST(nb AS DOUBLE), 0)) / nullif(sqrt((CAST(xa + xb AS DOUBLE) / nullif(CAST(na + nb AS DOUBLE), 0)) * (1.0 - CAST(xa + xb AS DOUBLE) / nullif(CAST(na + nb AS DOUBLE), 0)) * (CAST(1.0 AS DOUBLE) / nullif(CAST(na AS DOUBLE), 0) + CAST(1.0 AS DOUBLE) / nullif(CAST(nb AS DOUBLE), 0))), 0), 6) AS z_score FROM g ORDER BY grain"),
    // agg_weighted_median: the oracle uses the naive global running-sum
    // window; the engine's bucketed prefix must pick the identical
    // value (integer threshold 2*cum >= W on both engines).
    "agg_weighted_median" ->
      "WITH v AS (SELECT round(l_extendedprice, 2) AS v, CAST(l_quantity AS BIGINT) AS wt FROM lineitem), g AS (SELECT v, sum(wt) AS wv FROM v GROUP BY 1), r AS (SELECT v, sum(wv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, sum(wv) OVER () AS w FROM g) SELECT CAST(max(w) AS BIGINT) AS total_weight, min(CASE WHEN 2 * cum >= w THEN v END) AS weighted_median FROM r",
    // tokenizer_merge_candidates: char-based substr pair counting on
    // both engines; (n DESC, pair ASC) total order pins the top-20.
    "tokenizer_merge_candidates" ->
      "WITH wds AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents WHERE text IS NOT NULL), p AS (SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair FROM wds WHERE length(w) >= 2) SELECT pair, count(*) AS n FROM p GROUP BY 1 ORDER BY n DESC, pair ASC LIMIT 20",
    // pipeline_quality_gate: concat_ws skips NULL slots on both
    // engines, so the reason list is the fixed-order non-null rules.
    "pipeline_quality_gate" ->
      "WITH d AS (SELECT doc_id, concat_ws(',', CASE WHEN coalesce(n_chars, 0) < 100 THEN 'too_short' END, CASE WHEN lang IS NULL THEN 'no_lang' END, CASE WHEN round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) < 0.5 THEN 'low_alpha' END, CASE WHEN round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / greatest(len(string_split(text, ' ')), 1), 6) < 0.3 THEN 'repetitive' END) AS reasons FROM documents WHERE text IS NOT NULL) SELECT doc_id, reasons = '' AS passed, reasons FROM d ORDER BY doc_id",
    // timeseries_holt: the oracle replays the level/trend recursion as
    // a RECURSIVE CTE with column-carried state — NOT a struct-state
    // list_reduce: duckdb 1.0.0's lambda resolves acc struct fields to
    // the NEW values regardless of field order (verified with a
    // minimal a/c probe), so any mutually-recursive struct fold is
    // silently wrong there. The b-step restates l_t inline so both
    // engines evaluate the literal same expression tree.
    "timeseries_holt" ->
      "WITH RECURSIVE daily AS (SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 4) AS x FROM events WHERE event_type = 'purchase' GROUP BY 1, 2), idx AS (SELECT event_type, d, x, row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn FROM daily), rec(event_type, rn, d, x, l, b) AS (SELECT event_type, rn, d, x, x, CAST(0.0 AS DOUBLE) FROM idx WHERE rn = 1 UNION ALL SELECT i.event_type, i.rn, i.d, i.x, CAST(0.5 AS DOUBLE) * i.x + CAST(0.5 AS DOUBLE) * (r.l + r.b), CAST(0.3 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * i.x + CAST(0.5 AS DOUBLE) * (r.l + r.b)) - r.l) + CAST(0.7 AS DOUBLE) * r.b FROM rec r JOIN idx i ON i.event_type = r.event_type AND i.rn = r.rn + 1) SELECT event_type, d, x, round(l, 6) AS level, round(b, 6) AS trend, round(l + b, 6) AS forecast_next FROM rec ORDER BY event_type, d",
    // event_peak_concurrency: same 30-min sessionize as sessionize_gap;
    // per-instant NET before the prefix makes ties well-defined; edge
    // keys are exact microseconds (epoch_ns // 1000 vs unix_micros).
    "event_peak_concurrency" ->
      ("WITH e AS (SELECT user_id, event_id, ts, CASE WHEN lag(ts) OVER w IS NULL OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS new_s FROM events WHERE user_id IS NOT NULL WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)), " +
       "si AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS session_idx FROM e), " +
       "sess AS (SELECT user_id, session_idx, min(ts) AS st, max(ts) AS en FROM si GROUP BY 1, 2), " +
       "ed AS (SELECT epoch_ns(st) // 1000 AS k, 1 AS delta FROM sess UNION ALL SELECT epoch_ns(en) // 1000 + 1, -1 FROM sess), " +
       "g AS (SELECT k, sum(delta) AS net FROM ed GROUP BY 1), " +
       "r AS (SELECT k, sum(net) OVER (ORDER BY k) AS run FROM g), " +
       "p AS (SELECT CAST(make_timestamp(k) AS DATE) AS d, CAST(max(run) AS BIGINT) AS peak_concurrent FROM r GROUP BY 1), " +
       "ns AS (SELECT CAST(st AS DATE) AS d, CAST(count(*) AS BIGINT) AS n_started FROM sess GROUP BY 1) " +
       "SELECT p.d, p.peak_concurrent, coalesce(ns.n_started, 0) AS n_started FROM p LEFT JOIN ns USING (d) ORDER BY d"),
    // stats_quantile_pinball: same 4-rounded daily values and calendar
    // d-7 join as snaive; loss is exact arithmetic on agreed values.
    "stats_quantile_pinball" ->
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 4) AS x FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2), " +
       "j AS (SELECT a.event_type, a.x, b.x AS f FROM daily a JOIN daily b ON a.event_type = b.event_type AND a.d = b.d + 7), " +
       "e AS (SELECT event_type, x, f, unnest([CAST(0.1 AS DOUBLE), CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS q FROM j), " +
       "l AS (SELECT event_type, q, CASE WHEN x >= f THEN q * (x - f) ELSE (1.0 - q) * (f - x) END AS loss FROM e) " +
       "SELECT event_type, q, CAST(count(*) AS BIGINT) AS n_scored, round(avg(loss), 6) AS pinball FROM l GROUP BY 1, 2 ORDER BY event_type, q"),
    // timeseries_holt_winters: the Holt recursive-CTE pattern extended
    // with a LIST column carrying the rolling 7 seasons; intermediates
    // bound through layered subqueries so both engines replay the same
    // IEEE op order; seed mean rounds at 6 before the recursion.
    "timeseries_holt_winters" ->
      ("WITH RECURSIVE daily AS (SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 4) AS x FROM events WHERE event_type = 'purchase' GROUP BY 1, 2), " +
       "idx AS (SELECT event_type, d, x, row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn FROM daily), " +
       "seed AS (SELECT event_type, round(sum(x) / 7.0, 6) AS m0 FROM idx WHERE rn <= 7 GROUP BY 1 HAVING count(*) = 7), " +
       "s0 AS (SELECT i.event_type, max(sd.m0) AS m0, list(i.x - sd.m0 ORDER BY i.rn) AS sl FROM idx i JOIN seed sd USING (event_type) WHERE i.rn <= 7 GROUP BY 1), " +
       "rec(event_type, rn, d, x, l, b, sn, fc, sl) AS (" +
       "SELECT event_type, CAST(7 AS BIGINT), CAST(NULL AS DATE), CAST(NULL AS DOUBLE), m0, CAST(0.0 AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), sl FROM s0 " +
       "UNION ALL " +
       "SELECT event_type, rn, d, x, lp, bn, snv, lp + bn + slp[1], slp FROM (" +
       "SELECT *, list_append(sl0[2:7], snv) AS slp FROM (" +
       "SELECT *, 0.2 * (lp - lprev) + 0.8 * bprev AS bn, 0.1 * (x - lp) + 0.9 * sold AS snv FROM (" +
       "SELECT r.event_type AS event_type, i.rn AS rn, i.d AS d, i.x AS x, r.sl[1] AS sold, r.l AS lprev, r.b AS bprev, r.sl AS sl0, " +
       "0.3 * (i.x - r.sl[1]) + 0.7 * (r.l + r.b) AS lp " +
       "FROM rec r JOIN idx i ON i.event_type = r.event_type AND i.rn = r.rn + 1) a) b2) c) " +
       "SELECT event_type, d, x, round(l, 6) AS level, round(b, 6) AS trend, round(sn, 6) AS seasonal, round(fc, 6) AS forecast_next " +
       "FROM rec WHERE rn >= 8 ORDER BY event_type, d"),
    // anomaly_mad: median/MAD as exact interpolated percentiles rounded
    // before reuse; modified z gated on the rounded score; MAD 0 -> NULL
    // scores via nullif on both engines.
    "anomaly_mad" ->
      "WITH v AS (SELECT event_id, round(value, 4) AS value FROM events WHERE event_type = 'purchase' AND value IS NOT NULL), m AS (SELECT round(quantile_cont(value, 0.5), 6) AS med FROM v), sc AS (SELECT event_id, value, med, round(abs(value - med), 6) AS absdev FROM v, m), d AS (SELECT round(quantile_cont(absdev, 0.5), 6) AS mad FROM sc), z AS (SELECT event_id, value, med, round((value - med) / nullif(1.4826 * mad, 0.0), 4) AS mod_z FROM sc, d) SELECT event_id, value, med, mod_z FROM z WHERE abs(mod_z) > 3.5 ORDER BY event_id",
    // agg_grouping_id: GROUPING bitmask disambiguates subtotal NULLs
    // from data NULLs; leftmost-key-is-MSB on both engines.
    "agg_grouping_id" ->
      "SELECT l_returnflag, l_linestatus, CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag, CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status, CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid, count(*) AS n FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST",
    // scan_parquet_footer: deterministic single-writer sorted layout cut
    // every 10k records, so each file's footer stats are the order
    // statistics of consecutive 10k-row chunks — re-derivable in SQL.
    "scan_parquet_footer" ->
      "WITH r AS (SELECT l_orderkey, CAST(floor((row_number() OVER (ORDER BY l_orderkey) - 1) / 10000) AS BIGINT) AS fid FROM lineitem) SELECT CAST(count(*) AS BIGINT) AS n_rows, min(l_orderkey) AS min_key, max(l_orderkey) AS max_key FROM r GROUP BY fid ORDER BY min_key, max_key, n_rows",
    // graph_triangles: support-thresholded co-purchase edges, oriented
    // u<v, triangle = oriented 3-cycle counted once.
    "graph_triangles" ->
      "WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), edges AS MATERIALIZED (SELECT a.p AS u, b.p AS v FROM items a JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2), tri AS (SELECT count(*) AS n_triangles FROM edges e1 JOIN edges e2 ON e1.v = e2.u JOIN edges e3 ON e1.u = e3.u AND e2.v = e3.v), ne AS (SELECT count(*) AS n_edges FROM edges) SELECT n_edges, n_triangles FROM ne CROSS JOIN tri",
    // table_diff_audit: same planted changelog rules as merge_cdc_upsert;
    // full outer join + change classification, unchanged filtered.
    "table_diff_audit" ->
      "WITH base AS (SELECT o_orderkey AS k, round(o_totalprice, 2) AS price FROM orders), curr AS (SELECT k, CASE WHEN k % 5 = 0 THEN floor(price * 1.1 * 100) / 100 ELSE price END AS price FROM base WHERE k % 7 <> 0 UNION ALL SELECT k + 1000000000 AS k, price FROM base WHERE k % 11 = 3), j AS (SELECT coalesce(b.k, c.k) AS k, b.price AS old_price, c.price AS new_price FROM base b FULL OUTER JOIN curr c ON b.k = c.k) SELECT k, CASE WHEN old_price IS NULL THEN 'added' WHEN new_price IS NULL THEN 'removed' WHEN old_price <> new_price THEN 'changed' ELSE 'unchanged' END AS change, old_price, new_price FROM j WHERE (CASE WHEN old_price IS NULL THEN 'added' WHEN new_price IS NULL THEN 'removed' WHEN old_price <> new_price THEN 'changed' ELSE 'unchanged' END) <> 'unchanged' ORDER BY k, change",
    // join_null_safe: IS NOT DISTINCT FROM matches the planted NULL
    // decile; NULLS FIRST pins Spark's asc null ordering.
    "join_null_safe" ->
      "WITH l AS (SELECT nullif(user_id % 10, 0) AS k, count(*) AS n_even FROM events WHERE user_id IS NOT NULL AND event_id % 2 = 0 GROUP BY 1), r AS (SELECT nullif(user_id % 10, 0) AS k, count(*) AS n_odd FROM events WHERE user_id IS NOT NULL AND event_id % 2 = 1 GROUP BY 1) SELECT l.k AS k, n_even, n_odd FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k ORDER BY k NULLS FIRST",
    // fn_variant: DuckDB JSON operators re-derive the typed extraction.
    "fn_variant" ->
      "SELECT event_id, CAST(props::JSON ->> 'k' AS BIGINT) AS k_num, props::JSON ->> 'k' AS k_str, CAST(props::JSON ->> 'missing' AS BIGINT) AS k_missing FROM events ORDER BY event_id",
    // agg_listagg: string_agg with DISTINCT + ORDER BY mirrors WITHIN GROUP.
    "agg_listagg" ->
      "SELECT source, string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs, CAST(count(DISTINCT lang) AS BIGINT) AS n_langs FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY source ORDER BY source",
    // scan_xml: lossless XML round-trip hash-matches the source table.
    "scan_xml" ->
      "SELECT doc_id, lang, source, n_chars, text FROM documents ORDER BY doc_id",
    // join_asof_tolerance: ASOF LEFT JOIN + 1h gap null-out (pandas
    // merge_asof tolerance semantics).
    "join_asof_tolerance" ->
      "WITH j AS (SELECT p.user_id AS user_id, p.event_id AS purchase_id, p.ts AS purchase_ts, v.event_id AS last_view_id, v.ts AS last_view_ts FROM (SELECT * FROM events WHERE event_type = 'purchase') p ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v ON p.user_id = v.user_id AND v.ts <= p.ts) SELECT user_id, purchase_id, purchase_ts, CASE WHEN last_view_ts IS NOT NULL AND date_diff('second', last_view_ts, purchase_ts) <= 3600 THEN last_view_id END AS view_id_1h, CASE WHEN last_view_ts IS NOT NULL AND date_diff('second', last_view_ts, purchase_ts) <= 3600 THEN last_view_ts END AS view_ts_1h, CASE WHEN last_view_ts IS NOT NULL AND date_diff('second', last_view_ts, purchase_ts) <= 3600 THEN CAST(date_diff('second', last_view_ts, purchase_ts) AS BIGINT) END AS gap_sec FROM j ORDER BY user_id, purchase_ts, purchase_id",
    // fn_aes_roundtrip: decrypt(encrypt(text)) must equal the source
    // column; ciphertext never surfaces (GCM IV is random by design).
    "fn_aes_roundtrip" ->
      "SELECT doc_id, text AS decrypted FROM documents WHERE doc_id IS NOT NULL ORDER BY doc_id",
    // agg_higher_moments: population g1/g2 re-derived from raw power
    // sums (DuckDB's skewness/kurtosis are sample-corrected).
    "agg_higher_moments" ->
      "WITH s AS (SELECT l_returnflag, avg(l_quantity) AS mu, avg(l_quantity * l_quantity) AS m2r, avg(pow(l_quantity, 3)) AS m3r, avg(pow(l_quantity, 4)) AS m4r, count(*) AS n FROM lineitem GROUP BY 1), c AS (SELECT l_returnflag, m2r - mu * mu AS m2, m3r - 3 * mu * m2r + 2 * pow(mu, 3) AS m3, m4r - 4 * mu * m3r + 6 * mu * mu * m2r - 3 * pow(mu, 4) AS m4, n FROM s) SELECT l_returnflag, round(m3 / pow(m2, 1.5), 4) + 0.0 AS qty_skew, round(m4 / (m2 * m2) - 3, 4) + 0.0 AS qty_kurt, CAST(n AS BIGINT) AS n_items FROM c ORDER BY l_returnflag",
    // multimodal_decode_png: the planted pixel function lets SQL
    // re-derive the decoded stats exactly; mean is an integer sum over
    // a power-of-two divisor (round6 = identity on both engines).
    "multimodal_decode_png" ->
      "WITH g AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL), xs AS (SELECT unnest(range(0, 8)) AS x), ys AS (SELECT unnest(range(0, 8)) AS y), px AS (SELECT doc_id, (doc_id * 31 + 7 * x + 13 * y) % 256 AS p FROM g, xs, ys) SELECT doc_id, CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height, round(avg(p), 6) AS mean_gray FROM px GROUP BY doc_id ORDER BY doc_id",
    // multimodal_resize_png: 2x2 box filter replayed in SQL with
    // integer division; corner is the ds(0,0) witness.
    "multimodal_resize_png" ->
      "WITH g AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL), us AS (SELECT unnest(range(0, 4)) AS u), vs AS (SELECT unnest(range(0, 4)) AS v), ds AS (SELECT doc_id, u, v, ((doc_id * 31 + 7 * (2 * u) + 13 * (2 * v)) % 256 + (doc_id * 31 + 7 * (2 * u + 1) + 13 * (2 * v)) % 256 + (doc_id * 31 + 7 * (2 * u) + 13 * (2 * v + 1)) % 256 + (doc_id * 31 + 7 * (2 * u + 1) + 13 * (2 * v + 1)) % 256) // 4 AS d FROM g, us, vs) SELECT doc_id, CAST(4 AS INTEGER) AS out_w, CAST(4 AS INTEGER) AS out_h, round(CAST(sum(d) AS DOUBLE) / 16, 6) AS mean_ds, CAST(max(CASE WHEN u = 0 AND v = 0 THEN d END) AS BIGINT) AS corner FROM ds GROUP BY doc_id ORDER BY doc_id",
    // multimodal_decode_wav: integer-exact sample stats re-derived
    // from the planted PCM formula; no rounding anywhere.
    "multimodal_decode_wav" ->
      "WITH g AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL), idx AS (SELECT unnest(range(0, 256)) AS i) SELECT doc_id, CAST(256 AS BIGINT) AS n_samples, CAST(8000 AS BIGINT) AS sample_rate, CAST(sum((doc_id * 7 + 13 * i) % 2000 - 1000) AS BIGINT) AS sum_samples, CAST(max((doc_id * 7 + 13 * i) % 2000 - 1000) AS BIGINT) AS max_sample FROM g, idx GROUP BY doc_id ORDER BY doc_id",
    // multimodal_framesample_png: sampled frames f in {0,2,4}; the
    // pixel sum is exact and the mean is one double division.
    "multimodal_framesample_png" ->
      "WITH g AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL), fs AS (SELECT unnest([0, 2, 4]) AS f), xs AS (SELECT unnest(range(0, 8)) AS x), ys AS (SELECT unnest(range(0, 8)) AS y), px AS (SELECT doc_id, (doc_id * 31 + 7 * x + 13 * y + 17 * f) % 256 AS p FROM g, fs, xs, ys) SELECT doc_id, CAST(6 AS BIGINT) AS n_frames, CAST(3 AS BIGINT) AS n_sampled, CAST(sum(p) AS BIGINT) AS px_sum, round(CAST(sum(p) AS DOUBLE) / 192, 6) AS px_mean FROM px GROUP BY doc_id ORDER BY doc_id",
    // multimodal_wav_resample: 2:1 pair-average over the REAL decoded
    // stream; (a+b)/2 witnesses are IEEE-exact from the planted ramp,
    // so the oracle replays them without touching a codec.
    "multimodal_wav_resample" ->
      ("WITH g AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL), " +
       "idx AS (SELECT unnest(range(0, 128)) AS j), " +
       "o AS (SELECT doc_id, j, (CAST((doc_id * 7 + 13 * (2 * j)) % 2000 - 1000 AS DOUBLE) + ((doc_id * 7 + 13 * (2 * j + 1)) % 2000 - 1000)) / 2.0 AS v FROM g, idx) " +
       "SELECT doc_id, CAST(128 AS BIGINT) AS n_out, max(CASE WHEN j = 0 THEN v END) AS out_first, " +
       "max(v) AS out_peak, round(sqrt(sum(v * v) / 128), 6) AS out_rms " +
       "FROM o GROUP BY doc_id ORDER BY doc_id"),
    // multimodal_phash: the oracle re-derives every aHash from the
    // planted pixel formula (PNG is lossless, so a codec that dropped
    // a pixel would shift some hash) and brute-forces the ≤3-bit pair
    // space the Spark side finds via exact 16-bit band blocking.
    "multimodal_phash" ->
      ("WITH g AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL), " +
       "xs AS (SELECT unnest(range(0, 8)) AS x), ys AS (SELECT unnest(range(0, 8)) AS y), " +
       "px AS (SELECT doc_id, y * 8 + x AS i, (doc_id * 31 + 7 * x + 13 * y) % 256 AS p FROM g, xs, ys), " +
       "m AS (SELECT doc_id, CAST(sum(p) AS DOUBLE) / 64 AS mean FROM px GROUP BY 1), " +
       "h AS (SELECT px.doc_id, " +
       "CAST(coalesce(sum(CASE WHEN i >= 32 AND p > mean THEN 1::BIGINT << CAST(i - 32 AS INT) END), 0) AS BIGINT) AS phash_hi, " +
       "CAST(coalesce(sum(CASE WHEN i < 32 AND p > mean THEN 1::BIGINT << CAST(i AS INT) END), 0) AS BIGINT) AS phash_lo " +
       "FROM px JOIN m USING (doc_id) GROUP BY 1), " +
       "pr AS (SELECT a.doc_id AS da, b.doc_id AS db FROM h a JOIN h b ON a.doc_id < b.doc_id " +
       "AND bit_count(xor(a.phash_hi, b.phash_hi)) + bit_count(xor(a.phash_lo, b.phash_lo)) <= 3), " +
       "c AS (SELECT doc_id, count(*) AS n FROM (SELECT da AS doc_id FROM pr UNION ALL SELECT db FROM pr) GROUP BY 1) " +
       "SELECT h.doc_id, phash_hi, phash_lo, CAST(coalesce(n, 0) AS BIGINT) AS n_near " +
       "FROM h LEFT JOIN c USING (doc_id) ORDER BY doc_id"),
    // set_ops_all: multiset INTERSECT ALL / EXCEPT ALL between two
    // deterministic overlapping extracts, tagged and unioned.
    "set_ops_all" ->
      "WITH l AS (SELECT event_type, user_id FROM events WHERE event_id % 2 = 0), r AS (SELECT event_type, user_id FROM events WHERE event_id % 3 = 0), i AS (SELECT * FROM l INTERSECT ALL SELECT * FROM r), e AS (SELECT * FROM l EXCEPT ALL SELECT * FROM r) SELECT event_type, user_id, 'intersect_all' AS op FROM i UNION ALL SELECT event_type, user_id, 'except_all' AS op FROM e ORDER BY op, event_type, user_id",
    // sessionize_gap: 30-minute-gap batch sessionization, the batch twin
    // of stream_session. cast-to-long second diffs match DuckDB's
    // date_diff('second', ...) — the win_lag_lead-proven convention.
    "sessionize_gap" ->
      "WITH e AS (SELECT user_id, event_id, ts, CASE WHEN lag(ts) OVER w IS NULL OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS new_s FROM events WHERE user_id IS NOT NULL WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)), si AS (SELECT user_id, event_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS session_idx FROM e) SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, CAST(count(*) AS BIGINT) AS n_events, min(ts) AS session_start, max(ts) AS session_end, CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_sec FROM si GROUP BY user_id, session_idx ORDER BY user_id, session_idx",
    // text_chunk_overlap: 32-token windows every 24 tokens. DuckDB
    // list_slice's INCLUSIVE end = start+32 equals Spark slice's
    // (start+1, length 32); both auto-cap at the token count.
    "text_chunk_overlap" ->
      "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE text IS NOT NULL AND length(text) > 0), st AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS start FROM t) SELECT doc_id, CAST(start / 24 AS BIGINT) AS chunk_id, CAST(len(list_slice(toks, start + 1, least(start + 32, len(toks)))) AS BIGINT) AS n_tokens, array_to_string(list_slice(toks, start + 1, least(start + 32, len(toks))), ' ') AS chunk_text FROM st ORDER BY doc_id, chunk_id",
    // fn_url_parse: URL planted from doc fields on both sides (the
    // text_pii_redact pattern); Spark parse_url vs anchored regexes.
    "fn_url_parse" ->
      "WITH u AS (SELECT doc_id, 'https://www.' || source || '.example.com/' || lang || '/doc-' || doc_id || '?utm_source=feed&ref=' || source || '&id=' || doc_id || '#top' AS url FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL AND lang IS NOT NULL) SELECT doc_id, url, regexp_extract(url, 'https://([^/]+)/', 1) AS host, regexp_extract(url, 'https://[^/]+(/[^?#]*)', 1) AS path, regexp_extract(url, '[?&]id=([^&#]*)', 1) AS id_param, regexp_replace(regexp_extract(url, 'https://([^/]+)/', 1), '^www\\.', '') || regexp_extract(url, 'https://[^/]+(/[^?#]*)', 1) || '?id=' || regexp_extract(url, '[?&]id=([^&#]*)', 1) AS canonical_url FROM u ORDER BY doc_id",
    "funnel_stages" ->
      "WITH s1 AS (SELECT user_id, min(ts) AS signup_ts FROM events WHERE event_type = 'signup' GROUP BY user_id), s2 AS (SELECT e.user_id, s1.signup_ts, min(e.ts) AS click_ts FROM events e JOIN s1 ON e.user_id = s1.user_id WHERE e.event_type = 'click' AND e.ts >= s1.signup_ts GROUP BY e.user_id, s1.signup_ts), s3 AS (SELECT e.user_id, min(e.ts) AS purchase_ts FROM events e JOIN s2 ON e.user_id = s2.user_id WHERE e.event_type = 'purchase' AND e.ts >= s2.click_ts GROUP BY e.user_id) SELECT s1.user_id AS user_id, s1.signup_ts, s2.click_ts, s3.purchase_ts, CAST(1 + CASE WHEN s2.click_ts IS NOT NULL THEN 1 ELSE 0 END + CASE WHEN s3.purchase_ts IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS depth FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id LEFT JOIN s3 ON s1.user_id = s3.user_id ORDER BY user_id",
    "retention_cohorts" ->
      "WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events), f AS (SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY user_id) SELECT cohort_day, day_offset, count(*) AS n_users FROM (SELECT DISTINCT ev.user_id, f.cohort_day, CAST(date_diff('day', f.cohort_day, ev.d) AS BIGINT) AS day_offset FROM ev JOIN f ON ev.user_id = f.user_id) t GROUP BY cohort_day, day_offset ORDER BY cohort_day, day_offset",
    "text_fingerprint" ->
      "SELECT doc_id, md5(lower(trim(text))) AS h_exact, md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS h_bag, list_reduce(list_transform(range(1, length(text) + 1), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)), (acc, c) -> (acc * 131 + c) % 2147483647) AS h_roll FROM documents ORDER BY doc_id",
    "multimodal_struct" ->
      "SELECT d.doc_id AS doc_id, CAST(to_json(struct_pack(lang := lang, source := source, n_chars := n_chars)) AS VARCHAR) AS meta_json, CAST(len(embedding) AS BIGINT) AS emb_dim, round(CAST(embedding[1] AS DOUBLE), 6) AS first_dim FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id ORDER BY doc_id",
    "multimodal_binary" ->
      "SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len, md5(text) AS content_md5, substring(text, 1, 4) AS head4 FROM documents ORDER BY doc_id",
    "stream_tumbling" ->
      "SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start, event_type, count(*) AS n_events FROM events GROUP BY 1, 2 ORDER BY w_start, event_type",
    "stream_join" ->
      "SELECT c.user_id AS user_id, c.event_id AS click_id, p.event_id AS purchase_id FROM events c JOIN events p ON c.user_id = p.user_id AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE WHERE c.event_type = 'click' AND p.event_type = 'purchase' ORDER BY user_id, click_id, purchase_id",
    "stream_sliding" ->
      "SELECT TIMESTAMP '1970-01-01 00:00:00' + (CAST(floor(epoch(ts)/900) AS BIGINT)*900 - j*900) * INTERVAL 1 SECOND AS w_start, event_type, count(*) AS n_events FROM events, (SELECT unnest([0,1,2,3]) AS j) js GROUP BY 1, 2 ORDER BY w_start, event_type",
    // gap compare must be exact microseconds: date_diff('second') counts
    // boundary crossings, splitting sessions on sub-second gaps that
    // Spark's exact timestamp arithmetic keeps together
    "stream_session" ->
      "WITH o AS (SELECT user_id, ts, event_id, CASE WHEN lag(ts) OVER w IS NULL OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END AS new_s FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), s AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM o) SELECT user_id, min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events FROM s GROUP BY user_id, sid ORDER BY user_id, session_start",
    "stream_dedup" ->
      "SELECT user_id, event_type, event_id, ts FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn FROM events) t WHERE rn = 1 ORDER BY user_id, event_type",
    "stream_stateful" ->
      "SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS sum_value FROM events GROUP BY user_id ORDER BY user_id",
    // stream_tws_counter: a REAL transformWithState availableNow run
    // whose final per-user counters must equal the plain GROUP BY.
    "stream_tws_counter" ->
      "SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS sum_value FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL GROUP BY user_id ORDER BY user_id",
    // stream_late_audit: rows a 10-min watermark drops under the
    // deterministic arrival jitter (event_id*7919 mod 1200 seconds);
    // epoch_ns//1000 floor-truncates to the same microsecond instants
    // Spark's `ts div 1000` read produces.
    "stream_late_audit" ->
      "WITH a AS (SELECT event_id, user_id, event_type, ts, epoch_ns(ts) // 1000 AS ts_us, epoch_ns(ts) // 1000 + event_id * 7919 % 1200 * 1000000 AS arrival_us FROM events), o AS (SELECT *, max(ts_us) OVER (ORDER BY arrival_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm_us FROM a) SELECT event_id, user_id, event_type, ts, hwm_us - 600000000 - ts_us AS late_us FROM o WHERE ts_us < hwm_us - 600000000 ORDER BY event_id",
    "stream_agg_sink" ->
      "SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start, event_type, count(*) AS n_events FROM events GROUP BY 1, 2 ORDER BY w_start, event_type",
    // stream_restart_recovery: exactly-once across a checkpoint restart —
    // the final complete-mode totals must equal the one-shot batch
    // aggregate over the FULL corpus (double-processing or lost state
    // shifts the exact counts).
    "stream_restart_recovery" ->
      "SELECT event_type, count(*) AS n_events, min(event_id) AS min_id, max(event_id) AS max_id FROM events WHERE event_type IS NOT NULL GROUP BY 1 ORDER BY event_type",
    // sink_dynamic_overwrite: final table state = corrected purchase
    // partition + untouched other partitions; a static-overwrite
    // regression loses every non-purchase row and fails this.
    "sink_dynamic_overwrite" ->
      ("WITH fin AS (SELECT event_type, CASE WHEN event_type = 'purchase' THEN round(value * 2, 4) ELSE value END AS value FROM events WHERE event_type IS NOT NULL) " +
       "SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows, round(sum(value), 4) AS total_value FROM fin GROUP BY 1 ORDER BY event_type"),
    // scan_json_malformed: every 20th staged record is broken; the
    // oracle re-derives the quarantine accounting arithmetically from
    // the base table (corrupt rows -> the bucket = -1 row).
    "scan_json_malformed" ->
      "WITH g AS (SELECT doc_id % 10 AS bucket, count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM documents WHERE doc_id % 20 <> 0 GROUP BY doc_id % 10), b AS (SELECT CAST(-1 AS BIGINT) AS bucket, count(*) AS n_rows, CAST(NULL AS BIGINT) AS sum_chars FROM documents WHERE doc_id % 20 = 0) SELECT bucket, n_rows, sum_chars FROM g UNION ALL SELECT bucket, n_rows, sum_chars FROM b ORDER BY bucket",
    // stream_foreach_batch: append mode emits exactly the windows whose
    // end the final watermark (max ts − 37 min) has passed — the oracle
    // derives that same finalized set from the batch table. Verified
    // exact at sf0.001/0.01/0.1.
    "stream_foreach_batch" ->
      "WITH agg AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start, event_type, count(*) AS n_events FROM events GROUP BY 1, 2), m AS (SELECT max(ts) AS mx FROM events) SELECT w_start, event_type, n_events FROM agg, m WHERE w_start + INTERVAL 1 HOUR <= mx - INTERVAL 37 MINUTE ORDER BY w_start, event_type",
    "agg_rollup" ->
      "SELECT r_name, n_name, round(sum(c_acctbal), 2) AS sum_bal, count(*) AS n_cust, GROUPING(r_name) AS g_region, GROUPING(n_name) AS g_nation FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY ROLLUP(r_name, n_name) ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST",
    "agg_cube" ->
      "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_items FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST",
    "agg_grouping_sets" ->
      "SELECT o_orderstatus, o_orderpriority, round(sum(o_totalprice), 2) AS sum_price, count(*) AS n_orders FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ()) ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST",
    "agg_collect_sorted" ->
      "SELECT user_id, string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_csv, count(*) AS n_events FROM events GROUP BY user_id ORDER BY user_id",
    "agg_pivot" ->
      "SELECT user_id, round(sum(CASE WHEN event_type = 'click' THEN value END), 4) AS click, round(sum(CASE WHEN event_type = 'error' THEN value END), 4) AS error, round(sum(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase, round(sum(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup, round(sum(CASE WHEN event_type = 'view' THEN value END), 4) AS view FROM events GROUP BY user_id ORDER BY user_id",
    "agg_unpivot" ->
      "WITH p AS (SELECT user_id, round(sum(CASE WHEN event_type = 'click' THEN value END), 4) AS click, round(sum(CASE WHEN event_type = 'error' THEN value END), 4) AS error, round(sum(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase, round(sum(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup, round(sum(CASE WHEN event_type = 'view' THEN value END), 4) AS view FROM events GROUP BY user_id) SELECT user_id, event_type, sum_value FROM (SELECT user_id, 'click' AS event_type, click AS sum_value FROM p UNION ALL SELECT user_id, 'error', error FROM p UNION ALL SELECT user_id, 'purchase', purchase FROM p UNION ALL SELECT user_id, 'signup', signup FROM p UNION ALL SELECT user_id, 'view', view FROM p) u WHERE sum_value IS NOT NULL ORDER BY user_id, event_type",
    "derived_scale_score" ->
      "WITH p AS (SELECT user_id, round(sum(CASE WHEN event_type = 'click' THEN value END), 4) AS click, round(sum(CASE WHEN event_type = 'error' THEN value END), 4) AS error, round(sum(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase, round(sum(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup, round(sum(CASE WHEN event_type = 'view' THEN value END), 4) AS view FROM events GROUP BY user_id) SELECT user_id, CAST(len(list_filter([click, error, purchase, signup, view], x -> x IS NOT NULL)) AS BIGINT) AS n_items, round(list_sum(list_filter([click, error, purchase, signup, view], x -> x IS NOT NULL)) / len(list_filter([click, error, purchase, signup, view], x -> x IS NOT NULL)), 4) AS scale_score FROM p ORDER BY user_id",
    "pipeline_clean_corpus" ->
      "WITH scored AS (SELECT doc_id, lang, text, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words, CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) AS vocab_diversity, md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bag_hash FROM documents), filtered AS (SELECT * FROM scored WHERE n_words >= 10 AND vocab_diversity >= 0.5), deduped AS (SELECT *, row_number() OVER (PARTITION BY bag_hash ORDER BY doc_id ASC) AS rn FROM filtered) SELECT doc_id, lang, n_words, round(vocab_diversity, 6) AS vocab_diversity, CAST(list_sum(list_transform(string_split(text, ' '), t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT) AS bpe_tokens FROM deduped WHERE rn = 1 ORDER BY doc_id",
    "agg_udaf_typed" ->
      "SELECT l_returnflag, round(exp(avg(ln(l_quantity))), 4) AS geo_mean_qty, count(*) AS n_items FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    "agg_stats" ->
      "SELECT l_returnflag, round(corr(l_quantity, l_extendedprice), 6) AS qp_corr, round(covar_pop(l_quantity, l_extendedprice), 4) AS qp_covar_pop, round(covar_samp(l_quantity, l_extendedprice), 4) AS qp_covar_samp, round(stddev_samp(l_quantity), 6) AS q_stddev, round(stddev_pop(l_quantity), 6) AS q_stddev_pop, round(var_samp(l_quantity), 6) AS q_var, round(var_pop(l_quantity), 6) AS q_var_pop FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    "join_cross" ->
      "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name",
    "fn_bitwise" ->
      "SELECT o_orderkey, o_orderkey & 255 AS b_and, o_orderkey | 4096 AS b_or, xor(o_orderkey, 1023) AS b_xor, (o_orderkey % 16) << 2 AS b_shl, o_orderkey >> 3 AS b_shr, ~o_orderkey AS b_not, CAST(bit_count(o_orderkey) AS BIGINT) AS b_pop FROM orders ORDER BY o_orderkey",
    "fn_string2" ->
      "SELECT doc_id, split_part(text, ' ', 2) AS second_word, translate(text, 'ae', 'xy') AS translated, lpad(CAST(doc_id AS VARCHAR), 6, '0') AS id_padded, rpad(lang, 4, '.') AS lang_padded, reverse(lang) AS lang_rev, repeat(lang, 2) AS lang_x2, CAST(strpos(text, 'data') AS BIGINT) AS data_pos, CAST(ascii(substring(text, 1, 1)) AS BIGINT) AS first_ascii, chr(CAST(65 + doc_id % 26 AS INTEGER)) AS letter FROM documents ORDER BY doc_id",
    "fn_array2" ->
      "SELECT doc_id, coalesce(CAST(list_position(string_split(text, ' '), 'data') AS BIGINT), 0) AS pos_data, coalesce(array_to_string(list_sort(list_distinct(list_cat(string_split(text, ' ')[1:5], string_split(text, ' ')[6:10]))), ','), '') AS union_sorted, coalesce(array_to_string(list_sort(list_distinct(list_filter(string_split(text, ' ')[1:5], x -> NOT list_contains(string_split(text, ' ')[6:10], x)))), ','), '') AS except_sorted, len(list_intersect(string_split(text, ' ')[1:5], string_split(text, ' ')[6:10])) > 0 AS head_tail_overlap, coalesce(array_to_string(flatten([string_split(text, ' ')[1:5], string_split(text, ' ')[6:10]]), ','), '') AS first10, coalesce(array_to_string(list_sort(list_filter(string_split(text, ' '), x -> x <> 'data')), ','), '') AS removed_sorted, list_min(string_split(text, ' ')) AS w_min, list_max(string_split(text, ' ')) AS w_max, list_contains(string_split(text, ' '), 'pipeline') AS has_pipeline FROM documents ORDER BY doc_id",
    "fn_regex" ->
      "SELECT doc_id, coalesce(array_to_string(regexp_extract_all(text, '[a-z]+'), ','), '') AS all_tokens, CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_tokens, CAST(len(regexp_extract_all(text, '(da|pi)[a-z]*')) AS BIGINT) AS n_dapi, regexp_matches(text, '^[a-z]') AS starts_lower, regexp_replace(text, '^[a-z]+', 'HEAD') AS head_replaced FROM documents ORDER BY doc_id",
    "fn_date2" ->
      "SELECT o_orderkey, last_day(CAST(o_orderdate AS DATE)) AS month_end, CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week, CAST(quarter(o_orderdate) AS BIGINT) AS qtr, CAST(dayofyear(o_orderdate) AS BIGINT) AS doy, make_date(CAST(year(o_orderdate) AS INTEGER), CAST(month(o_orderdate) AS INTEGER), CAST(dayofmonth(o_orderdate) AS INTEGER)) AS rebuilt_date FROM orders ORDER BY o_orderkey",
    "fn_hash" ->
      "SELECT doc_id, md5(text) AS h_md5, sha256(text) AS h_sha256, to_base64(CAST(substring(text, 1, 12) AS BLOB)) AS b64, substring(text, 1, 12) AS b64_roundtrip FROM documents ORDER BY doc_id",
    "agg_percentile" ->
      "SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.25), 4) AS price_q25, round(quantile_cont(l_extendedprice, 0.5), 4) AS price_q50, round(quantile_cont(l_extendedprice, 0.75), 4) AS price_q75, round(quantile_cont(l_quantity, 0.5), 4) AS median_qty FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    "win_rank" ->
      "SELECT * FROM (SELECT user_id, event_id, round(value, 4) AS value, row_number() OVER w AS rn, rank() OVER w AS rnk, dense_rank() OVER w AS drnk FROM events WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id ASC)) t WHERE rn <= 5 ORDER BY user_id, rn",
    "win_topk_per_group" ->
      "SELECT * FROM (SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS o_totalprice, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn FROM orders) t WHERE rn <= 3 ORDER BY o_custkey, rn",
    "win_lag_lead" ->
      "SELECT user_id, event_id, ts, date_diff('second', lag(ts, 1) OVER w, ts) AS gap_sec, lead(event_id, 1) OVER w AS next_event_id FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) ORDER BY user_id, ts, event_id",
    "win_running" ->
      "WITH daily AS (SELECT CAST(ts AS DATE) AS d, round(sum(value), 4) AS day_value FROM events GROUP BY 1) SELECT d, day_value, round(sum(day_value) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_sum, round(avg(day_value) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7 FROM daily ORDER BY d",
    "win_range_frame" ->
      "SELECT c_mktsegment, c_custkey, round(c_acctbal, 4) AS c_acctbal, count(1) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW) AS peers_within_100 FROM customer ORDER BY c_mktsegment, c_acctbal, c_custkey",
    "win_ntile_percent" ->
      "SELECT c_mktsegment, c_custkey, ntile(4) OVER w AS quartile, round(percent_rank() OVER w, 6) AS pct_rank, round(cume_dist() OVER w, 6) AS cume FROM customer WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC) ORDER BY c_mktsegment, c_custkey",
    "win_first_last" ->
      "SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, round(first_value(value) OVER w, 4) AS first_value, round(last_value(value) OVER w, 4) AS last_value FROM events WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts ASC, event_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) ORDER BY user_id, d",
    "win_distinct_running" ->
      "SELECT event_id, count(DISTINCT user_id) OVER (ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS distinct_users_so_far FROM events WHERE event_type = 'purchase' ORDER BY event_id",
    "sort_multi" ->
      "SELECT o_orderkey, o_orderpriority, round(o_totalprice, 4) AS o_totalprice FROM orders ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey ASC",
    "limit_topk" ->
      "SELECT l_orderkey, l_linenumber, round(l_extendedprice, 4) AS l_extendedprice FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 10",
    "sample_deterministic" ->
      "SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey",
    "set_union_all" ->
      "SELECT user_id, count(*) AS n_rows FROM (SELECT user_id FROM events WHERE event_type = 'purchase' UNION ALL SELECT user_id FROM events WHERE event_type = 'signup') t GROUP BY user_id ORDER BY user_id",
    "set_union_distinct" ->
      "SELECT user_id FROM events WHERE event_type = 'purchase' UNION SELECT user_id FROM events WHERE event_type = 'signup' ORDER BY user_id",
    "set_intersect" ->
      "SELECT user_id FROM events WHERE event_type = 'click' INTERSECT SELECT user_id FROM events WHERE event_type = 'purchase' ORDER BY user_id",
    "set_except" ->
      "SELECT user_id, CAST(ts AS DATE) AS d FROM events WHERE event_type = 'view' EXCEPT SELECT user_id, CAST(ts AS DATE) FROM events WHERE event_type = 'purchase' ORDER BY user_id, d",
    // sql_recursive_cte: DuckDB replays the identical WITH RECURSIVE
    // ancestor walk (its integer-division spelling is //); depth is
    // exact integer arithmetic on both engines, nothing to round.
    "sql_recursive_cte" ->
      "WITH RECURSIVE walk AS (SELECT s_suppkey AS node, s_suppkey AS cur, 0 AS depth FROM supplier UNION ALL SELECT node, cur // 2 AS cur, depth + 1 AS depth FROM walk WHERE cur > 1) SELECT CAST(depth AS BIGINT) AS chain_len, count(*) AS n_chains, min(node) AS min_node, max(node) AS max_node FROM (SELECT node, max(depth) AS depth FROM walk GROUP BY node) GROUP BY depth ORDER BY chain_len",
    // graph_degree_stats: both marginal degree distributions of the
    // part↔supplier edge set; the share denominator is the per-side
    // node total, rounded like every derived double.
    "graph_degree_stats" ->
      "WITH e AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem), p AS (SELECT 'part' AS side, degree, count(*) AS n_nodes FROM (SELECT l_partkey, count(*) AS degree FROM e GROUP BY 1) GROUP BY 2), s AS (SELECT 'supplier' AS side, degree, count(*) AS n_nodes FROM (SELECT l_suppkey, count(*) AS degree FROM e GROUP BY 1) GROUP BY 2), u AS (SELECT * FROM p UNION ALL SELECT * FROM s) SELECT side, degree, n_nodes, round(CAST(n_nodes AS DOUBLE) / sum(n_nodes) OVER (PARTITION BY side), 6) AS node_share FROM u ORDER BY side, degree",
    // stats_jackknife: identical leave-one-day-out replicate algebra on
    // the 4-rounded daily (revenue, count) pairs; Tukey SE uses the
    // var_samp identity Σ(θ_i−θ̄)² = (n−1)·var_samp(θ_i) on both sides.
    "stats_jackknife" ->
      "WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 4) AS r, CAST(count(*) AS DOUBLE) AS c FROM events WHERE event_type = 'purchase' GROUP BY 1, 2), repl AS (SELECT event_type, count(*) OVER (PARTITION BY event_type) AS n, (sum(r) OVER (PARTITION BY event_type) - r) / (sum(c) OVER (PARTITION BY event_type) - c) AS th_i, sum(r) OVER (PARTITION BY event_type) / sum(c) OVER (PARTITION BY event_type) AS theta FROM daily) SELECT event_type, any_value(n) AS n_days, round(any_value(theta), 6) AS theta, round(sqrt((any_value(n) - 1) * (any_value(n) - 1) / any_value(n) * var_samp(th_i)), 6) AS jk_se, round(any_value(theta) - 1.96 * sqrt((any_value(n) - 1) * (any_value(n) - 1) / any_value(n) * var_samp(th_i)), 6) AS ci_lo, round(any_value(theta) + 1.96 * sqrt((any_value(n) - 1) * (any_value(n) - 1) / any_value(n) * var_samp(th_i)), 6) AS ci_hi FROM repl GROUP BY event_type ORDER BY event_type",
    // timeseries_lag_features: window feature block over the same
    // 4-rounded daily grid; nullif guards the percent-change divisor.
    "timeseries_lag_features" ->
      "WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 4) AS x FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2) SELECT event_type, d, x, lag(x, 1) OVER w AS lag_1, lag(x, 7) OVER w AS lag_7, round(avg(x) OVER w7, 6) AS roll_mean_7, min(x) OVER w7 AS roll_min_7, max(x) OVER w7 AS roll_max_7, round(x - lag(x, 1) OVER w, 6) AS delta_1, round((x - lag(x, 1) OVER w) / nullif(lag(x, 1) OVER w, 0), 6) AS pct_change_1 FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d), w7 AS (PARTITION BY event_type ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) ORDER BY event_type, d",
    // text_gopher_rules: list-lambda replay of every rule; the word-
    // share rule re-derives per-(doc, word) counts via unnest+group.
    // Integer arithmetic everywhere until the final rounded ratios.
    "text_gopher_rules" ->
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE text IS NOT NULL), base AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words, round(CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws), 6) AS mean_word_len, CAST(len(list_filter(ws, x -> list_contains(['the','a','of','to','and','in','is','that','for','it'], x))) AS BIGINT) AS n_stopwords, round(CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(ws), 6) AS alpha_word_ratio FROM w), f AS (SELECT doc_id, max(c) AS max_freq FROM (SELECT doc_id, word, count(*) AS c FROM (SELECT doc_id, unnest(ws) AS word FROM w) GROUP BY 1, 2) GROUP BY 1) SELECT b.doc_id, n_words, mean_word_len, n_stopwords, alpha_word_ratio, round(CAST(max_freq AS DOUBLE) / n_words, 6) AS max_word_ratio, n_words BETWEEN 50 AND 100000 AS rule_word_count, mean_word_len BETWEEN 3.0 AND 10.0 AS rule_word_len, n_stopwords >= 2 AS rule_stopwords, alpha_word_ratio >= 0.8 AS rule_alpha, round(CAST(max_freq AS DOUBLE) / n_words, 6) <= 0.2 AS rule_repetition, (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0) AND n_stopwords >= 2 AND alpha_word_ratio >= 0.8 AND round(CAST(max_freq AS DOUBLE) / n_words, 6) <= 0.2 AS pass_gopher FROM base b JOIN f USING (doc_id) ORDER BY doc_id",
    // stats_bootstrap_ci: the LCG + Poisson-CDF inversion is exact
    // integer arithmetic, so DuckDB draws the identical 32 resamples;
    // only the final weighted means/SE are floating and rounded.
    "stats_bootstrap_ci" ->
      "WITH p AS (SELECT event_id, value FROM events WHERE event_type = 'purchase'), r AS (SELECT event_id, value, unnest(range(1, 33)) AS rep FROM p), u AS (SELECT rep, value, ((event_id % 999983) * 1103515245 + rep * 12345 + 6789) % 1000000 AS h FROM r), w AS (SELECT rep, value, CASE WHEN h < 367879 THEN 0 WHEN h < 735759 THEN 1 WHEN h < 919699 THEN 2 WHEN h < 981012 THEN 3 WHEN h < 996340 THEN 4 WHEN h < 999406 THEN 5 WHEN h < 999917 THEN 6 ELSE 7 END AS wt FROM u), m AS (SELECT rep, sum(wt * value) / sum(wt) AS mu FROM w GROUP BY rep), b AS (SELECT avg(mu) AS boot_mean, stddev_samp(mu) AS se FROM m), s AS (SELECT count(*) AS n_purchases, avg(value) AS mean_value FROM p) SELECT CAST(n_purchases AS BIGINT) AS n_purchases, round(mean_value, 6) AS mean_value, CAST(32 AS BIGINT) AS n_reps, round(boot_mean, 6) AS boot_mean, round(se, 6) AS boot_se, round(mean_value - 1.96 * se, 6) AS ci_lo, round(mean_value + 1.96 * se, 6) AS ci_hi FROM s CROSS JOIN b",
    // fn_interval: DuckDB's date_diff counts boundary CROSSINGS while
    // Spark's timestampdiff counts COMPLETE units — equal for HOUR on
    // midnight-aligned stamps; the quarter diff is re-derived as
    // complete-months arithmetic (day-of-month borrow) floor-divided.
    "fn_interval" ->
      "SELECT o_orderkey, CAST(o_orderdate + INTERVAL 45 DAY AS DATE) AS plus_45d, CAST(o_orderdate - INTERVAL 14 DAY AS DATE) AS minus_2w, CAST(o_orderdate + INTERVAL '1 year 3 months' AS DATE) AS plus_1y3m, date_diff('hour', o_orderdate, TIMESTAMP '1998-12-01 00:00:00') AS hours_to_cutoff, CAST(trunc(((1998 - year(o_orderdate)) * 12 + (12 - month(o_orderdate)) - CASE WHEN o_orderdate <= TIMESTAMP '1998-12-01 00:00:00' AND day(o_orderdate) > 1 THEN 1 ELSE 0 END) / 3.0) AS BIGINT) AS quarters_to_cutoff, o_orderdate + INTERVAL 30 DAY < TIMESTAMP '1998-06-01 00:00:00' AS overdue_by_jun98 FROM orders ORDER BY o_orderkey",
    // agg_bitmap_distinct: the oracle is plain count(DISTINCT) — the
    // bitmap two-level algebra must reproduce it EXACTLY, proving the
    // scale pattern lossless rather than approximate.
    "agg_bitmap_distinct" ->
      "SELECT event_type, count(DISTINCT user_id) AS ndv_users FROM events WHERE user_id IS NOT NULL GROUP BY event_type ORDER BY event_type",
    // event_sequence_pattern: journey rebuilt with ordered string_agg;
    // regexp_extract_all length = Java's non-overlapping find count for
    // these literal-class patterns; first-position logic via strpos.
    "event_sequence_pattern" ->
      "WITH j AS (SELECT user_id, string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id) AS journey FROM events WHERE user_id IS NOT NULL GROUP BY 1) SELECT user_id, CAST(length(journey) AS BIGINT) AS n_events, CAST(len(regexp_extract_all(journey, 'vp')) AS BIGINT) AS n_direct_vp, CAST(len(regexp_extract_all(journey, 'vc+p')) AS BIGINT) AS n_assisted, (strpos(journey, 'e') > 0 AND (strpos(journey, 'p') = 0 OR strpos(journey, 'e') < strpos(journey, 'p'))) AS error_before_purchase FROM j ORDER BY user_id",
    // graph_bfs_distance: the recursive CTE enumerates (node, dist)
    // pairs level-by-level with set-UNION dedup and a depth-4 cutoff;
    // min(dist) per node IS first-visit level, so the profile equals
    // the engine's synchronous frontier expansion exactly.
    "graph_bfs_distance" ->
      ("WITH RECURSIVE items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
       "e0 AS (SELECT a.p AS u, b.p AS v FROM items a JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2), " +
       "e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0), " +
       "bfs AS (SELECT (SELECT min(u) FROM e) AS node, CAST(0 AS BIGINT) AS dist " +
       "UNION SELECT e.v AS node, bfs.dist + 1 AS dist FROM bfs JOIN e ON bfs.node = e.u WHERE bfs.dist < 4) " +
       "SELECT dist, count(*) AS n_nodes FROM (SELECT node, min(dist) AS dist FROM bfs WHERE node IS NOT NULL GROUP BY node) t GROUP BY dist ORDER BY dist"),
    // graph_jaccard_neighbors: wedge join on the shared neighbor over
    // the symmetric adjacency; integer degree algebra until the one
    // rounded division, (a, b) tie-order makes the top-20 total.
    "graph_jaccard_neighbors" ->
      ("WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
       "e0 AS (SELECT a.p AS u, b.p AS v FROM items a JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2), " +
       "adj AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0), " +
       "deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY 1), " +
       "c AS (SELECT x.u AS a, y.u AS b, count(*) AS common FROM adj x JOIN adj y ON x.v = y.v AND x.u < y.u GROUP BY 1, 2) " +
       "SELECT a, b, common, round(CAST(common AS DOUBLE) / (da.deg + db.deg - common), 6) AS jaccard " +
       "FROM c JOIN deg da ON c.a = da.u JOIN deg db ON c.b = db.u " +
       "ORDER BY jaccard DESC, a ASC, b ASC LIMIT 20"),
    // timeseries_interpolate: both anchors ride IGNORE NULLS window
    // structs over the same grid as ffill; the interpolation algebra
    // ((nv-pv)·Δd/span, left-to-right) is written identically on both
    // engines over 4-rounded day sums, so the rounded line matches.
    "timeseries_interpolate" ->
      ("WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d, round(sum(value), 4) AS day_value FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL GROUP BY 1, 2), " +
       "span AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1), " +
       "grid AS (SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d FROM span), " +
       "j AS (SELECT user_id, d, day_value FROM grid LEFT JOIN daily USING (user_id, d)), " +
       "w AS (SELECT user_id, d, day_value, " +
       "last_value(CASE WHEN day_value IS NOT NULL THEN struct_pack(pd := d, pv := day_value) END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY d ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p, " +
       "first_value(CASE WHEN day_value IS NOT NULL THEN struct_pack(nd := d, nv := day_value) END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY d ASC ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n FROM j) " +
       "SELECT user_id, d, round(CASE WHEN day_value IS NOT NULL THEN day_value WHEN p IS NULL THEN n.nv WHEN n IS NULL THEN p.pv " +
       "ELSE p.pv + (n.nv - p.pv) * CAST(date_diff('day', p.pd, d) AS DOUBLE) / date_diff('day', p.pd, n.nd) END, 6) AS filled_value, " +
       "day_value IS NOT NULL AS observed FROM w ORDER BY user_id, d"),
    // stats_benjamini_hochberg: the A&S 7.1.26 polynomial is the same
    // literal arithmetic on both engines over 4-rounded moments, so
    // ranks agree exactly; the step-up min is a reverse running min.
    "stats_benjamini_hochberg" ->
      ("WITH base AS (SELECT event_type, hour(ts) AS hh, value FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL), " +
       "cells AS (SELECT event_type, hh, count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS cell_mean FROM base GROUP BY 1, 2), " +
       "typ AS (SELECT event_type, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mu, sqrt(greatest(0.0, (CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) - CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) * CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)) / (count(*) - 1))) AS sigma FROM base GROUP BY 1), " +
       "zt AS (SELECT c.event_type, hh, n, (cell_mean - mu) / (sigma / sqrt(n)) AS z FROM cells c JOIN typ USING (event_type)), " +
       "pt AS (SELECT event_type, hh, n, z, least(1.0, 2.0 * (0.3989422804014327 * exp(-abs(z) * abs(z) / 2) * ((1.0 / (1.0 + 0.2316419 * abs(z))) * (0.319381530 + (1.0 / (1.0 + 0.2316419 * abs(z))) * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * abs(z))) * (1.781477937 + (1.0 / (1.0 + 0.2316419 * abs(z))) * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * abs(z))) * 1.330274429))))))) AS p FROM zt), " +
       "rk AS (SELECT *, count(*) OVER () AS m, row_number() OVER (ORDER BY p ASC, event_type ASC, hh ASC) AS r FROM pt), " +
       "ad AS (SELECT *, least(1.0, min(p * m / r) OVER (ORDER BY p DESC, event_type DESC, hh DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS p_adj FROM rk) " +
       "SELECT event_type, hh, CAST(n AS BIGINT) AS n, round(z, 4) AS z, round(p, 6) AS p_value, round(p_adj, 6) AS p_adj, p_adj <= 0.10 AS significant FROM ad ORDER BY event_type, hh"),
    // event_funnel_time: day-grain latency keeps the diff integer-exact
    // (no epoch truncation semantics to reconcile across engines).
    "event_funnel_time" ->
      ("WITH fv AS (SELECT user_id, min(ts) AS vt FROM events WHERE user_id IS NOT NULL AND event_type = 'view' GROUP BY 1), " +
       "pa AS (SELECT f.user_id, min(e.ts) AS pt FROM fv f JOIN events e ON e.user_id = f.user_id AND e.event_type = 'purchase' AND e.ts >= f.vt GROUP BY 1), " +
       "c AS (SELECT fv.user_id, date_diff('day', CAST(vt AS DATE), CAST(pt AS DATE)) AS days FROM fv LEFT JOIN pa ON fv.user_id = pa.user_id) " +
       "SELECT count(*) AS n_viewers, count(days) AS n_converted, round(CAST(count(days) AS DOUBLE) / count(*), 6) AS conv_rate, CAST(min(days) AS BIGINT) AS min_days, round(avg(days), 6) AS avg_days, CAST(max(days) AS BIGINT) AS max_days FROM c"),
    // pipeline_repeat_upsample: ceil algebra over the source counts and
    // a range-explode — closed-form repetition, replayed exactly.
    "pipeline_repeat_upsample" ->
      ("WITH c AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1), " +
       "r AS (SELECT source, CAST(least(ceil(CAST((SELECT max(n_src) FROM c) AS DOUBLE) / n_src), 4) AS BIGINT) AS n_copies FROM c) " +
       "SELECT doc_id, d.source AS source, n_copies, unnest(range(1, n_copies + 1)) AS copy_idx FROM documents d JOIN r ON d.source = r.source ORDER BY doc_id, copy_idx"),
    // sim_range_search: same broadcast-query dot product as the top-k
    // oracle; the τ filter applies to the 6-rounded score on BOTH
    // engines, so the radius boundary is bit-identical.
    "sim_range_search" ->
      ("WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), " +
       "sc AS (SELECT e.vec_id AS vec_id, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * qv[i])), 6) AS cos FROM embeddings e, q WHERE e.vec_id <> 0) " +
       "SELECT vec_id, cos FROM sc WHERE cos >= 0.2 ORDER BY cos DESC, vec_id ASC"),
    // text_ngram_novelty: same distinct-trigram frame as the
    // boilerplate oracle; first-owner = min(doc_id) per gram, then a
    // doc-grain re-aggregate — integer counts until the one division.
    "text_ngram_novelty" ->
      ("WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE text IS NOT NULL), " +
       "g AS (SELECT DISTINCT doc_id, gram FROM (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram FROM w) u), " +
       "f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1) " +
       "SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams, CAST(count(*) FILTER (f.first_doc = g.doc_id) AS BIGINT) AS n_novel, round(CAST(count(*) FILTER (f.first_doc = g.doc_id) AS DOUBLE) / count(*), 6) AS novelty FROM g JOIN f USING (gram) GROUP BY 1 ORDER BY doc_id"),
    // timeseries_seasonality: DuckDB's dayofweek is already Sunday=0,
    // matching Spark's dayofweek-1; the overall mean is the same
    // weighted-window algebra over the tiny weekday frame.
    "timeseries_seasonality" ->
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 4) AS x FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2), " +
       "b AS (SELECT event_type, CAST(dayofweek(d) AS BIGINT) AS dow, CAST(count(*) AS BIGINT) AS n_days, avg(x) AS avg_x FROM daily GROUP BY 1, 2) " +
       "SELECT event_type, dow, n_days, round(avg_x, 6) AS avg_value, round(avg_x / (sum(avg_x * n_days) OVER (PARTITION BY event_type) / sum(n_days) OVER (PARTITION BY event_type)), 6) AS seasonal_index FROM b ORDER BY event_type, dow"),
    // stats_theil_sen: identical pair algebra over 4-rounded day sums
    // and integer day offsets; DuckDB's quantile_cont uses the same
    // p*(n-1) interpolation as Spark's exact percentile.
    "stats_theil_sen" ->
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 4) AS y FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2), " +
       "xs AS (SELECT event_type, y, CAST(date_diff('day', min(d) OVER (PARTITION BY event_type), d) AS BIGINT) AS x FROM daily), " +
       "p AS (SELECT a.event_type AS event_type, (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS slope FROM xs a JOIN xs b ON a.event_type = b.event_type AND a.x < b.x) " +
       "SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs, round(quantile_cont(slope, 0.5), 6) AS theil_slope FROM p GROUP BY 1 ORDER BY event_type"),
    // graph_kcore: the four peel rounds unroll as chained CTEs — the
    // same degree-filter + endpoint-join algebra the iterative kernel
    // runs, integer counts throughout.
    "graph_kcore" ->
      ("WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
       // MATERIALIZED is load-bearing: each peel references its
       // predecessor three times (two endpoint joins + the degree
       // count) and the stat row re-references it — inlined, the CTE
       // tree re-evaluates the Σbasket² base join 3^4 times and the
       // sf0.1 oracle never finishes
       "e0 AS MATERIALIZED (SELECT a.p AS u, b.p AS v FROM items a JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2), " +
       "a0 AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0), " +
       "n1 AS MATERIALIZED (SELECT u FROM (SELECT u, count(*) AS deg FROM a0 GROUP BY 1) t WHERE deg >= 2), " +
       "a1 AS MATERIALIZED (SELECT a.u, a.v FROM a0 a JOIN n1 x ON a.u = x.u JOIN n1 y ON a.v = y.u), " +
       "n2 AS MATERIALIZED (SELECT u FROM (SELECT u, count(*) AS deg FROM a1 GROUP BY 1) t WHERE deg >= 2), " +
       "a2 AS MATERIALIZED (SELECT a.u, a.v FROM a1 a JOIN n2 x ON a.u = x.u JOIN n2 y ON a.v = y.u), " +
       "n3 AS MATERIALIZED (SELECT u FROM (SELECT u, count(*) AS deg FROM a2 GROUP BY 1) t WHERE deg >= 2), " +
       "a3 AS MATERIALIZED (SELECT a.u, a.v FROM a2 a JOIN n3 x ON a.u = x.u JOIN n3 y ON a.v = y.u), " +
       "n4 AS MATERIALIZED (SELECT u FROM (SELECT u, count(*) AS deg FROM a3 GROUP BY 1) t WHERE deg >= 2), " +
       "a4 AS MATERIALIZED (SELECT a.u, a.v FROM a3 a JOIN n4 x ON a.u = x.u JOIN n4 y ON a.v = y.u) " +
       "SELECT * FROM (" +
       "SELECT CAST(1 AS BIGINT) AS round, (SELECT CAST(count(*) AS BIGINT) FROM n1) AS n_nodes, (SELECT count(*) // 2 FROM a1) AS n_edges " +
       "UNION ALL SELECT CAST(2 AS BIGINT), (SELECT CAST(count(*) AS BIGINT) FROM n2), (SELECT count(*) // 2 FROM a2) " +
       "UNION ALL SELECT CAST(3 AS BIGINT), (SELECT CAST(count(*) AS BIGINT) FROM n3), (SELECT count(*) // 2 FROM a3) " +
       "UNION ALL SELECT CAST(4 AS BIGINT), (SELECT CAST(count(*) AS BIGINT) FROM n4), (SELECT count(*) // 2 FROM a4)) t ORDER BY round"),
    // stats_spearman: midrank = rank() + (ties-1)/2 — algebraically the
    // Spark side's cum_before + (ties+1)/2; ranks are exact half-
    // integers, so only corr's final double rounds.
    // stats_spearman: DOUBLED midranks (2·midrank = 2·rank + ties − 1)
    // are exact integers, so the six moment sums are exact in HUGEINT
    // (Spark keeps them in DECIMAL(38,0)) and order-free; ρ then comes
    // from the IDENTICAL double-precision closed form on both engines —
    // corr()'s streaming FP co-moments would be accumulation-order-
    // dependent. Scaling both rank vectors by 2 leaves ρ unchanged.
    "stats_spearman" ->
      ("WITH base AS (SELECT l_returnflag AS f, round(CAST(l_quantity AS DOUBLE), 4) AS q, round(CAST(l_extendedprice AS DOUBLE), 4) AS p FROM lineitem), " +
       "r AS (SELECT f, 2*rank() OVER (PARTITION BY f ORDER BY q) + count(*) OVER (PARTITION BY f, q) - 1 AS rq2, " +
       "2*rank() OVER (PARTITION BY f ORDER BY p) + count(*) OVER (PARTITION BY f, p) - 1 AS rp2 FROM base) " +
       "SELECT f AS l_returnflag, CAST(count(*) AS BIGINT) AS n, " +
       "round((CAST(count(*) AS DOUBLE) * CAST(sum(CAST(rq2 AS HUGEINT) * rp2) AS DOUBLE) " +
       "- CAST(sum(CAST(rq2 AS HUGEINT)) AS DOUBLE) * CAST(sum(CAST(rp2 AS HUGEINT)) AS DOUBLE)) " +
       "/ nullif(sqrt((CAST(count(*) AS DOUBLE) * CAST(sum(CAST(rq2 AS HUGEINT) * rq2) AS DOUBLE) " +
       "- CAST(sum(CAST(rq2 AS HUGEINT)) AS DOUBLE) * CAST(sum(CAST(rq2 AS HUGEINT)) AS DOUBLE)) " +
       "* (CAST(count(*) AS DOUBLE) * CAST(sum(CAST(rp2 AS HUGEINT) * rp2) AS DOUBLE) " +
       "- CAST(sum(CAST(rp2 AS HUGEINT)) AS DOUBLE) * CAST(sum(CAST(rp2 AS HUGEINT)) AS DOUBLE))), 0.0), 6) AS spearman_rho " +
       "FROM r GROUP BY 1 ORDER BY 1"),
    // timeseries_rolling_median: the RANGE frame is calendar-based on
    // the same epoch day index; quantile_cont interpolates identically
    // to Spark's exact percentile over the same 4-rounded day sums.
    "timeseries_rolling_median" ->
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 4) AS day_value FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2), " +
       "i AS (SELECT *, date_diff('day', DATE '1970-01-01', d) AS day_idx FROM daily) " +
       "SELECT event_type, d, day_value, round(quantile_cont(day_value, 0.5) OVER w, 6) AS rolling_median_7d, CAST(count(*) OVER w AS BIGINT) AS n_in_window " +
       "FROM i WINDOW w AS (PARTITION BY event_type ORDER BY day_idx RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) ORDER BY event_type, d"),
    // stats_cohens_kappa: four FILTERed boolean counts, then the same
    // rounded p_o/p_e arithmetic — integer-exact until the divisions.
    "stats_cohens_kappa" ->
      ("WITH f AS (SELECT (len(string_split(text, ' ')) >= 50) AS a, (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) >= 0.5) AS b FROM documents WHERE text IS NOT NULL), " +
       "c AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(*) FILTER (a AND b) AS BIGINT) AS n_both_keep, CAST(count(*) FILTER (a AND NOT b) AS BIGINT) AS n_a_only, CAST(count(*) FILTER (NOT a AND b) AS BIGINT) AS n_b_only, CAST(count(*) FILTER (NOT a AND NOT b) AS BIGINT) AS n_both_drop FROM f), " +
       "p AS (SELECT *, round(CAST(n_both_keep + n_both_drop AS DOUBLE) / n, 6) AS p_observed, round(CAST((n_both_keep + n_a_only) * (n_both_keep + n_b_only) + (n_b_only + n_both_drop) * (n_a_only + n_both_drop) AS DOUBLE) / (n * n), 6) AS p_expected FROM c) " +
       "SELECT n, n_both_keep, n_a_only, n_b_only, n_both_drop, p_observed, p_expected, round((p_observed - p_expected) / (1.0 - p_expected), 6) AS kappa FROM p"),
    // pipeline_length_histogram: ⌊log₂⌋ via binary-string length on
    // both engines (never floating log2 at the power-of-two boundary);
    // the cumulative fraction rides the ≤64-row bucket frame.
    "pipeline_length_histogram" ->
      ("WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents WHERE text IS NOT NULL), " +
       "t2 AS (SELECT n_tokens, CAST(length(bin(n_tokens)) - 1 AS BIGINT) AS bucket FROM t WHERE n_tokens >= 1), " +
       "h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM t2 GROUP BY 1) " +
       "SELECT bucket, CAST(1 << CAST(bucket AS INT) AS BIGINT) AS min_len, n_docs, total_tokens, round(CAST(sum(total_tokens) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / sum(total_tokens) OVER (), 6) AS cum_token_frac FROM h ORDER BY bucket"),
    // privacy_k_anonymity: identical QI grouping (type, value hundred-
    // band, hour) and the same k=5 / l=3 thresholds; the report is one
    // aggregate over the tiny group frame on both engines.
    "privacy_k_anonymity" ->
      ("WITH g AS (SELECT event_type, CAST(floor(value / 100) AS BIGINT) AS value_band, hour(ts) AS hh, " +
       "count(*) AS n_rows, count(DISTINCT user_id) AS n_sensitive " +
       "FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL GROUP BY 1, 2, 3) " +
       "SELECT CAST(sum(n_rows) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_groups, " +
       "CAST(min(n_rows) AS BIGINT) AS min_group_size, " +
       "CAST(sum(CASE WHEN n_rows < 5 THEN 1 ELSE 0 END) AS BIGINT) AS k_violating_groups, " +
       "CAST(sum(CASE WHEN n_rows < 5 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_to_suppress, " +
       "CAST(sum(CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END) AS BIGINT) AS l_violating_groups, " +
       "round(CAST(sum(CASE WHEN n_rows < 5 THEN n_rows ELSE 0 END) AS DOUBLE) / sum(n_rows), 6) AS suppression_rate FROM g"),
    // stats_levene: the same two-aggregate algebra over 4-rounded group
    // means; the F assembles from the tiny group summary like the
    // anova oracle.
    "stats_levene" ->
      ("WITH base AS (SELECT event_type, value FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL), " +
       "m AS (SELECT event_type, round(avg(value), 4) AS mu FROM base GROUP BY 1), " +
       "zt AS (SELECT b.event_type, abs(value - mu) AS z FROM base b JOIN m USING (event_type)), " +
       "g AS (SELECT event_type, count(*) AS n, avg(z) AS mz, var_samp(z) AS vz FROM zt GROUP BY 1), " +
       "t AS (SELECT sum(n) AS n_total, count(*) AS k, sum(n * mz) / sum(n) AS gm FROM g), " +
       "f AS (SELECT n_total, k, sum(n * (mz - gm) * (mz - gm)) AS ssb, sum((n - 1) * vz) AS ssw FROM g, t GROUP BY 1, 2, gm) " +
       "SELECT CAST(n_total AS BIGINT) AS n_total, CAST(k AS BIGINT) AS k_groups, round(ssb, 4) AS ss_between, round(ssw, 4) AS ss_within, round((ssb / (k - 1)) / (ssw / (n_total - k)), 6) AS w_stat FROM f"),
    // stats_wilcoxon_signed_rank: identical midrank algebra (rank +
    // (ties-1)/2) over integer count diffs — exact half-integer ranks,
    // closed-form normal approximation replayed literally.
    "stats_wilcoxon_signed_rank" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) FILTER (event_type = 'view') - count(*) FILTER (event_type = 'purchase') AS diff FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1), " +
       "nz AS (SELECT diff FROM daily WHERE diff <> 0), " +
       "r AS (SELECT diff, rank() OVER (ORDER BY abs(diff)) + (count(*) OVER (PARTITION BY abs(diff)) - 1) / 2.0 AS r FROM nz), " +
       "agg AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs, sum(CASE WHEN diff > 0 THEN r ELSE 0 END) AS wp, sum(CASE WHEN diff < 0 THEN r ELSE 0 END) AS wm FROM r) " +
       "SELECT n_pairs, round(wp, 6) AS w_plus, round(wm, 6) AS w_minus, round((wp - n_pairs * (n_pairs + 1) / 4.0) / sqrt(n_pairs * (n_pairs + 1) * (2 * n_pairs + 1) / 24.0), 6) AS z_stat FROM agg"),
    // graph_adamic_adar: the jaccard wedge join with 1/ln(deg(center))
    // weights — a shared neighbor has degree >= 2, so ln > 0 always.
    "graph_adamic_adar" ->
      ("WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
       "e0 AS (SELECT a.p AS u, b.p AS v FROM items a JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2), " +
       "adj AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0), " +
       "deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY 1), " +
       "wedge AS (SELECT x.u AS a, y.u AS b, x.v AS w FROM adj x JOIN adj y ON x.v = y.v AND x.u < y.u), " +
       "sc AS (SELECT a, b, count(*) AS common, round(sum(1.0 / ln(deg)), 6) AS aa_score FROM wedge JOIN deg ON wedge.w = deg.u GROUP BY 1, 2) " +
       "SELECT a, b, common, aa_score FROM sc ORDER BY aa_score DESC, a ASC, b ASC LIMIT 20"),
    // scan_text_lines: order-free profile of the round-tripped lines —
    // a lossless text round trip is exactly a hash match with the same
    // profile computed from the source table.
    "scan_text_lines" ->
      "SELECT CAST(count(*) AS BIGINT) AS n_lines, CAST(count(DISTINCT text) AS BIGINT) AS n_distinct, CAST(sum(length(text)) AS BIGINT) AS total_chars, CAST(min(length(text)) AS BIGINT) AS min_chars, CAST(max(length(text)) AS BIGINT) AS max_chars, round(avg(length(text)), 6) AS avg_chars FROM documents WHERE text IS NOT NULL",
    // fn_struct: the struct build/amend/flatten chain collapses to this
    // flat projection — which is the point (OptimizeUpdateFields).
    "fn_struct" ->
      "SELECT o_orderkey, o_custkey AS cust, round(CAST(o_totalprice AS DOUBLE), 4) AS total, CASE WHEN o_totalprice < 100000 THEN 'small' ELSE 'large' END AS total_band, CAST(year(o_orderdate) AS BIGINT) AS order_year FROM orders ORDER BY o_orderkey",
    // stats_mann_kendall: S from CASE-sign pair sums (integer-exact),
    // the tie-corrected variance, and the ±1 continuity-corrected z —
    // identical closed-form algebra on both engines.
    "stats_mann_kendall" ->
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 4) AS y FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2), " +
       "sp AS (SELECT a.event_type AS event_type, sum(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END) AS s_stat FROM daily a JOIN daily b ON a.event_type = b.event_type AND a.d < b.d GROUP BY 1), " +
       "nd AS (SELECT event_type, count(*) AS n FROM daily GROUP BY 1), " +
       "tc AS (SELECT event_type, sum(t * (t - 1) * (t * 2 + 5)) AS tie_corr FROM (SELECT event_type, y, count(*) AS t FROM daily GROUP BY 1, 2) g GROUP BY 1), " +
       "v AS (SELECT sp.event_type, n, s_stat, (n * (n - 1) * (n * 2 + 5) - tie_corr) / 18.0 AS var_s FROM sp JOIN nd USING (event_type) JOIN tc USING (event_type)) " +
       "SELECT event_type, CAST(n AS BIGINT) AS n_days, CAST(s_stat AS BIGINT) AS s_stat, round(var_s, 4) AS var_s, round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s) WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s) ELSE 0.0 END, 6) AS z_stat FROM v ORDER BY event_type"),
    // stats_runs_test: run boundaries from a lag over the day-grain
    // sign series; integer counts until the closed-form moments.
    "stats_runs_test" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) FILTER (event_type = 'view') - count(*) FILTER (event_type = 'purchase') AS diff FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1), " +
       "sg AS (SELECT d, CAST(sign(diff) AS BIGINT) AS sgn FROM daily WHERE diff <> 0), " +
       "b AS (SELECT sgn, CASE WHEN lag(sgn) OVER (ORDER BY d) IS NULL OR lag(sgn) OVER (ORDER BY d) <> sgn THEN 1 ELSE 0 END AS boundary FROM sg), " +
       "c AS (SELECT CAST(count(*) FILTER (sgn = 1) AS BIGINT) AS n_pos, CAST(count(*) FILTER (sgn = -1) AS BIGINT) AS n_neg, CAST(sum(boundary) AS BIGINT) AS n_runs FROM b) " +
       "SELECT n_pos, n_neg, n_runs, round(1.0 + CAST(n_pos * n_neg * 2 AS DOUBLE) / (n_pos + n_neg), 6) AS expected_runs, " +
       "round((n_runs - (1.0 + CAST(n_pos * n_neg * 2 AS DOUBLE) / (n_pos + n_neg))) / sqrt(CAST(n_pos * n_neg * 2 AS DOUBLE) * (n_pos * n_neg * 2 - n_pos - n_neg) / (pow(CAST(n_pos + n_neg AS DOUBLE), 2) * (n_pos + n_neg - 1))), 6) AS z_stat FROM c"),
    // event_inter_arrival: lag over (user, type) order with the
    // event_id tiebreak; date_diff('second') equals the floor-seconds
    // subtraction Spark's unix_timestamp does.
    "event_inter_arrival" ->
      ("WITH g AS (SELECT event_type, date_diff('second', lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id), ts) AS gap_s FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL) " +
       "SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps, round(avg(gap_s), 6) AS avg_gap_s, round(stddev_samp(gap_s), 6) AS stddev_gap_s, CAST(min(gap_s) AS BIGINT) AS min_gap_s, CAST(max(gap_s) AS BIGINT) AS max_gap_s FROM g WHERE gap_s IS NOT NULL GROUP BY 1 ORDER BY 1"),
    // text_char_class_profile: class counts as length differences after
    // global regexp deletion ('g' — DuckDB replaces first-only by
    // default, Spark always-global).
    "text_char_class_profile" ->
      ("WITH t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars, CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha, CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit, CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS BIGINT) AS n_space FROM documents WHERE text IS NOT NULL AND length(text) > 0) " +
       "SELECT doc_id, n_chars, n_alpha, n_digit, n_space, n_chars - n_alpha - n_digit - n_space AS n_symbol, round(CAST(n_alpha AS DOUBLE) / n_chars, 6) AS alpha_ratio, round(CAST(n_chars - n_alpha - n_digit - n_space AS DOUBLE) / n_chars, 6) AS symbol_ratio FROM t ORDER BY doc_id"),
    // agg_time_decay: clamped integer week exponents make every weight
    // an exact ≤18-digit decimal ≤ 1.0, so DECIMAL(19,18) holds it and
    // the (19,18)×(18,2) product is exact width-37/scale-20 on BOTH
    // engines (wider weight decimals made Spark truncate to scale 6
    // and DuckDB fall back to DOUBLE) — order-free identical sums.
    "agg_time_decay" ->
      ("WITH a AS (SELECT max(CAST(ts AS DATE)) AS d_max FROM events), " +
       "w AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v, CAST(pow(0.5, CAST(least(floor(date_diff('day', CAST(ts AS DATE), d_max) / 7), 18) AS DOUBLE)) AS DECIMAL(19,18)) AS w FROM events, a WHERE event_type IS NOT NULL) " +
       "SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, CAST(round(sum(w), 4) AS DOUBLE) AS decayed_count, CAST(round(sum(w * v), 4) AS DOUBLE) AS decayed_value FROM w GROUP BY 1 ORDER BY 1"),
    // win_drawdown: per-type sequential cumsum/runmax over 4-rounded
    // day sums — deterministic on both engines; the argmax date uses an
    // explicit min-date tie-break on the 4-rounded drawdown.
    "win_drawdown" ->
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 4) AS x FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2), " +
       "c AS (SELECT event_type, d, sum(x) OVER (PARTITION BY event_type ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM daily), " +
       "dd AS (SELECT event_type, d, round(max(cum) OVER (PARTITION BY event_type ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cum, 4) AS dd FROM c), " +
       "w AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days, max(dd) AS max_drawdown FROM dd GROUP BY 1) " +
       "SELECT dd.event_type AS event_type, n_days, max_drawdown, min(d) AS worst_day FROM dd JOIN w ON dd.event_type = w.event_type AND dd.dd = w.max_drawdown GROUP BY 1, 2, 3 ORDER BY 1"),
    // graph_assortativity: endpoint degrees attach at edge grain;
    // integer degrees, one corr.
    "graph_assortativity" ->
      ("WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
       "e0 AS (SELECT a.p AS u, b.p AS v FROM items a JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2), " +
       "adj AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0), " +
       "deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY 1) " +
       "SELECT count(*) // 2 AS n_edges, round(corr(CAST(du.deg AS DOUBLE), CAST(dv.deg AS DOUBLE)), 6) AS assortativity FROM adj JOIN deg du ON adj.u = du.u JOIN deg dv ON adj.v = dv.u"),
    // multimodal_wav_energy: the oracle replays the planted PCM ramp
    // per (frame, sample); sum-of-squares is integer-exact and sqrt is
    // IEEE-exact on both engines — the REAL encode/decode cycle on the
    // Spark side must round-trip losslessly to hash-match this.
    "multimodal_wav_energy" ->
      ("WITH g AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL), fr AS (SELECT unnest(range(0, 4)) AS fi), ix AS (SELECT unnest(range(0, 64)) AS i), " +
       "v AS (SELECT doc_id, fi, (doc_id * 7 + 13 * (fi * 64 + i)) % 2000 - 1000 AS v FROM g, fr, ix) " +
       "SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx, CAST(sum(v * v) AS BIGINT) AS sum_sq, round(sqrt(CAST(sum(v * v) AS DOUBLE) / 64.0), 6) AS rms FROM v GROUP BY 1, 2 ORDER BY doc_id, frame_idx"),
    // text_feature_hashing: the ascii-over-md5-hex bucket is plain
    // integer arithmetic both engines replay; the sparse vector
    // serializes dim-ordered, so the string is canonical.
    "text_feature_hashing" ->
      ("WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents WHERE text IS NOT NULL), " +
       "d AS (SELECT doc_id, CAST((ascii(substr(md5(word), 1, 1)) * 31 + ascii(substr(md5(word), 2, 1))) % 64 AS BIGINT) AS dim FROM w), " +
       "c AS (SELECT doc_id, dim, count(*) AS cnt FROM d GROUP BY 1, 2) " +
       "SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words, CAST(count(*) AS BIGINT) AS n_active_dims, string_agg(dim || ':' || cnt, ',' ORDER BY dim) AS features FROM c GROUP BY 1 ORDER BY doc_id"),
    // dedup_substring_shingle: the same overlapping 40/10 char grid,
    // distinct per doc, owner-counted — integer counts to the one
    // division.
    "dedup_substring_shingle" ->
      ("WITH sh AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(0, CAST(floor((length(text) - 40) / 10) AS BIGINT) + 1), i -> substr(text, CAST(i * 10 + 1 AS INT), 40))) AS sh FROM documents WHERE text IS NOT NULL AND length(text) >= 40) u), " +
       "o AS (SELECT sh, count(DISTINCT doc_id) AS n_docs FROM sh GROUP BY 1) " +
       "SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles, CAST(count(*) FILTER (o.n_docs >= 2) AS BIGINT) AS n_dup_shingles, round(CAST(count(*) FILTER (o.n_docs >= 2) AS DOUBLE) / count(*), 6) AS dup_frac, (round(CAST(count(*) FILTER (o.n_docs >= 2) AS DOUBLE) / count(*), 6) >= 0.5) AS substring_dup_flag FROM sh JOIN o USING (sh) GROUP BY 1 ORDER BY doc_id"),
    // dedup_substring_exact: content-defined chunks (anchor word iff
    // md5 ≡ 0 mod 8), group-by on the chunk STRING — offset-invariant,
    // so both engines cut identical spans; all counts integer.
    "dedup_substring_exact" ->
      ("WITH w AS (SELECT doc_id, t.word, t.pos FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word, generate_subscripts(string_split(text, ' '), 1) AS pos FROM documents WHERE text IS NOT NULL AND length(text) >= 40) t WHERE length(t.word) > 0), " +
       "a AS (SELECT doc_id, word, pos, CAST(CAST(('0x' || substring(md5(word), 1, 8)) AS BIGINT) % 8 = 0 AS BIGINT) AS anchor FROM w), " +
       "ch AS (SELECT doc_id, sum(anchor) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id, word, pos FROM a), " +
       "c AS (SELECT doc_id, chunk_id, string_agg(word, ' ' ORDER BY pos) AS chunk_text FROM ch GROUP BY 1, 2), " +
       "f AS (SELECT * FROM c WHERE length(chunk_text) >= 30) " +
       "SELECT md5(chunk_text) AS span_hash, CAST(length(chunk_text) AS BIGINT) AS span_chars, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, CAST(count(*) AS BIGINT) AS n_occurrences, min(doc_id) AS first_doc, max(doc_id) AS last_doc " +
       "FROM f GROUP BY chunk_text HAVING count(DISTINCT doc_id) >= 2 ORDER BY span_hash"),
    // text_readability: integer word/sentence/vowel-group counts (same
    // [.!?]+ segmentation as the sentence-stats oracle) into the one
    // closed-form Flesch expression.
    "text_readability" ->
      ("WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words, " +
       "CAST(greatest(len(list_filter(string_split_regex(text, '[.!?]+'), x -> length(trim(x)) > 0)), 1) AS BIGINT) AS n_sentences, " +
       "CAST(greatest(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')), 1) AS BIGINT) AS n_syllables " +
       "FROM documents WHERE text IS NOT NULL AND length(text) > 0) " +
       "SELECT doc_id, n_words, n_sentences, n_syllables, " +
       "round(206.835 - 1.015 * CAST(n_words AS DOUBLE) / n_sentences - 84.6 * CAST(n_syllables AS DOUBLE) / n_words, 4) AS flesch, " +
       "CASE WHEN round(206.835 - 1.015 * CAST(n_words AS DOUBLE) / n_sentences - 84.6 * CAST(n_syllables AS DOUBLE) / n_words, 4) >= 60 THEN 'easy' " +
       "WHEN round(206.835 - 1.015 * CAST(n_words AS DOUBLE) / n_sentences - 84.6 * CAST(n_syllables AS DOUBLE) / n_words, 4) >= 30 THEN 'standard' ELSE 'difficult' END AS band " +
       "FROM t ORDER BY doc_id"),
    // multimodal_image_histogram: the oracle replays the planted raster
    // ramp per pixel and bins it — the REAL PNG encode/decode cycle on
    // the Spark side must round-trip losslessly to hash-match.
    "multimodal_image_histogram" ->
      ("WITH g AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL), xs AS (SELECT unnest(range(0, 8)) AS x), ys AS (SELECT unnest(range(0, 8)) AS y), " +
       "p AS (SELECT doc_id, (doc_id * 31 + 7 * x + 13 * y) % 256 AS px FROM g, xs, ys) " +
       "SELECT doc_id, CAST(px // 32 AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_pixels FROM p GROUP BY 1, 2 ORDER BY doc_id, bin"),
    // embed_truncate_recall: both rankings replay with the same
    // list-fold dot products and row_number windows; the prefix norm
    // divides two unrounded deterministic sums before the one round.
    "embed_truncate_recall" ->
      ("WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20), " +
       "c AS (SELECT vec_id AS nid, embedding, embedding[1:16] AS p16 FROM embeddings), " +
       "p AS (SELECT qid, nid, round(list_sum(list_transform(range(1, 65), i -> CAST(qv[i] AS DOUBLE) * embedding[i])), 6) AS cos_full, " +
       "round(list_sum(list_transform(range(1, 17), i -> CAST(qv[i] AS DOUBLE) * p16[i])) / sqrt(list_sum(list_transform(range(1, 17), i -> CAST(p16[i] AS DOUBLE) * p16[i]))), 6) AS cos_trunc FROM q, c WHERE qid <> nid), " +
       "tf AS (SELECT qid, nid FROM (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos_full DESC, nid ASC) AS rn FROM p) t WHERE rn <= 5), " +
       "tt AS (SELECT qid, nid FROM (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos_trunc DESC, nid ASC) AS rn FROM p) t WHERE rn <= 5), " +
       "o AS (SELECT tf.qid, count(*) AS n_overlap FROM tf JOIN tt ON tf.qid = tt.qid AND tf.nid = tt.nid GROUP BY 1) " +
       "SELECT q.qid AS qid, CAST(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap, round(CAST(coalesce(n_overlap, 0) AS DOUBLE) / 5, 6) AS recall_at_5 FROM q LEFT JOIN o ON q.qid = o.qid ORDER BY qid"),
    // graph_modularity: eight unrolled min-label rounds (the defined
    // semantics — min node id within 8 hops), then the same Q algebra
    // over 6-rounded per-community contributions.
    "graph_modularity" ->
      ("WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
       "e0 AS (SELECT a.p AS u, b.p AS v FROM items a JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2), " +
       "adj AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0), " +
       "l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lab FROM adj), " +
       "l1 AS MATERIALIZED (SELECT node, min(lab) AS lab FROM (SELECT a.v AS node, l.lab FROM adj a JOIN l0 l ON a.u = l.node UNION ALL SELECT node, lab FROM l0) t GROUP BY 1), " +
       "l2 AS MATERIALIZED (SELECT node, min(lab) AS lab FROM (SELECT a.v AS node, l.lab FROM adj a JOIN l1 l ON a.u = l.node UNION ALL SELECT node, lab FROM l1) t GROUP BY 1), " +
       "l3 AS MATERIALIZED (SELECT node, min(lab) AS lab FROM (SELECT a.v AS node, l.lab FROM adj a JOIN l2 l ON a.u = l.node UNION ALL SELECT node, lab FROM l2) t GROUP BY 1), " +
       "l4 AS MATERIALIZED (SELECT node, min(lab) AS lab FROM (SELECT a.v AS node, l.lab FROM adj a JOIN l3 l ON a.u = l.node UNION ALL SELECT node, lab FROM l3) t GROUP BY 1), " +
       "l5 AS MATERIALIZED (SELECT node, min(lab) AS lab FROM (SELECT a.v AS node, l.lab FROM adj a JOIN l4 l ON a.u = l.node UNION ALL SELECT node, lab FROM l4) t GROUP BY 1), " +
       "l6 AS MATERIALIZED (SELECT node, min(lab) AS lab FROM (SELECT a.v AS node, l.lab FROM adj a JOIN l5 l ON a.u = l.node UNION ALL SELECT node, lab FROM l5) t GROUP BY 1), " +
       "l7 AS MATERIALIZED (SELECT node, min(lab) AS lab FROM (SELECT a.v AS node, l.lab FROM adj a JOIN l6 l ON a.u = l.node UNION ALL SELECT node, lab FROM l6) t GROUP BY 1), " +
       "l8 AS MATERIALIZED (SELECT node, min(lab) AS lab FROM (SELECT a.v AS node, l.lab FROM adj a JOIN l7 l ON a.u = l.node UNION ALL SELECT node, lab FROM l7) t GROUP BY 1), " +
       "mm AS (SELECT count(*) / 2.0 AS m FROM adj), " +
       "c AS (SELECT lu.lab AS lab, CAST(sum(CASE WHEN lu.lab = lv.lab THEN 1 ELSE 0 END) / 2 AS BIGINT) AS internal_edges, CAST(count(*) AS BIGINT) AS degree_sum FROM adj JOIN l8 lu ON adj.u = lu.node JOIN l8 lv ON adj.v = lv.node GROUP BY 1), " +
       "sz AS (SELECT lab, CAST(count(*) AS BIGINT) AS n_nodes FROM l8 GROUP BY 1), " +
       "sc AS (SELECT c.lab AS lab, n_nodes, internal_edges, degree_sum, round(internal_edges / m - pow(degree_sum / (2.0 * m), 2), 6) + 0.0 AS q_contribution FROM c JOIN sz USING (lab), mm) " +
       "SELECT lab, n_nodes, internal_edges, degree_sum, q_contribution, round(sum(q_contribution) OVER (), 6) AS modularity FROM sc ORDER BY n_nodes DESC, lab ASC LIMIT 20"),
    // stats_effect_size: 4-rounded arm moments into the pooled-sd
    // closed form with the Hedges small-sample correction.
    "stats_effect_size" ->
      ("WITH b AS (SELECT substring(md5(CAST(user_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7') AS a, value FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL AND value IS NOT NULL), " +
       "c AS (SELECT CAST(count(*) FILTER (a) AS BIGINT) AS n_a, CAST(count(*) FILTER (NOT a) AS BIGINT) AS n_b, round(avg(value) FILTER (a), 4) AS m_a, round(avg(value) FILTER (NOT a), 4) AS m_b, round(var_samp(value) FILTER (a), 4) AS v_a, round(var_samp(value) FILTER (NOT a), 4) AS v_b FROM b), " +
       "p AS (SELECT *, round(sqrt(((n_a - 1) * v_a + (n_b - 1) * v_b) / (n_a + n_b - 2)), 6) AS pooled_sd FROM c), " +
       "d AS (SELECT *, round((m_a - m_b) / pooled_sd, 6) AS cohens_d FROM p) " +
       "SELECT n_a, n_b, m_a, m_b, v_a, v_b, pooled_sd, cohens_d, round(cohens_d * (1.0 - 3.0 / (4.0 * (n_a + n_b - 2) - 1)), 6) AS hedges_g FROM d"),
    // stats_roc_auc: the Mann-Whitney identity over midranks — rank
    // sums are exact half-integer arithmetic below 2^53 on both
    // engines, so only the final ratio rounds.
    "stats_roc_auc" ->
      ("WITH b AS (SELECT round(value, 4) AS sc, event_type = 'purchase' AS y FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL), " +
       "r AS (SELECT y, rank() OVER (ORDER BY sc) + (count(*) OVER (PARTITION BY sc) - 1) / 2.0 AS mr FROM b), " +
       "c AS (SELECT CAST(count(*) FILTER (y) AS BIGINT) AS n_pos, CAST(count(*) FILTER (NOT y) AS BIGINT) AS n_neg, sum(CASE WHEN y THEN mr ELSE 0 END) AS rsum FROM r) " +
       "SELECT n_pos, n_neg, round((rsum - n_pos * (n_pos + 1) / 2.0) / (CAST(n_pos AS DOUBLE) * n_neg), 6) AS auc FROM c"),
    // stats_confusion_metrics: four FILTERed counts into the standard
    // accuracy/precision/recall/F1 ratios; F1 from the 6-rounded P/R so
    // both engines divide identical doubles.
    "stats_confusion_metrics" ->
      ("WITH b AS (SELECT value >= 100 AS pred, event_type = 'purchase' AS y FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL), " +
       "c AS (SELECT CAST(count(*) FILTER (pred AND y) AS BIGINT) AS tp, CAST(count(*) FILTER (pred AND NOT y) AS BIGINT) AS fp, CAST(count(*) FILTER (NOT pred AND y) AS BIGINT) AS fn, CAST(count(*) FILTER (NOT pred AND NOT y) AS BIGINT) AS tn FROM b), " +
       "m AS (SELECT tp, fp, fn, tn, round(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) AS accuracy, round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision, round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall FROM c) " +
       "SELECT tp, fp, fn, tn, accuracy, precision, recall, round(2.0 * precision * recall / (precision + recall), 6) AS f1 FROM m"),
    // stats_ndcg: the truncate-recall rankings with full-cos gains and
    // the log2 discount — both engines window and discount identically.
    "stats_ndcg" ->
      ("WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20), " +
       "c AS (SELECT vec_id AS nid, embedding, embedding[1:16] AS p16 FROM embeddings), " +
       "p AS (SELECT qid, nid, greatest(round(list_sum(list_transform(range(1, 65), i -> CAST(qv[i] AS DOUBLE) * embedding[i])), 6), 0.0) AS gain, " +
       "round(list_sum(list_transform(range(1, 17), i -> CAST(qv[i] AS DOUBLE) * p16[i])) / sqrt(list_sum(list_transform(range(1, 17), i -> CAST(p16[i] AS DOUBLE) * p16[i]))), 6) AS sc_trunc FROM q, c WHERE qid <> nid), " +
       "d AS (SELECT qid, sum(gain / log2(rn + 1)) AS dcg FROM (SELECT qid, gain, row_number() OVER (PARTITION BY qid ORDER BY sc_trunc DESC, nid ASC) AS rn FROM p) t WHERE rn <= 10 GROUP BY 1), " +
       "i AS (SELECT qid, sum(gain / log2(rn + 1)) AS idcg FROM (SELECT qid, gain, row_number() OVER (PARTITION BY qid ORDER BY gain DESC, nid ASC) AS rn FROM p) t WHERE rn <= 10 GROUP BY 1) " +
       "SELECT d.qid AS qid, round(dcg, 6) AS dcg_at_10, round(idcg, 6) AS idcg_at_10, round(CASE WHEN idcg > 0 THEN dcg / idcg END, 6) AS ndcg_at_10 FROM d JOIN i ON d.qid = i.qid ORDER BY qid"),
    // text_js_divergence: identical probability ratios and log2 terms;
    // the uncovered-vocabulary mass folds in closed form as
    // (1 - q_covered)/2 on both engines.
    "text_js_divergence" ->
      ("WITH w0 AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents WHERE text IS NOT NULL AND source IS NOT NULL), " +
       "bs AS (SELECT source, w, count(*) AS c FROM w0 GROUP BY 1, 2), " +
       "st AS (SELECT source, sum(c) AS n_src FROM bs GROUP BY 1), " +
       "cp AS (SELECT w, count(*) AS cc FROM w0 GROUP BY 1), " +
       "ct AS (SELECT sum(cc) AS n_all FROM cp), " +
       "j AS (SELECT source, CAST(c AS DOUBLE) / n_src AS p, CAST(cc AS DOUBLE) / n_all AS q FROM bs JOIN st USING (source) JOIN cp USING (w), ct), " +
       "g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_vocab, sum(p * log2(p / ((p + q) / 2)) / 2 + q * log2(q / ((p + q) / 2)) / 2) AS jsd_core, sum(q) AS q_covered FROM j GROUP BY 1) " +
       "SELECT source, n_vocab, round(jsd_core + (1.0 - q_covered) / 2, 4) AS jsd_bits FROM g ORDER BY source"),
    // stats_negative_binomial: all moments exact integers; derived
    // stats read the ROUNDED mean/variance on both engines.
    "stats_negative_binomial" ->
      ("WITH u AS (SELECT user_id, count(*) AS x FROM events WHERE user_id IS NOT NULL GROUP BY 1), " +
       "m AS (SELECT count(*) AS n, sum(x) AS s1, sum(x * x) AS s2 FROM u), " +
       "b AS (SELECT CAST(n AS BIGINT) AS n_users, round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_count, round(CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE), 6) AS var_count FROM m) " +
       "SELECT n_users, mean_count, var_count, round(var_count / mean_count, 6) AS dispersion_index, var_count > mean_count AS overdispersed, " +
       "CASE WHEN var_count > mean_count THEN round(mean_count * mean_count / (var_count - mean_count), 6) END AS nb_r, " +
       "CASE WHEN var_count > mean_count THEN round(mean_count / var_count, 6) END AS nb_p FROM b"),
    // stats_diff_in_diff: the cuped midpoint + decimal period sums;
    // arm pivot via MAX(CASE) over the two-row arm rollup; the DiD
    // arithmetic runs on the four ROUNDED means.
    "stats_diff_in_diff" ->
      ("WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d, value FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL AND event_type = 'purchase'), " +
       "m AS (SELECT min(d) + CAST((max(d) - min(d)) // 2 AS INTEGER) AS mid FROM ev), " +
       "u AS (SELECT user_id, CAST(round(sum(CASE WHEN d < mid THEN value ELSE 0 END), 4) AS DECIMAL(18,4)) AS pre, CAST(round(sum(CASE WHEN d >= mid THEN value ELSE 0 END), 4) AS DECIMAL(18,4)) AS post FROM ev CROSS JOIN m GROUP BY 1), " +
       "a AS (SELECT substr(md5(CAST(user_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7') AS t, count(*) AS n, sum(pre) AS sp, sum(post) AS ss FROM u GROUP BY 1), " +
       "w AS (SELECT sum(CASE WHEN t THEN n END) AS nt, sum(CASE WHEN NOT t THEN n END) AS nc, " +
       "max(CASE WHEN t THEN round(CAST(sp AS DOUBLE) / n, 6) END) AS mtpre, max(CASE WHEN t THEN round(CAST(ss AS DOUBLE) / n, 6) END) AS mtpost, " +
       "max(CASE WHEN NOT t THEN round(CAST(sp AS DOUBLE) / n, 6) END) AS mcpre, max(CASE WHEN NOT t THEN round(CAST(ss AS DOUBLE) / n, 6) END) AS mcpost FROM a) " +
       "SELECT CAST(nt AS BIGINT) AS n_treated, CAST(nc AS BIGINT) AS n_control, mtpre AS mean_treated_pre, mtpost AS mean_treated_post, mcpre AS mean_control_pre, mcpost AS mean_control_post, " +
       "round((mtpost - mtpre) - (mcpost - mcpre), 6) AS did_estimate FROM w"),
    // stats_entropy_rate: the markov transition machinery; inner and
    // outer reductions are seeded ordered list_reduce folds (to-type /
    // from-type order) exactly as the Spark side's aggregate() folds.
    "stats_entropy_rate" ->
      ("WITH l AS (SELECT user_id, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_t, event_type AS to_t FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL), " +
       "c AS (SELECT from_t, to_t, count(*) AS c FROM l WHERE from_t IS NOT NULL GROUP BY 1, 2), " +
       "rt AS (SELECT from_t, sum(c) AS tot FROM c GROUP BY 1), " +
       "p AS (SELECT c.from_t, c.to_t, CAST(c.c AS DOUBLE) / CAST(rt.tot AS DOUBLE) AS p FROM c JOIN rt USING (from_t)), " +
       "g AS (SELECT sum(tot) AS gt FROM rt), " +
       "h AS (SELECT from_t, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(-p * log2(p) ORDER BY to_t)), (acc, v) -> acc + v) AS h_i FROM p GROUP BY 1), " +
       "ps AS (SELECT rt.from_t, rt.tot, CAST(rt.tot AS DOUBLE) / CAST(g.gt AS DOUBLE) AS pi, h.h_i FROM rt JOIN h USING (from_t), g), " +
       "r AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(pi * h_i ORDER BY from_t)), (acc, v) -> acc + v) AS hr FROM ps) " +
       "SELECT from_t AS event_type, CAST(tot AS BIGINT) AS n_transitions_out, round(pi, 6) AS p_state, round(h_i, 6) AS h_conditional_bits, round(hr, 6) AS entropy_rate_bits FROM ps, r ORDER BY event_type"),
    // event_cohort_ltv: decimal day revenue keeps the cohort cumsum
    // exact; only the per-user normalization divides in double.
    "event_cohort_ltv" ->
      ("WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d, event_type, value FROM events WHERE user_id IS NOT NULL), " +
       "f AS (SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY 1), " +
       "sz AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size FROM f GROUP BY 1), " +
       "daily AS (SELECT f.cohort_day, CAST(date_diff('day', f.cohort_day, e.d) AS BIGINT) AS day_offset, CAST(round(sum(e.value), 4) AS DECIMAL(18,4)) AS day_revenue FROM ev e JOIN f USING (user_id) WHERE e.event_type = 'purchase' AND e.value IS NOT NULL GROUP BY 1, 2), " +
       "cc AS (SELECT cohort_day, day_offset, day_revenue, sum(day_revenue) OVER (PARTITION BY cohort_day ORDER BY day_offset) AS cum FROM daily) " +
       "SELECT cc.cohort_day, cc.day_offset, sz.cohort_size, CAST(cc.day_revenue AS DOUBLE) AS day_revenue, CAST(cc.cum AS DOUBLE) AS cum_revenue, round(CAST(cc.cum AS DOUBLE) / CAST(sz.cohort_size AS DOUBLE), 6) AS ltv_per_user " +
       "FROM cc JOIN sz USING (cohort_day) ORDER BY cohort_day, day_offset"),
    // join_runtime_bloom: the bloom filter is semantics-free — the
    // oracle is the plain filtered join; the injected-bloom plan shape
    // is asserted in ScalePatternsSpec.
    "join_runtime_bloom" ->
      ("SELECT l_returnflag, count(*) AS n_items, round(sum(l_extendedprice * (1 - l_discount)), 4) AS urgent_revenue " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE o_orderpriority = '1-URGENT' GROUP BY 1 ORDER BY 1"),
    // join_dpp_prune: DPP is semantics-free — the oracle is the plain
    // weekend rollup (duckdb dayofweek: Sun=0..Sat=6; spark: 1..7).
    "join_dpp_prune" ->
      ("SELECT CAST(ts AS DATE) AS d, count(*) AS n_events, round(sum(value), 4) AS revenue " +
       "FROM events WHERE dayofweek(CAST(ts AS DATE)) IN (0, 6) GROUP BY 1 ORDER BY 1"),
    // stats_group_sequential: exact decimal/long cumulative sums; k and
    // K computed before the nonempty-arm filter on both engines; means
    // round at 6 before the z arithmetic; sqrt is IEEE-exact.
    "stats_group_sequential" ->
      ("WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d, CAST(round(value, 4) AS DECIMAL(18,4)) AS v FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL AND value IS NOT NULL), " +
       "sdm AS (SELECT count(*) AS n, sum(v) AS s1, sum(v * v) AS s2 FROM ev), " +
       "sd AS (SELECT round(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)), 6) AS sigma FROM sdm), " +
       "daily AS (SELECT d, sum(CASE WHEN t THEN v END) AS sa, count(CASE WHEN t THEN 1 END) AS na, sum(CASE WHEN NOT t THEN v END) AS sb, count(CASE WHEN NOT t THEN 1 END) AS nb " +
       "FROM (SELECT ev.*, substr(md5(CAST(user_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7') AS t FROM ev) GROUP BY 1), " +
       "c AS (SELECT d, row_number() OVER (ORDER BY d) AS k, sum(sa) OVER w AS csa, sum(na) OVER w AS cna, sum(sb) OVER w AS csb, sum(nb) OVER w AS cnb, count(*) OVER () AS bigk " +
       "FROM daily WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
       "z AS (SELECT c.*, sd.sigma, round(CAST(csa AS DOUBLE) / CAST(cna AS DOUBLE), 6) AS ma, round(CAST(csb AS DOUBLE) / CAST(cnb AS DOUBLE), 6) AS mb FROM c, sd WHERE cna > 0 AND cnb > 0), " +
       "f AS (SELECT *, round((ma - mb) / (sigma * sqrt(1.0 / CAST(cna AS DOUBLE) + 1.0 / CAST(cnb AS DOUBLE))), 6) AS z_k, round(1.96 * sqrt(CAST(bigk AS DOUBLE) / CAST(k AS DOUBLE)), 6) AS obf_bound FROM z) " +
       "SELECT d, k, CAST(bigk AS BIGINT) AS n_looks, CAST(cna AS BIGINT) AS n_a, CAST(cnb AS BIGINT) AS n_b, ma AS mean_a, mb AS mean_b, z_k, obf_bound, abs(z_k) > obf_bound AS boundary_crossed FROM f ORDER BY d"),
    // stats_hurst: the inner loop is all-integer (1e-4 units, deviations
    // scaled by m), so window prefix sums are reassociation-proof; R/S
    // rounds at 6 into DECIMAL for the cross-block mean; log2 runs on
    // round-6 agreed inputs only.
    "stats_hurst" ->
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 4) AS x FROM events WHERE event_type = 'purchase' GROUP BY 1, 2), " +
       "idx AS (SELECT event_type, CAST(round(x * 10000, 0) AS BIGINT) AS xi, row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn FROM daily), " +
       "b AS (SELECT i.*, mm.m, (rn - 1) // mm.m AS blk FROM idx i CROSS JOIN (SELECT unnest([CAST(7 AS BIGINT), CAST(14 AS BIGINT)]) AS m) mm), " +
       "jj AS (SELECT *, row_number() OVER (PARTITION BY event_type, m, blk ORDER BY rn) AS j, count(*) OVER (PARTITION BY event_type, m, blk) AS bn FROM b), " +
       "c AS (SELECT * FROM jj WHERE bn = m), " +
       "p AS (SELECT *, sum(xi) OVER (PARTITION BY event_type, m, blk) AS sb, sum(CAST(xi AS HUGEINT) * xi) OVER (PARTITION BY event_type, m, blk) AS s2b, " +
       "m * sum(xi) OVER (PARTITION BY event_type, m, blk ORDER BY j ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - j * sum(xi) OVER (PARTITION BY event_type, m, blk) AS dj FROM c), " +
       "pb AS (SELECT event_type, m, blk, (CAST(max(dj) - min(dj) AS DOUBLE) / CAST(m AS DOUBLE)) / sqrt(CAST(CAST(m AS HUGEINT) * max(s2b) - CAST(max(sb) AS HUGEINT) * max(sb) AS DOUBLE) / CAST(m * (m - 1) AS DOUBLE)) AS rs FROM p GROUP BY 1, 2, 3), " +
       "ps AS (SELECT event_type, m, count(*) AS nb, round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(rs ORDER BY blk)), (acc, v) -> acc + v) / count(*), 6) AS mean_rs FROM pb GROUP BY 1, 2), " +
       "f AS (SELECT event_type, CAST(max(CASE WHEN m = 7 THEN nb END) AS BIGINT) AS n_blocks_7, max(CASE WHEN m = 7 THEN mean_rs END) AS rs_7, " +
       "CAST(max(CASE WHEN m = 14 THEN nb END) AS BIGINT) AS n_blocks_14, max(CASE WHEN m = 14 THEN mean_rs END) AS rs_14 FROM ps GROUP BY 1) " +
       "SELECT event_type, n_blocks_7, rs_7, n_blocks_14, rs_14, round(log2(rs_14) - log2(rs_7), 6) AS hurst FROM f WHERE rs_7 IS NOT NULL AND rs_14 IS NOT NULL ORDER BY event_type"),
    // stats_partial_autocorr: the autocorr machinery + Durbin-Levinson
    // closed forms on ROUND-6 ACFs, each level bound in a subquery so
    // both engines consume the rounded value.
    "stats_partial_autocorr" ->
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2), " +
       "span AS (SELECT event_type, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1), " +
       "grid AS (SELECT event_type, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d FROM span), " +
       "f AS (SELECT g.event_type, g.d, CAST(coalesce(c, 0) AS DOUBLE) AS c FROM grid g LEFT JOIN daily USING (event_type, d)), " +
       "l AS (SELECT event_type, c, lag(c, 1) OVER w AS c1, lag(c, 2) OVER w AS c2, lag(c, 3) OVER w AS c3 FROM f WINDOW w AS (PARTITION BY event_type ORDER BY d)), " +
       "a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days, round(corr(c, c1), 6) AS acf1, round(corr(c, c2), 6) AS acf2, round(corr(c, c3), 6) AS acf3 FROM l GROUP BY 1), " +
       "p2 AS (SELECT *, round((acf2 - acf1 * acf1) / (1.0 - acf1 * acf1), 6) AS pacf2 FROM a), " +
       "f21 AS (SELECT *, round(acf1 - pacf2 * acf1, 6) AS f21 FROM p2), " +
       "p3 AS (SELECT *, round((acf3 - f21 * acf2 - pacf2 * acf1) / (1.0 - f21 * acf1 - pacf2 * acf2), 6) AS pacf3 FROM f21) " +
       "SELECT event_type, n_days, acf1, acf2, acf3, acf1 AS pacf1, pacf2, pacf3 FROM p3 ORDER BY event_type"),
    // event_user_stickiness: exact integer counts; the trailing-30-day
    // distinct is the exact form (30x bounded fan-out).
    "event_user_stickiness" ->
      ("WITH pres AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events WHERE user_id IS NOT NULL), " +
       "days AS (SELECT DISTINCT d AS dd FROM pres), " +
       "dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM pres GROUP BY 1), " +
       "mau AS (SELECT dd, CAST(count(DISTINCT user_id) AS BIGINT) AS mau FROM days JOIN pres ON d BETWEEN dd - 29 AND dd GROUP BY 1) " +
       "SELECT d, dau, mau, round(CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE), 6) AS stickiness FROM dau JOIN mau ON d = dd ORDER BY d"),
    // text_heaps_law: integer cumulatives; the 4 OLS moments over the
    // <=n/50 checkpoints are seeded ordered list_reduce folds; K goes
    // through libm pow so it rounds at 4 (log2 K rides exact at 6).
    "text_heaps_law" ->
      ("WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents WHERE text IS NOT NULL), " +
       "tok AS (SELECT doc_id, count(*) AS toks FROM w GROUP BY 1), " +
       "fd AS (SELECT w, min(doc_id) AS doc_id FROM w GROUP BY 1), " +
       "nv AS (SELECT doc_id, count(*) AS newv FROM fd GROUP BY 1), " +
       "base AS (SELECT t.doc_id, t.toks, coalesce(nv.newv, 0) AS newv FROM tok t LEFT JOIN nv USING (doc_id)), " +
       "cum AS (SELECT doc_id, sum(toks) OVER (ORDER BY doc_id) AS ct, sum(newv) OVER (ORDER BY doc_id) AS cv FROM base), " +
       "samp AS (SELECT doc_id, log2(CAST(ct AS DOUBLE)) AS lx, log2(CAST(cv AS DOUBLE)) AS ly FROM cum WHERE doc_id % 50 = 0 AND ct > 0 AND cv > 0), " +
       "mom AS (SELECT count(*) AS n, " +
       "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lx ORDER BY doc_id)), (acc, v) -> acc + v) AS sx, " +
       "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(ly ORDER BY doc_id)), (acc, v) -> acc + v) AS sy, " +
       "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lx * lx ORDER BY doc_id)), (acc, v) -> acc + v) AS sxx, " +
       "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lx * ly ORDER BY doc_id)), (acc, v) -> acc + v) AS sxy FROM samp), " +
       "fit AS (SELECT n, round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta, sx, sy FROM mom), " +
       "fit2 AS (SELECT n, beta, round((sy - beta * sx) / CAST(n AS DOUBLE), 6) AS lk FROM fit), " +
       "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(toks) AS BIGINT) AS total_tokens, CAST(sum(newv) AS BIGINT) AS total_vocab FROM base) " +
       "SELECT tot.n_docs, tot.total_tokens, tot.total_vocab, CAST(fit2.n AS BIGINT) AS n_checkpoints, fit2.lk AS heaps_log2k, round(pow(2.0, fit2.lk), 4) AS heaps_k, fit2.beta AS heaps_beta FROM tot, fit2"),
    // stats_extreme_value: exact decimal maxima moments; sqrt(6)/pi,
    // Euler-Mascheroni, and the -ln(-ln(1-1/T)) factors are shared
    // 16-digit literals — never computed in-engine.
    "stats_extreme_value" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS d, round(sum(value), 4) AS x FROM events WHERE event_type = 'purchase' GROUP BY 1), " +
       "wk AS (SELECT date_diff('day', DATE '1970-01-01', d) // 7 AS wk, CAST(max(x) AS DECIMAL(18,4)) AS m FROM daily GROUP BY 1), " +
       "mo AS (SELECT count(*) AS n, sum(m) AS s1, sum(m * m) AS s2 FROM wk), " +
       "b AS (SELECT CAST(n AS BIGINT) AS n_weeks, round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_max, round(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)), 6) AS sd_max FROM mo), " +
       "g AS (SELECT *, round(sd_max * 0.779696801233676, 6) AS gumbel_beta FROM b), " +
       "g2 AS (SELECT *, round(mean_max - 0.5772156649015329 * gumbel_beta, 6) AS gumbel_mu FROM g) " +
       "SELECT n_weeks, mean_max, sd_max, gumbel_beta, gumbel_mu, " +
       "round(gumbel_mu + gumbel_beta * 1.2458993237072382, 6) AS return_level_4w, " +
       "round(gumbel_mu + gumbel_beta * 2.441716398881459, 6) AS return_level_12w FROM g2"),
    // stats_winsorized_mean: exact interpolated percentiles round-6
    // (the anomaly_mad discipline); clamped/kept values are <=6-decimal
    // doubles cast losslessly to DECIMAL so every mean is an exact sum.
    "stats_winsorized_mean" ->
      ("WITH v AS (SELECT round(value, 4) AS value FROM events WHERE event_type = 'purchase' AND value IS NOT NULL), " +
       "caps AS (SELECT round(quantile_cont(value, 0.05), 6) AS p05, round(quantile_cont(value, 0.95), 6) AS p95 FROM v), " +
       "adj AS (SELECT value, p05, p95, CAST(least(greatest(value, p05), p95) AS DECIMAL(18,6)) AS wv, CASE WHEN value >= p05 AND value <= p95 THEN CAST(value AS DECIMAL(18,6)) END AS tv FROM v, caps) " +
       "SELECT CAST(count(*) AS BIGINT) AS n_values, p05, p95, " +
       "round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_raw, " +
       "round(CAST(sum(wv) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS winsorized_mean, " +
       "CAST(count(tv) AS BIGINT) AS n_kept, " +
       "round(CAST(sum(tv) AS DOUBLE) / CAST(count(tv) AS DOUBLE), 6) AS trimmed_mean FROM adj GROUP BY p05, p95"),
    // stats_propensity_strat: the ols_multi Cramer solve on exact
    // moments, round-6 score, exact quintile cutpoints, per-stratum
    // decimal means, and a seeded fold in stratum order for the ATT.
    "stats_propensity_strat" ->
      ("WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d, value FROM events WHERE user_id IS NOT NULL), " +
       "m AS (SELECT min(d) + CAST((max(d) - min(d)) // 2 AS INTEGER) AS mid FROM ev), " +
       "u AS (SELECT user_id, sum(CASE WHEN d < mid THEN 1 ELSE 0 END) AS x1, CAST(round(sum(CASE WHEN d < mid THEN value ELSE 0 END), 4) AS DECIMAL(18,4)) AS x2, CAST(round(sum(CASE WHEN d >= mid THEN value ELSE 0 END), 4) AS DECIMAL(18,4)) AS y, substr(md5(CAST(user_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7') AS t FROM ev CROSS JOIN m GROUP BY user_id), " +
       "mo AS (SELECT CAST(count(*) AS DOUBLE) AS a11, CAST(sum(x1) AS DOUBLE) AS a12, CAST(sum(x2) AS DOUBLE) AS a13, CAST(sum(x1 * x1) AS DOUBLE) AS a22, CAST(sum(x1 * x2) AS DOUBLE) AS a23, CAST(sum(x2 * x2) AS DOUBLE) AS a33, CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS DOUBLE) AS r1, CAST(sum(CASE WHEN t THEN x1 ELSE 0 END) AS DOUBLE) AS r2, CAST(sum(CASE WHEN t THEN x2 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS r3 FROM u), " +
       "cr AS (SELECT a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13) + a13 * (a12 * a23 - a22 * a13) AS det, " +
       "r1 * (a22 * a33 - a23 * a23) - a12 * (r2 * a33 - a23 * r3) + a13 * (r2 * a23 - a22 * r3) AS n0, " +
       "a11 * (r2 * a33 - r3 * a23) - r1 * (a12 * a33 - a23 * a13) + a13 * (a12 * r3 - r2 * a13) AS n1, " +
       "a11 * (a22 * r3 - a23 * r2) - a12 * (a12 * r3 - r2 * a13) + r1 * (a12 * a23 - a22 * a13) AS n2 FROM mo), " +
       "bb AS (SELECT round(n0 / det, 6) AS b0, round(n1 / det, 6) AS b1, round(n2 / det, 6) AS b2 FROM cr), " +
       "sc AS (SELECT u.*, round(bb.b0 + bb.b1 * CAST(u.x1 AS DOUBLE) + bb.b2 * CAST(u.x2 AS DOUBLE), 6) AS score FROM u, bb), " +
       "cu AS (SELECT round(quantile_cont(score, 0.2), 6) AS q1, round(quantile_cont(score, 0.4), 6) AS q2, round(quantile_cont(score, 0.6), 6) AS q3, round(quantile_cont(score, 0.8), 6) AS q4 FROM sc), " +
       "st AS (SELECT 1 + CAST(score > q1 AS BIGINT) + CAST(score > q2 AS BIGINT) + CAST(score > q3 AS BIGINT) + CAST(score > q4 AS BIGINT) AS stratum, t, y FROM sc, cu), " +
       "ag AS (SELECT stratum, sum(CASE WHEN t THEN 1 ELSE 0 END) AS nt, sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS nc, sum(CASE WHEN t THEN y ELSE CAST(0 AS DECIMAL(18,4)) END) AS syt, sum(CASE WHEN NOT t THEN y ELSE CAST(0 AS DECIMAL(18,4)) END) AS syc FROM st GROUP BY 1), " +
       "ok AS (SELECT stratum, nt, nc, round(CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS mean_y_treated, round(CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE), 6) AS mean_y_control FROM ag WHERE nt > 0 AND nc > 0), " +
       "dd AS (SELECT *, round(mean_y_treated - mean_y_control, 6) AS diff FROM ok), " +
       "aa AS (SELECT round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(CAST(nt AS DOUBLE) / CAST((SELECT sum(nt) FROM dd) AS DOUBLE) * diff ORDER BY stratum)), (acc, v) -> acc + v), 6) AS att FROM dd) " +
       "SELECT CAST(dd.stratum AS BIGINT) AS stratum, CAST(dd.nt AS BIGINT) AS n_treated, CAST(dd.nc AS BIGINT) AS n_control, dd.mean_y_treated, dd.mean_y_control, dd.diff, aa.att FROM dd, aa ORDER BY stratum"),
    // event_absorbing_markov: the markov machinery with 'purchase'
    // absorbing via a PINNED a=1 each step; folds ordered by to-type.
    "event_absorbing_markov" ->
      ("WITH l AS (SELECT user_id, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_t, event_type AS to_t FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL), " +
       "c AS (SELECT from_t, to_t, count(*) AS c FROM l WHERE from_t IS NOT NULL GROUP BY 1, 2), " +
       "rt AS (SELECT from_t, sum(c) AS tot FROM c GROUP BY 1), " +
       "p AS (SELECT c.from_t, c.to_t, CAST(c.c AS DOUBLE) / CAST(rt.tot AS DOUBLE) AS p FROM c JOIN rt USING (from_t)), " +
       "a0 AS (SELECT from_t AS t, CASE WHEN from_t = 'purchase' THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS a FROM rt), " +
       "a1 AS (SELECT p.from_t AS t, CASE WHEN p.from_t = 'purchase' THEN CAST(1.0 AS DOUBLE) ELSE list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(q.a * p.p ORDER BY p.to_t)), (acc, v) -> acc + v) END AS a FROM p JOIN a0 q ON p.to_t = q.t GROUP BY p.from_t), " +
       "a2 AS (SELECT p.from_t AS t, CASE WHEN p.from_t = 'purchase' THEN CAST(1.0 AS DOUBLE) ELSE list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(q.a * p.p ORDER BY p.to_t)), (acc, v) -> acc + v) END AS a FROM p JOIN a1 q ON p.to_t = q.t GROUP BY p.from_t), " +
       "a3 AS (SELECT p.from_t AS t, CASE WHEN p.from_t = 'purchase' THEN CAST(1.0 AS DOUBLE) ELSE list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(q.a * p.p ORDER BY p.to_t)), (acc, v) -> acc + v) END AS a FROM p JOIN a2 q ON p.to_t = q.t GROUP BY p.from_t), " +
       "a4 AS (SELECT p.from_t AS t, CASE WHEN p.from_t = 'purchase' THEN CAST(1.0 AS DOUBLE) ELSE list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(q.a * p.p ORDER BY p.to_t)), (acc, v) -> acc + v) END AS a FROM p JOIN a3 q ON p.to_t = q.t GROUP BY p.from_t) " +
       "SELECT rt.from_t AS event_type, CAST(rt.tot AS BIGINT) AS n_transitions_out, round(a4.a, 6) AS p_absorb_4step FROM rt JOIN a4 ON rt.from_t = a4.t ORDER BY event_type"),
    // stats_covariate_balance: per-arm exact moments, round-6 means and
    // variances before the SMD arithmetic; two covariates UNION ALLed.
    "stats_covariate_balance" ->
      ("WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d, value FROM events WHERE user_id IS NOT NULL), " +
       "m AS (SELECT min(d) + CAST((max(d) - min(d)) // 2 AS INTEGER) AS mid FROM ev), " +
       "u AS (SELECT user_id, sum(CASE WHEN d < mid THEN 1 ELSE 0 END) AS x1, CAST(round(round(sum(CASE WHEN d < mid THEN value ELSE 0 END), 4) * 10000, 0) AS BIGINT) AS x2, substr(md5(CAST(user_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7') AS t FROM ev CROSS JOIN m GROUP BY user_id), " +
       "m1 AS (SELECT t, CAST(count(*) AS BIGINT) AS n, round(CAST(sum(x1) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1.0, 6) AS mean, round(CAST(CAST(count(*) AS HUGEINT) * sum(CAST(x1 AS HUGEINT) * x1) - CAST(sum(x1) AS HUGEINT) * sum(x1) AS DOUBLE) / CAST(count(*) * (count(*) - 1) AS DOUBLE) / 1.0, 6) AS variance FROM u GROUP BY 1), " +
       "m2 AS (SELECT t, CAST(count(*) AS BIGINT) AS n, round(CAST(sum(x2) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 10000.0, 6) AS mean, round(CAST(CAST(count(*) AS HUGEINT) * sum(CAST(x2 AS HUGEINT) * x2) - CAST(sum(x2) AS HUGEINT) * sum(x2) AS DOUBLE) / CAST(count(*) * (count(*) - 1) AS DOUBLE) / 100000000.0, 6) AS variance FROM u GROUP BY 1), " +
       "b1 AS (SELECT 'pre_event_count' AS covariate, tt.n AS n_treated, cc.n AS n_control, tt.mean AS mean_treated, cc.mean AS mean_control, round((tt.mean - cc.mean) / sqrt((tt.variance + cc.variance) / 2.0), 6) AS smd FROM (SELECT * FROM m1 WHERE t) tt, (SELECT * FROM m1 WHERE NOT t) cc), " +
       "b2 AS (SELECT 'pre_revenue' AS covariate, tt.n AS n_treated, cc.n AS n_control, tt.mean AS mean_treated, cc.mean AS mean_control, round((tt.mean - cc.mean) / sqrt((tt.variance + cc.variance) / 2.0), 6) AS smd FROM (SELECT * FROM m2 WHERE t) tt, (SELECT * FROM m2 WHERE NOT t) cc) " +
       "SELECT covariate, n_treated, n_control, mean_treated, mean_control, smd, abs(smd) < 0.1 AS balanced FROM b1 UNION ALL SELECT covariate, n_treated, n_control, mean_treated, mean_control, smd, abs(smd) < 0.1 AS balanced FROM b2 ORDER BY covariate"),
    // stats_paired_ttest: per-user post-pre differences in integer 1e-4
    // units; exact moments, round-6 mean/sd before the t arithmetic.
    "stats_paired_ttest" ->
      ("WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d, value FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL), " +
       "m AS (SELECT min(d) + CAST((max(d) - min(d)) // 2 AS INTEGER) AS mid FROM ev), " +
       "u AS (SELECT user_id, CAST(round(round(sum(CASE WHEN d >= mid THEN value ELSE 0 END), 4) * 10000 - round(sum(CASE WHEN d < mid THEN value ELSE 0 END), 4) * 10000, 0) AS BIGINT) AS di FROM ev CROSS JOIN m GROUP BY 1), " +
       "mo AS (SELECT count(*) AS n, sum(di) AS s1, sum(CAST(di AS HUGEINT) * di) AS s2 FROM u), " +
       "b AS (SELECT CAST(n AS BIGINT) AS n_pairs, round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0, 6) AS mean_diff, " +
       "round(sqrt(CAST(CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)) / 10000.0, 6) AS sd_diff, " +
       "CAST(n - 1 AS BIGINT) AS df FROM mo) " +
       "SELECT n_pairs, mean_diff, sd_diff, df, round(mean_diff / (sd_diff / sqrt(CAST(n_pairs AS DOUBLE))), 6) AS t_stat, " +
       "abs(round(mean_diff / (sd_diff / sqrt(CAST(n_pairs AS DOUBLE))), 6)) > 1.959964 AS significant FROM b"),
    // timeseries_granger: integer daily counts, HUGEINT product sums,
    // the ols_multi Cramer solve per direction, SSEs from the moment
    // identity on the ROUNDED coefficients — no per-row residual sums.
    "timeseries_granger" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS d, sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p, sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1), " +
       "lagd AS (SELECT d, p, v, lag(p) OVER (ORDER BY d) AS pl, lag(v) OVER (ORDER BY d) AS vl FROM daily), " +
       "lg AS (SELECT * FROM lagd WHERE pl IS NOT NULL), " +
       "m1 AS (SELECT CAST(count(*) AS BIGINT) AS n_obs, CAST(count(*) AS DOUBLE) AS a11, CAST(sum(pl) AS DOUBLE) AS a12, CAST(sum(vl) AS DOUBLE) AS a13, CAST(sum(CAST(pl AS HUGEINT) * pl) AS DOUBLE) AS a22, CAST(sum(CAST(pl AS HUGEINT) * vl) AS DOUBLE) AS a23, CAST(sum(CAST(vl AS HUGEINT) * vl) AS DOUBLE) AS a33, CAST(sum(p) AS DOUBLE) AS r1, CAST(sum(CAST(p AS HUGEINT) * pl) AS DOUBLE) AS r2, CAST(sum(CAST(p AS HUGEINT) * vl) AS DOUBLE) AS r3, CAST(sum(CAST(p AS HUGEINT) * p) AS DOUBLE) AS syy FROM lg), " +
       "m2 AS (SELECT CAST(count(*) AS BIGINT) AS n_obs, CAST(count(*) AS DOUBLE) AS a11, CAST(sum(vl) AS DOUBLE) AS a12, CAST(sum(pl) AS DOUBLE) AS a13, CAST(sum(CAST(vl AS HUGEINT) * vl) AS DOUBLE) AS a22, CAST(sum(CAST(vl AS HUGEINT) * pl) AS DOUBLE) AS a23, CAST(sum(CAST(pl AS HUGEINT) * pl) AS DOUBLE) AS a33, CAST(sum(v) AS DOUBLE) AS r1, CAST(sum(CAST(v AS HUGEINT) * vl) AS DOUBLE) AS r2, CAST(sum(CAST(v AS HUGEINT) * pl) AS DOUBLE) AS r3, CAST(sum(CAST(v AS HUGEINT) * v) AS DOUBLE) AS syy FROM lg), " +
       "cr1 AS (SELECT *, a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13) + a13 * (a12 * a23 - a22 * a13) AS det, r1 * (a22 * a33 - a23 * a23) - a12 * (r2 * a33 - a23 * r3) + a13 * (r2 * a23 - a22 * r3) AS n0, a11 * (r2 * a33 - r3 * a23) - r1 * (a12 * a33 - a23 * a13) + a13 * (a12 * r3 - r2 * a13) AS n1, a11 * (a22 * r3 - a23 * r2) - a12 * (a12 * r3 - r2 * a13) + r1 * (a12 * a23 - a22 * a13) AS n2 FROM m1), " +
       "cr2 AS (SELECT *, a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13) + a13 * (a12 * a23 - a22 * a13) AS det, r1 * (a22 * a33 - a23 * a23) - a12 * (r2 * a33 - a23 * r3) + a13 * (r2 * a23 - a22 * r3) AS n0, a11 * (r2 * a33 - r3 * a23) - r1 * (a12 * a33 - a23 * a13) + a13 * (a12 * r3 - r2 * a13) AS n1, a11 * (a22 * r3 - a23 * r2) - a12 * (a12 * r3 - r2 * a13) + r1 * (a12 * a23 - a22 * a13) AS n2 FROM m2), " +
       "b1c AS (SELECT *, round(n0 / det, 6) AS b0, round(n1 / det, 6) AS b1, round(n2 / det, 6) AS b2, round((a11 * r2 - a12 * r1) / (a11 * a22 - a12 * a12), 6) AS c1 FROM cr1), " +
       "b2c AS (SELECT *, round(n0 / det, 6) AS b0, round(n1 / det, 6) AS b1, round(n2 / det, 6) AS b2, round((a11 * r2 - a12 * r1) / (a11 * a22 - a12 * a12), 6) AS c1 FROM cr2), " +
       "s1 AS (SELECT n_obs, b1 AS coef_own_lag, b2 AS coef_cross_lag, round(syy - ((round((r1 - c1 * a12) / a11, 6)) * r1 + c1 * r2), 6) AS sse_r, round(syy - (b0 * r1 + b1 * r2 + b2 * r3), 6) AS sse_u FROM b1c), " +
       "s2 AS (SELECT n_obs, b1 AS coef_own_lag, b2 AS coef_cross_lag, round(syy - ((round((r1 - c1 * a12) / a11, 6)) * r1 + c1 * r2), 6) AS sse_r, round(syy - (b0 * r1 + b1 * r2 + b2 * r3), 6) AS sse_u FROM b2c), " +
       "f AS (SELECT 'view_to_purchase' AS direction, * FROM s1 UNION ALL SELECT 'purchase_to_view' AS direction, * FROM s2) " +
       "SELECT direction, n_obs, coef_own_lag, coef_cross_lag, sse_r, sse_u, round((sse_r - sse_u) / (sse_u / CAST(n_obs - 3 AS DOUBLE)), 6) AS f_stat, round((sse_r - sse_u) / (sse_u / CAST(n_obs - 3 AS DOUBLE)), 6) > 3.841459 AS granger_causal FROM f ORDER BY direction"),
    // event_conversion_latency: exact microsecond deltas; exact
    // interpolated percentiles round-6 before the hours conversion.
    "event_conversion_latency" ->
      ("WITH fv AS (SELECT user_id, min(ts) AS vt FROM events WHERE user_id IS NOT NULL AND event_type = 'view' GROUP BY 1), " +
       "fp AS (SELECT e.user_id, fv.vt, min(e.ts) AS pt FROM events e JOIN fv ON e.user_id = fv.user_id WHERE e.event_type = 'purchase' AND e.ts >= fv.vt GROUP BY 1, 2), " +
       "d AS (SELECT epoch_ns(pt) // 1000 - epoch_ns(vt) // 1000 AS delta_us FROM fp) " +
       "SELECT CAST(count(*) AS BIGINT) AS n_converters, " +
       "round(round(quantile_cont(delta_us, 0.5), 6) / 3600000000.0, 6) AS p50_hours, " +
       "round(round(quantile_cont(delta_us, 0.9), 6) / 3600000000.0, 6) AS p90_hours, " +
       "round(round(quantile_cont(delta_us, 0.99), 6) / 3600000000.0, 6) AS p99_hours, " +
       "round(CAST(max(delta_us) AS DOUBLE) / 3600000000.0, 6) AS max_hours FROM d"),
    // stats_auc_delong: integer placements at distinct-score grain
    // (w = 2*below + tied), HUGEINT moments, exact-ratio variances;
    // the oracle's global cumsum is the engine's bucketed prefix.
    "stats_auc_delong" ->
      ("WITH bs AS (SELECT round(value, 4) AS sc, sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS npos, sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS nneg FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL GROUP BY 1), " +
       "runs AS (SELECT sc, npos, nneg, sum(nneg) OVER (ORDER BY sc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cneg, sum(npos) OVER (ORDER BY sc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cpos FROM bs), " +
       "w AS (SELECT sc, npos, nneg, 2 * (cneg - nneg) + nneg AS wp, 2 * (cpos - npos) + npos AS wn FROM runs), " +
       "mo AS (SELECT CAST(sum(npos) AS BIGINT) AS n1, CAST(sum(nneg) AS BIGINT) AS n0, sum(CAST(wp AS HUGEINT) * npos) AS swp, sum(CAST(wp AS HUGEINT) * wp * npos) AS swp2, sum(CAST(wn AS HUGEINT) * nneg) AS swn, sum(CAST(wn AS HUGEINT) * wn * nneg) AS swn2 FROM w), " +
       "b AS (SELECT n1 AS n_pos, n0 AS n_neg, round(CAST(swp AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)), 6) AS auc, " +
       "round(CAST(CAST(n1 AS HUGEINT) * swp2 - swp * swp AS DOUBLE) / nullif(CAST(n1 * (n1 - 1) AS DOUBLE), 0.0) / (4.0 * CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE)), 10) AS s10, " +
       "round(CAST(CAST(n0 AS HUGEINT) * swn2 - swn * swn AS DOUBLE) / nullif(CAST(n0 * (n0 - 1) AS DOUBLE), 0.0) / (4.0 * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)), 10) AS s01 FROM mo), " +
       "f AS (SELECT *, round(sqrt(s10 / CAST(n_pos AS DOUBLE) + s01 / CAST(n_neg AS DOUBLE)), 6) AS se_auc FROM b) " +
       "SELECT n_pos, n_neg, auc, s10, s01, se_auc, round((auc - 0.5) / nullif(se_auc, 0.0), 6) AS z_vs_half, " +
       "round(auc - 1.959964 * se_auc, 6) AS ci_lo, round(auc + 1.959964 * se_auc, 6) AS ci_hi FROM f"),
    // stats_tukey_hsd: integer 1e-4 units keep group moments exact;
    // the pooled SSW is a seeded fold in type order; q vs 3.858.
    "stats_tukey_hsd" ->
      ("WITH v AS (SELECT event_type, CAST(round(round(value, 4) * 10000, 0) AS BIGINT) AS xi FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL), " +
       "g AS (SELECT event_type, count(*) AS n, sum(xi) AS s1, sum(CAST(xi AS HUGEINT) * xi) AS s2 FROM v GROUP BY 1), " +
       "gm AS (SELECT *, round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0, 6) AS mean, CAST(CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) / CAST(n AS DOUBLE) AS ssw FROM g), " +
       "mse AS (SELECT round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(ssw ORDER BY event_type)), (acc, x) -> acc + x) / nullif(CAST(sum(n) - count(*) AS DOUBLE), 0.0) / 100000000.0, 6) AS mse FROM gm), " +
       "p AS (SELECT a.event_type AS t1, b.event_type AS t2, CAST(a.n AS BIGINT) AS n1, CAST(b.n AS BIGINT) AS n2, a.mean AS mean_1, b.mean AS mean_2 FROM gm a JOIN gm b ON a.event_type < b.event_type) " +
       "SELECT t1, t2, n1, n2, mean_1, mean_2, round(mean_1 - mean_2, 6) AS diff, " +
       "round(abs(mean_1 - mean_2) / nullif(sqrt(mse.mse / 2.0 * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))), 0.0), 6) AS q_stat, " +
       "round(abs(mean_1 - mean_2) / nullif(sqrt(mse.mse / 2.0 * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))), 0.0), 6) > 3.858 AS significant " +
       "FROM p, mse ORDER BY t1, t2"),
    // text_burstiness: exact integer counts; top-20 by total then word.
    "text_burstiness" ->
      ("WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents WHERE text IS NOT NULL), " +
       "g AS (SELECT w AS word, CAST(count(*) AS BIGINT) AS total_count, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_count FROM w GROUP BY 1) " +
       "SELECT word, total_count, doc_count, round(CAST(total_count AS DOUBLE) / CAST(doc_count AS DOUBLE), 6) AS burstiness " +
       "FROM g ORDER BY total_count DESC, word ASC LIMIT 20"),
    // sink_manifest_snapshot: the oracle totals the table of record —
    // they match ONLY because the read path honors the manifest and
    // never sees the planted orphan file.
    "sink_manifest_snapshot" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) AS DOUBLE) AS total_value, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users " +
       "FROM events WHERE event_type = 'purchase' AND value IS NOT NULL"),
    // model_lift_deciles: round-6 percentile cutpoints, integer decile
    // counts, windows over the 10-row decile frame.
    "model_lift_deciles" ->
      ("WITH v AS (SELECT round(value, 4) AS sc, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL), " +
       "cu AS (SELECT " + (1 to 9).map(i => s"round(quantile_cont(sc, 0.$i), 6) AS q$i").mkString(", ") + " FROM v), " +
       "d AS (SELECT 10 - (" + (1 to 9).map(i => s"CAST(sc > q$i AS BIGINT)").mkString(" + ") + ") AS decile, y FROM v, cu), " +
       "g AS (SELECT decile, count(*) AS n, sum(y) AS pos FROM d GROUP BY 1), " +
       "c AS (SELECT decile, n, pos, sum(n) OVER w AS cum_n, sum(pos) OVER w AS cum_pos, sum(n) OVER () AS tot_n, sum(pos) OVER () AS tot_pos FROM g WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
       "SELECT CAST(decile AS BIGINT) AS decile, CAST(n AS BIGINT) AS n_rows, CAST(pos AS BIGINT) AS n_positives, " +
       "round(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS decile_rate, " +
       "round(CAST(cum_pos AS DOUBLE) / nullif(CAST(tot_pos AS DOUBLE), 0.0), 6) AS cum_capture, " +
       "round((CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE)) / nullif(CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE), 0.0), 6) AS cum_lift " +
       "FROM c ORDER BY decile"),
    // graph_rich_club: the triangles-key edge CTE symmetrized; strict
    // > on the round-6 p90 threshold; ratio from the ROUNDED densities.
    "graph_rich_club" ->
      ("WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
       "e0 AS MATERIALIZED (SELECT a.p AS u, b.p AS v FROM items a JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2), " +
       "sym AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0), " +
       "deg AS (SELECT u, count(*) AS d FROM sym GROUP BY 1), " +
       "th AS (SELECT round(quantile_cont(d, 0.9), 6) AS p90 FROM deg), " +
       "rich AS (SELECT u FROM deg, th WHERE CAST(d AS DOUBLE) > p90), " +
       "er AS (SELECT count(*) AS e_rich FROM sym JOIN rich r1 ON sym.u = r1.u JOIN rich r2 ON sym.v = r2.u), " +
       "tot AS (SELECT (SELECT count(*) FROM deg) AS n_nodes, (SELECT count(*) FROM sym) AS e_all, (SELECT count(*) FROM rich) AS n_rich), " +
       "dd AS (SELECT CAST(n_nodes AS BIGINT) AS n_nodes, CAST(e_all AS BIGINT) AS n_edges_sym, th.p90 AS deg_p90, CAST(n_rich AS BIGINT) AS n_rich, CAST(er.e_rich AS BIGINT) AS n_edges_rich, " +
       "round(CAST(er.e_rich AS DOUBLE) / nullif(CAST(n_rich * (n_rich - 1) AS DOUBLE), 0.0), 6) AS density_rich, " +
       "round(CAST(e_all AS DOUBLE) / nullif(CAST(n_nodes * (n_nodes - 1) AS DOUBLE), 0.0), 6) AS density_all " +
       "FROM tot, th, er) " +
       "SELECT *, round(density_rich / nullif(density_all, 0.0), 6) AS rich_club_ratio FROM dd"),
    // timeseries_croston: the per-part Croston recursion replayed as a
    // recursive CTE over the demand-day subsequence; demand x is an
    // exact decimal sum cast to double, the interval carries through
    // the carried previous date (date_diff ≡ datediff).
    "timeseries_croston" ->
      ("WITH RECURSIVE demand AS (SELECT l_partkey, CAST(l_shipdate AS DATE) AS d, CAST(sum(l_quantity) AS DOUBLE) AS x FROM lineitem GROUP BY 1, 2), " +
       "idx AS (SELECT l_partkey, d, x, row_number() OVER (PARTITION BY l_partkey ORDER BY d) AS rn FROM demand), " +
       "rec(l_partkey, rn, d, z, p) AS (" +
       "SELECT l_partkey, rn, d, x, CAST(1.0 AS DOUBLE) FROM idx WHERE rn = 1 " +
       "UNION ALL " +
       "SELECT i.l_partkey, i.rn, i.d, CAST(0.3 AS DOUBLE) * i.x + CAST(0.7 AS DOUBLE) * r.z, " +
       "CAST(0.3 AS DOUBLE) * CAST(date_diff('day', r.d, i.d) AS DOUBLE) + CAST(0.7 AS DOUBLE) * r.p " +
       "FROM rec r JOIN idx i ON i.l_partkey = r.l_partkey AND i.rn = r.rn + 1), " +
       "lastd AS (SELECT l_partkey, max(rn) AS mrn FROM idx GROUP BY 1) " +
       "SELECT r.l_partkey, CAST(l.mrn AS BIGINT) AS n_demand_days, r.d AS last_demand_day, " +
       "round(r.z, 6) AS size_est, round(r.p, 6) AS interval_est, " +
       "round(r.z / r.p, 6) AS croston_forecast, round(0.85 * r.z / r.p, 6) AS sba_forecast " +
       "FROM rec r JOIN lastd l ON r.l_partkey = l.l_partkey AND r.rn = l.mrn ORDER BY r.l_partkey"),
    // timeseries_theta: OLS moments exact (integer t, decimal(18,4) x);
    // a and b round at 6 BEFORE the theta-line build, each theta2
    // rounds at 6 before the SES recursion — both engines then fold
    // identical inputs; forecast reads the ROUNDED final SES level.
    "timeseries_theta" ->
      ("WITH RECURSIVE daily AS (SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 4) AS x FROM events WHERE event_type = 'purchase' GROUP BY 1, 2), " +
       "idx AS (SELECT event_type, d, x, row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn FROM daily), " +
       "fit AS (SELECT event_type, count(*) AS n, sum(rn) AS st, sum(rn * rn) AS st2, sum(CAST(x AS DECIMAL(18,4))) AS sx, sum(rn * CAST(x AS DECIMAL(18,4))) AS stx FROM idx GROUP BY 1), " +
       "ab0 AS (SELECT event_type, n, round(CAST(n * stx - st * sx AS DOUBLE) / CAST(n * st2 - st * st AS DOUBLE), 6) AS b, sx, st FROM fit), " +
       "ab AS (SELECT event_type, n, b, round((CAST(sx AS DOUBLE) - b * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS a FROM ab0), " +
       "th AS (SELECT i.event_type, i.rn, round(CAST(2.0 AS DOUBLE) * i.x - (ab.a + ab.b * CAST(i.rn AS DOUBLE)), 6) AS th2 FROM idx i JOIN ab USING (event_type)), " +
       "rec(event_type, rn, l) AS (" +
       "SELECT event_type, rn, th2 FROM th WHERE rn = 1 " +
       "UNION ALL " +
       "SELECT t.event_type, t.rn, CAST(0.5 AS DOUBLE) * t.th2 + CAST(0.5 AS DOUBLE) * r.l " +
       "FROM rec r JOIN th t ON t.event_type = r.event_type AND t.rn = r.rn + 1) " +
       "SELECT ab.event_type, CAST(ab.n AS BIGINT) AS n_days, ab.a AS intercept, ab.b AS slope, " +
       "round(r.l, 6) AS ses_theta2, " +
       "round(CAST(0.5 AS DOUBLE) * (round(r.l, 6) + (ab.a + ab.b * CAST(ab.n + 1 AS DOUBLE))), 6) AS forecast_next " +
       "FROM ab JOIN rec r ON r.event_type = ab.event_type AND r.rn = ab.n ORDER BY ab.event_type"),
    // stats_friedman: midranks are half-integers (squares quarter-
    // integers) — every sum is exact in binary double; the one global
    // window runs over k treatment rows. Complete blocks only.
    "stats_friedman" ->
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2), " +
       "kd AS (SELECT *, count(*) OVER (PARTITION BY d) AS k_day FROM daily), " +
       "km AS (SELECT max(k_day) AS k FROM kd), " +
       "rb AS (SELECT kd.event_type, kd.d, kd.c, km.k FROM kd, km WHERE kd.k_day = km.k), " +
       "rkd AS (SELECT event_type, d, k, CAST(rank() OVER (PARTITION BY d ORDER BY c) AS DOUBLE) + (CAST(count(*) OVER (PARTITION BY d, c) AS DOUBLE) - 1.0) / 2.0 AS mr FROM rb), " +
       "g AS (SELECT k, count(DISTINCT d) AS nb, sum(mr * mr) AS ssq FROM rkd GROUP BY 1), " +
       "rs AS (SELECT event_type, k, sum(mr) AS rank_sum FROM rkd GROUP BY 1, 2), " +
       "q AS (SELECT rs.event_type, rs.rank_sum, g.nb, rs.k, " +
       "round(CAST(rs.k - 1 AS DOUBLE) * sum((rank_sum - CAST(g.nb AS DOUBLE) * CAST(rs.k + 1 AS DOUBLE) / 2.0) * (rank_sum - CAST(g.nb AS DOUBLE) * CAST(rs.k + 1 AS DOUBLE) / 2.0)) OVER () / (g.ssq - CAST(g.nb AS DOUBLE) * CAST(rs.k AS DOUBLE) * CAST(rs.k + 1 AS DOUBLE) * CAST(rs.k + 1 AS DOUBLE) / 4.0), 6) AS q_stat " +
       "FROM rs JOIN g USING (k)) " +
       "SELECT event_type, rank_sum, CAST(nb AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k_treatments, q_stat, CAST(k - 1 AS BIGINT) AS df FROM q ORDER BY event_type"),
    // stats_capture_recapture: the two marks are md5 first-hex-digit
    // halves salted 'a'/'b' — the deterministic-sampling idiom; err_pct
    // reads the ROUNDED Chapman estimate on both engines.
    "stats_capture_recapture" ->
      ("WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL), " +
       "m AS (SELECT CAST(count(*) AS BIGINT) AS n_true, " +
       "CAST(sum(CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || 'a'), 1, 1) IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE 0 END) AS BIGINT) AS n_sample_a, " +
       "CAST(sum(CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || 'b'), 1, 1) IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE 0 END) AS BIGINT) AS n_sample_b, " +
       "CAST(sum(CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || 'a'), 1, 1) IN ('0','1','2','3','4','5','6','7') AND substr(md5(CAST(user_id AS VARCHAR) || 'b'), 1, 1) IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE 0 END) AS BIGINT) AS n_recaptured FROM u), " +
       "c AS (SELECT *, round(CAST(n_sample_a + 1 AS DOUBLE) * CAST(n_sample_b + 1 AS DOUBLE) / CAST(n_recaptured + 1 AS DOUBLE) - 1.0, 4) AS chapman_estimate FROM m) " +
       "SELECT n_true, n_sample_a, n_sample_b, n_recaptured, chapman_estimate, " +
       "round((chapman_estimate - CAST(n_true AS DOUBLE)) * 100.0 / CAST(n_true AS DOUBLE), 4) AS err_pct FROM c"),
  )
}

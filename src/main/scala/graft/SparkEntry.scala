package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AnnOps, DedupOps, EventAnalytics, PipelineOps, Relational, RelationalExt, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Conventions that keep the DuckDB oracle compare honest:
  *  - every column aliased identically in the Spark plan and the SQL;
  *  - doubles rounded on BOTH sides (float-association noise);
  *  - integer outputs are BIGINT on both sides (Spark size()/length()
  *    are int32, DuckDB len()/length() are int64; DuckDB sum(int) is
  *    HUGEINT and must be cast back);
  *  - timestamps surfaced as formatted strings (UTC both sides);
  *  - every ORDER BY is over a unique key of the result.
  */
object SparkEntry {
  type QueryFn = (SparkSession, String) => DataFrame

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, QueryFn] = Map(
    // §2.B relational analytics
    "q1_pricing_summary"          -> Relational.q1PricingSummary,
    "q3_shipping_priority"        -> Relational.q3ShippingPriority,
    "q5_local_supplier"           -> Relational.q5LocalSupplier,
    "q6_forecast_revenue"         -> Relational.q6ForecastRevenue,
    "q_top_customers_per_segment" -> Relational.qTopCustomersPerSegment,
    "q_order_priority"            -> Relational.qOrderPriority,
    "q_parts_never_ordered"       -> Relational.qPartsNeverOrdered,
    "q_nation_revenue_rollup"     -> Relational.qNationRevenueRollup,
    "q_customer_distribution"     -> Relational.qCustomerDistribution,
    "q_events_windowed"           -> Relational.qEventsWindowed,
    "q_events_sessionize"         -> Relational.qEventsSessionize,
    "q_events_topk_users"         -> Relational.qEventsTopkUsers,
    "q_events_topk_native"        -> Relational.qEventsTopkNative,
    "q_events_json_extract"       -> Relational.qEventsJsonExtract,
    "q7_nation_volume"            -> RelationalExt.q7NationVolume,
    "q10_returned_items"          -> RelationalExt.q10ReturnedItems,
    "q15_top_supplier"            -> RelationalExt.q15TopSupplier,
    "q17_small_qty_orders"        -> RelationalExt.q17SmallQtyOrders,
    "q18_large_orders"            -> RelationalExt.q18LargeOrders,
    "q22_global_sales"            -> RelationalExt.q22GlobalSales,
    "q_set_ops"                   -> RelationalExt.qSetOps,
    "q_pivot_status"              -> RelationalExt.qPivotStatus,
    "q_value_percentiles"         -> RelationalExt.qValuePercentiles,
    "q19_discounted_revenue"      -> RelationalExt.q19DiscountedRevenue,
    "q12_late_lines"              -> RelationalExt.q12LateLines,
    "q14_promo_share"             -> RelationalExt.q14PromoShare,
    "q16_brand_suppliers"         -> RelationalExt.q16BrandSuppliers,
    "q_skewed_agg"                -> RelationalExt.qSkewedAgg,
    "q_skewed_distinct"           -> RelationalExt.qSkewedDistinct,
    "q8_market_share"             -> RelationalExt.q8MarketShare,
    "q9_profit_by_nation"         -> RelationalExt.q9ProfitByNation,
    "q21_late_suppliers"          -> RelationalExt.q21LateSuppliers,
    "q_window_funcs"              -> RelationalExt.qWindowFuncs,
    "q_cube_revenue"              -> RelationalExt.qCubeRevenue,
    "q_events_session_window"     -> RelationalExt.qEventsSessionWindow,
    "q_approx_stats"              -> RelationalExt.qApproxStats,
    "q2_min_cost_supplier"        -> RelationalExt.q2MinCostSupplier,
    "q_grouping_sets"             -> RelationalExt.qGroupingSets,
    "q_full_outer"                -> RelationalExt.qFullOuter,
    "q_asof_join"                 -> operators.AsOf.qAsofJoin,
    "q11_part_value_share"        -> operators.SupplyOps.q11PartValueShare,
    "q20_excess_suppliers"        -> operators.SupplyOps.q20ExcessSuppliers,
    "q_copurchase_pairs"          -> operators.SupplyOps.qCopurchasePairs,
    "q_sliding_distinct"          -> EventAnalytics.qSlidingDistinct,
    "q_range_join"                -> EventAnalytics.qRangeJoin,
    "q_events_moving_avg"         -> RelationalExt.qEventsMovingAvg,
    "q_events_funnel"             -> EventAnalytics.qEventsFunnel,
    "q_events_retention"          -> EventAnalytics.qEventsRetention,
    "q_events_anomaly"            -> EventAnalytics.qEventsAnomaly,
    "q_orders_mom_growth"         -> EventAnalytics.qOrdersMoM,
    "q_pagerank"                  -> operators.GraphOps.qPagerank,
    "q_markov_transitions"        -> operators.GraphOps.qMarkovTransitions,
    "q_triangle_count"            -> operators.GraphOps.qTriangleCount,
    "q_bfs_distance"              -> operators.GraphOps.qBfsDistance,
    "q_kcore"                     -> operators.GraphOps.qKcore,
    "q_clustering_coeff"          -> operators.GraphOps.qClusteringCoeff,
    // §2.A mapreduce parity
    "mr_wordcount"                -> TextOps.mrWordcount,
    "mr_wordcount_engine"         -> TextOps.mrWordcountEngine,
    "mr_grep"                     -> TextOps.mrGrep,
    "mr_inverted_index"           -> TextOps.mrInvertedIndex,
    "mr_distinct_tokens"          -> TextOps.mrDistinctTokens,
    "mr_chained"                  -> TextOps.mrChained,
    "mr_secondary_sort"           -> TextOps.mrSecondarySort,
    // §2.E text analysis
    "text_token_stats"            -> TextOps.textTokenStats,
    "text_quality"                -> TextOps.textQuality,
    "text_langid"                 -> TextOps.textLangid,
    "text_langid_ngram"           -> TextOps.textLangidNgram,
    "text_fingerprint"            -> TextOps.textFingerprint,
    "text_winnow"                 -> TextOps.textWinnow,
    "text_sample_hash"            -> TextOps.textSampleHash,
    "text_levenshtein_pairs"      -> TextOps.textLevenshteinPairs,
    "text_subword_stats"          -> TextOps.textSubwordStats,
    "text_pii_scan"               -> PipelineOps.textPiiScan,
    "text_gopher_rules"           -> PipelineOps.textGopherRules,
    "text_boilerplate"            -> PipelineOps.textBoilerplate,
    "q_stratified_sample"         -> PipelineOps.qStratifiedSample,
    "q_top_ngrams"                -> PipelineOps.qTopNgrams,
    "q_domain_mix"                -> PipelineOps.qDomainMix,
    "q_mix_temperature"           -> PipelineOps.qMixTemperature,
    "text_seed_sim"               -> PipelineOps.textSeedSim,
    "text_lm_score"               -> PipelineOps.textLmScore,
    "text_tfidf_top"              -> PipelineOps.textTfidfTop,
    "text_decontaminate"          -> PipelineOps.textDecontaminate,
    // r12: paraphrase-level (near-dup) benchmark leakage — the
    // verbatim detectors' missing rung
    "text_minhash_decontaminate"  -> PipelineOps.textMinhashDecontaminate,
    "text_bloom_decontaminate"    -> ((s, d) => PipelineOps.bloomDecontaminate(s, d)),
    "text_readability"            -> PipelineOps.textReadability,
    "pipeline_curate"             -> PipelineOps.pipelineCurate,
    "text_ccnet_buckets"          -> PipelineOps.textCcnetBuckets,
    "text_repeated_ngrams"        -> PipelineOps.textRepeatedNgrams,
    "text_chunk_passages"         -> PipelineOps.textChunkPassages,
    "text_dsir_importance"        -> PipelineOps.textDsirImportance,
    "text_ngram_novelty"          -> PipelineOps.textNgramNovelty,
    "q_chi2_terms"                -> operators.ModelOps.qChi2Terms,
    "text_bpe_encode"             -> operators.BpeOps.textBpeEncode,
    "q_tokenizer_fertility"       -> operators.BpeOps.qTokenizerFertility,
    "q_pack_shards"               -> PipelineOps.qPackShards,
    "q_histogram"                 -> EventAnalytics.qHistogram,
    "q_heavy_hitters"             -> EventAnalytics.qHeavyHittersCms,
    "q_corr_stats"                -> RelationalExt.qCorrStats,
    // §2.C dedup
    "dedup_exact"                 -> TextOps.dedupExact,
    "dedup_minhash_lsh"           -> DedupOps.dedupMinhashLsh,
    "dedup_simhash"               -> DedupOps.dedupSimhash,
    "dedup_ngram_jaccard"         -> DedupOps.dedupNgramJaccard,
    "dedup_embedding"             -> DedupOps.dedupEmbedding,
    "dedup_clusters"              -> DedupOps.dedupClusters,
    "dedup_pipeline"              -> DedupOps.dedupPipeline,
    "dedup_incremental"           -> DedupOps.dedupIncremental,
    // §2.D similarity search
    "ann_bruteforce_topk"         -> AnnOps.annBruteforceTopk,
    "ann_lsh_topk"                -> AnnOps.annLshTopk,
    // r12: the n-aware geometry schedule under the hashed gate —
    // band-occupancy/candidate-mass audit at the schedule-chosen dial
    "ann_lsh_scheduled_mass"      -> AnnOps.annLshScheduledMass,
    "ann_lsh_multiword_mass"      -> AnnOps.annLshMultiwordMass,
    // r5: graph-based ANN (flat navigable-small-world, beam serve)
    "ann_hnsw_topk"               -> operators.HnswOps.annHnswTopk,
    "ann_ivf_topk"                -> AnnOps.annIvfTopk,
    "ann_sq8_topk"                -> AnnOps.annSq8Topk,
    "ann_pq_topk"                 -> AnnOps.annPqTopk,
    "ann_ivfpq_topk"              -> AnnOps.annIvfPqTopk,
    "ann_ivfpq_residual_topk"     -> AnnOps.annIvfPqResidualTopk,
    "ann_incremental_topk"        -> AnnOps.annIncrementalTopk,
    "emb_kmeans"                  -> operators.KMeansOps.embKmeans,
    "emb_pca_power"               -> operators.PcaOps.embPcaPower,
    // §2.F multimodal stand-in
    "mm_media_stats"              -> TextOps.mmMediaStats,
    "mm_wav_meta"                 -> TextOps.mmWavMeta,
    "mm_vtt_cues"                 -> operators.TextOps.mmVttCues,
    "mm_png_meta"                 -> operators.TextOps.mmPngMeta,
    "mm_jpeg_meta"                -> operators.TextOps.mmJpegMeta,
    "mm_gif_meta"                 -> operators.TextOps.mmGifMeta,
    "mm_caption_align"            -> operators.TextOps.mmCaptionAlign,
    "mm_flac_meta"                -> operators.TextOps.mmFlacMeta,
    "mm_zip_entries"              -> operators.TextOps.mmZipEntries,
    "mm_id3_tags"                 -> operators.TextOps.mmId3Tags,
    "mm_image_meta"               -> TextOps.mmImageMeta,
    "mm_image_phash"              -> TextOps.mmImagePhash,
    "mm_image_neardup"            -> TextOps.mmImageNeardup,
    "mm_featurize"                -> TextOps.mmFeaturize,
    "mm_frame_sample"             -> TextOps.mmFrameSample,
    "mm_exif_meta"                -> TextOps.mmExifMeta,
    "mm_exif_gps"                 -> TextOps.mmExifGps,
    "mm_mp4_meta"                 -> TextOps.mmMp4Meta,
    "mm_mp4_samples"              -> TextOps.mmMp4Samples,
    "mm_mp4_byteranges"           -> TextOps.mmMp4ByteRanges,
    "mm_image_resize"             -> TextOps.mmImageResize,
    "q_vocab_growth"              -> TextOps.qVocabGrowth,
    "text_url_canonicalize"       -> operators.UrlOps.textUrlCanonicalize,
    "q_pareto_docs"               -> operators.CurationOps.qParetoDocs,
    "text_hash_lr"                -> operators.ModelOps.textHashLr,
    "text_perceptron_train"       -> operators.ModelOps.textPerceptronTrain,
    "dedup_containment"           -> DedupOps.dedupContainment,
    "q_attribution"               -> EventAnalytics.qAttribution,
    "q_collocations"              -> PipelineOps.qCollocations,
    "q_merge_upsert"              -> operators.CdcOps.qMergeUpsert,
    "text_bpe_train"              -> operators.BpeOps.textBpeTrain,
    "q_exp_smoothing"             -> EventAnalytics.qExpSmoothing,
    // r3 wave 2: retrieval, layout, partial-dup + semantic dedup
    "text_char_diversity"         -> PipelineOps.textCharDiversity,
    "q_bm25_search"               -> PipelineOps.qBm25Search,
    "q_search_rankeval"           -> PipelineOps.qSearchRankeval,
    "q_compact_binpack"           -> operators.LayoutOps.qCompactBinpack,
    "q_zorder_layout"             -> operators.LayoutOps.qZorderLayout,
    "q_hilbert_layout"            -> operators.LayoutOps.qHilbertLayout,
    "dedup_cdc_chunks"            -> DedupOps.dedupCdcChunks,
    "dedup_semantic"              -> DedupOps.dedupSemantic,
    // r4: curation selection passes
    "dedup_span_coverage"         -> operators.CurationOps.dedupSpanCoverage,
    // r5: exact suffix-array EXACTSUBSTR (true maximal repeats)
    "dedup_exact_substr"          -> operators.SuffixOps.qDedupExactSubstr,
    "text_decontaminate_spans"    -> operators.SuffixOps.qDecontaminateSpans,
    "text_cut_contaminated"       -> operators.SuffixOps.qCutContaminated,
    "q_k_anonymity"               -> operators.CurationOps.qKAnonymity,
    "emb_quarantine"              -> operators.AnnOps.embQuarantine,
    "q_journey_repeats"           -> operators.SuffixOps.qJourneyRepeats,
    "q_l_diversity"               -> operators.CurationOps.qLDiversity,
    "q_dp_counts"                 -> operators.CurationOps.qDpCounts,
    "q_sssp"                      -> operators.GraphOps.qSssp,
    "dedup_minhash_calibration"   -> DedupOps.dedupMinhashCalibration,
    "q_domain_cap"                -> operators.CurationOps.qDomainCap,
    "q_mmr_select"                -> operators.CurationOps.qMmrSelect,
    "q_kmv_distinct"              -> EventAnalytics.qKmvDistinct,
    "q_hll_distinct"              -> EventAnalytics.qHllDistinct,
    "q_kmv_set_ops"               -> EventAnalytics.qKmvSetOps,
    "q_xcorr_lags"                -> EventAnalytics.qXcorrLags,
    "q_top_paths"                 -> EventAnalytics.qTopPaths,
    "q_rolling_revenue"           -> RelationalExt.qRollingRevenue,
    "q_sql_cosine_topk"           -> AnnOps.qSqlCosineTopk,
    "q_funnel_ordered"            -> EventAnalytics.qFunnelOrdered,
    "emb_dim_stats"               -> AnnOps.embDimStats,
    "emb_ivf_balance"             -> AnnOps.embIvfBalance,
    "q_abandoned_views"           -> EventAnalytics.qAbandonedViews,
    "q_robust_outliers"           -> EventAnalytics.qRobustOutliers,
    "q_cohort_ltv"                -> EventAnalytics.qCohortLtv,
    "q_link_prediction"           -> operators.GraphOps.qLinkPrediction,
    "q_seasonality"               -> EventAnalytics.qSeasonality,
    "q_skew_gini"                 -> EventAnalytics.qSkewGini,
    "q_bisect_median"             -> EventAnalytics.qBisectMedian,
    "q_basket_rules"              -> operators.SupplyOps.qBasketRules,
    "q_dormancy_gaps"             -> EventAnalytics.qDormancyGaps,
    "q_decayed_revenue"           -> EventAnalytics.qDecayedRevenue,
    "q_priority_sample"           -> operators.CurationOps.qPrioritySample,
    "q_negative_pairs"            -> operators.CurationOps.qNegativePairs,
    "q_ab_ztest"                  -> EventAnalytics.qAbZtest,
    // r12: sequential testing — always-valid p-values under peeking
    "q_ab_sprt"                   -> EventAnalytics.qAbSprt,
    "q_survival_curve"            -> EventAnalytics.qSurvivalCurve,
    "q_changepoint_cusum"         -> RelationalExt.qChangepointCusum,
    "q_forecast_holt"             -> RelationalExt.qForecastHolt,
    "q_benford_check"             -> RelationalExt.qBenfordCheck,
    // r13: nonparametric two-sample + trend tests (rank/sign based)
    "q_mann_whitney"              -> RelationalExt.qMannWhitney,
    "q_mann_kendall"              -> RelationalExt.qMannKendall,
    "q_attribution_markov"        -> EventAnalytics.qAttributionMarkov,
    "q_rfm_segments"              -> RelationalExt.qRfmSegments,
    "q_scd2_history"              -> operators.CdcOps.qScd2History,
    "q_record_linkage"            -> operators.LinkageOps.qRecordLinkage,
    "q_label_propagation"         -> operators.GraphOps.qLabelPropagation,
    "q_model_gains"               -> operators.ModelOps.qModelGains,
    "q_bandit_ips"                -> operators.ModelOps.qBanditIps,
    "ann_radius_search"           -> AnnOps.annRadiusSearch,
    "text_rake_keywords"          -> PipelineOps.textRakeKeywords,
    "q_weighted_median"           -> EventAnalytics.qWeightedMedian,
    "mm_phash_neardup"            -> TextOps.mmPhashNeardup,
    "q_graph_modularity"          -> operators.GraphOps.qGraphModularity,
    "q_entity_clusters"           -> operators.LinkageOps.qEntityClusters,
    "q_equidepth_hist"            -> EventAnalytics.qEquidepthHist,
    "dedup_source_matrix"         -> DedupOps.dedupSourceMatrix,
    "ann_bq_topk"                 -> AnnOps.annBqTopk,
    "ann_ivfbq_topk"              -> AnnOps.annIvfBqTopk,
    "ann_ivfbq_recall"            -> AnnOps.annIvfBqRecall,
    "emb_drift_check"             -> AnnOps.embDriftCheck,
    "emb_matryoshka_eval"         -> AnnOps.embMatryoshkaEval,
    "q_ppr"                       -> operators.GraphOps.qPersonalizedPagerank,
    "q_ivm_maintain"              -> operators.CdcOps.qIvmMaintain,
    "q_seasonal_decompose"        -> EventAnalytics.qSeasonalDecompose,
    "q_snapshot_diff"             -> operators.CdcOps.qSnapshotDiff,
    "q_events_hopping"            -> RelationalExt.qEventsHopping,
    "q_bloom_semijoin"            -> RelationalExt.qBloomSemijoin,
    "mm_audio_segments"           -> TextOps.mmAudioSegments,
    "q_ab_cuped"                  -> EventAnalytics.qAbCuped,
    "q_attribution_decay"         -> EventAnalytics.qAttributionDecay,
    "mm_cdc_chunks"               -> TextOps.mmCdcChunks,
    "q_markov_accuracy"           -> operators.GraphOps.qMarkovAccuracy,
    "q_profile_table"             -> RelationalExt.qProfileTable,
    "q_uplift_quintiles"          -> EventAnalytics.qUpliftQuintiles,
    "q_frequent_triples"          -> operators.SupplyOps.qFrequentTriples,
    "ann_filtered_topk"           -> AnnOps.annFilteredTopk,
    "q_concurrent_sessions"       -> EventAnalytics.qConcurrentSessions,
    "q_time_to_convert"           -> EventAnalytics.qTimeToConvert,
    "q_growth_accounting"         -> EventAnalytics.qGrowthAccounting,
    "ann_recall_panel"            -> AnnOps.annRecallPanel,
    "q_pit_join"                  -> operators.CdcOps.qPitJoin,
    "q_lorenz_revenue"            -> RelationalExt.qLorenzRevenue,
    "q_data_split"                -> PipelineOps.qDataSplit,
    "q_gap_fill_interpolate"      -> RelationalExt.qGapFillInterpolate,
    "q_window_ranks"              -> RelationalExt.qWindowRanks,
    "dedup_keep_best"             -> DedupOps.dedupKeepBest,
    "q_sql_topk_rewrite"          -> RelationalExt.qSqlTopkRewrite,
    "emb_pq_distortion"           -> AnnOps.embPqDistortion,
    // §2.G streaming — real Structured Streaming runs, gated against
    // batch-semantics oracles (StreamQueries doc for determinism rules)
    "stream_window_stats"         -> operators.StreamQueries.streamWindowStats,
    "stream_hopping_stats"        -> operators.StreamQueries.streamHoppingStats,
    "stream_dedup_keys"           -> operators.StreamQueries.streamDedupKeys,
    "stream_interval_join"        -> operators.StreamQueries.streamIntervalJoin,
    "stream_interval_outer"       -> operators.StreamQueries.streamIntervalOuter,
    "stream_sessionize_closed"    -> operators.StreamQueries.streamSessionizeClosed,
    "stream_cdc_state"            -> operators.StreamQueries.streamCdcState,
    "stream_kmv_distinct"         -> operators.StreamQueries.streamKmvDistinct,
    "stream_hll_distinct"         -> operators.StreamQueries.streamHllDistinct,
    "stream_enrich_rollup"        -> operators.StreamQueries.streamEnrichRollup,
    "stream_topk_events"          -> operators.StreamQueries.streamTopkEvents,
    "stream_ivf_ingest"           -> operators.StreamQueries.streamIvfIngest,
    "stream_neardup_alerts"       -> operators.StreamQueries.streamNeardupAlerts,
    "stream_decontaminate"        -> operators.StreamQueries.streamDecontaminate,
    "stream_hnsw_ingest"          -> operators.StreamQueries.streamHnswIngest,
    // §2.H sources & sinks — write→read round-trips hashed against the
    // original parquet (SourceSinkOps doc for the lossless-ness rules)
    "src_csv_roundtrip"           -> operators.SourceSinkOps.srcCsvRoundtrip,
    "src_json_roundtrip"          -> operators.SourceSinkOps.srcJsonRoundtrip,
    "src_json_malformed"          -> operators.SourceSinkOps.srcJsonMalformed,
    "src_xml_roundtrip"           -> operators.SourceSinkOps.srcXmlRoundtrip,
    "src_warc_records"            -> operators.SourceSinkOps.srcWarcRecords,
    "src_warc_gz"                 -> operators.SourceSinkOps.srcWarcGz,
    "src_compressed_text"         -> operators.SourceSinkOps.srcCompressedText,
    "src_fixedwidth"              -> operators.SourceSinkOps.srcFixedWidth,
    "src_sequencefile"            -> operators.SourceSinkOps.srcSequenceFile,
    "src_partitioned_sink"        -> operators.SourceSinkOps.srcPartitionedSink,
    "src_text_dir"                -> operators.SourceSinkOps.srcTextDir,
    "src_object_store"            -> operators.SourceSinkOps.srcObjectStore,
    "src_schema_evolution"        -> operators.SourceSinkOps.srcSchemaEvolution,
    "src_bucketed_join"           -> operators.SourceSinkOps.srcBucketedJoin,
    "src_orc_roundtrip"           -> operators.SourceSinkOps.srcOrcRoundtrip,
    "src_avro_roundtrip"          -> operators.SourceSinkOps.srcAvroRoundtrip,
    "src_csv_malformed"           -> operators.SourceSinkOps.srcCsvMalformed,
  )

  /** DuckDB-runnable equivalents, same column names, same ordering. */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |floor((sum(l_quantity))*100 + 0.5)/100 AS sum_qty,
        |floor((CAST(sum(CAST((l_extendedprice) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS sum_base_price,
        |floor((CAST(sum(CAST((l_extendedprice*(1-l_discount)) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS sum_disc_price,
        |floor((CAST(sum(CAST((l_extendedprice*(1-l_discount)*(1+l_tax)) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS sum_charge,
        |floor((avg(l_quantity))*100 + 0.5)/100 AS avg_qty,
        |floor((CAST(sum(CAST((l_extendedprice) AS DECIMAL(27,10))) AS DOUBLE)/count(*))*100 + 0.5)/100 AS avg_price,
        |floor((CAST(sum(CAST((l_discount) AS DECIMAL(27,10))) AS DOUBLE)/count(*))*10000 + 0.5)/10000 AS avg_disc,
        |count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
        |floor((CAST(sum(CAST((l_extendedprice*(1-l_discount)) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |AND o_orderdate < TIMESTAMP '1997-01-01' AND l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name, floor((CAST(sum(CAST((l_extendedprice*(1-l_discount)) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        |AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |AND r_name = 'ASIA'
        |AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT floor((CAST(sum(CAST((l_extendedprice*l_discount) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q_top_customers_per_segment" ->
      """SELECT c_mktsegment, CAST(rnk AS BIGINT) AS rnk, c_custkey, c_name, total_spent FROM (
        |  SELECT c_mktsegment, c_custkey, c_name, total_spent,
        |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY total_spent DESC, c_custkey) AS rnk
        |  FROM (
        |    SELECT c_mktsegment, c_custkey, c_name, floor((CAST(sum(CAST((o_totalprice) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS total_spent
        |    FROM customer JOIN orders ON c_custkey = o_custkey
        |    GROUP BY c_mktsegment, c_custkey, c_name) t
        |) w WHERE rnk <= 5 ORDER BY c_mktsegment, rnk""".stripMargin,

    "q_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_parts_never_ordered" ->
      """SELECT p_brand, count(*) AS n_parts FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity >= 49)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_nation_revenue_rollup" ->
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |floor((CAST(sum(CAST((o_totalprice) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP(n_name, CAST(year(o_orderdate) AS BIGINT))
        |ORDER BY n_name ASC NULLS FIRST, order_year ASC NULLS FIRST""".stripMargin,

    "q_customer_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q_events_windowed" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |count(*) AS n_events, floor((CAST(sum(CAST((value) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS sum_value,
        |count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    "q_events_sessionize" ->
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
        |count(*) AS n_events, floor((CAST(sum(CAST((value) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS sum_value FROM (
        |  SELECT user_id, value,
        |    CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM (SELECT user_id, ts, value, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM events) t
        |) s GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_events_topk_users" ->
      """SELECT event_type, CAST(rnk AS BIGINT) AS rnk, user_id, total_value FROM (
        |  SELECT event_type, user_id, total_value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY total_value DESC, user_id) AS rnk
        |  FROM (SELECT event_type, user_id, floor((CAST(sum(CAST((value) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS total_value FROM events GROUP BY 1,2) t
        |) w WHERE rnk <= 3 ORDER BY event_type, rnk""".stripMargin,

    "q_events_topk_native" ->
      """SELECT event_type, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
        |  FROM events) t
        |WHERE rn <= 3 ORDER BY event_type, value DESC, event_id""".stripMargin,

    "q_events_json_extract" ->
      """SELECT event_type, floor((avg(k))*10000 + 0.5)/10000 AS avg_k, min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events) t
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |floor((CAST(sum(CAST((l_extendedprice*(1-l_discount)) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS revenue
        |FROM lineitem, orders, supplier, customer, nation n1, nation n2
        |WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey AND o_custkey = c_custkey
        |AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |AND n1.n_name <> n2.n_name
        |AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |floor((CAST(sum(CAST((l_extendedprice*(1-l_discount)) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS revenue
        |FROM lineitem, orders, customer, nation
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND c_nationkey = n_nationkey
        |AND l_returnflag = 'R'
        |AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    floor((CAST(sum(CAST((l_extendedprice*(1-l_discount)) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_rev
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q17_small_qty_orders" ->
      """SELECT floor((CAST(sum(CAST((l_extendedprice) AS DECIMAL(27,10))) AS DOUBLE) / 7.0)*100 + 0.5)/100 AS avg_yearly
        |FROM lineitem l1
        |JOIN (SELECT l_partkey AS ap_partkey, avg(l_quantity) * 0.2 AS qty_threshold
        |      FROM lineitem GROUP BY l_partkey) a
        |ON l1.l_partkey = a.ap_partkey
        |WHERE l1.l_quantity < a.qty_threshold""".stripMargin,

    "q18_large_orders" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice,
        |floor((total_qty)*100 + 0.5)/100 AS total_qty
        |FROM orders
        |JOIN (SELECT l_orderkey AS big_okey, sum(l_quantity) AS total_qty
        |      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150) b
        |ON o_orderkey = big_okey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin,

    "q22_global_sales" ->
      """SELECT c_mktsegment, count(*) AS numcust,
        |floor((CAST(sum(CAST((c_acctbal) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT CAST(sum(CAST((c_acctbal) AS DECIMAL(27,10))) AS DOUBLE)/count(*) FROM customer WHERE c_acctbal > 0)
        |AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_set_ops" ->
      """SELECT c_custkey FROM (
        |  SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE year(o_orderdate) = 1996
        |  INTERSECT
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        |  EXCEPT
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1998
        |) t ORDER BY c_custkey""".stripMargin,

    "q_pivot_status" ->
      """SELECT c_mktsegment,
        |count(*) FILTER (o_orderstatus = 'F') AS status_f,
        |count(*) FILTER (o_orderstatus = 'O') AS status_o,
        |count(*) FILTER (o_orderstatus = 'P') AS status_p
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_value_percentiles" ->
      """SELECT event_type,
        |floor((quantile_cont(value, 0.25))*10000 + 0.5)/10000 AS p25,
        |floor((quantile_cont(value, 0.5))*10000 + 0.5)/10000 AS p50,
        |floor((quantile_cont(value, 0.75))*10000 + 0.5)/10000 AS p75,
        |floor((quantile_cont(value, 0.95))*10000 + 0.5)/10000 AS p95
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q19_discounted_revenue" ->
      """SELECT floor((CAST(sum(CAST((l_extendedprice*(1-l_discount)) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS revenue,
        |count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40)""".stripMargin,

    "q12_late_lines" ->
      """SELECT l_linestatus,
        |CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q14_promo_share" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS month,
        |floor((100.0 * CAST(sum(CAST((CASE WHEN p_type = 'PROMO' THEN l_extendedprice*(1-l_discount) ELSE 0.0 END) AS DECIMAL(27,10))) AS DOUBLE)
        | / CAST(sum(CAST((l_extendedprice*(1-l_discount)) AS DECIMAL(27,10))) AS DOUBLE))*10000 + 0.5)/10000 AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY month""".stripMargin,

    "q16_brand_suppliers" ->
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO' AND p_size IN (1, 5, 10, 15, 20, 25)
        |GROUP BY p_brand, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin,

    "q_skewed_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_distinct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q9_profit_by_nation" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |floor((CAST(sum(CAST((l_extendedprice*(1-l_discount) - 0.8*p_retailprice*l_quantity) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS profit
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    "q21_late_suppliers" ->
      """WITH multi AS (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING count(DISTINCT l_suppkey) > 1)
        |SELECT s_suppkey, s_name, count(*) AS numwait
        |FROM lineitem
        |JOIN multi USING (l_orderkey)
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        |GROUP BY s_suppkey, s_name
        |ORDER BY numwait DESC, s_suppkey LIMIT 10""".stripMargin,

    "q_window_funcs" ->
      """SELECT user_id, event_id,
        |floor((sum(value) OVER w)*10000 + 0.5)/10000 AS run_sum,
        |CAST(row_number() OVER w AS BIGINT) AS rn,
        |CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |floor((value - lag(value) OVER w)*10000 + 0.5)/10000 AS delta
        |FROM events WHERE user_id < 5
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
        |ORDER BY user_id, event_id""".stripMargin,

    "q_cube_revenue" ->
      """SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders,
        |floor((CAST(sum(CAST((o_totalprice) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY CUBE(c_mktsegment, o_orderstatus)
        |ORDER BY c_mktsegment ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin,

    "q_events_session_window" ->
      """WITH lagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM (SELECT user_id, ts, value, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM events) t),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM lagged)
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |count(*) AS n_events,
        |floor((CAST(sum(CAST((value) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS sum_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |floor((CAST(sum(CAST((CASE WHEN n2.n_name = 'NATION_5' THEN l_extendedprice*(1-l_discount) ELSE 0.0 END) AS DECIMAL(27,10))) AS DOUBLE)
        | / CAST(sum(CAST((l_extendedprice*(1-l_discount)) AS DECIMAL(27,10))) AS DOUBLE))*1000000 + 0.5)/1000000 AS mkt_share
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |GROUP BY 1 ORDER BY o_year""".stripMargin,

    "q_skewed_agg" ->
      """SELECT o_orderpriority,
        |floor((CAST(sum(CAST((l_extendedprice*(1-l_discount)) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS revenue,
        |count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // the Spark side prunes with lossless prefix+length filtering, so
    // the oracle is the PLAIN all-pairs Jaccard — any filter bug that
    // drops a true pair shows up as a hash mismatch here
    "dedup_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ') for i in generate_series(1, len(tk)-2)]) AS sh
        |  FROM toks WHERE len(tk) >= 3),
        |j AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) AS jac
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, floor((jac)*10000 + 0.5)/10000 AS jaccard
        |FROM j WHERE jac >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,

    "q_events_moving_avg" ->
      """SELECT user_id, event_id, floor((value)*10000 + 0.5)/10000 AS value,
        |floor((avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW))*10000 + 0.5)/10000 AS mavg
        |FROM events WHERE user_id < 10
        |ORDER BY user_id, event_id""".stripMargin,

    "q_events_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM s1) AS n_signup,
        |       (SELECT count(*) FROM s2) AS n_view_after,
        |       (SELECT count(*) FROM s3) AS n_purchase_after""".stripMargin,

    "q_events_anomaly" ->
      """WITH st AS (
        |  SELECT event_type AS et,
        |    CAST(sum(CAST((value) AS DECIMAL(27,10))) AS DOUBLE) AS sv,
        |    CAST(sum(CAST((value*value) AS DECIMAL(27,10))) AS DOUBLE) AS svv,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM events GROUP BY event_type),
        |th AS (SELECT et, sv/n AS mean, sqrt((svv - sv*sv/n)/(n - 1.0)) AS sd FROM st)
        |SELECT event_type, event_id, floor((value)*10000 + 0.5)/10000 AS value
        |FROM events JOIN th ON event_type = et
        |WHERE value > mean + 3.0*sd
        |ORDER BY event_type, event_id""".stripMargin,

    "q_orders_mom_growth" ->
      """WITH m AS (
        |  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
        |    floor((CAST(sum(CAST((o_totalprice) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT month, revenue,
        |  floor(((revenue - lag(revenue) OVER (ORDER BY month)) / lag(revenue) OVER (ORDER BY month) * 100.0)*10000 + 0.5)/10000 AS growth_pct
        |FROM m ORDER BY month""".stripMargin,

    "q_events_retention" ->
      """WITH f AS (SELECT user_id, min(date_trunc('day', ts)) AS d0 FROM events GROUP BY user_id)
        |SELECT strftime(f.d0, '%Y-%m-%d') AS cohort,
        |  CAST(date_diff('day', f.d0, date_trunc('day', e.ts)) AS BIGINT) AS day_offset,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY cohort, day_offset""".stripMargin,

    "mr_wordcount" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents) t
        |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin,

    "mr_wordcount_engine" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents) t
        |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin,

    "mr_grep" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE contains(text, 'merge') ORDER BY doc_id""".stripMargin,

    "mr_inverted_index" ->
      """SELECT token, CAST(doc_id // 1024 AS BIGINT) AS chunk_id,
        |  array_to_string(list_sort(list(doc_id)), ',') AS doc_ids,
        |  count(*) AS chunk_df,
        |  CAST(sum(count(*)) OVER (PARTITION BY token) AS BIGINT) AS df
        |FROM (SELECT DISTINCT doc_id, token FROM (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS token FROM documents) u
        |  WHERE token <> '') d
        |GROUP BY token, chunk_id ORDER BY token, chunk_id""".stripMargin,

    "mr_distinct_tokens" ->
      """SELECT lang, count(DISTINCT token) AS n_tokens
        |FROM (SELECT lang, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS token FROM documents) t
        |WHERE token <> '' GROUP BY lang ORDER BY lang""".stripMargin,

    "mr_secondary_sort" ->
      """WITH d AS (
        |  SELECT lang, doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS BIGINT) AS n
        |  FROM documents)
        |SELECT lang,
        |  array_to_string((list(doc_id ORDER BY n DESC, doc_id))[:5], ',') AS top5_ids,
        |  count(*) AS n_docs
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    "text_token_stats" ->
      """SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct,
        |floor((avg(length(tok)))*100 + 0.5)/100 AS avg_tok_len
        |FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS tok FROM documents) t
        |WHERE tok <> '' GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  floor((len(list_filter(toks, t -> list_contains(['the','a','and','of','to','in'], t))) / CAST(len(toks) AS DOUBLE))*10000 + 0.5)/10000 AS stop_ratio,
        |  floor(((length(text) - length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))) / CAST(length(text) AS DOUBLE))*10000 + 0.5)/10000 AS alnum_ratio,
        |  floor((len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))*10000 + 0.5)/10000 AS ttr,
        |  floor((least(len(toks) / 100.0, 1.0) * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)))*10000 + 0.5)/10000 AS quality
        |FROM base ORDER BY doc_id""".stripMargin,

    "text_langid" ->
      """WITH base AS (
        |  SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |  FROM documents),
        |hits AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(toks, t -> list_contains(['the','and','of','to','is'], t))) AS BIGINT) AS en_hits,
        |  CAST(len(list_filter(toks, t -> list_contains(['der','die','und','das','ist'], t))) AS BIGINT) AS de_hits,
        |  CAST(len(list_filter(toks, t -> list_contains(['le','la','et','les','est'], t))) AS BIGINT) AS fr_hits,
        |  CAST(len(list_filter(toks, t -> list_contains(['el','los','que','de','es'], t))) AS BIGINT) AS es_hits
        |FROM base)
        |SELECT doc_id, lang, en_hits, de_hits, fr_hits, es_hits,
        |  CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
        |       WHEN de_hits >= fr_hits AND de_hits >= es_hits AND de_hits > 0 THEN 'de'
        |       WHEN fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
        |       WHEN es_hits > 0 THEN 'es' ELSE 'und' END AS lang_pred
        |FROM hits ORDER BY doc_id""".stripMargin,

    "text_levenshtein_pairs" ->
      """SELECT a.source AS src_a, b.source AS src_b,
        |CAST(levenshtein(a.source, b.source) AS BIGINT) AS dist
        |FROM (SELECT DISTINCT source FROM documents) a,
        |     (SELECT DISTINCT source FROM documents) b
        |WHERE a.source < b.source AND levenshtein(a.source, b.source) <= 2
        |ORDER BY src_a, src_b""".stripMargin,

    "text_subword_stats" ->
      """SELECT doc_id,
        |CAST(len(pc) AS BIGINT) AS n_pieces,
        |CAST(len(list_distinct(pc)) AS BIGINT) AS n_distinct,
        |floor((CAST(list_sum(list_transform(pc, x -> length(x))) AS DOUBLE) / len(pc))*10000 + 0.5)/10000 AS avg_piece_len
        |FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]') AS pc FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    "q_full_outer" ->
      """WITH y96 AS (SELECT o_custkey, count(*) AS n_1996 FROM orders
        |  WHERE year(o_orderdate) = 1996 GROUP BY o_custkey),
        |y97 AS (SELECT o_custkey, count(*) AS n_1997 FROM orders
        |  WHERE year(o_orderdate) = 1997 GROUP BY o_custkey)
        |SELECT coalesce(y96.o_custkey, y97.o_custkey) AS custkey,
        |  coalesce(n_1996, 0) AS n_1996, coalesce(n_1997, 0) AS n_1997,
        |  CASE WHEN n_1996 IS NOT NULL AND n_1997 IS NOT NULL THEN 'both'
        |       WHEN n_1996 IS NOT NULL THEN 'only_1996' ELSE 'only_1997' END AS presence
        |FROM y96 FULL OUTER JOIN y97 ON y96.o_custkey = y97.o_custkey
        |ORDER BY custkey""".stripMargin,

    "dedup_incremental" ->
      """WITH norm AS (
        |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp FROM documents),
        |oldkeep AS (
        |  SELECT fp, min(doc_id) AS old_id FROM norm WHERE doc_id % 5 <> 4 GROUP BY fp),
        |exact AS (
        |  SELECT n.doc_id AS new_id, o.old_id, 'exact' AS kind, CAST(1.0 AS DOUBLE) AS sim
        |  FROM norm n JOIN oldkeep o USING (fp) WHERE n.doc_id % 5 = 4),
        |toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ') for i in generate_series(1, len(tk)-2)]) AS sh
        |  FROM toks WHERE len(tk) >= 3),
        |near AS (
        |  SELECT a.doc_id AS new_id, b.doc_id AS old_id, 'near' AS kind,
        |    floor((CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |           / len(list_distinct(list_concat(a.sh, b.sh))))*10000 + 0.5)/10000 AS sim
        |  FROM sh a JOIN sh b ON a.doc_id % 5 = 4 AND b.doc_id % 5 <> 4
        |  WHERE a.doc_id NOT IN (SELECT new_id FROM exact)
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5)
        |SELECT new_id, old_id, kind, sim
        |FROM (SELECT * FROM exact UNION ALL SELECT * FROM near) u
        |ORDER BY new_id, old_id, kind""".stripMargin,

    // the full curation funnel replayed in SQL: every stage reuses the
    // expressions of its standalone oracle (gopher keep, 4-gram
    // decontamination, fingerprint dedup, all-pairs Jaccard +
    // recursive-CTE clusters, nibble-stratified sampling); the funnel
    // counts are monotone and sum(n_input) = corpus size, so mass
    // conservation is inside the hash check
    "pipeline_curate" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, source, lang, text,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents),
        |flags AS (
        |  SELECT doc_id, source, lang, text, tk,
        |    len(tk) AS n_tokens,
        |    CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk) AS mwl,
        |    len(list_filter(tk, t -> list_contains(['the','a','and','of','to','in'], t))) AS stop_hits,
        |    [array_to_string(tk[i:i+1], ' ') for i in generate_series(1, len(tk)-1)] AS g2
        |  FROM toks),
        |quality AS (
        |  SELECT doc_id, source, lang, text, tk FROM flags
        |  WHERE n_tokens BETWEEN 20 AND 80 AND mwl BETWEEN 4.0 AND 5.0
        |    AND 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)/len(g2) <= 0.05
        |    AND stop_hits >= 1),
        |g4 AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(tk[i:i+3], ' ') for i in generate_series(1, len(tk)-3)])) AS ng
        |  FROM toks WHERE len(tk) >= 4),
        |bench AS (SELECT DISTINCT ng FROM g4 WHERE doc_id % 10 = 9),
        |contaminated AS (
        |  SELECT DISTINCT g4.doc_id FROM g4 JOIN bench USING (ng) WHERE g4.doc_id % 10 <> 9),
        |decont AS (
        |  SELECT q.* FROM quality q
        |  WHERE q.doc_id % 10 <> 9
        |    AND q.doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |fp AS (
        |  SELECT doc_id, source, lang, tk,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
        |  FROM decont),
        |keepfp AS (SELECT f, min(doc_id) AS doc_id FROM fp GROUP BY f),
        |exact AS (SELECT fp.* FROM fp JOIN keepfp ON fp.f = keepfp.f AND fp.doc_id = keepfp.doc_id),
        |sh AS (
        |  SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ') for i in generate_series(1, len(tk)-2)]) AS sh
        |  FROM exact WHERE len(tk) >= 3),
        |p AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |e AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
        |reach(u, v) AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
        |rep AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u),
        |near AS (
        |  SELECT x.* FROM exact x LEFT JOIN rep r USING (doc_id)
        |  WHERE least(coalesce(r.mn, x.doc_id), x.doc_id) = x.doc_id),
        |sampled AS (
        |  SELECT * FROM near
        |  WHERE strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
        |        < (CASE lang WHEN 'en' THEN 8 WHEN 'de' THEN 4 WHEN 'fr' THEN 2 ELSE 1 END)),
        |agg_i AS (SELECT source, lang, count(*) AS n_input FROM documents GROUP BY 1, 2),
        |agg_q AS (SELECT source, lang, count(*) AS n_quality FROM quality GROUP BY 1, 2),
        |agg_d AS (SELECT source, lang, count(*) AS n_decont FROM decont GROUP BY 1, 2),
        |agg_e AS (SELECT source, lang, count(*) AS n_exact FROM exact GROUP BY 1, 2),
        |agg_n AS (SELECT source, lang, count(*) AS n_near FROM near GROUP BY 1, 2),
        |agg_s AS (SELECT source, lang, count(*) AS n_sampled FROM sampled GROUP BY 1, 2)
        |SELECT i.source, i.lang, i.n_input,
        |  CAST(coalesce(q.n_quality, 0) AS BIGINT) AS n_quality,
        |  CAST(coalesce(d.n_decont, 0) AS BIGINT) AS n_decont,
        |  CAST(coalesce(ex.n_exact, 0) AS BIGINT) AS n_exact,
        |  CAST(coalesce(n.n_near, 0) AS BIGINT) AS n_near,
        |  CAST(coalesce(s.n_sampled, 0) AS BIGINT) AS n_sampled
        |FROM agg_i i
        |LEFT JOIN agg_q q USING (source, lang)
        |LEFT JOIN agg_d d USING (source, lang)
        |LEFT JOIN agg_e ex USING (source, lang)
        |LEFT JOIN agg_n n USING (source, lang)
        |LEFT JOIN agg_s s USING (source, lang)
        |ORDER BY i.source, i.lang""".stripMargin,

    "text_repeated_ngrams" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest([array_to_string(tk[i:i+5], ' ') for i in generate_series(1, len(tk)-5)]) AS ng
        |  FROM toks WHERE len(tk) >= 6)
        |SELECT ng, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences,
        |  min(doc_id) AS first_doc
        |FROM g GROUP BY ng HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY ng""".stripMargin,

    // head/middle/tail tertiles per language by the same bigram-LM
    // score as text_lm_score's oracle; ntile ties broken on
    // (rounded score, doc_id) so both engines cut identically
    "text_ccnet_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, lang, unnest(tk[1:len(tk)-1]) AS w1, unnest(tk[2:len(tk)]) AS w2
        |  FROM toks WHERE len(tk) >= 2),
        |bgc AS (SELECT lang, w1, w2, count(*) AS c2 FROM bg GROUP BY 1,2,3),
        |ugc AS (SELECT lang, w1, CAST(sum(c2) AS BIGINT) AS c1 FROM bgc GROUP BY 1,2),
        |v AS (SELECT lang, count(DISTINCT w2) AS vsize FROM bgc GROUP BY 1),
        |sc AS (
        |  SELECT b.doc_id,
        |    floor((CAST(sum(CAST((CAST(c2 + 1 AS DOUBLE) / (c1 + vsize)) AS DECIMAL(27,10))) AS DOUBLE) / count(*))*1000000 + 0.5)/1000000 AS lm_score
        |  FROM bg b
        |  JOIN bgc ON b.lang = bgc.lang AND b.w1 = bgc.w1 AND b.w2 = bgc.w2
        |  JOIN ugc ON b.lang = ugc.lang AND b.w1 = ugc.w1
        |  JOIN v ON b.lang = v.lang
        |  GROUP BY b.doc_id),
        |dt AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS BIGINT) AS n_toks
        |  FROM documents),
        |tert AS (
        |  SELECT sc.doc_id, dt.lang, dt.n_toks, sc.lm_score,
        |    ntile(3) OVER (PARTITION BY dt.lang ORDER BY sc.lm_score ASC, sc.doc_id ASC) AS tertile
        |  FROM sc JOIN dt USING (doc_id))
        |SELECT lang,
        |  CASE WHEN tertile = 3 THEN 'head' WHEN tertile = 2 THEN 'middle' ELSE 'tail' END AS bucket,
        |  count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  floor((CAST(sum(CAST(lm_score AS DECIMAL(27,10))) AS DOUBLE)/count(*))*1000000 + 0.5)/1000000 AS avg_score
        |FROM tert GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,

    // FNV-1a 64-bit replayed in SQL (HUGEINT mod-2^64 multiply, xor,
    // signed reinterpretation), then the full winnowing selection:
    // 5-gram rolling hashes, window of 4, rightmost minimum per
    // window, distinct fingerprints
    "text_winnow" ->
      """WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
        |pos AS (SELECT doc_id, t, unnest(generate_series(1, length(t) - 4)) AS i FROM d WHERE length(t) >= 5),
        |g0 AS (SELECT doc_id, i, list_reduce(
        |        list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |          list_transform(split(substring(t, i, 5), ''), c -> CAST(unicode(c) AS HUGEINT))),
        |        (h, c) -> (xor(h, c) * 1099511628211) % 18446744073709551616) AS h
        |      FROM pos),
        |g AS (SELECT doc_id, i,
        |        CAST(CASE WHEN h >= CAST(9223372036854775808 AS HUGEINT)
        |             THEN h - CAST(18446744073709551616 AS HUGEINT) ELSE h END AS BIGINT) AS hs
        |      FROM g0),
        |n AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |st AS (SELECT doc_id, unnest(generate_series(0, n - least(4, n))) AS s, least(4, n) AS len FROM n),
        |win AS (SELECT st.doc_id, st.s, g.i, g.hs
        |        FROM st JOIN g ON g.doc_id = st.doc_id AND g.i > st.s AND g.i <= st.s + st.len),
        |r AS (SELECT doc_id, s, hs,
        |        row_number() OVER (PARTITION BY doc_id, s ORDER BY hs ASC, i DESC) AS rn FROM win),
        |sel AS (SELECT DISTINCT doc_id, hs FROM r WHERE rn = 1),
        |agg AS (SELECT doc_id, count(*) AS n_fps, bit_xor(hs) AS fp_xor FROM sel GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(a.n_fps, 0) AS BIGINT) AS n_fps,
        |  CAST(coalesce(a.fp_xor, 0) AS BIGINT) AS fp_xor
        |FROM d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // SimHash replayed in SQL under the live geometry dial
    // (DedupOps.simhashGeometry — a def, so engine and oracle move
    // together): per-word FNV-1a/mix64 token hashes, per-bit majority
    // vote, bandBits-wide chunk blocking (masked, not mod — the
    // sign-of-dividend mod was a real recall bug this oracle caught),
    // exact full-signature hamming verification
    "dedup_simhash" -> simhashOracleSql,

    // clusters replayed engine-independently: the pair graph is the
    // same exact all-pairs Jaccard as dedup_ngram_jaccard's oracle,
    // and connectivity is a recursive CTE (UNION = set fixpoint) —
    // any CC bug (the r2 round-cap class) hashes differently here
    "dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ') for i in generate_series(1, len(tk)-2)]) AS sh
        |  FROM toks WHERE len(tk) >= 3),
        |p AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |e AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
        |reach(u, v) AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
        |rep AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u)
        |SELECT d.doc_id, CAST(least(coalesce(r.mn, d.doc_id), d.doc_id) AS BIGINT) AS cluster_rep
        |FROM documents d LEFT JOIN rep r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // the full composed pass: exact fingerprint dedup → all-pairs
    // Jaccard among survivors → recursive-CTE clusters → keep-list
    // with lineage counts. sum(1 + n_exact_dups + n_near_dups) over
    // the result equals count(documents): mass conservation is part
    // of the hash check
    "dedup_pipeline" ->
      """WITH RECURSIVE norm AS (
        |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp FROM documents),
        |grp AS (SELECT fp, min(doc_id) AS keep_id, count(*) AS n_copies FROM norm GROUP BY fp),
        |surv AS (SELECT d.doc_id, d.text FROM documents d JOIN grp ON grp.keep_id = d.doc_id),
        |toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM surv),
        |sh AS (
        |  SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ') for i in generate_series(1, len(tk)-2)]) AS sh
        |  FROM toks WHERE len(tk) >= 3),
        |p AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |e AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
        |reach(u, v) AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
        |rep AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u),
        |lab AS (
        |  SELECT s.doc_id, least(coalesce(r.mn, s.doc_id), s.doc_id) AS rep
        |  FROM surv s LEFT JOIN rep r USING (doc_id))
        |SELECT lab.rep AS doc_id,
        |  CAST(sum(g.n_copies) - count(*) AS BIGINT) AS n_exact_dups,
        |  CAST(count(*) - 1 AS BIGINT) AS n_near_dups
        |FROM lab JOIN grp g ON g.keep_id = lab.doc_id
        |GROUP BY lab.rep ORDER BY doc_id""".stripMargin,

    "q2_min_cost_supplier" ->
      """WITH unit AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS cost
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |r AS (
        |  SELECT l_partkey, l_suppkey, cost,
        |    row_number() OVER (PARTITION BY l_partkey ORDER BY cost, l_suppkey) AS rn
        |  FROM unit)
        |SELECT l_partkey, p_brand, l_suppkey AS best_suppkey,
        |  floor((cost)*10000 + 0.5)/10000 AS best_cost
        |FROM r JOIN part ON l_partkey = p_partkey
        |WHERE rn = 1 ORDER BY l_partkey""".stripMargin,

    "q_grouping_sets" ->
      """SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders,
        |floor((CAST(sum(CAST((o_totalprice) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus), ())
        |ORDER BY c_mktsegment ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin,

    "q_range_join" ->
      """WITH p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view')
        |SELECT p.user_id, p.event_id,
        |  count(v.ts) AS n_views,
        |  floor((coalesce(CAST(sum(CAST((v.value) AS DECIMAL(27,10))) AS DOUBLE), 0.0))*100 + 0.5)/100 AS sum_view_val
        |FROM p LEFT JOIN v
        |  ON p.user_id = v.user_id AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts
        |GROUP BY p.user_id, p.event_id ORDER BY event_id""".stripMargin,

    "q_asof_join" ->
      """SELECT e.user_id, e.event_id,
        |strftime(o.o_orderdate, '%Y-%m-%d') AS last_order_date,
        |CAST(date_diff('day', CAST(o.o_orderdate AS DATE), CAST(e.ts AS DATE)) AS BIGINT) AS days_since
        |FROM events e ASOF LEFT JOIN orders o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY user_id, event_id""".stripMargin,

    "mr_chained" ->
      """SELECT cnt, count(*) AS n_words FROM (
        |  SELECT count(*) AS cnt
        |  FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents) t
        |  WHERE word <> '' GROUP BY word) c
        |GROUP BY cnt ORDER BY cnt""".stripMargin,

    "text_tfidf_top" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |t AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT doc_id, tok, CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / df) AS tfidf
        |  FROM tf JOIN df USING (tok), t),
        |r AS (
        |  SELECT doc_id, tok, tfidf,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY floor((tfidf)*1000000 + 0.5)/1000000 DESC, tok) AS rnk
        |  FROM sc)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, tok,
        |  floor((tfidf)*10000 + 0.5)/10000 AS tfidf
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    "q_histogram" ->
      """WITH s AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
        |b AS (
        |  SELECT CAST(least(floor((value - lo) / ((hi - lo) / 10.0)), 9.0) AS BIGINT) AS bucket, value
        |  FROM events, s)
        |SELECT bucket, count(*) AS n,
        |  floor((min(value))*10000 + 0.5)/10000 AS v_min,
        |  floor((max(value))*10000 + 0.5)/10000 AS v_max
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "text_pii_scan" ->
      """WITH p AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' host 10.2.' || (doc_id % 250) || '.7 port' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' call 555-02' || (doc_id % 10) || (doc_id % 10) || ' today' ELSE '' END AS pt
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(pt, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |    CAST(len(regexp_extract_all(pt, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |    CAST(len(regexp_extract_all(pt, '\b555-\d{4}\b')) AS BIGINT) AS n_phones,
        |    CAST(length(regexp_replace(regexp_replace(regexp_replace(pt,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\b555-\d{4}\b', '<PHONE>', 'g')) AS BIGINT) AS red_len
        |  FROM p)
        |SELECT doc_id, n_emails, n_ips, n_phones,
        |  n_emails + n_ips + n_phones AS n_pii, red_len
        |FROM c ORDER BY doc_id""".stripMargin,

    "text_gopher_rules" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents),
        |base AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS BIGINT) AS n_tokens,
        |    CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk) AS mwl,
        |    CAST(len(list_filter(tk, t -> list_contains(['the','a','and','of','to','in'], t))) AS BIGINT) AS stop_hits,
        |    [array_to_string(tk[i:i+1], ' ') for i in generate_series(1, len(tk)-1)] AS g2
        |  FROM toks),
        |d AS (
        |  SELECT doc_id, n_tokens, mwl, stop_hits,
        |    1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) AS dup2
        |  FROM base)
        |SELECT doc_id, n_tokens,
        |  floor((mwl)*10000 + 0.5)/10000 AS mean_wlen,
        |  stop_hits,
        |  floor((dup2)*10000 + 0.5)/10000 AS dup2_ratio,
        |  CAST(n_tokens BETWEEN 20 AND 80 AS BIGINT) AS wc_ok,
        |  CAST(mwl BETWEEN 4.0 AND 5.0 AS BIGINT) AS wlen_ok,
        |  CAST(dup2 <= 0.05 AS BIGINT) AS rep_ok,
        |  CAST(stop_hits >= 1 AS BIGINT) AS stop_ok,
        |  CAST(n_tokens BETWEEN 20 AND 80 AND mwl BETWEEN 4.0 AND 5.0
        |       AND dup2 <= 0.05 AND stop_hits >= 1 AS BIGINT) AS keep
        |FROM d ORDER BY doc_id""".stripMargin,

    "text_boilerplate" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> ''))) AS tok
        |  FROM documents),
        |df AS (SELECT tok, count(*) AS df FROM d GROUP BY tok),
        |t AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT tok, df, floor((CAST(df AS DOUBLE)/n_docs)*10000 + 0.5)/10000 AS df_ratio
        |FROM df, t WHERE CAST(df AS DOUBLE)/n_docs >= 0.5
        |ORDER BY tok""".stripMargin,

    "q_stratified_sample" ->
      """WITH s AS (
        |  SELECT lang,
        |    CASE WHEN strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
        |         < (CASE lang WHEN 'en' THEN 8 WHEN 'de' THEN 4 WHEN 'fr' THEN 2 ELSE 1 END)
        |         THEN 1 ELSE 0 END AS hit
        |  FROM documents)
        |SELECT lang, count(*) AS n_total,
        |  CAST(sum(hit) AS BIGINT) AS n_sampled,
        |  floor((avg(CAST(hit AS DOUBLE)))*10000 + 0.5)/10000 AS sample_rate
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin,

    "q_top_ngrams" ->
      """WITH toks AS (
        |  SELECT lang, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents),
        |g AS (
        |  SELECT lang, unnest([array_to_string(tk[i:i+1], ' ') for i in generate_series(1, len(tk)-1)]) AS ng
        |  FROM toks WHERE len(tk) >= 2),
        |c AS (SELECT lang, ng, count(*) AS cnt FROM g GROUP BY lang, ng),
        |r AS (SELECT lang, ng, cnt,
        |  row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, ng) AS rn FROM c)
        |SELECT lang, ng, cnt FROM r WHERE rn <= 5
        |ORDER BY lang, cnt DESC, ng""".stripMargin,

    "text_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, lang, unnest(tk[1:len(tk)-1]) AS w1, unnest(tk[2:len(tk)]) AS w2
        |  FROM toks WHERE len(tk) >= 2),
        |bgc AS (SELECT lang, w1, w2, count(*) AS c2 FROM bg GROUP BY 1,2,3),
        |ugc AS (SELECT lang, w1, CAST(sum(c2) AS BIGINT) AS c1 FROM bgc GROUP BY 1,2),
        |v AS (SELECT lang, count(DISTINCT w2) AS vsize FROM bgc GROUP BY 1)
        |SELECT b.doc_id, count(*) AS n_bigrams,
        |  floor((CAST(sum(CAST((CAST(c2 + 1 AS DOUBLE) / (c1 + vsize)) AS DECIMAL(27,10))) AS DOUBLE) / count(*))*1000000 + 0.5)/1000000 AS lm_score
        |FROM bg b
        |JOIN bgc ON b.lang = bgc.lang AND b.w1 = bgc.w1 AND b.w2 = bgc.w2
        |JOIN ugc ON b.lang = ugc.lang AND b.w1 = ugc.w1
        |JOIN v ON b.lang = v.lang
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,

    "q_domain_mix" ->
      """WITH agg AS (
        |  SELECT source, lang, count(*) AS n_docs,
        |    CAST(sum(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source, lang),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM agg)
        |SELECT source, lang, n_docs, n_tokens,
        |  floor((CAST(n_tokens AS DOUBLE)/tot)*1000000 + 0.5)/1000000 AS token_share
        |FROM agg, t ORDER BY source, lang""".stripMargin,

    "q_corr_stats" ->
      """SELECT l_returnflag,
        |floor((corr(l_quantity, l_extendedprice))*10000 + 0.5)/10000 AS qty_price_corr,
        |floor((stddev_samp(l_quantity))*10000 + 0.5)/10000 AS qty_stddev,
        |floor((covar_samp(l_quantity, l_extendedprice))*100 + 0.5)/100 AS qty_price_covar
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "text_sample_hash" ->
      """SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_id, max(doc_id) AS last_id
        |FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,

    "dedup_span_coverage" ->
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        |    u.s['i'] - 1 AS st, ${fnvSql("u.s['g']")} AS h
        |  FROM (SELECT doc_id, tk,
        |          unnest([{'i': i, 'g': array_to_string(tk[i:i+7], ' ')}
        |                  for i in generate_series(1, len(tk) - 7)]) AS s
        |        FROM toks WHERE len(tk) >= 8) u),
        |d AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
        |g AS (
        |  SELECT doc_id, n_tokens, st,
        |    st - lag(st) OVER (PARTITION BY doc_id ORDER BY st) AS gap
        |  FROM w JOIN d USING (h))
        |SELECT doc_id, max(n_tokens) AS n_tokens,
        |  count(*) AS n_dup_windows,
        |  CAST(count(*) FILTER (WHERE gap > 8) + 1 AS BIGINT) AS n_spans,
        |  CAST(sum(least(gap, 8)) AS BIGINT) AS covered,
        |  floor((CAST(sum(least(gap, 8)) AS DOUBLE) / max(n_tokens))*1000000 + 0.5)/1000000 AS coverage
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // exact suffix-array EXACTSUBSTR: the oracle replays the
    // semantics with a DIFFERENT exact algorithm — materialized
    // suffix lists sorted lexicographically (DuckDB orders lists
    // element-wise), adjacent-pair token LCPs, then the same
    // gaps-and-islands union. Engine-side prefix doubling and this
    // sort agree because max-LCP only depends on token EQUALITY.
    // nullif(list_position(..),0): DuckDB returns 0 for "no
    // mismatch found" = full shared prefix.
    "dedup_exact_substr" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents),
        |sufs AS (
        |  SELECT doc_id, u.s['i'] AS pos, CAST(len(tk) AS BIGINT) AS len, tk[u.s['i']:] AS suf
        |  FROM (SELECT doc_id, tk, unnest([{'i': i} for i in generate_series(1, len(tk))]) AS s
        |        FROM toks WHERE len(tk) > 0) u),
        |ord AS (
        |  SELECT doc_id, pos, len, suf,
        |    lag(suf) OVER (ORDER BY suf, doc_id, pos) AS psuf,
        |    lead(suf) OVER (ORDER BY suf, doc_id, pos) AS nsuf
        |  FROM sufs),
        |lcps AS (
        |  SELECT doc_id, pos, len,
        |    greatest(
        |      CASE WHEN psuf IS NULL THEN NULL ELSE
        |        coalesce(nullif(list_position(list_transform(range(1, least(len(suf), len(psuf)) + 1),
        |          i -> suf[i] IS DISTINCT FROM psuf[i]), true), 0) - 1,
        |          least(len(suf), len(psuf))) END,
        |      CASE WHEN nsuf IS NULL THEN NULL ELSE
        |        coalesce(nullif(list_position(list_transform(range(1, least(len(suf), len(nsuf)) + 1),
        |          i -> suf[i] IS DISTINCT FROM nsuf[i]), true), 0) - 1,
        |          least(len(suf), len(nsuf))) END) AS m
        |  FROM ord),
        |ints AS (SELECT doc_id, pos, len, CAST(m AS BIGINT) AS m FROM lcps WHERE m >= 8),
        |g AS (
        |  SELECT doc_id, pos, len, m,
        |    CASE WHEN max(pos + m) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |         OR pos > max(pos + m) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    THEN 1 ELSE 0 END AS brk
        |  FROM ints),
        |g2 AS (SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM g),
        |spans AS (
        |  SELECT doc_id, grp, min(pos) AS st, max(pos + m) AS en, max(m) AS mx, max(len) AS len
        |  FROM g2 GROUP BY 1, 2)
        |SELECT doc_id, max(len) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(en - st) AS BIGINT) AS covered,
        |  CAST(max(mx) AS BIGINT) AS max_dup_len,
        |  floor((CAST(sum(en - st) AS DOUBLE) / max(len))*1000000 + 0.5)/1000000 AS coverage
        |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // repeated behavioral runs: the suffix-sort replay over per-user
    // event-type sequences (the engine's exactSpans on a non-text
    // sequence domain), threshold 6 steps
    "q_journey_repeats" ->
      s"""WITH ev AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p
        |  FROM events QUALIFY p <= ${operators.SuffixOps.JourneyCap}),
        |toks AS (
        |  SELECT user_id AS doc_id, list(event_type ORDER BY p) AS tk
        |  FROM ev GROUP BY user_id),
        |sufs AS (
        |  SELECT doc_id, u.s['i'] AS pos, CAST(len(tk) AS BIGINT) AS len, tk[u.s['i']:] AS suf
        |  FROM (SELECT doc_id, tk, unnest([{'i': i} for i in generate_series(1, len(tk))]) AS s
        |        FROM toks WHERE len(tk) > 0) u),
        |ordx AS (
        |  SELECT doc_id, pos, len, suf,
        |    lag(suf) OVER (ORDER BY suf, doc_id, pos) AS psuf,
        |    lead(suf) OVER (ORDER BY suf, doc_id, pos) AS nsuf
        |  FROM sufs),
        |lcps AS (
        |  SELECT doc_id, pos, len,
        |    greatest(
        |      CASE WHEN psuf IS NULL THEN NULL ELSE
        |        coalesce(nullif(list_position(list_transform(range(1, least(len(suf), len(psuf)) + 1),
        |          i -> suf[i] IS DISTINCT FROM psuf[i]), true), 0) - 1,
        |          least(len(suf), len(psuf))) END,
        |      CASE WHEN nsuf IS NULL THEN NULL ELSE
        |        coalesce(nullif(list_position(list_transform(range(1, least(len(suf), len(nsuf)) + 1),
        |          i -> suf[i] IS DISTINCT FROM nsuf[i]), true), 0) - 1,
        |          least(len(suf), len(nsuf))) END) AS m
        |  FROM ordx),
        |ints AS (SELECT doc_id, pos, len, CAST(m AS BIGINT) AS m FROM lcps WHERE m >= 6),
        |g AS (
        |  SELECT doc_id, pos, len, m,
        |    CASE WHEN max(pos + m) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |         OR pos > max(pos + m) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    THEN 1 ELSE 0 END AS brk
        |  FROM ints),
        |g2 AS (SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM g),
        |spans AS (
        |  SELECT doc_id, grp, min(pos) AS st, max(pos + m) AS en, max(m) AS mx, max(len) AS len
        |  FROM g2 GROUP BY 1, 2)
        |SELECT doc_id AS user_id, max(len) AS n_events,
        |  CAST(count(*) AS BIGINT) AS n_runs,
        |  CAST(sum(en - st) AS BIGINT) AS repeated_steps,
        |  CAST(max(mx) AS BIGINT) AS max_run,
        |  floor((CAST(sum(en - st) AS DOUBLE) / max(len))*1000000 + 0.5)/1000000 AS repeat_frac
        |FROM spans GROUP BY doc_id ORDER BY user_id""".stripMargin,

    // exact cross-set contamination spans: the same suffix-sort
    // replay, plus the segmented-min scans (nearest benchmark suffix
    // above/below; LCP shrinks with suffix distance, so those two
    // bound the max cross-set LCP exactly)
    "text_decontaminate_spans" ->
      s"""WITH $contamSpanCtes
        |SELECT doc_id, max(len) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(en - st) AS BIGINT) AS contaminated,
        |  CAST(max(mx) AS BIGINT) AS max_contam_len,
        |  floor((CAST(sum(en - st) AS DOUBLE) / max(len))*1000000 + 0.5)/1000000 AS contam_frac
        |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the cut pass reuses the span chain and reconstructs kept
    // tokens (ordered string_agg) per train doc
    "text_cut_contaminated" ->
      s"""WITH $contamSpanCtes,
        |tr AS (
        |  SELECT doc_id, u.s['i'] AS pos, u.s['t'] AS tok, CAST(len(tk) AS BIGINT) AS n_tokens
        |  FROM (SELECT doc_id, tk, unnest([{'i': i, 't': tk[i]} for i in generate_series(1, len(tk))]) AS s
        |        FROM toks WHERE doc_id % 10 <> 9 AND len(tk) > 0) u),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.tok FROM tr t
        |  LEFT JOIN spans sp ON sp.doc_id = t.doc_id AND t.pos >= sp.st AND t.pos < sp.en
        |  WHERE sp.doc_id IS NULL),
        |ka AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY pos) AS cleaned
        |  FROM kept GROUP BY doc_id),
        |alltr AS (SELECT doc_id, max(n_tokens) AS n_tokens FROM tr GROUP BY doc_id)
        |SELECT a.doc_id, a.n_tokens,
        |  a.n_tokens - coalesce(ka.n_kept, 0) AS n_removed,
        |  coalesce(ka.cleaned, '') AS cleaned
        |FROM alltr a LEFT JOIN ka ON ka.doc_id = a.doc_id
        |ORDER BY a.doc_id""".stripMargin,

    "q_k_anonymity" ->
      """WITH g AS (
        |  SELECT count(*) AS n
        |  FROM customer
        |  GROUP BY c_nationkey, c_mktsegment, CAST(floor(c_acctbal/1000) AS BIGINT)),
        |a AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_classes,
        |    CAST(min(n) AS BIGINT) AS min_class,
        |    CAST(sum(CASE WHEN n < 2 THEN n ELSE 0 END) AS BIGINT) AS k2_violating_rows,
        |    CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS k5_violating_rows,
        |    CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT) AS k10_violating_rows
        |  FROM g)
        |SELECT n_rows, n_classes, min_class,
        |  k2_violating_rows, k5_violating_rows, k10_violating_rows,
        |  floor((CAST(k5_violating_rows AS DOUBLE)/CAST(n_rows AS DOUBLE))*1000000 + 0.5)/1000000 AS k5_violation_share
        |FROM a""".stripMargin,

    // embedding quarantine: both engines inject identical doc-id-
    // derived defects (PII-fixture discipline), then classify with
    // first-match priority nan > zero_norm > out_of_range
    "emb_quarantine" ->
      """WITH f AS (
        |  SELECT vec_id,
        |    CASE WHEN vec_id % 23 = 0 THEN
        |      [CASE WHEN i - 1 = vec_id % 64 THEN 'nan'::FLOAT ELSE embedding[i] END for i in generate_series(1, 64)]
        |    WHEN vec_id % 29 = 0 THEN
        |      [0.0::FLOAT for i in generate_series(1, 64)]
        |    WHEN vec_id % 31 = 0 THEN
        |      [CASE WHEN i - 1 = vec_id % 64 THEN 1.0e30::FLOAT ELSE embedding[i] END for i in generate_series(1, 64)]
        |    ELSE embedding END AS e
        |  FROM embeddings),
        |c AS (
        |  SELECT vec_id,
        |    CASE WHEN len(list_filter(e, x -> isnan(CAST(x AS DOUBLE)))) > 0 THEN 'nan'
        |         WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |             [CAST(e[i] AS DOUBLE)*CAST(e[i] AS DOUBLE) for i in generate_series(1, 64)]),
        |             (a, b) -> a + b) = 0.0 THEN 'zero_norm'
        |         WHEN len(list_filter(e, x -> abs(CAST(x AS DOUBLE)) > 1e6)) > 0 THEN 'out_of_range'
        |         ELSE 'pass' END AS reason
        |  FROM f)
        |SELECT reason, count(*) AS n_vecs, CAST(min(vec_id) AS BIGINT) AS first_vec
        |FROM c GROUP BY reason ORDER BY reason""".stripMargin,

    "q_l_diversity" ->
      """WITH g AS (
        |  SELECT count(*) AS n, count(DISTINCT c_mktsegment) AS d
        |  FROM customer
        |  GROUP BY c_nationkey, CAST(floor(c_acctbal/1000) AS BIGINT)),
        |a AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_classes,
        |    CAST(min(d) AS BIGINT) AS min_diversity,
        |    CAST(sum(CASE WHEN d < 2 THEN n ELSE 0 END) AS BIGINT) AS l2_violating_rows,
        |    CAST(sum(CASE WHEN d < 3 THEN n ELSE 0 END) AS BIGINT) AS l3_violating_rows
        |  FROM g)
        |SELECT n_rows, n_classes, min_diversity,
        |  l2_violating_rows, l3_violating_rows,
        |  floor((CAST(l2_violating_rows AS DOUBLE)/CAST(n_rows AS DOUBLE))*1000000 + 0.5)/1000000 AS l2_violation_share
        |FROM a""".stripMargin,

    "q_domain_cap" ->
      """WITH scored AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |rk AS (
        |  SELECT source, n_tokens,
        |    row_number() OVER (PARTITION BY source ORDER BY n_tokens DESC, doc_id) AS rk
        |  FROM scored)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
        |  CAST(count(*) FILTER (WHERE rk <= 15) AS BIGINT) AS n_kept,
        |  CAST(coalesce(sum(n_tokens) FILTER (WHERE rk <= 15), 0) AS BIGINT) AS tokens_kept,
        |  floor((CAST(coalesce(sum(n_tokens) FILTER (WHERE rk <= 15), 0) AS DOUBLE) /
        |         CAST(sum(n_tokens) AS DOUBLE))*1000000 + 0.5)/1000000 AS kept_share
        |FROM rk GROUP BY source ORDER BY source""".stripMargin,

    "q_mmr_select" -> mmrOracle,
    "text_perceptron_train" -> perceptronOracle,

    // the ivf occupancy panel: the PERSISTED quantizer is trained on
    // the base split (vec_id % 10 <> 0 — the stream_ivf_ingest
    // replay), the WHOLE corpus assigns through it, then the cell
    // histogram and the n·K/N load factor — a routing slip or a
    // drifted persisted index moves a count
    "emb_ivf_balance" ->
      """WITH e AS (
        |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |c AS (
        |  SELECT label, pos,
        |    CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE)/count(*) AS m
        |  FROM e WHERE vec_id % 10 <> 0 GROUP BY label, pos),
        |cent AS (SELECT CAST(label AS INTEGER) AS cell, list(m ORDER BY pos) AS centroid FROM c GROUP BY label),
        |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored AS (
        |  SELECT vec_id, cell,
        |    floor((list_cosine_similarity(v, centroid))*1000000 + 0.5)/1000000 AS sim
        |  FROM emb CROSS JOIN cent),
        |assigned AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
        |    FROM scored) t WHERE rn = 1),
        |hist AS (SELECT cell, count(*) AS n_vecs FROM assigned GROUP BY cell),
        |kk AS (SELECT count(*) AS k FROM cent),
        |nn AS (SELECT count(*) AS n FROM embeddings)
        |SELECT CAST(cell AS BIGINT) AS cell, n_vecs,
        |  floor((CAST(n_vecs AS DOUBLE) * (SELECT k FROM kk) / (SELECT n FROM nn))*10000 + 0.5)/10000 AS load
        |FROM hist ORDER BY cell""".stripMargin,

    "emb_dim_stats" ->
      """WITH e AS (
        |  SELECT generate_subscripts(embedding, 1) - 1 AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |ag AS (
        |  SELECT CAST(pos AS BIGINT) AS pos, count(*) AS n,
        |    CAST(sum(CAST((x) AS DECIMAL(27,10))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST((x*x) AS DECIMAL(27,10))) AS DOUBLE) AS sxx,
        |    min(x) AS mn, max(x) AS mx
        |  FROM e GROUP BY pos)
        |SELECT pos, n,
        |  floor((sx/n)*1000000 + 0.5)/1000000 AS mean,
        |  floor((sxx/n - (sx/n)*(sx/n))*1000000000 + 0.5)/1000000000 AS variance,
        |  floor(mn*1000000 + 0.5)/1000000 AS min_x,
        |  floor(mx*1000000 + 0.5)/1000000 AS max_x
        |FROM ag ORDER BY pos""".stripMargin,

    "q_link_prediction" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |u AS (SELECT pa, pb FROM e UNION ALL SELECT pb, pa FROM e),
        |deg AS (SELECT pa, count(*) AS deg FROM u GROUP BY pa),
        |w AS (
        |  SELECT x.pb AS u2, y.pb AS v2, count(*) AS common
        |  FROM u x JOIN u y ON x.pa = y.pa AND x.pb < y.pb
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT w.u2 AS part_a, w.v2 AS part_b, w.common, da.deg AS deg_a, db.deg AS deg_b,
        |    floor((CAST(w.common AS DOUBLE) / (da.deg + db.deg - w.common))*1000000 + 0.5)/1000000 AS jaccard
        |  FROM w
        |  LEFT JOIN e ON e.pa = w.u2 AND e.pb = w.v2
        |  JOIN deg da ON da.pa = w.u2
        |  JOIN deg db ON db.pa = w.v2
        |  WHERE e.pa IS NULL),
        |t AS (SELECT *, row_number() OVER (ORDER BY common DESC, part_a, part_b) AS rk FROM cand)
        |SELECT part_a, part_b, common, CAST(deg_a AS BIGINT) AS deg_a, CAST(deg_b AS BIGINT) AS deg_b, jaccard
        |FROM t WHERE rk <= 20 ORDER BY common DESC, part_a, part_b""".stripMargin,

    "q_basket_rules" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |no AS (SELECT count(DISTINCT l_orderkey) AS n FROM op),
        |sup AS (SELECT l_partkey AS item, count(*) AS sup FROM op GROUP BY 1),
        |ps AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS sup_ab
        |  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |r AS (
        |  SELECT pa AS ante, pb AS cons, sup_ab FROM ps
        |  UNION ALL SELECT pb, pa, sup_ab FROM ps),
        |sc AS (
        |  SELECT r.ante, r.cons, CAST(r.sup_ab AS BIGINT) AS sup_ab,
        |    floor((CAST(r.sup_ab AS DOUBLE) / sa.sup)*1000000 + 0.5)/1000000 AS confidence,
        |    floor(((CAST(r.sup_ab AS DOUBLE) * no.n) / (CAST(sa.sup AS DOUBLE) * CAST(sc2.sup AS DOUBLE)))*10000 + 0.5)/10000 AS lift
        |  FROM r JOIN sup sa ON sa.item = r.ante JOIN sup sc2 ON sc2.item = r.cons, no),
        |t AS (SELECT *, row_number() OVER (ORDER BY lift DESC, confidence DESC, ante, cons) AS rk FROM sc)
        |SELECT ante, cons, sup_ab, confidence, lift
        |FROM t WHERE rk <= 20 ORDER BY lift DESC, confidence DESC, ante, cons""".stripMargin,

    "q_dormancy_gaps" ->
      """WITH g AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(floor((lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      - epoch_us(ts)) / 3600000000.0) AS BIGINT) AS gap_h
        |  FROM events QUALIFY gap_h IS NOT NULL)
        |SELECT user_id, count(*) AS n_gaps,
        |  max(struct_pack(gap_h := gap_h, event_id := event_id, event_type := event_type))['gap_h'] AS longest_gap_h,
        |  max(struct_pack(gap_h := gap_h, event_id := event_id, event_type := event_type))['event_type'] AS before_gap
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_chi2_terms" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 10 = 9 AS is_target,
        |    list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS tk
        |  FROM documents),
        |tot AS (
        |  SELECT CAST(count(*) FILTER (WHERE is_target) AS BIGINT) AS n1,
        |    CAST(count(*) FILTER (WHERE NOT is_target) AS BIGINT) AS n0
        |  FROM d),
        |p AS (
        |  SELECT u.t AS tok,
        |    CAST(count(*) FILTER (WHERE is_target) AS BIGINT) AS a,
        |    CAST(count(*) FILTER (WHERE NOT is_target) AS BIGINT) AS b
        |  FROM (SELECT is_target, unnest(tk) AS t FROM d) u
        |  GROUP BY u.t),
        |sc AS (
        |  SELECT tok, a, b,
        |    floor((CAST((n1 + n0) * (a*(n0 - b) - b*(n1 - a)) * (a*(n0 - b) - b*(n1 - a)) AS DOUBLE) /
        |           CAST((a + b) * ((n1 - a) + (n0 - b)) * (a + (n1 - a)) * (b + (n0 - b)) AS DOUBLE))*10000 + 0.5)/10000 AS chi2
        |  FROM p, tot
        |  WHERE (n1 - a) + (n0 - b) > 0),
        |t AS (SELECT *, row_number() OVER (ORDER BY chi2 DESC, tok) AS rk FROM sc)
        |SELECT tok, a AS target_df, b AS other_df, chi2
        |FROM t WHERE rk <= 20 ORDER BY chi2 DESC, tok""".stripMargin,

    "q_bisect_median" ->
      """WITH c AS (SELECT event_type, CAST(floor(value*100 + 0.5) AS BIGINT) AS c FROM events)
        |SELECT event_type, count(*) AS n,
        |  floor((quantile_cont(c, 0.5)/100)*10000 + 0.5)/10000 AS median
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_seasonality" ->
      """WITH c AS (
        |  SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
        |SELECT event_type, dow, n,
        |  floor((CAST(n AS DOUBLE)/CAST(tot AS DOUBLE))*1000000 + 0.5)/1000000 AS share
        |FROM c JOIN t USING (event_type) ORDER BY event_type, dow""".stripMargin,

    "q_skew_gini" ->
      """WITH c AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
        |r AS (SELECT c, row_number() OVER (ORDER BY c, user_id) AS i FROM c),
        |a AS (SELECT count(*) AS n_users, CAST(sum(c) AS BIGINT) AS n_events,
        |        CAST(sum(i * c) AS BIGINT) AS sic, CAST(max(c) AS BIGINT) AS max_c FROM r)
        |SELECT n_users, n_events, max_c,
        |  floor((2.0 * CAST(sic AS DOUBLE) / (CAST(n_users AS DOUBLE) * CAST(n_events AS DOUBLE)) -
        |         CAST(n_users + 1 AS DOUBLE)/CAST(n_users AS DOUBLE))*1000000 + 0.5)/1000000 AS gini,
        |  floor((CAST(max_c AS DOUBLE)/CAST(n_events AS DOUBLE))*1000000 + 0.5)/1000000 AS top1_share
        |FROM a""".stripMargin,

    "q_cohort_ltv" ->
      """WITH e AS (SELECT user_id, date_trunc('day', ts) AS d, value FROM events),
        |f AS (SELECT user_id, min(d) AS d0 FROM e GROUP BY user_id),
        |sz AS (SELECT d0, count(*) AS n_users FROM f GROUP BY d0),
        |daily AS (
        |  SELECT f.d0, date_diff('day', f.d0, e.d) AS age,
        |    sum(CAST(e.value AS DECIMAL(27,10))) AS rev
        |  FROM e JOIN f USING (user_id) GROUP BY f.d0, age),
        |cum AS (
        |  SELECT d0, age,
        |    CAST(sum(rev) OVER (PARTITION BY d0 ORDER BY age
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum
        |  FROM daily)
        |SELECT strftime(cum.d0, '%Y-%m-%d') AS cohort, CAST(age AS BIGINT) AS age, n_users,
        |  floor(cum*100 + 0.5)/100 AS cum_rev,
        |  floor((cum/n_users)*10000 + 0.5)/10000 AS ltv_per_user
        |FROM cum JOIN sz USING (d0)
        |ORDER BY cohort, age""".stripMargin,

    "q_abandoned_views" ->
      """WITH v AS (SELECT user_id, event_id AS view_id, epoch_us(ts) AS vus FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id AS p_user, epoch_us(ts) AS pus FROM events WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT v.user_id, v.view_id, max(p.pus IS NOT NULL) AS converted
        |  FROM v LEFT JOIN p ON p.p_user = v.user_id AND p.pus > v.vus
        |    AND p.pus - v.vus <= 21600000000
        |  GROUP BY v.user_id, v.view_id)
        |SELECT user_id, count(*) AS n_views,
        |  CAST(count(*) FILTER (WHERE NOT converted) AS BIGINT) AS n_abandoned,
        |  floor((CAST(count(*) FILTER (WHERE NOT converted) AS DOUBLE)/count(*))*1000000 + 0.5)/1000000 AS abandon_rate
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_robust_outliers" ->
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY event_type),
        |d AS (SELECT e.event_type, e.value, med.med, abs(e.value - med.med) AS dev
        |      FROM events e JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS md FROM d GROUP BY event_type)
        |SELECT d.event_type, count(*) AS n,
        |  floor(max(d.med)*10000 + 0.5)/10000 AS median,
        |  floor(max(mad.md)*10000 + 0.5)/10000 AS mad,
        |  CAST(count(*) FILTER (WHERE d.dev > 3.0 * 1.4826 * mad.md) AS BIGINT) AS n_outliers
        |FROM d JOIN mad USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,

    "q_funnel_ordered" ->
      """WITH s0 AS (
        |  SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |s1 AS (
        |  SELECT e.user_id, min(e.ts) AS t1
        |  FROM events e JOIN s0 ON s0.user_id = e.user_id
        |  WHERE e.event_type = 'view' AND e.ts > s0.t0
        |    AND epoch_us(e.ts) - epoch_us(s0.t0) <= 21600000000 GROUP BY e.user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN s1 ON s1.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s1.t1
        |    AND epoch_us(e.ts) - epoch_us(s1.t1) <= 21600000000 GROUP BY e.user_id)
        |SELECT
        |  (SELECT count(*) FROM s0) AS n_signup,
        |  (SELECT count(*) FROM s1) AS n_then_view,
        |  (SELECT count(*) FROM s2) AS n_then_purchase,
        |  floor((CAST((SELECT count(*) FROM s1) AS DOUBLE) / (SELECT count(*) FROM s0))*1000000 + 0.5)/1000000 AS step2_rate,
        |  floor((CAST((SELECT count(*) FROM s2) AS DOUBLE) / (SELECT count(*) FROM s1))*1000000 + 0.5)/1000000 AS step3_rate""".stripMargin,

    "q_rolling_revenue" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_totalprice,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dd
        |  FROM orders),
        |r AS (
        |  SELECT o_custkey, d,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(27,10))) OVER (
        |      PARTITION BY o_custkey ORDER BY dd
        |      RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE) AS roll
        |  FROM o),
        |t AS (
        |  SELECT *, row_number() OVER (ORDER BY roll DESC, o_custkey, d) AS rk FROM r)
        |SELECT o_custkey, strftime(d, '%Y-%m-%d') AS day,
        |  floor(roll*100 + 0.5)/100 AS rolling_rev
        |FROM t WHERE rk <= 20 ORDER BY rolling_rev DESC, o_custkey, day""".stripMargin,

    "q_top_paths" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id, array_to_string(list(event_type ORDER BY rn), '>') AS path
        |  FROM r WHERE rn <= 5 GROUP BY user_id),
        |c AS (SELECT path, count(*) AS n_users FROM p GROUP BY path),
        |t AS (SELECT path, n_users, row_number() OVER (ORDER BY n_users DESC, path) AS rk FROM c)
        |SELECT path, n_users FROM t WHERE rk <= 20 ORDER BY n_users DESC, path""".stripMargin,

    "q_xcorr_lags" ->
      """WITH c AS (
        |  SELECT event_type, CAST(floor(epoch_us(ts)/3600000000) AS BIGINT) AS hr, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT hr AS ha, cnt AS x FROM c WHERE event_type = 'error'),
        |b AS (SELECT hr AS hb, cnt AS y FROM c WHERE event_type = 'purchase'),
        |l AS (SELECT CAST(unnest(generate_series(0, 6)) AS BIGINT) AS lag),
        |j AS (SELECT l.lag, a.x, b.y FROM a CROSS JOIN l JOIN b ON b.hb = a.ha + l.lag),
        |ag AS (
        |  SELECT lag, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x*y) AS BIGINT) AS sxy,
        |    CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy
        |  FROM j GROUP BY lag)
        |SELECT lag, n,
        |  floor((CASE WHEN (n*sxx - sx*sx) * (n*syy - sy*sy) > 0
        |    THEN CAST(n*sxy - sx*sy AS DOUBLE) /
        |         sqrt(CAST((n*sxx - sx*sx) * (n*syy - sy*sy) AS DOUBLE))
        |    ELSE 0.0 END)*1000000 + 0.5)/1000000 AS r
        |FROM ag ORDER BY lag""".stripMargin,

    "q_decayed_revenue" ->
      """WITH m AS (SELECT max(CAST(ts AS DATE)) AS maxd FROM events),
        |e AS (
        |  SELECT event_type, value,
        |    least(date_diff('day', CAST(ts AS DATE), maxd), 62) AS age
        |  FROM events, m)
        |SELECT event_type, count(*) AS n_events,
        |  floor((CAST(sum(CAST((value) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS raw_rev,
        |  floor((CAST(sum(CAST((value * (1.0 / (CAST(1 AS BIGINT) << age))) AS DECIMAL(27,10))) AS DOUBLE))*10000 + 0.5)/10000 AS decayed_rev
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_priority_sample" ->
      s"""WITH scored AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS BIGINT) AS w,
        |    ${fnvSql("CAST(doc_id AS VARCHAR)")} AS hu
        |  FROM documents),
        |pri AS (
        |  SELECT doc_id, source, w,
        |    CAST(w AS DOUBLE) * 1.8446744073709552e19 / CAST(hu + 1 AS DOUBLE) AS q
        |  FROM scored),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rk FROM pri),
        |tau AS (SELECT source, q AS tau FROM rk WHERE rk = 11)
        |SELECT source, doc_id, w,
        |  floor(q*100 + 0.5)/100 AS priority,
        |  floor(greatest(CAST(w AS DOUBLE), coalesce(tau, 0.0))*100 + 0.5)/100 AS est_w
        |FROM rk LEFT JOIN tau USING (source)
        |WHERE rk <= 10 ORDER BY source, doc_id""".stripMargin,

    "q_negative_pairs" ->
      s"""WITH pr AS (SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS pe FROM embeddings WHERE vec_id < 10),
        |cands AS (
        |  SELECT pid, e.vec_id AS nid,
        |    floor(list_cosine_similarity(pe, CAST(e.embedding AS DOUBLE[]))*1000000 + 0.5)/1000000 AS sim
        |  FROM pr JOIN embeddings e ON e.vec_id <> pid),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY pid ORDER BY sim DESC, nid) AS srk FROM cands),
        |pos AS (SELECT pid, 'pos' AS kind, CAST(srk AS BIGINT) AS rk, nid, sim FROM rk WHERE srk <= 5),
        |hneg AS (
        |  SELECT pid, nid, sim,
        |    ${fnvSql("CAST(pid AS VARCHAR) || ':' || CAST(nid AS VARCHAR)")} AS hu
        |  FROM rk WHERE srk > 50),
        |nrk AS (SELECT *, row_number() OVER (PARTITION BY pid ORDER BY hu, nid) AS hrk FROM hneg),
        |neg AS (SELECT pid, 'neg' AS kind, CAST(hrk AS BIGINT) AS rk, nid, sim FROM nrk WHERE hrk <= 5)
        |SELECT pid, kind, rk, nid, sim FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg)
        |ORDER BY pid, kind, rk""".stripMargin,

    "q_kmv_distinct" ->
      s"""WITH h AS (
        |  SELECT DISTINCT event_type, ${mixSql(fnvSql("CAST(user_id AS VARCHAR)"))} AS hu
        |  FROM events),
        |sk AS (
        |  SELECT event_type, hu,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hu) AS rn
        |  FROM h),
        |agg AS (
        |  SELECT event_type, max(hu) AS kth, count(*) AS n_sketch
        |  FROM sk WHERE rn <= 8 GROUP BY event_type),
        |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY event_type),
        |est AS (
        |  SELECT a.event_type, ex.n_exact, CAST(a.n_sketch AS BIGINT) AS n_sketch,
        |    CASE WHEN a.n_sketch < 8 THEN CAST(a.n_sketch AS DOUBLE)
        |         ELSE 7.0 * 1.8446744073709552e19 / CAST(a.kth AS DOUBLE) END AS e
        |  FROM agg a JOIN ex USING (event_type))
        |SELECT event_type, n_exact, n_sketch,
        |  floor(e*100 + 0.5)/100 AS est_distinct,
        |  floor((abs(e - n_exact)/n_exact)*10000 + 0.5)/10000 AS rel_err
        |FROM est ORDER BY event_type""".stripMargin,

    // CMS replay (r10 verdict missing #1): the same d×w counter
    // array — row i's index is mix64(fnv64("i:user")) mod width
    // (width a power of two, so signed/unsigned mod agree) — exact
    // integer counts, candidate estimates as row-min lookups
    "q_heavy_hitters" ->
      s"""WITH rs AS (SELECT unnest(generate_series(0, ${operators.EventAnalytics.CmsDepth - 1})) AS r),
        |h AS (
        |  SELECT rs.r,
        |    ${mixSql(fnvSql("CAST(rs.r AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)"))} % ${operators.EventAnalytics.CmsWidth} AS idx
        |  FROM events e CROSS JOIN rs),
        |counters AS (SELECT r, idx, count(*) AS c FROM h GROUP BY r, idx),
        |ex AS (SELECT user_id, count(*) AS true_cnt FROM events GROUP BY user_id),
        |cand AS (
        |  SELECT user_id, true_cnt FROM (
        |    SELECT user_id, true_cnt,
        |      row_number() OVER (ORDER BY true_cnt DESC, user_id) AS rk
        |    FROM ex) WHERE rk <= 10),
        |ce AS (
        |  SELECT cand.user_id, cand.true_cnt, rs.r,
        |    ${mixSql(fnvSql("CAST(rs.r AS VARCHAR) || ':' || CAST(cand.user_id AS VARCHAR)"))} % ${operators.EventAnalytics.CmsWidth} AS idx
        |  FROM cand CROSS JOIN rs)
        |SELECT ce.user_id, ce.true_cnt, CAST(min(k.c) AS BIGINT) AS est_cnt
        |FROM ce JOIN counters k USING (r, idx)
        |GROUP BY ce.user_id, ce.true_cnt
        |ORDER BY true_cnt DESC, user_id""".stripMargin,

    // KMV(k=64) + 0.1-grid median replay (r10 verdict missing #1 —
    // the last rows-only gate upgraded): same estimator arms as
    // q_kmv_distinct, same ⌊(n+1)/2⌋ lower-median grid read
    "q_approx_stats" ->
      s"""WITH h AS (
        |  SELECT DISTINCT event_type, ${mixSql(fnvSql("CAST(user_id AS VARCHAR)"))} AS hu
        |  FROM events),
        |sk AS (
        |  SELECT event_type, hu,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hu) AS rn
        |  FROM h),
        |agg AS (
        |  SELECT event_type, max(hu) AS kth, count(*) AS n_sk
        |  FROM sk WHERE rn <= ${operators.RelationalExt.ApproxKmvK} GROUP BY event_type),
        |au AS (
        |  SELECT event_type,
        |    CASE WHEN n_sk < ${operators.RelationalExt.ApproxKmvK} THEN CAST(n_sk AS DOUBLE)
        |         ELSE ${operators.RelationalExt.ApproxKmvK - 1}.0 * 1.8446744073709552e19 / CAST(kth AS DOUBLE) END AS au
        |  FROM agg),
        |grid AS (SELECT event_type, CAST(floor(value * 10) AS BIGINT) AS g FROM events),
        |hist AS (SELECT event_type, g, count(*) AS c FROM grid GROUP BY event_type, g),
        |tot AS (SELECT event_type, count(*) AS n FROM grid GROUP BY event_type),
        |cum AS (SELECT event_type, g,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY g) AS cum
        |  FROM hist),
        |med AS (
        |  SELECT cum.event_type, min(cum.g) AS mg
        |  FROM cum JOIN tot USING (event_type)
        |  WHERE cum.cum >= (tot.n + 1) // 2
        |  GROUP BY cum.event_type)
        |SELECT au.event_type,
        |  floor(au.au*100 + 0.5)/100 AS approx_users,
        |  floor((CAST(med.mg AS DOUBLE)/10)*10000 + 0.5)/10000 AS approx_p50
        |FROM au JOIN med USING (event_type)
        |ORDER BY event_type""".stripMargin,

    // bounded Bellman-Ford vs recursive walk enumeration: IEEE + is
    // monotone, so min-then-extend == extend-then-min bit-for-bit
    "q_sssp" ->
      """WITH RECURSIVE op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS no
        |  FROM op a JOIN op b USING (l_orderkey) WHERE a.l_partkey < b.l_partkey
        |  GROUP BY pa, pb),
        |e AS (SELECT pa AS u, pb AS v, 1.0/no AS w FROM e0
        |  UNION ALL SELECT pb, pa, 1.0/no FROM e0),
        |src AS (SELECT min(l_partkey) AS s FROM op),
        |walks AS (
        |  SELECT s AS node, CAST(0 AS DOUBLE) AS dist, 0 AS hops FROM src
        |  UNION ALL
        |  SELECT e.v, p.dist + e.w, p.hops + 1
        |  FROM walks p JOIN e ON e.u = p.node WHERE p.hops < 4)
        |SELECT node AS part, floor(min(dist)*1000000 + 0.5)/1000000 AS dist
        |FROM walks GROUP BY node ORDER BY part""".stripMargin,

    // seeded-Laplace DP release: u from the mix64'd group hash as a
    // 53-bit field shifted into (0,1); inverse-CDF noise replayed with
    // identical expression order
    "q_dp_counts" ->
      s"""WITH g AS (SELECT lang, source, count(*) AS n_true FROM documents GROUP BY lang, source),
        |e AS (SELECT unnest(['0.5','1.0','5.0']) AS eps_s),
        |x AS (
        |  SELECT g.lang, g.source, e.eps_s, CAST(e.eps_s AS DOUBLE) AS eps, g.n_true,
        |    ${mixSql(fnvSql("'dp:' || lang || ':' || source || ':' || eps_s"))} AS hu
        |  FROM g CROSS JOIN e),
        |n AS (
        |  SELECT lang, source, eps, n_true,
        |    (CAST(hu // 2048 AS DOUBLE) + 0.5) / 9007199254740992 AS u
        |  FROM x),
        |f AS (
        |  SELECT lang, source, eps, n_true,
        |    (-(1.0/eps)) * sign(u - 0.5) * ln(1 - 2*abs(u - 0.5)) AS noise
        |  FROM n)
        |SELECT lang, source, eps, n_true,
        |  floor((n_true + noise)*10000 + 0.5)/10000 AS n_dp,
        |  floor(abs(noise)*10000 + 0.5)/10000 AS abs_noise
        |FROM f ORDER BY lang, source, eps""".stripMargin,

    // KMV set algebra: merged k-smallest = union sketch; rho/k of the
    // union sketch present in BOTH inputs estimates Jaccard; not-full
    // union sketch collapses every estimate to exact (CASE arms)
    "q_kmv_set_ops" ->
      s"""WITH h AS (
        |  SELECT DISTINCT event_type, ${mixSql(fnvSql("CAST(user_id AS VARCHAR)"))} AS hu FROM events),
        |sk AS (SELECT event_type, hu FROM (
        |    SELECT event_type, hu, row_number() OVER (PARTITION BY event_type ORDER BY hu) AS rn FROM h) t
        |  WHERE rn <= 128),
        |tp AS (SELECT a.event_type AS ta, b.event_type AS tb
        |  FROM (SELECT DISTINCT event_type FROM sk) a, (SELECT DISTINCT event_type FROM sk) b
        |  WHERE a.event_type < b.event_type),
        |m AS (
        |  SELECT ta, tb, hu, max(fa) AS fa, max(fb) AS fb FROM (
        |    SELECT tp.ta, tp.tb, s.hu, 1 AS fa, 0 AS fb FROM tp JOIN sk s ON s.event_type = tp.ta
        |    UNION ALL
        |    SELECT tp.ta, tp.tb, s.hu, 0 AS fa, 1 AS fb FROM tp JOIN sk s ON s.event_type = tp.tb) u
        |  GROUP BY ta, tb, hu),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY ta, tb ORDER BY hu) AS rn FROM m),
        |ag AS (SELECT ta, tb, max(hu) AS kth, count(*) AS n_sk, sum(fa*fb) AS rho
        |  FROM rk WHERE rn <= 128 GROUP BY ta, tb),
        |ut AS (SELECT DISTINCT event_type, user_id FROM events),
        |inter AS (SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n_inter
        |  FROM ut a JOIN ut b USING (user_id) WHERE a.event_type < b.event_type
        |  GROUP BY ta, tb),
        |pt AS (SELECT event_type, count(*) AS n FROM ut GROUP BY event_type),
        |ex AS (SELECT i.ta, i.tb, CAST(i.n_inter AS BIGINT) AS n_inter,
        |    CAST(pa.n + pb.n - i.n_inter AS BIGINT) AS n_union
        |  FROM inter i JOIN pt pa ON pa.event_type = i.ta JOIN pt pb ON pb.event_type = i.tb),
        |fin AS (
        |  SELECT ag.ta, ag.tb, ex.n_union, ex.n_inter,
        |    CASE WHEN ag.n_sk < 128 THEN CAST(ag.n_sk AS DOUBLE)
        |         ELSE 127.0 * 1.8446744073709552e19 / CAST(ag.kth AS DOUBLE) END AS eu,
        |    ag.rho, ag.n_sk
        |  FROM ag JOIN ex ON ex.ta = ag.ta AND ex.tb = ag.tb)
        |SELECT ta, tb, n_union, n_inter,
        |  floor(eu*100 + 0.5)/100 AS est_union,
        |  floor((CASE WHEN n_sk < 128 THEN CAST(rho AS DOUBLE)
        |              ELSE CAST(rho AS DOUBLE)/128 * eu END)*100 + 0.5)/100 AS est_inter,
        |  floor((CAST(rho AS DOUBLE)/CAST(n_sk AS DOUBLE))*10000 + 0.5)/10000 AS jaccard_est
        |FROM fin ORDER BY ta, tb""".stripMargin,

    // HyperLogLog with EXACT register replay: FNV hash, bucket = top
    // 8 bits (unsigned // 2^56), rho via the same bin()-length trick,
    // harmonic sum as scaled integers (HUGEINT) with ONE final
    // rounding at /2^57 — float-summation order can never desync the
    // two engines. Linear-counting small-range branch replayed too.
    "q_hll_distinct" ->
      s"""WITH h AS (
        |  SELECT event_type, ${mixSql(fnvSql("CAST(user_id AS VARCHAR)"))} AS hu FROM events),
        |b AS (
        |  SELECT event_type,
        |    CAST(hu // 72057594037927936 AS BIGINT) AS bucket,
        |    CAST(hu % 72057594037927936 AS BIGINT) AS w
        |  FROM h),
        |r AS (
        |  SELECT event_type, bucket,
        |    max(CASE WHEN w = 0 THEN 57 ELSE 57 - length(bin(w)) END) AS m
        |  FROM b GROUP BY event_type, bucket),
        |f AS (
        |  SELECT event_type,
        |    sum(CAST(1 AS BIGINT) << (57 - m)) AS s_present,
        |    count(*) AS n_present
        |  FROM r GROUP BY event_type),
        |g AS (
        |  SELECT event_type,
        |    CAST(s_present + (256 - n_present) * CAST(144115188075855872 AS HUGEINT)
        |         AS DOUBLE) / 144115188075855872.0 AS hsum,
        |    CAST(256 - n_present AS BIGINT) AS v
        |  FROM f),
        |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY event_type),
        |est AS (
        |  SELECT g.event_type, ex.n_exact, g.v,
        |    (0.7213/(1 + 1.079/256)) * 65536.0 / g.hsum AS e_raw
        |  FROM g JOIN ex USING (event_type)),
        |fin AS (
        |  SELECT event_type, n_exact, v,
        |    CASE WHEN e_raw <= 640.0 AND v > 0
        |         THEN 256.0 * ln(256.0 / CAST(v AS DOUBLE)) ELSE e_raw END AS e
        |  FROM est)
        |SELECT event_type, n_exact, v AS n_zero_regs,
        |  floor(e*100 + 0.5)/100 AS est_distinct,
        |  floor((abs(e - n_exact)/n_exact)*10000 + 0.5)/10000 AS rel_err
        |FROM fin ORDER BY event_type""".stripMargin,

    // CUSUM replay: same integer-cents daily series, S' = n·cum − t·total
    // exact in the window running sum (integers commute — no ordered
    // fold needed), only the display value divides
    "q_changepoint_cusum" ->
      """WITH d AS (
        |  SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT sum(cents) AS total, count(*) AS n FROM d),
        |ord AS (SELECT day, cents,
        |    sum(cents) OVER (ORDER BY day) AS cum,
        |    row_number() OVER (ORDER BY day) AS i
        |  FROM d),
        |sc AS (SELECT day,
        |    (SELECT n FROM tot) * cum - i * (SELECT total FROM tot) AS sp
        |  FROM ord)
        |SELECT day,
        |  floor((CAST(sp AS DOUBLE) / ((SELECT n FROM tot) * 100.0))*100 + 0.5)/100 AS cusum,
        |  CASE WHEN sp >= 0 THEN 'up' ELSE 'down' END AS side
        |FROM sc ORDER BY abs(sp) DESC, day LIMIT 5""".stripMargin,

    // Benford replay: digits from the decimal-cents string, integer
    // ppm shares (// = integral div), log10 of nine constants rounded
    // half-up at 1e-6 (verified away from every boundary)
    "q_benford_check" ->
      """WITH d AS (
        |  SELECT substring(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1) AS digit
        |  FROM orders),
        |g AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
        |tot AS (SELECT sum(n) AS t FROM g)
        |SELECT digit, n,
        |  CAST((n * 1000000) // (SELECT t FROM tot) AS BIGINT) AS share_ppm,
        |  CAST(floor(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS benford_ppm,
        |  CAST((n * 1000000) // (SELECT t FROM tot) AS BIGINT)
        |    - CAST(floor(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS dev_ppm
        |FROM g ORDER BY digit""".stripMargin,

    // Mann–Whitney replay: identical total order (price, okey) →
    // identical row numbers; per-price group stats make the DOUBLED
    // rank sum r2a an integer; z is the same parenthesization
    "q_mann_whitney" ->
      """WITH ab AS (
        |  SELECT o_orderkey AS okey, o_totalprice AS price,
        |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS is_a
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |rk AS (SELECT price, is_a,
        |         row_number() OVER (ORDER BY price, okey) AS rn FROM ab),
        |grp AS (SELECT price, min(rn) AS lo, max(rn) AS hi,
        |          count(*) AS t, sum(is_a) AS ta FROM rk GROUP BY price),
        |agg AS (SELECT CAST(sum(ta * (lo + hi)) AS BIGINT) AS r2a,
        |          CAST(sum(ta) AS BIGINT) AS n_a,
        |          CAST(sum(t - ta) AS BIGINT) AS n_b,
        |          CAST(sum(t * t * t - t) AS BIGINT) AS ties FROM grp)
        |SELECT n_a, n_b, ties,
        |  CAST(r2a - n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u_a,
        |  floor(((CAST(r2a - n_a * (n_a + 1) AS DOUBLE) / 2.0
        |          - CAST(n_a * n_b AS DOUBLE) / 2.0)
        |    / sqrt((CAST(n_a * n_b AS DOUBLE) / 12.0)
        |        * (CAST(n_a + n_b + 1 AS DOUBLE)
        |           - CAST(ties AS DOUBLE)
        |             / CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE))))
        |    * 1000000 + 0.5) / 1000000 AS z
        |FROM agg""".stripMargin,

    // Mann–Kendall replay: the O(days²) pair walk as a self-join over
    // the DECIMAL daily series (signs exact); the slope median is the
    // explicit mean of the two middle order statistics — never the
    // engine's interpolating quantile, whose lerp can differ by an
    // ulp from (a+b)/2
    "q_mann_kendall" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
        |    sum(CAST(o_totalprice AS DECIMAL(27,10))) AS rev
        |  FROM orders GROUP BY 1),
        |pairs AS (
        |  SELECT a.d AS d1, b.d AS d2, a.rev AS r1, b.rev AS r2
        |  FROM daily a JOIN daily b ON a.d < b.d),
        |s AS (SELECT CAST(sum(CASE WHEN r2 > r1 THEN 1
        |                           WHEN r2 < r1 THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |      FROM pairs),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
        |tt AS (SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
        |       FROM (SELECT count(*) AS t FROM daily GROUP BY rev) g),
        |v AS (SELECT CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0 AS var_s
        |      FROM nd, tt),
        |sl AS (SELECT (CAST(r2 AS DOUBLE) - CAST(r1 AS DOUBLE))
        |         / CAST(date_diff('day', d1, d2) AS DOUBLE) AS slope FROM pairs),
        |so AS (SELECT slope, row_number() OVER (ORDER BY slope) AS p,
        |         count(*) OVER () AS np FROM sl),
        |sen AS (SELECT (max(CASE WHEN p = (np + 1) // 2 THEN slope END)
        |              + max(CASE WHEN p = (np + 2) // 2 THEN slope END)) / 2.0 AS sen
        |        FROM so)
        |SELECT nd.n AS n_days, s.s_stat,
        |  floor(v.var_s * 1000000 + 0.5) / 1000000 AS var_s,
        |  floor((CASE WHEN s.s_stat > 0 THEN CAST(s.s_stat - 1 AS DOUBLE) / sqrt(v.var_s)
        |              WHEN s.s_stat < 0 THEN CAST(s.s_stat + 1 AS DOUBLE) / sqrt(v.var_s)
        |              ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS z,
        |  floor(sen.sen * 1000000 + 0.5) / 1000000 AS sen_slope
        |FROM nd, s, v, sen""".stripMargin,

    // Holt replay: the same sequential recursion as a recursive CTE —
    // per-step expressions written with LITERAL complements (0.7/0.9,
    // never 1−α) and b's step re-evaluating the lNew expression, so
    // every state pair is bit-identical to the driver fold's
    "q_forecast_holt" ->
      """WITH RECURSIVE d AS (
        |  SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |xs AS (SELECT row_number() OVER (ORDER BY day) AS i,
        |              CAST(cents AS DOUBLE) / 100.0 AS x FROM d),
        |nn AS (SELECT max(i) AS n FROM xs),
        |r(i, l, b) AS (
        |  SELECT 1, x1.x, x2.x - x1.x
        |  FROM (SELECT x FROM xs WHERE i = 1) x1,
        |       (SELECT x FROM xs WHERE i = 2) x2
        |  UNION ALL
        |  SELECT r.i + 1,
        |    0.3 * xs.x + 0.7 * (r.l + r.b),
        |    0.1 * ((0.3 * xs.x + 0.7 * (r.l + r.b)) - r.l) + 0.9 * r.b
        |  FROM r JOIN xs ON xs.i = r.i + 1
        |  WHERE r.i < (SELECT n FROM nn)),
        |fin AS (SELECT l, b FROM r WHERE i = (SELECT n FROM nn))
        |SELECT CAST(h.h AS BIGINT) AS h,
        |  floor((l + h.h * b)*100 + 0.5)/100 AS yhat,
        |  floor((l)*100 + 0.5)/100 AS last_level,
        |  floor((b)*10000 + 0.5)/10000 AS last_trend
        |FROM fin CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS h) h
        |ORDER BY h""".stripMargin,

    // Markov removal-effect attribution replayed end-to-end — see
    // markovAttributionSql (journeys, chain, 16-round unroll per
    // variant, ordered folds)
    "q_attribution_markov" -> markovAttributionSql,

    // Kaplan–Meier replay: same HOUR-grain lifetimes (r11 verdict
    // #3: day grain gave the gate corpus only four distinct
    // lifetimes and a 1-step curve), same ADAPTIVE censoring horizon
    // (min(168 h, max(1, max-inactivity-gap/2)) — half-the-max
    // leaves a SPREAD of users uncensored, not just the max-gap
    // one), n_risk by the before-t running count, and the survivor
    // as an ORDERED list_reduce product — the same left-to-right
    // double multiplies the engine's driver fold does, so the
    // rounded value is bit-identical. Hour diffs via second-epoch
    // division: both engines hour-truncate first, so every diff is
    // an exact multiple of 3600 s.
    "q_survival_curve" ->
      """WITH ue AS (
        |  SELECT user_id, date_trunc('hour', min(ts)) AS f, date_trunc('hour', max(ts)) AS l
        |  FROM events GROUP BY user_id),
        |mx AS (SELECT max(l) AS ml FROM ue),
        |hz AS (SELECT least(168, greatest(1, max(date_diff('second', l, ml))//3600//2)) AS h
        |       FROM ue CROSS JOIN mx),
        |u AS (SELECT date_diff('second', f, l)//3600 AS t,
        |        (date_diff('second', l, ml)//3600 < (SELECT h FROM hz)) AS censored
        |      FROM ue CROSS JOIN mx),
        |perT AS (SELECT t, count(*) AS c_all,
        |           sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS d
        |         FROM u GROUP BY t),
        |tot AS (SELECT sum(c_all) AS n FROM perT),
        |rk AS (SELECT t, c_all, d,
        |         (SELECT n FROM tot) - coalesce(sum(c_all) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        |       FROM perT),
        |ev AS (SELECT t, d, n_risk, 1.0 - CAST(d AS DOUBLE)/n_risk AS factor FROM rk WHERE d > 0),
        |sv AS (SELECT a.t, a.d, a.n_risk,
        |         list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
        |           list(b.factor ORDER BY b.t)), (x, y) -> x * y) AS s
        |       FROM ev a JOIN ev b ON b.t <= a.t
        |       GROUP BY a.t, a.d, a.n_risk)
        |SELECT CAST(t AS BIGINT) AS t_hours, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(d AS BIGINT) AS n_events,
        |  floor(s*1000000 + 0.5)/1000000 AS surv
        |FROM sv ORDER BY t_hours""".stripMargin,

    // mSPRT replay: identical integer peeks (cumulative by signup
    // day), the identically-parenthesized lnΛ tree (one ln per peek,
    // every downstream comparison over the 1e-6-ROUNDED value), the
    // running max as a window fold over the same valid-peek set,
    // and the reject boundary as the shared rounded literal
    "q_ab_sprt" -> {
      val t2 = operators.EventAnalytics.SprtTau * operators.EventAnalytics.SprtTau
      s"""WITH s0 AS (SELECT user_id, min(ts) AS s0 FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |cv AS (
        |  SELECT s0.user_id, strftime(date_trunc('day', s0.s0), '%Y-%m-%d') AS d,
        |    max(CASE WHEN e.event_type = 'purchase' AND e.ts > s0.s0
        |              AND e.ts <= s0.s0 + INTERVAL 6 HOUR THEN 1 ELSE 0 END) AS conv
        |  FROM s0 JOIN events e USING (user_id) GROUP BY s0.user_id, 2),
        |daily AS (
        |  SELECT d,
        |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS da_n,
        |    sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS da_x,
        |    sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS db_n,
        |    sum(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END) AS db_x
        |  FROM cv GROUP BY d),
        |cum AS (
        |  SELECT d,
        |    CAST(sum(da_n) OVER w AS BIGINT) AS n_a, CAST(sum(da_x) OVER w AS BIGINT) AS x_a,
        |    CAST(sum(db_n) OVER w AS BIGINT) AS n_b, CAST(sum(db_x) OVER w AS BIGINT) AS x_b
        |  FROM daily WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |st AS (
        |  SELECT d, n_a, x_a, n_b, x_b,
        |    floor((0.5*ln(v/(v + $t2)) + (pa - pb)*(pa - pb)*$t2/(2.0*v*(v + $t2)))*1000000 + 0.5)/1000000 AS lnl_r
        |  FROM (
        |    SELECT d, n_a, x_a, n_b, x_b,
        |      CAST(x_a AS DOUBLE)/CAST(n_a AS DOUBLE) AS pa,
        |      CAST(x_b AS DOUBLE)/CAST(n_b AS DOUBLE) AS pb,
        |      (CAST(x_a + x_b AS DOUBLE)/CAST(n_a + n_b AS DOUBLE))*(1.0 - CAST(x_a + x_b AS DOUBLE)/CAST(n_a + n_b AS DOUBLE))*(1.0/CAST(n_a AS DOUBLE) + 1.0/CAST(n_b AS DOUBLE)) AS v
        |    FROM cum
        |    WHERE n_a > 0 AND n_b > 0 AND x_a + x_b > 0 AND x_a + x_b < n_a + n_b) t),
        |fold AS (
        |  SELECT d AS day, n_a, x_a, n_b, x_b, lnl_r AS log_lambda,
        |    max(greatest(lnl_r, 0.0)) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS neg_log_p
        |  FROM st)
        |SELECT day, n_a, x_a, n_b, x_b, log_lambda, neg_log_p,
        |  neg_log_p >= ${operators.EventAnalytics.SprtLnInvAlpha} AS reject
        |FROM fold ORDER BY day""".stripMargin
    },

    "q_ab_ztest" ->
      """WITH s0 AS (SELECT user_id, min(ts) AS s0 FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |cv AS (
        |  SELECT s0.user_id,
        |    max(CASE WHEN e.event_type = 'purchase' AND e.ts > s0.s0
        |              AND e.ts <= s0.s0 + INTERVAL 6 HOUR THEN 1 ELSE 0 END) AS conv
        |  FROM s0 JOIN events e USING (user_id) GROUP BY s0.user_id),
        |arms AS (
        |  SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS BIGINT) AS x_a,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END) AS BIGINT) AS x_b
        |  FROM cv),
        |p AS (
        |  SELECT n_a, x_a, n_b, x_b,
        |    CAST(x_a AS DOUBLE)/CAST(n_a AS DOUBLE) AS pa,
        |    CAST(x_b AS DOUBLE)/CAST(n_b AS DOUBLE) AS pb,
        |    CAST(x_a + x_b AS DOUBLE)/CAST(n_a + n_b AS DOUBLE) AS pp
        |  FROM arms)
        |SELECT n_a, x_a, n_b, x_b,
        |  floor(pa*1000000 + 0.5)/1000000 AS rate_a,
        |  floor(pb*1000000 + 0.5)/1000000 AS rate_b,
        |  floor(((pa - pb)/sqrt((pp*(1.0 - pp))*(1.0/CAST(n_a AS DOUBLE) + 1.0/CAST(n_b AS DOUBLE))))*1000000 + 0.5)/1000000 AS z
        |FROM p""".stripMargin,

    "q_rfm_segments" ->
      """WITH pc AS (
        |  SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_d,
        |    count(*) AS freq, sum(CAST(o_totalprice AS DECIMAL(27,10))) AS monetary
        |  FROM orders GROUP BY o_custkey),
        |a AS (SELECT max(last_d) AS asof, count(*) AS n FROM pc),
        |sc AS (
        |  SELECT o_custkey, monetary,
        |    6 - CAST(floor(CAST(row_number() OVER (ORDER BY date_diff('day', last_d, a.asof), o_custkey)*5 + a.n - 1 AS DOUBLE)/a.n) AS BIGINT) AS r_score,
        |    6 - CAST(floor(CAST(row_number() OVER (ORDER BY freq DESC, o_custkey)*5 + a.n - 1 AS DOUBLE)/a.n) AS BIGINT) AS f_score,
        |    6 - CAST(floor(CAST(row_number() OVER (ORDER BY monetary DESC, o_custkey)*5 + a.n - 1 AS DOUBLE)/a.n) AS BIGINT) AS m_score
        |  FROM pc, a)
        |SELECT CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS segment,
        |  CAST(r_score AS INTEGER) AS r_score, CAST(f_score AS INTEGER) AS f_score,
        |  CAST(m_score AS INTEGER) AS m_score,
        |  count(*) AS n_cust,
        |  floor(CAST(sum(monetary) AS DOUBLE)/CAST(count(*) AS DOUBLE)*100 + 0.5)/100 AS avg_monetary
        |FROM sc GROUP BY r_score, f_score, m_score
        |ORDER BY segment""".stripMargin,

    "q_model_gains" -> perceptronGainsOracle,

    // off-policy eval replayed end-to-end: propensities and the
    // target argmax from the suite's own fnv64→mix64 primitives
    // (power-of-two moduli — the signed/unsigned-mod discipline),
    // w = den/numer one IEEE division, sums DECIMAL-exact, the
    // estimates single divisions
    "q_bandit_ips" ->
      s"""WITH acts AS (
        |  SELECT unnest(['click','error','purchase','signup','view']) AS b),
        |u AS (SELECT DISTINCT user_id FROM events),
        |arms AS (
        |  SELECT user_id, b,
        |    CAST(${mixSql(fnvSql("'log:' || b || ':' || CAST(user_id AS VARCHAR)"))} % 4 AS BIGINT) + 1 AS numer,
        |    CAST(${mixSql(fnvSql("'pi:' || b || ':' || CAST(user_id AS VARCHAR)"))} % 1024 AS BIGINT) AS score
        |  FROM u CROSS JOIN acts),
        |den AS (SELECT user_id, CAST(sum(numer) AS BIGINT) AS den FROM arms GROUP BY 1),
        |pi AS (SELECT user_id, b AS pi_action FROM (
        |  SELECT user_id, b,
        |    row_number() OVER (PARTITION BY user_id ORDER BY score DESC, b) AS rk
        |  FROM arms) WHERE rk = 1),
        |j AS (
        |  SELECT e.event_type, e.value,
        |    CAST(den.den AS DOUBLE) / CAST(a.numer AS DOUBLE) AS w,
        |    (pi.pi_action = e.event_type) AS m
        |  FROM events e
        |  JOIN arms a ON a.user_id = e.user_id AND a.b = e.event_type
        |  JOIN den ON den.user_id = e.user_id
        |  JOIN pi ON pi.user_id = e.user_id),
        |g AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        |    CAST(sum(CAST((CASE WHEN m THEN w ELSE CAST(0 AS DOUBLE) END) AS DECIMAL(27,10))) AS DOUBLE) AS sw,
        |    CAST(sum(CAST((CASE WHEN m THEN w * value ELSE CAST(0 AS DOUBLE) END) AS DECIMAL(27,10))) AS DOUBLE) AS swr
        |  FROM j GROUP BY 1)
        |SELECT event_type, n, n_match,
        |  floor(sw*10000 + 0.5)/10000 AS sum_w,
        |  CASE WHEN n_match > 0 THEN floor((swr / CAST(n AS DOUBLE))*10000 + 0.5)/10000 END AS ips_value,
        |  CASE WHEN n_match > 0 THEN floor((swr / sw)*10000 + 0.5)/10000 END AS snips_value
        |FROM g ORDER BY event_type""".stripMargin,

    "ann_radius_search" -> annRadiusOracle,

    // lower weighted median on the cent grid: the oracle sorts
    // (cumulative window), the engine bisects — same integer
    // threshold definition, exact agreement
    "q_weighted_median" ->
      """WITH c AS (
        |  SELECT l_returnflag, CAST(floor(l_quantity*100 + 0.5) AS BIGINT) AS q,
        |    CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS w
        |  FROM lineitem),
        |t AS (SELECT l_returnflag, count(*) AS n_lines, CAST(sum(w) AS BIGINT) AS tw FROM c GROUP BY 1),
        |byq AS (SELECT l_returnflag, q, CAST(sum(w) AS BIGINT) AS wq FROM c GROUP BY 1, 2),
        |cw AS (SELECT l_returnflag, q,
        |         CAST(sum(wq) OVER (PARTITION BY l_returnflag ORDER BY q) AS BIGINT) AS cum
        |       FROM byq),
        |m AS (SELECT cw.l_returnflag, min(q) AS mq
        |      FROM cw JOIN t USING (l_returnflag)
        |      WHERE cum >= (tw + 1) // 2 GROUP BY 1)
        |SELECT t.l_returnflag, n_lines, tw AS total_weight,
        |  floor((CAST(mq AS DOUBLE)/100)*10000 + 0.5)/10000 AS w_median
        |FROM m JOIN t USING (l_returnflag) ORDER BY l_returnflag""".stripMargin,

    "mm_cdc_chunks" ->
      s"""WITH reg AS (
        |  SELECT doc_id AS media_id, text AS t FROM documents WHERE length(text) >= 64
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |    upper(substr(text, 1, 10)) || substr(text, 11, length(text)-20) ||
        |    upper(substr(text, length(text)-9, 10))
        |  FROM documents WHERE length(text) >= 64 AND doc_id % 11 = 5),
        |m AS (SELECT media_id, t, CAST(length(t) AS BIGINT) AS len FROM reg),
        |w AS (
        |  SELECT media_id, unnest([{'p': CAST(i AS BIGINT),
        |      'c': substr(t, i, 8)} for i in generate_series(1, CAST(len - 7 AS INTEGER))]) AS u
        |  FROM m),
        |bp AS (
        |  SELECT media_id, list(u['p'] ORDER BY u['p']) AS bs
        |  FROM w WHERE ${fnvSql("u['c']")} % 32 = 0 GROUP BY media_id),
        |ed AS (
        |  SELECT m.media_id, m.t,
        |    list_concat(list_concat([CAST(1 AS BIGINT)], coalesce(bp.bs, [])), [m.len + 1]) AS edges
        |  FROM m LEFT JOIN bp USING (media_id)),
        |ch AS (
        |  SELECT media_id, unnest([substr(t, CAST(edges[i] AS INTEGER),
        |      CAST(edges[i+1] - edges[i] AS INTEGER))
        |    for i in generate_series(1, len(edges) - 1)]) AS chunk
        |  FROM ed)
        |SELECT chunk, CAST(length(chunk) AS BIGINT) AS n_bytes,
        |  count(DISTINCT media_id) AS n_media, count(*) AS n_occ,
        |  min(media_id) AS first_media
        |FROM ch WHERE length(chunk) >= ${operators.TextOps.ByteCdcMinLen}
        |GROUP BY chunk HAVING count(DISTINCT media_id) >= 2
        |ORDER BY chunk""".stripMargin,

    "mm_audio_segments" ->
      s"""WITH a AS (
        |  SELECT doc_id AS media_id, text AS t, length(text) AS len
        |  FROM documents WHERE doc_id % 7 = 2 AND length(text) >= 64),
        |fr AS (
        |  SELECT media_id, unnest([{'fi': i + 1,
        |      'c': substr(t, i*64 + 1, 64)} for i in generate_series(0, (len-1)//64)]) AS u
        |  FROM a),
        |voiced AS (
        |  SELECT media_id, u['fi'] AS fi
        |  FROM fr WHERE ${fnvSql("u['c']")} % 8 <> 0),
        |isl AS (
        |  SELECT media_id,
        |    fi - row_number() OVER (PARTITION BY media_id ORDER BY fi) AS grp, fi
        |  FROM voiced),
        |seg AS (
        |  SELECT media_id, min(fi) AS f0, max(fi) AS f1, count(*) AS n_frames
        |  FROM isl GROUP BY media_id, grp)
        |SELECT media_id,
        |  CAST(row_number() OVER (PARTITION BY media_id ORDER BY f0) AS BIGINT) AS seg,
        |  CAST((f0 - 1) * 20 AS BIGINT) AS start_ms, CAST(f1 * 20 AS BIGINT) AS end_ms,
        |  n_frames
        |FROM seg ORDER BY media_id, seg""".stripMargin,

    "mm_phash_neardup" ->
      s"""WITH reg AS (
        |  SELECT doc_id AS media_id, text AS t FROM documents WHERE length(text) >= 64
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |    upper(substr(text, 1, 10)) || substr(text, 11, length(text)-20) ||
        |    upper(substr(text, length(text)-9, 10))
        |  FROM documents WHERE length(text) >= 64 AND doc_id % 11 = 5),
        |m AS (SELECT media_id, t, length(t) AS L FROM reg),
        |ch AS (
        |  SELECT media_id, unnest([{'pos': i,
        |      'c': substr(t, CAST(floor((i-1)*L/${operators.TextOps.PhashWords * 64}.0) AS INTEGER)+1,
        |             CAST(floor(i*L/${operators.TextOps.PhashWords * 64}.0) AS INTEGER)-CAST(floor((i-1)*L/${operators.TextOps.PhashWords * 64}.0) AS INTEGER))}
        |    for i in generate_series(1, ${operators.TextOps.PhashWords * 64})]) AS u
        |  FROM m),
        |bits AS (SELECT media_id, u['pos'] AS pos,
        |    CAST(${fnvSql("u['c']")} % 2 AS BIGINT) AS bit FROM ch),
        |bands AS (
        |  SELECT media_id, (pos-1)//${operators.TextOps.PhashBandBits} AS band,
        |    CAST(sum(bit << ((pos-1)%${operators.TextOps.PhashBandBits})) AS BIGINT) AS bv
        |  FROM bits GROUP BY 1, 2),
        |sig AS (SELECT media_id, list(bv ORDER BY band) AS sg FROM bands GROUP BY media_id),
        |bseq AS (
        |  SELECT media_id, band, bv, row_number() OVER (PARTITION BY band, bv ORDER BY media_id) AS i
        |  FROM bands),
        |cand AS (
        |  SELECT DISTINCT a.media_id AS ma, b.media_id AS mb
        |  FROM bseq a JOIN bseq b ON a.band = b.band AND a.bv = b.bv AND a.media_id < b.media_id
        |  WHERE a.i <= ${operators.Blocking.DefaultCap}),
        |h AS (
        |  SELECT ma, mb,
        |    CAST(list_sum([bit_count(xor(sa.sg[i], sb.sg[i])) for i in generate_series(1, ${operators.TextOps.PhashBands})]) AS BIGINT) AS hamming
        |  FROM cand JOIN sig sa ON sa.media_id = ma JOIN sig sb ON sb.media_id = mb)
        |SELECT ma AS media_a, mb AS media_b, hamming
        |FROM h WHERE hamming <= ${operators.TextOps.PhashTau}
        |ORDER BY media_a, media_b""".stripMargin,

    "text_rake_keywords" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]+', '|', 'g'),
        |      '\\b(${operators.PipelineOps.RakeStops})\\b', '|', 'g') AS s
        |  FROM documents),
        |ph4 AS (
        |  SELECT phrase, CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen FROM (
        |    SELECT trim(regexp_replace(p, ' +', ' ', 'g')) AS phrase
        |    FROM (SELECT unnest(string_split(s, '|')) AS p FROM t))
        |  WHERE phrase <> '' AND len(string_split(phrase, ' ')) <= 4),
        |w AS (SELECT phrase, plen, unnest(string_split(phrase, ' ')) AS word FROM ph4),
        |ws AS (SELECT word, count(*) AS freq, CAST(sum(plen) AS BIGINT) AS deg FROM w GROUP BY word),
        |psc AS (SELECT phrase, count(*) AS n_occur FROM ph4 GROUP BY phrase),
        |sc AS (
        |  SELECT pw.phrase, CAST(sum(ws.deg) AS BIGINT) AS sum_deg,
        |    CAST(sum(ws.freq) AS BIGINT) AS sum_freq
        |  FROM (SELECT DISTINCT phrase, word FROM w) pw JOIN ws USING (word)
        |  GROUP BY pw.phrase),
        |f AS (
        |  SELECT sc.phrase, psc.n_occur, sum_deg, sum_freq,
        |    floor((CAST(sum_deg AS DOUBLE)/CAST(sum_freq AS DOUBLE))*10000 + 0.5)/10000 AS score
        |  FROM sc JOIN psc USING (phrase)),
        |rk AS (SELECT *, row_number() OVER (ORDER BY score DESC, phrase) AS r FROM f)
        |SELECT phrase, n_occur, sum_deg, sum_freq, score
        |FROM rk WHERE r <= 20 ORDER BY score DESC, phrase""".stripMargin,

    // synchronous LPA with a deterministic (count desc, label asc)
    // argmax, 3 rounds unrolled — every step integer, so the final
    // community partition matches bit-for-bit
    "q_label_propagation" ->
      s"""WITH $lpaCtes
         |SELECT lbl AS community, count(*) AS n_nodes,
         |  min(node) AS min_node, max(node) AS max_node
         |FROM l${operators.GraphOps.LpaRounds}
         |GROUP BY lbl HAVING count(*) >= 2 ORDER BY community""".stripMargin,

    // the same replayed partition, scored: per-community internal
    // edge and degree mass, and the community's modularity
    // contribution L_c/m − (d_c/2m)² — exact integers into two
    // IEEE divisions, so even the quality METRIC hash-verifies
    "q_graph_modularity" ->
      s"""WITH $lpaCtes,
         |fin AS (SELECT node, lbl FROM l${operators.GraphOps.LpaRounds}),
         |m AS (SELECT count(*) AS me FROM e),
         |internal AS (
         |  SELECT la.lbl AS community, count(*) AS l_c
         |  FROM e JOIN fin la ON la.node = e.u JOIN fin lb ON lb.node = e.v
         |  WHERE la.lbl = lb.lbl GROUP BY 1),
         |deg AS (SELECT node, count(*) AS d FROM (
         |  SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) GROUP BY 1),
         |dsum AS (
         |  SELECT fin.lbl AS community, count(*) AS n_nodes, CAST(sum(deg.d) AS BIGINT) AS d_c
         |  FROM fin JOIN deg USING (node) GROUP BY 1)
         |SELECT ds.community, ds.n_nodes,
         |  CAST(COALESCE(i.l_c, 0) AS BIGINT) AS internal_edges, ds.d_c AS degree_sum,
         |  floor((CAST(COALESCE(i.l_c, 0) AS DOUBLE)/CAST(me AS DOUBLE)
         |    - (CAST(ds.d_c AS DOUBLE)/CAST(2*me AS DOUBLE))*(CAST(ds.d_c AS DOUBLE)/CAST(2*me AS DOUBLE)))*1000000 + 0.5)/1000000 AS contribution
         |FROM dsum ds LEFT JOIN internal i USING (community), m
         |ORDER BY ds.community""".stripMargin,

    "q_scd2_history" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT * FROM e WHERE prev IS NULL OR prev <> event_type),
        |v AS (
        |  SELECT user_id, event_type AS attr, epoch_us(ts) AS valid_from_us,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_us
        |  FROM c)
        |SELECT user_id, version, attr, valid_from_us, valid_to_us,
        |  valid_to_us IS NULL AS is_current
        |FROM v ORDER BY user_id, version""".stripMargin,

    "q_record_linkage" ->
      """WITH dirty AS (
        |  SELECT c_custkey AS d_key, c_nationkey AS d_nat,
        |    CASE WHEN c_custkey % 3 = 0 THEN substr(c_name, 1, 5) || substr(c_name, 7)
        |         WHEN c_custkey % 3 = 1 THEN c_name || ' '
        |         ELSE replace(c_name, '#', '=') END AS d_name
        |  FROM customer WHERE c_custkey % 7 = 3),
        |clean AS (
        |  SELECT c_custkey AS c_key, c_name,
        |    CAST(c_nationkey AS VARCHAR) || '|' || right(replace(c_name, ' ', ''), 2) AS bk
        |  FROM customer),
        |cand AS (
        |  SELECT c.c_key, d.d_key, levenshtein(c.c_name, d.d_name) AS lev
        |  FROM clean c JOIN (
        |    SELECT *, CAST(d_nat AS VARCHAR) || '|' || right(replace(d_name, ' ', ''), 2) AS bk
        |    FROM dirty) d USING (bk))
        |SELECT d_key % 3 AS kind, count(*) AS n_candidates,
        |  CAST(sum(CASE WHEN lev <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |  CAST(sum(CASE WHEN lev <= 2 AND c_key = d_key THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        |  floor((CAST(sum(CASE WHEN lev <= 2 AND c_key = d_key THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(CASE WHEN lev <= 2 THEN 1 ELSE 0 END) AS DOUBLE))*1000000 + 0.5)/1000000 AS precision,
        |  floor((CAST(sum(CASE WHEN lev <= 2 AND c_key = d_key THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(CASE WHEN c_key = d_key THEN 1 ELSE 0 END) AS DOUBLE))*1000000 + 0.5)/1000000 AS recall
        |FROM cand GROUP BY kind ORDER BY kind""".stripMargin,

    // end-to-end ER: the linkage match set closed by recursive-CTE
    // reachability — the oracle twin of the star-contraction CC
    "q_entity_clusters" ->
      """WITH RECURSIVE dirty AS (
        |  SELECT c_custkey AS d_key, c_nationkey AS d_nat,
        |    CASE WHEN c_custkey % 3 = 0 THEN substr(c_name, 1, 5) || substr(c_name, 7)
        |         WHEN c_custkey % 3 = 1 THEN c_name || ' '
        |         ELSE replace(c_name, '#', '=') END AS d_name
        |  FROM customer WHERE c_custkey % 7 = 3),
        |clean AS (
        |  SELECT c_custkey AS c_key, c_name,
        |    CAST(c_nationkey AS VARCHAR) || '|' || right(replace(c_name, ' ', ''), 2) AS bk
        |  FROM customer),
        |mp AS (
        |  SELECT c.c_key AS u, d.d_key + 10000000 AS v
        |  FROM clean c JOIN (
        |    SELECT *, CAST(d_nat AS VARCHAR) || '|' || right(replace(d_name, ' ', ''), 2) AS bk
        |    FROM dirty) d USING (bk)
        |  WHERE levenshtein(c.c_name, d.d_name) <= 2),
        |e AS (SELECT u, v FROM mp UNION SELECT v, u FROM mp),
        |reach(u, v) AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
        |rep AS (SELECT u AS id, least(min(v), u) AS rp FROM reach GROUP BY u)
        |SELECT rp AS entity, count(*) AS n_records,
        |  CAST(sum(CASE WHEN id < 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
        |  CAST(sum(CASE WHEN id >= 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_dirty,
        |  max(id) AS max_member
        |FROM rep GROUP BY rp HAVING count(*) >= 2 ORDER BY entity""".stripMargin,

    // equi-depth quartiles: the oracle finds each ceil(i*n/4)-th
    // order statistic with a cumulative window — the sort the
    // engine's bisection avoids — then buckets identically
    "q_equidepth_hist" ->
      """WITH c AS (SELECT event_type, CAST(floor(value*100 + 0.5) AS BIGINT) AS c FROM events),
        |t AS (SELECT event_type, count(*) AS n FROM c GROUP BY 1),
        |byc AS (SELECT event_type, c, count(*) AS cnt FROM c GROUP BY 1, 2),
        |cw AS (SELECT event_type, c,
        |         CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY c) AS BIGINT) AS cum
        |       FROM byc),
        |qs AS (
        |  SELECT cw.event_type,
        |    min(CASE WHEN cum >= (1*n + 3) // 4 THEN c END) AS q1c,
        |    min(CASE WHEN cum >= (2*n + 3) // 4 THEN c END) AS q2c,
        |    min(CASE WHEN cum >= (3*n + 3) // 4 THEN c END) AS q3c
        |  FROM cw JOIN t USING (event_type) GROUP BY 1),
        |b AS (
        |  SELECT c.event_type,
        |    CASE WHEN c.c <= q1c THEN 1 WHEN c.c <= q2c THEN 2
        |         WHEN c.c <= q3c THEN 3 ELSE 4 END AS bucket,
        |    q1c, q2c, q3c
        |  FROM c JOIN qs USING (event_type))
        |SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
        |  floor((CAST(q1c AS DOUBLE)/100)*10000 + 0.5)/10000 AS q1,
        |  floor((CAST(q2c AS DOUBLE)/100)*10000 + 0.5)/10000 AS q2,
        |  floor((CAST(q3c AS DOUBLE)/100)*10000 + 0.5)/10000 AS q3,
        |  count(*) AS n_rows
        |FROM b GROUP BY event_type, bucket, q1c, q2c, q3c
        |ORDER BY event_type, bucket""".stripMargin,

    "ann_bruteforce_topk" -> bruteforceOracle,
    // the SQL-front-door twin produces the identical result by
    // construction — one oracle serves both
    "q_sql_cosine_topk" -> bruteforceOracle,

    // metadata-filtered exact search: same ranking, corpus
    // restricted to the filter label before scoring
    "ann_filtered_topk" ->
      s"""WITH probes AS (SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS pe FROM embeddings WHERE vec_id < ${operators.AnnOps.NumProbes}),
        |sims AS (SELECT pid, e.vec_id AS nid,
        |  list_cosine_similarity(pe, CAST(e.embedding AS DOUBLE[])) AS sim
        |  FROM probes, embeddings e
        |  WHERE e.vec_id <> pid AND e.label = ${operators.AnnOps.FilterLabel}),
        |ranked AS (SELECT pid, nid, sim,
        |  row_number() OVER (PARTITION BY pid ORDER BY floor((sim)*1000000 + 0.5)/1000000 DESC, nid) AS rnk FROM sims)
        |SELECT pid, CAST(rnk AS BIGINT) AS rnk, nid, floor((sim)*10000 + 0.5)/10000 AS sim
        |FROM ranked WHERE rnk <= 5 ORDER BY pid, rnk""".stripMargin,

    // A-priori triples: candidates only from prefix-sharing frequent
    // pairs with full downward closure, counted over order itemsets
    "q_frequent_triples" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b
        |  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |cand AS (
        |  SELECT p1.a, p1.b, p2.b AS c
        |  FROM p p1 JOIN p p2 ON p1.a = p2.a AND p1.b < p2.b
        |  WHERE EXISTS (SELECT 1 FROM p WHERE p.a = p1.b AND p.b = p2.b)),
        |t AS (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b, z.l_partkey AS c, count(*) AS support
        |  FROM op x
        |  JOIN op y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  JOIN op z ON x.l_orderkey = z.l_orderkey AND y.l_partkey < z.l_partkey
        |  WHERE EXISTS (SELECT 1 FROM cand
        |    WHERE cand.a = x.l_partkey AND cand.b = y.l_partkey AND cand.c = z.l_partkey)
        |  GROUP BY 1, 2, 3 HAVING count(*) >= 2)
        |SELECT a, b, c, support FROM t ORDER BY support DESC, a, b, c""".stripMargin,

    // hash-banded 90/5/5 split audit: membership a pure function of
    // doc_id via FNV, per-source stratification fractions
    "q_data_split" ->
      s"""WITH h AS (
        |  SELECT source,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS BIGINT) AS n_toks,
        |    ${fnvSql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS band
        |  FROM documents),
        |sp AS (
        |  SELECT source, n_toks,
        |    CASE WHEN band < 90 THEN 'train' WHEN band < 95 THEN 'val' ELSE 'test' END AS split
        |  FROM h),
        |bs AS (SELECT source, split, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens
        |       FROM sp GROUP BY 1, 2),
        |tt AS (SELECT source, count(*) AS src_docs FROM sp GROUP BY 1)
        |SELECT bs.source, bs.split, bs.n_docs, bs.n_tokens,
        |  floor((CAST(bs.n_docs AS DOUBLE)/CAST(tt.src_docs AS DOUBLE))*10000 + 0.5)/10000 AS fraction
        |FROM bs JOIN tt USING (source)
        |ORDER BY source, split""".stripMargin,

    // spine + linear interpolation between nearest observations
    "q_gap_fill_interpolate" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', o_orderdate) AS d,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(27,10))) AS DOUBLE) AS rev
        |  FROM orders WHERE year(o_orderdate) = 1996 AND month(o_orderdate) <= 2
        |  GROUP BY 1),
        |b AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
        |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM b),
        |j AS (
        |  SELECT spine.d, daily.rev,
        |    CAST(date_diff('day', TIMESTAMP '1970-01-01', spine.d) AS BIGINT) AS dd
        |  FROM spine LEFT JOIN daily USING (d)),
        |f AS (
        |  SELECT d, rev, dd,
        |    last_value(CASE WHEN rev IS NOT NULL THEN {'pd': dd, 'prev': rev} END IGNORE NULLS)
        |      OVER (ORDER BY dd ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    first_value(CASE WHEN rev IS NOT NULL THEN {'nd': dd, 'next': rev} END IGNORE NULLS)
        |      OVER (ORDER BY dd ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx
        |  FROM j)
        |SELECT strftime(d, '%Y-%m-%d') AS day, rev IS NOT NULL AS observed,
        |  floor(coalesce(rev,
        |    pv['prev'] + (nx['next'] - pv['prev']) *
        |      (CAST(dd - pv['pd'] AS DOUBLE)/CAST(nx['nd'] - pv['pd'] AS DOUBLE)))*100 + 0.5)/100 AS revenue
        |FROM f ORDER BY day""".stripMargin,

    // the rewritten plan must return exactly what the naive window
    // idiom returns — the oracle IS the naive idiom
    "q_sql_topk_rewrite" ->
      """SELECT event_type, CAST(rn AS BIGINT) AS rn, event_id,
        |  floor(value*10000 + 0.5)/10000 AS value
        |FROM (SELECT event_type, event_id, value,
        |        row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
        |      FROM events)
        |WHERE rn <= 3 ORDER BY event_type, rn""".stripMargin,

    // rank-function panel over a unique-tiebreak total order:
    // percent_rank/cume_dist are divisions of exact integers
    "q_window_ranks" ->
      """WITH r AS (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER w AS rn,
        |    percent_rank() OVER w AS pr,
        |    cume_dist() OVER w AS cd,
        |    dense_rank() OVER w AS dr
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id))
        |SELECT event_type, CAST(rn AS BIGINT) AS rn, event_id,
        |  floor(value*10000 + 0.5)/10000 AS value,
        |  floor(pr*100000000 + 0.5)/100000000 AS pct_rank,
        |  floor(cd*100000000 + 0.5)/100000000 AS cume_dist,
        |  CAST(dr AS BIGINT) AS dense_rk
        |FROM r WHERE rn <= 3 ORDER BY event_type, rn""".stripMargin,

    // PIT join: each purchase resolved against the SCD2 interval
    // covering its instant — the two CTEs are q_scd2_history's chain
    "q_pit_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT * FROM e WHERE prev IS NULL OR prev <> event_type),
        |v AS (
        |  SELECT user_id, event_type AS attr, epoch_us(ts) AS valid_from_us,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_us
        |  FROM c),
        |p AS (SELECT user_id, epoch_us(ts) AS pus, value FROM events WHERE event_type = 'purchase')
        |SELECT v.attr AS state_at_purchase, count(*) AS n_purchases,
        |  floor(CAST(sum(CAST((p.value) AS DECIMAL(27,10))) AS DOUBLE)*100 + 0.5)/100 AS revenue
        |FROM p JOIN v ON v.user_id = p.user_id
        |  AND v.valid_from_us <= p.pus
        |  AND (v.valid_to_us IS NULL OR p.pus < v.valid_to_us)
        |GROUP BY v.attr ORDER BY state_at_purchase""".stripMargin,

    // Lorenz curve: explicit ceil-division deciles over per-customer
    // decimal revenue, shares as single IEEE divisions
    "q_lorenz_revenue" ->
      """WITH pc AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(27,10))) AS rev
        |  FROM orders GROUP BY o_custkey),
        |nn AS (SELECT count(*) AS n FROM pc),
        |d AS (
        |  SELECT o_custkey, rev,
        |    CAST(floor(CAST(row_number() OVER (ORDER BY rev DESC, o_custkey)*10 + nn.n - 1 AS DOUBLE)/nn.n) AS BIGINT) AS decile
        |  FROM pc, nn),
        |byd AS (SELECT decile, count(*) AS n_cust, sum(rev) AS rev FROM d GROUP BY decile),
        |tot AS (SELECT sum(rev) AS tot FROM byd),
        |cum AS (SELECT decile, n_cust, rev,
        |          sum(rev) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
        |        FROM byd)
        |SELECT decile, n_cust,
        |  floor(CAST(rev AS DOUBLE)*100 + 0.5)/100 AS revenue,
        |  floor((CAST(rev AS DOUBLE)/CAST(tot.tot AS DOUBLE))*1000000 + 0.5)/1000000 AS share,
        |  floor((CAST(cum_rev AS DOUBLE)/CAST(tot.tot AS DOUBLE))*1000000 + 0.5)/1000000 AS cum_share
        |FROM cum, tot ORDER BY decile""".stripMargin,

    // growth accounting: DAU_t = new + retained + resurrected;
    // churned_t = DAU_{t-1} − retained_t — all from the deduped
    // (day, user) activity frame
    "q_growth_accounting" ->
      """WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events),
        |fd AS (SELECT user_id, min(d) AS d0 FROM du GROUP BY user_id),
        |cls AS (
        |  SELECT du.d AS day, du.user_id,
        |    CASE WHEN fd.d0 = du.d THEN 'new'
        |         WHEN y.user_id IS NOT NULL THEN 'retained'
        |         ELSE 'resurrected' END AS cls
        |  FROM du JOIN fd USING (user_id)
        |  LEFT JOIN du y ON y.user_id = du.user_id AND y.d + INTERVAL 1 DAY = du.d),
        |cnt AS (
        |  SELECT day, count(*) AS dau,
        |    CAST(sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |    CAST(sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM cls GROUP BY day)
        |SELECT strftime(c.day, '%Y-%m-%d') AS day, c.dau, c.n_new, c.n_retained, c.n_resurrected,
        |  coalesce(p.dau, 0) - c.n_retained AS n_churned
        |FROM cnt c LEFT JOIN cnt p ON p.day + INTERVAL 1 DAY = c.day
        |ORDER BY day""".stripMargin,

    // funnel latency quantiles: kth-smallest minute values via a
    // cumulative window (the engine bisects instead)
    "q_time_to_convert" ->
      """WITH s0 AS (SELECT user_id, min(epoch_us(ts)) AS s0 FROM events WHERE event_type = 'signup' GROUP BY 1),
        |lat AS (
        |  SELECT s0.user_id,
        |    CAST(floor(CAST(min(e.p - s0.s0) AS DOUBLE) / 60000000) AS BIGINT) AS m
        |  FROM s0 JOIN (SELECT user_id, epoch_us(ts) AS p FROM events WHERE event_type = 'purchase') e
        |    USING (user_id)
        |  WHERE e.p > s0.s0 GROUP BY s0.user_id),
        |nn AS (SELECT count(*) AS n FROM lat),
        |cw AS (SELECT m, row_number() OVER (ORDER BY m) AS rn FROM lat)
        |SELECT nn.n AS n_converted,
        |  (SELECT m FROM cw, nn WHERE rn = (nn.n + 1) // 2) AS median_min,
        |  (SELECT m FROM cw, nn WHERE rn = (9*nn.n + 9) // 10) AS p90_min
        |FROM nn""".stripMargin,

    // sweep-line concurrency: +1/-1 deltas over the session set,
    // running sum in (instant, +1-first) order, per-day max
    "q_concurrent_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |              IS NULL
        |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |              > 30*60*1000000 THEN 1 ELSE 0 END AS news
        |  FROM events),
        |sid AS (
        |  SELECT user_id, us,
        |    sum(news) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM e),
        |sess AS (SELECT user_id, sid, min(us) AS s0, max(us) AS s1 FROM sid GROUP BY 1, 2),
        |deltas AS (
        |  SELECT s0 AS us, CAST(1 AS BIGINT) AS d FROM sess
        |  UNION ALL SELECT s1, CAST(-1 AS BIGINT) FROM sess),
        |curve AS (
        |  SELECT us, d,
        |    CAST(sum(d) OVER (ORDER BY us, d DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS conc
        |  FROM deltas)
        |SELECT strftime(make_timestamp(us), '%Y-%m-%d') AS day,
        |  max(conc) AS peak_concurrent,
        |  CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions_started
        |FROM curve GROUP BY 1 ORDER BY day""".stripMargin,

    // the whole SQ8 index replayed in SQL: same per-dim affine bounds,
    // same rounded int8 codes, same reconstruction, same ranking —
    // all double arithmetic in the identical expression order, so the
    // codes (and therefore the result) match bit-for-bit
    "ann_sq8_topk" ->
      s"""WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |b AS (
        |  SELECT pos, min(x) AS lo, greatest(max(x) - min(x), 1e-12) AS scale
        |  FROM e GROUP BY pos),
        |q AS (
        |  SELECT vec_id, e.pos,
        |    b.lo + CAST(CAST(round((e.x - b.lo) / b.scale * 255) AS INTEGER) AS DOUBLE) / 255.0 * b.scale AS xh
        |  FROM e JOIN b USING (pos)),
        |r AS (SELECT vec_id, list(xh ORDER BY pos) AS emb_hat FROM q GROUP BY vec_id),
        |probes AS (SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS pe FROM embeddings WHERE vec_id < ${operators.AnnOps.NumProbes}),
        |sims AS (
        |  SELECT pid, r.vec_id AS nid, list_cosine_similarity(pe, emb_hat) AS sim
        |  FROM probes, r WHERE r.vec_id <> pid),
        |ranked AS (SELECT pid, nid, sim,
        |  row_number() OVER (PARTITION BY pid ORDER BY floor((sim)*1000000 + 0.5)/1000000 DESC, nid) AS rnk FROM sims)
        |SELECT pid, CAST(rnk AS BIGINT) AS rnk, nid, floor((sim)*10000 + 0.5)/10000 AS sim
        |FROM ranked WHERE rnk <= 5 ORDER BY pid, rnk""".stripMargin,

    // IVF replayed in SQL: decimal-exact per-label centroids, argmax
    // cell assignment at 1e-6-rounded cosine (ties to lower cell),
    // 6 probe cells, exact cosine within candidate cells
    "ann_ivf_topk" ->
      s"""WITH $ivfRankedCtes
        |SELECT pid, CAST(rnk AS BIGINT) AS rnk, nid, floor((sim)*10000 + 0.5)/10000 AS sim
        |FROM ranked WHERE rnk <= 5 ORDER BY pid, rnk""".stripMargin,

    // the whole recall@k curve as a query: IVF ranking ∩ exact
    // ranking per cutoff — both deterministic, so the EVAL artifact
    // hash-verifies
    "ann_recall_panel" ->
      s"""WITH $ivfRankedCtes,
        |iv AS (SELECT pid, nid, rnk AS ri FROM ranked WHERE rnk <= ${operators.AnnOps.RecallPanelK}),
        |exr AS (
        |  SELECT pid, nid, row_number() OVER (PARTITION BY pid
        |      ORDER BY floor((sim)*1000000 + 0.5)/1000000 DESC, nid) AS re
        |  FROM (SELECT pr.pid, ev.vec_id AS nid, list_cosine_similarity(pr.pe, ev.v) AS sim
        |        FROM probes pr JOIN emb ev ON ev.vec_id <> pr.pid)),
        |ex AS (SELECT pid, nid, re FROM exr WHERE re <= ${operators.AnnOps.RecallPanelK}),
        |j AS (SELECT iv.pid, iv.ri, ex.re FROM iv JOIN ex USING (pid, nid)),
        |ks AS (SELECT unnest(generate_series(1, ${operators.AnnOps.RecallPanelK})) AS k)
        |SELECT CAST(ks.k AS BIGINT) AS k,
        |  CAST(sum(CASE WHEN j.ri <= ks.k AND j.re <= ks.k THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  floor((CAST(sum(CASE WHEN j.ri <= ks.k AND j.re <= ks.k THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(ks.k * ${operators.AnnOps.NumProbes} AS DOUBLE))*1000000 + 0.5)/1000000 AS recall
        |FROM ks CROSS JOIN j GROUP BY ks.k ORDER BY k""".stripMargin,

    "ann_incremental_topk" ->
      s"""WITH e AS (
        |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |c AS (
        |  SELECT label, pos,
        |    CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE)/count(*) AS m
        |  FROM e WHERE vec_id % 10 <> 0 GROUP BY label, pos),
        |cent AS (SELECT CAST(label AS INTEGER) AS cell, list(m ORDER BY pos) AS centroid FROM c GROUP BY label),
        |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored AS (
        |  SELECT vec_id, cell,
        |    floor((list_cosine_similarity(v, centroid))*1000000 + 0.5)/1000000 AS sim
        |  FROM emb CROSS JOIN cent),
        |assigned AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
        |    FROM scored) t WHERE rn = 1),
        |pcells AS (
        |  SELECT vec_id AS pid, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
        |    FROM scored WHERE vec_id < ${operators.AnnOps.NumProbes}) t WHERE rn <= ${operators.AnnOps.IvfProbeCells}),
        |probes AS (SELECT vec_id AS pid, v AS pe FROM emb WHERE vec_id < ${operators.AnnOps.NumProbes}),
        |cands AS (
        |  SELECT p.pid, a.vec_id AS nid, list_cosine_similarity(pr.pe, ev.v) AS sim
        |  FROM pcells p
        |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.pid
        |  JOIN probes pr ON pr.pid = p.pid
        |  JOIN emb ev ON ev.vec_id = a.vec_id),
        |ranked AS (SELECT pid, nid, sim,
        |  row_number() OVER (PARTITION BY pid ORDER BY floor((sim)*1000000 + 0.5)/1000000 DESC, nid) AS rnk FROM cands)
        |SELECT pid, CAST(rnk AS BIGINT) AS rnk, nid, floor((sim)*10000 + 0.5)/10000 AS sim
        |FROM ranked WHERE rnk <= 5 ORDER BY pid, rnk""".stripMargin,

    "q11_part_value_share" ->
      """WITH pv AS (
        |  SELECT l_partkey, CAST(sum(CAST((l_extendedprice*(1-l_discount)) AS DECIMAL(27,10))) AS DOUBLE) AS value
        |  FROM lineitem GROUP BY l_partkey),
        |t AS (SELECT CAST(sum(CAST(value AS DECIMAL(27,10))) AS DOUBLE) AS tot, count(*) AS np FROM pv)
        |SELECT l_partkey, floor((value)*100 + 0.5)/100 AS value,
        |  floor((value/tot)*1000000 + 0.5)/1000000 AS share
        |FROM pv, t WHERE value > 1.5 * tot/np ORDER BY l_partkey""".stripMargin,

    "q20_excess_suppliers" ->
      """WITH sq AS (
        |  SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
        |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1, 2),
        |pt AS (SELECT l_partkey, sum(qty) AS pqty, count(*) AS nsupp FROM sq GROUP BY 1),
        |dom AS (
        |  SELECT l_suppkey, count(*) AS n_dominant
        |  FROM sq JOIN pt USING (l_partkey) WHERE nsupp >= 2 AND qty > 0.5 * pqty GROUP BY 1)
        |SELECT s_suppkey, s_name, n_dominant
        |FROM supplier JOIN dom ON s_suppkey = l_suppkey
        |WHERE n_dominant >= 5 ORDER BY s_suppkey""".stripMargin,

    "q_copurchase_pairs" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
        |FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY part_a, part_b""".stripMargin,

    "q_sliding_distinct" ->
      """WITH days AS (SELECT DISTINCT date_trunc('day', ts) AS spine_d FROM events),
        |du AS (SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events)
        |SELECT strftime(spine_d, '%Y-%m-%d') AS day,
        |  count(DISTINCT CASE WHEN du.d = spine_d THEN du.user_id END) AS n_users_day,
        |  count(DISTINCT du.user_id) AS n_users_7d
        |FROM days JOIN du ON du.d BETWEEN spine_d - INTERVAL 6 DAY AND spine_d
        |GROUP BY spine_d ORDER BY day""".stripMargin,

    "text_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(tk[i:i+3], ' ') for i in generate_series(1, len(tk)-3)])) AS ng
        |  FROM toks WHERE len(tk) >= 4),
        |ngc AS (SELECT doc_id, count(*) AS n_grams FROM g WHERE doc_id % 10 <> 9 GROUP BY doc_id),
        |bench AS (SELECT DISTINCT ng FROM g WHERE doc_id % 10 = 9),
        |hits AS (
        |  SELECT g.doc_id, count(*) AS n_hit
        |  FROM g JOIN bench USING (ng) WHERE g.doc_id % 10 <> 9 GROUP BY g.doc_id)
        |SELECT h.doc_id, c.n_grams, h.n_hit,
        |  floor((CAST(h.n_hit AS DOUBLE)/c.n_grams)*10000 + 0.5)/10000 AS hit_ratio
        |FROM hits h JOIN ngc c USING (doc_id) ORDER BY doc_id""".stripMargin,

    "text_readability" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syll
        |  FROM documents)
        |SELECT doc_id, n_words, n_syll,
        |  floor((CAST(n_syll AS DOUBLE)/n_words)*10000 + 0.5)/10000 AS syll_per_word,
        |  floor((CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE)*n_words
        |         - CAST(84.6 AS DOUBLE)*(CAST(n_syll AS DOUBLE)/n_words))*100 + 0.5)/100 AS flesch
        |FROM b WHERE n_words > 0 ORDER BY doc_id""".stripMargin,

    // deterministic Lloyd's: init = vec_id < 8, 3 fixed iterations,
    // decimal-exact distance/centroid sums, argmin ties to lower
    // cluster — both engines compute identical centroids every round
    // 5 unrolled damped iterations; every order-sensitive sum is the
    // xsum decimal twin, every float constant written as the same
    // literal Spark uses (0.15 is NOT 1-0.85 in binary)
    "q_pagerank" ->
      ("""WITH rev AS (
        |  SELECT CAST(s_nationkey AS BIGINT) AS u, CAST(c_nationkey AS BIGINT) AS v,
        |    CAST(sum(CAST((l_extendedprice*(1-l_discount)) AS DECIMAL(27,10))) AS DOUBLE) AS rev
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |dir_ AS (SELECT u, v, rev FROM rev WHERE u <> v
        |         UNION ALL SELECT v AS u, u AS v, rev FROM rev WHERE u <> v),
        |sym AS (SELECT u, v, CAST(sum(CAST(rev AS DECIMAL(27,10))) AS DOUBLE) AS w
        |        FROM dir_ GROUP BY 1, 2),
        |ow AS (SELECT u, CAST(sum(CAST(w AS DECIMAL(27,10))) AS DOUBLE) AS wout
        |       FROM sym GROUP BY 1),
        |p AS (SELECT sym.u, sym.v, sym.w / ow.wout AS p FROM sym JOIN ow ON sym.u = ow.u),
        |nn AS (SELECT CAST(count(DISTINCT u) AS DOUBLE) AS n FROM p),
        |r0 AS (SELECT DISTINCT u AS node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS r FROM p),
        |""".stripMargin +
        (1 to 5).map { i =>
          s"""r$i AS (SELECT p.v AS node,
             |  CAST(0.15 AS DOUBLE) / (SELECT n FROM nn) + CAST(0.85 AS DOUBLE) *
             |    CAST(sum(CAST((p.p * r${i - 1}.r) AS DECIMAL(27,10))) AS DOUBLE) AS r
             |  FROM p JOIN r${i - 1} ON p.u = r${i - 1}.node GROUP BY p.v)""".stripMargin
        }.mkString(",\n") +
        """
        |SELECT n_name AS nation, floor((r)*1000000 + 0.5)/1000000 AS pr
        |FROM r5 JOIN nation ON r5.node = CAST(n_nationkey AS BIGINT)
        |ORDER BY pr DESC, nation""".stripMargin),

    // personalized variant: same transition chain, teleport mass
    // pinned to the smallest node; 5 rounds unrolled
    "q_ppr" ->
      ("""WITH rev AS (
        |  SELECT CAST(s_nationkey AS BIGINT) AS u, CAST(c_nationkey AS BIGINT) AS v,
        |    CAST(sum(CAST((l_extendedprice*(1-l_discount)) AS DECIMAL(27,10))) AS DOUBLE) AS rev
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |dir_ AS (SELECT u, v, rev FROM rev WHERE u <> v
        |         UNION ALL SELECT v AS u, u AS v, rev FROM rev WHERE u <> v),
        |sym AS (SELECT u, v, CAST(sum(CAST(rev AS DECIMAL(27,10))) AS DOUBLE) AS w
        |        FROM dir_ GROUP BY 1, 2),
        |ow AS (SELECT u, CAST(sum(CAST(w AS DECIMAL(27,10))) AS DOUBLE) AS wout
        |       FROM sym GROUP BY 1),
        |p AS (SELECT sym.u, sym.v, sym.w / ow.wout AS p FROM sym JOIN ow ON sym.u = ow.u),
        |sd AS (SELECT min(u) AS s FROM p),
        |r0 AS (SELECT DISTINCT u AS node,
        |  CASE WHEN u = (SELECT s FROM sd) THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS r
        |  FROM p),
        |""".stripMargin +
        (1 to 5).map { i =>
          s"""r$i AS (SELECT p.v AS node,
             |  CASE WHEN p.v = (SELECT s FROM sd) THEN CAST(0.15 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
             |    + CAST(0.85 AS DOUBLE) *
             |    CAST(sum(CAST((p.p * r${i - 1}.r) AS DECIMAL(27,10))) AS DOUBLE) AS r
             |  FROM p JOIN r${i - 1} ON p.u = r${i - 1}.node GROUP BY p.v)""".stripMargin
        }.mkString(",\n") +
        """
        |SELECT n_name AS nation, floor((r)*1000000 + 0.5)/1000000 AS ppr
        |FROM r5 JOIN nation ON r5.node = CAST(n_nationkey AS BIGINT)
        |ORDER BY ppr DESC, nation""".stripMargin),

    "q_seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS d, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |tr AS (
        |  SELECT event_type, d, n,
        |    count(*) OVER w AS wn,
        |    CAST(sum(n) OVER w AS DOUBLE) / 7.0 AS trend
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |det AS (
        |  SELECT event_type, CAST(dayofweek(d) + 1 AS BIGINT) AS dow,
        |    CAST(n AS DOUBLE) - trend AS det
        |  FROM tr WHERE wn = 7)
        |SELECT event_type, dow, count(*) AS n_days,
        |  floor((CAST(sum(CAST((det) AS DECIMAL(27,10))) AS DOUBLE)/count(*))*1000000 + 0.5)/1000000 AS seasonal
        |FROM det GROUP BY event_type, dow
        |ORDER BY event_type, dow""".stripMargin,

    "q_triangle_count" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT node, count(*) AS d FROM (
        |  SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) GROUP BY 1),
        |o AS (SELECT
        |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v) THEN e.u ELSE e.v END AS src,
        |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v) THEN e.v ELSE e.u END AS dst
        |  FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node),
        |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM o e1 JOIN o e2 ON e1.dst = e2.src
        |  WHERE EXISTS (SELECT 1 FROM o e3 WHERE e3.src = e1.src AND e3.dst = e2.dst)),
        |n AS (SELECT unnest([a, b, c]) AS l_partkey FROM tri)
        |SELECT l_partkey, count(*) AS n_tri FROM n GROUP BY 1
        |ORDER BY n_tri DESC, l_partkey LIMIT 20""".stripMargin,

    // bounded-hop BFS reach over the support->=2 co-purchase graph:
    // seed = smallest part in the edge set, min hop distance <= 4
    // (the bound is the operator's semantics, so the recursive CTE
    // and the fixed-round Spark loop agree by construction)
    "q_bfs_distance" ->
      """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |seed AS (SELECT min(u) AS s FROM sym),
        |walk(node, dist) AS (
        |  SELECT s, 0 FROM seed WHERE s IS NOT NULL
        |  UNION
        |  SELECT sym.v, w.dist + 1 FROM walk w JOIN sym ON sym.u = w.node
        |  WHERE w.dist < 4)
        |SELECT CAST(node AS BIGINT) AS l_partkey, CAST(min(dist) AS BIGINT) AS dist
        |FROM walk GROUP BY node ORDER BY dist, l_partkey""".stripMargin,

    // per-node local clustering coefficient on the same oriented
    // triangle machinery as q_triangle_count, joined back to degrees
    // over the support->=2 edge set; coefficient = 2T/(d(d-1)),
    // nodes with no triangles coalesce to 0
    "q_clustering_coeff" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT node, count(*) AS d FROM (
        |  SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) GROUP BY 1),
        |o AS (SELECT
        |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v) THEN e.u ELSE e.v END AS src,
        |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v) THEN e.v ELSE e.u END AS dst
        |  FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node),
        |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM o e1 JOIN o e2 ON e1.dst = e2.src
        |  WHERE EXISTS (SELECT 1 FROM o e3 WHERE e3.src = e1.src AND e3.dst = e2.dst)),
        |n AS (SELECT unnest([a, b, c]) AS node FROM tri),
        |t AS (SELECT node, count(*) AS n_tri FROM n GROUP BY 1)
        |SELECT CAST(deg.node AS BIGINT) AS l_partkey,
        |  CAST(d AS BIGINT) AS d,
        |  CAST(coalesce(n_tri, 0) AS BIGINT) AS n_tri,
        |  floor((coalesce(n_tri, 0) * 2.0 / (d * (d - 1)))*1000000 + 0.5)/1000000 AS coeff
        |FROM deg LEFT JOIN t ON deg.node = t.node
        |WHERE d >= 2
        |ORDER BY coeff DESC, l_partkey LIMIT 20""".stripMargin,

    // k-core peeling unrolled to the engine's asserted round cap —
    // peeling is idempotent at the fixpoint, so the fixed unroll and
    // the engine's converge-then-stop loop agree by construction
    "q_kcore" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ee AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e0 AS MATERIALIZED (SELECT u, v FROM ee),
        |d1 AS MATERIALIZED (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
        |  GROUP BY node),
        |k1 AS MATERIALIZED (SELECT node FROM d1 WHERE deg >= ${operators.GraphOps.KcoreK}),
        |e1 AS MATERIALIZED (
        |  SELECT e.u, e.v FROM e0 e
        |  JOIN k1 a ON a.node = e.u JOIN k1 b ON b.node = e.v),
        |d2 AS MATERIALIZED (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1)
        |  GROUP BY node),
        |k2 AS MATERIALIZED (SELECT node FROM d2 WHERE deg >= ${operators.GraphOps.KcoreK}),
        |e2 AS MATERIALIZED (
        |  SELECT e.u, e.v FROM e1 e
        |  JOIN k2 a ON a.node = e.u JOIN k2 b ON b.node = e.v),
        |d3 AS MATERIALIZED (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2)
        |  GROUP BY node),
        |k3 AS MATERIALIZED (SELECT node FROM d3 WHERE deg >= ${operators.GraphOps.KcoreK}),
        |e3 AS MATERIALIZED (
        |  SELECT e.u, e.v FROM e2 e
        |  JOIN k3 a ON a.node = e.u JOIN k3 b ON b.node = e.v),
        |d4 AS MATERIALIZED (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM e3 UNION ALL SELECT v FROM e3)
        |  GROUP BY node),
        |k4 AS MATERIALIZED (SELECT node FROM d4 WHERE deg >= ${operators.GraphOps.KcoreK}),
        |e4 AS MATERIALIZED (
        |  SELECT e.u, e.v FROM e3 e
        |  JOIN k4 a ON a.node = e.u JOIN k4 b ON b.node = e.v),
        |d5 AS MATERIALIZED (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM e4 UNION ALL SELECT v FROM e4)
        |  GROUP BY node),
        |k5 AS MATERIALIZED (SELECT node FROM d5 WHERE deg >= ${operators.GraphOps.KcoreK}),
        |e5 AS MATERIALIZED (
        |  SELECT e.u, e.v FROM e4 e
        |  JOIN k5 a ON a.node = e.u JOIN k5 b ON b.node = e.v),
        |d6 AS MATERIALIZED (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM e5 UNION ALL SELECT v FROM e5)
        |  GROUP BY node),
        |k6 AS MATERIALIZED (SELECT node FROM d6 WHERE deg >= ${operators.GraphOps.KcoreK}),
        |e6 AS MATERIALIZED (
        |  SELECT e.u, e.v FROM e5 e
        |  JOIN k6 a ON a.node = e.u JOIN k6 b ON b.node = e.v),
        |d7 AS MATERIALIZED (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM e6 UNION ALL SELECT v FROM e6)
        |  GROUP BY node),
        |k7 AS MATERIALIZED (SELECT node FROM d7 WHERE deg >= ${operators.GraphOps.KcoreK}),
        |e7 AS MATERIALIZED (
        |  SELECT e.u, e.v FROM e6 e
        |  JOIN k7 a ON a.node = e.u JOIN k7 b ON b.node = e.v),
        |d8 AS MATERIALIZED (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM e7 UNION ALL SELECT v FROM e7)
        |  GROUP BY node),
        |k8 AS MATERIALIZED (SELECT node FROM d8 WHERE deg >= ${operators.GraphOps.KcoreK}),
        |e8 AS MATERIALIZED (
        |  SELECT e.u, e.v FROM e7 e
        |  JOIN k8 a ON a.node = e.u JOIN k8 b ON b.node = e.v),
        |d9 AS MATERIALIZED (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM e8 UNION ALL SELECT v FROM e8)
        |  GROUP BY node),
        |k9 AS MATERIALIZED (SELECT node FROM d9 WHERE deg >= ${operators.GraphOps.KcoreK}),
        |e9 AS MATERIALIZED (
        |  SELECT e.u, e.v FROM e8 e
        |  JOIN k9 a ON a.node = e.u JOIN k9 b ON b.node = e.v),
        |d10 AS MATERIALIZED (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM e9 UNION ALL SELECT v FROM e9)
        |  GROUP BY node),
        |k10 AS MATERIALIZED (SELECT node FROM d10 WHERE deg >= ${operators.GraphOps.KcoreK}),
        |e10 AS MATERIALIZED (
        |  SELECT e.u, e.v FROM e9 e
        |  JOIN k10 a ON a.node = e.u JOIN k10 b ON b.node = e.v),
        |d11 AS MATERIALIZED (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM e10 UNION ALL SELECT v FROM e10)
        |  GROUP BY node),
        |k11 AS MATERIALIZED (SELECT node FROM d11 WHERE deg >= ${operators.GraphOps.KcoreK}),
        |e11 AS MATERIALIZED (
        |  SELECT e.u, e.v FROM e10 e
        |  JOIN k11 a ON a.node = e.u JOIN k11 b ON b.node = e.v),
        |d12 AS MATERIALIZED (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM e11 UNION ALL SELECT v FROM e11)
        |  GROUP BY node),
        |k12 AS MATERIALIZED (SELECT node FROM d12 WHERE deg >= ${operators.GraphOps.KcoreK}),
        |e12 AS MATERIALIZED (
        |  SELECT e.u, e.v FROM e11 e
        |  JOIN k12 a ON a.node = e.u JOIN k12 b ON b.node = e.v),
        |fin AS (
        |  SELECT node, count(*) AS core_degree FROM (
        |    SELECT u AS node FROM e12 UNION ALL SELECT v FROM e12)
        |  GROUP BY node)
        |SELECT CAST(node AS BIGINT) AS part_id,
        |  CAST(core_degree AS BIGINT) AS core_degree
        |FROM fin ORDER BY part_id""".stripMargin,

    // trigram-profile language ID: top-64 profiles learned from the
    // doc_id%4==0 training quarter, held-out docs classified by
    // profile-hit argmax (ties to the smaller lang), 'unk' when no
    // profile trigram matches; output = confusion matrix
    "text_langid_ngram" ->
      """WITH d AS (SELECT doc_id, lang, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
        |tr AS (SELECT doc_id, lang, unnest([substring(t, i, 3) for i in generate_series(1, length(t)-2)]) AS tri
        |       FROM d WHERE length(t) >= 3),
        |trainc AS (SELECT lang, tri, count(*) AS cnt FROM tr WHERE doc_id % 4 = 0 GROUP BY 1, 2),
        |prof AS (SELECT lang AS plang, tri FROM (
        |    SELECT lang, tri, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tri ASC) AS rn
        |    FROM trainc) WHERE rn <= 64),
        |ev AS (SELECT DISTINCT doc_id, tri FROM tr WHERE doc_id % 4 <> 0),
        |hits AS (SELECT e.doc_id, p.plang, count(*) AS h FROM ev e JOIN prof p USING (tri) GROUP BY 1, 2),
        |best AS (SELECT doc_id, plang FROM (
        |    SELECT doc_id, plang, row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, plang ASC) AS rn
        |    FROM hits) WHERE rn = 1)
        |SELECT d.lang, coalesce(b.plang, 'unk') AS pred_lang, count(*) AS n_docs
        |FROM d LEFT JOIN best b USING (doc_id)
        |WHERE d.doc_id % 4 <> 0
        |GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin,

    // sliding 64-token windows at stride 48, md5 chunk fingerprints;
    // DuckDB slices are 1-based INCLUSIVE on both ends
    "text_chunk_passages" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents),
        |n AS (SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0),
        |ch AS (SELECT doc_id, tk, n,
        |    unnest(generate_series(0, CASE WHEN n <= 64 THEN 0 ELSE (n - 64 + 47) // 48 END)) AS i
        |  FROM n)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx, CAST(i*48 AS BIGINT) AS start_tok,
        |  CAST(least(i*48 + 64, n) - i*48 AS BIGINT) AS n_tok,
        |  md5(array_to_string(tk[i*48+1 : least(i*48+64, n)], ' ')) AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

    // greedy concatenation packing: cut every 2048 tokens in
    // (source, doc_id) order; docs assigned to the shard their start
    // offset falls in
    "q_pack_shards" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tok,
        |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum FROM t),
        |sh AS (SELECT source, doc_id, n_tok,
        |    CAST(floor((cum - n_tok) / 2048.0) AS BIGINT) AS shard_id FROM c)
        |SELECT source, shard_id, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens, min(doc_id) AS first_doc
        |FROM sh GROUP BY source, shard_id ORDER BY source, shard_id""".stripMargin,

    "text_seed_sim" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |vq AS (SELECT tok, df FROM (
        |  SELECT tok, df, row_number() OVER (ORDER BY df, tok) AS r,
        |         count(*) OVER () AS vn FROM df) z
        |  WHERE r * 4 <= vn + 3),
        |t AS (SELECT count(*) AS n_docs FROM documents),
        |w AS (
        |  SELECT doc_id, tok, CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / df) AS w
        |  FROM tf JOIN vq USING (tok), t),
        |nrm AS (SELECT doc_id,
        |  sqrt(CAST(sum(CAST((w*w) AS DECIMAL(27,10))) AS DOUBLE)) AS nrm
        |  FROM w GROUP BY 1),
        |dots AS (
        |  SELECT p.doc_id AS probe_id, d.doc_id AS match_id,
        |    CAST(sum(CAST((p.w * d.w) AS DECIMAL(27,10))) AS DOUBLE) AS dot
        |  FROM w p JOIN w d ON p.tok = d.tok
        |  WHERE p.doc_id % 100 = 0 AND d.doc_id % 100 <> 0
        |  GROUP BY 1, 2),
        |sims AS (
        |  SELECT probe_id, match_id, dot / (np.nrm * nd.nrm) AS sim
        |  FROM dots
        |  JOIN nrm np ON dots.probe_id = np.doc_id
        |  JOIN nrm nd ON dots.match_id = nd.doc_id),
        |r AS (
        |  SELECT probe_id, match_id, sim,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY floor((sim)*1000000 + 0.5)/1000000 DESC, match_id) AS rnk
        |  FROM sims)
        |SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, match_id,
        |  floor((sim)*10000 + 0.5)/10000 AS sim
        |FROM r WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin,

    "q_markov_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM events),
        |trans AS (SELECT src, dst, count(*) AS n FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT src, sum(n) AS tn FROM trans GROUP BY 1)
        |SELECT trans.src, trans.dst, CAST(trans.n AS BIGINT) AS n,
        |  floor((CAST(trans.n AS DOUBLE) / CAST(tot.tn AS DOUBLE))*1000000 + 0.5)/1000000 AS p
        |FROM trans JOIN tot ON trans.src = tot.src
        |ORDER BY 1, 2""".stripMargin,

    "q_mix_temperature" ->
      """WITH bys AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS nn,
        |  CAST(sum(CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(27,10))) AS DOUBLE) AS sq
        |  FROM bys)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  floor((CAST(n_docs AS DOUBLE) / nn)*1000000 + 0.5)/1000000 AS p_raw,
        |  floor((sqrt(CAST(n_docs AS DOUBLE)) / sq)*1000000 + 0.5)/1000000 AS p_temp,
        |  CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) / sq * nn + 0.5) AS BIGINT) AS target_docs
        |FROM bys, tot ORDER BY source""".stripMargin,

    "emb_kmeans" ->
      s"""WITH $kmeansAssignCtes
        |SELECT cluster AS cluster_id, count(*) AS n_vecs,
        |  floor((CAST(sum(CAST(d2 AS DECIMAL(27,10))) AS DOUBLE)/count(*))*10000 + 0.5)/10000 AS mean_d2
        |FROM a3 WHERE rn = 1 GROUP BY cluster ORDER BY cluster_id""".stripMargin,

    "mm_media_stats" ->
      """SELECT source, count(*) AS n_docs,
        |CAST(sum(octet_length(CAST(text AS BLOB))) AS BIGINT) AS total_bytes,
        |floor((avg(octet_length(CAST(text AS BLOB))))*100 + 0.5)/100 AS avg_bytes,
        |count(DISTINCT substring(text, 1, 1)) AS n_magics
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // the engine PARSES real WAV bytes (chunk walker); the oracle
    // replays the closed form those headers encode — any parser
    // misread (endianness, fixed offsets, stale sizes) hash-fails
    "mm_wav_meta" ->
      """SELECT doc_id AS media_id,
        |  CAST(1 AS BIGINT) AS n_channels,
        |  CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
        |  CAST(16 AS BIGINT) AS bits,
        |  CAST(length(text) AS BIGINT) AS data_bytes,
        |  CAST(length(text) * 1000 // ((8000 + (doc_id % 3) * 4000) * 2) AS BIGINT) AS duration_ms,
        |  CAST(length(text) * 1000 // ((8000 + (doc_id % 3) * 4000) * 2) // 20 AS BIGINT) AS n_vad_frames
        |FROM documents WHERE doc_id % 7 = 2 ORDER BY media_id""".stripMargin,

    "mm_image_meta" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'jpeg' END AS format,
        |  CAST(8 + (length(text) % 32) AS BIGINT) AS width,
        |  CAST(8 + (doc_id % 24) AS BIGINT) AS height,
        |  CAST((8 + (length(text) % 32)) * (8 + (doc_id % 24)) AS BIGINT) AS n_pixels,
        |  CASE WHEN doc_id % 3 = 2 THEN NULL ELSE CAST(
        |    (8 + (doc_id % 24)) * ((8 + (length(text) % 32)) * (7 + (length(text) % 32)) // 2)
        |    + (8 + (length(text) % 32)) * ((8 + (doc_id % 24)) * (7 + (doc_id % 24)) // 2)
        |    + (8 + (length(text) % 32)) * (8 + (doc_id % 24)) * (doc_id % 64)
        |  AS BIGINT) END AS sum_luma
        |FROM documents WHERE doc_id % 7 <= 1 ORDER BY media_id""".stripMargin,

    // true aHash over decoded PNG pixels, closed form: bit c = cell c
    // bright (fnv even) AND not all 64 bright — see mmImagePhash doc
    "mm_image_phash" ->
      s"""WITH img AS (SELECT doc_id FROM documents WHERE doc_id % 7 <= 1),
        |cells AS (
        |  SELECT doc_id, cs.c,
        |    CASE WHEN ((${fnvSql(s"CAST((${fnvSql("'img:' || CAST(doc_id AS VARCHAR) || ':' || CAST(cs.c AS VARCHAR)")}) AS VARCHAR)")}) // 4294967296) % 2 = 0
        |         THEN 1 ELSE 0 END AS bright
        |  FROM img CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS c) cs),
        |agg AS (
        |  SELECT doc_id, sum(bright) AS k,
        |    sum(CASE WHEN bright = 1 THEN CAST(1 AS HUGEINT) << c
        |             ELSE CAST(0 AS HUGEINT) END) AS ph
        |  FROM cells GROUP BY doc_id)
        |SELECT doc_id AS media_id,
        |  CAST((CASE WHEN k = 64 THEN 0 ELSE ph END) // 4294967296 AS BIGINT) AS ph_hi,
        |  CAST((CASE WHEN k = 64 THEN 0 ELSE ph END) % 4294967296 AS BIGINT) AS ph_lo,
        |  CAST(CASE WHEN k = 64 THEN 0 ELSE k END AS BIGINT) AS n_bits
        |FROM agg ORDER BY media_id""".stripMargin,

    // full banded near-dup over real-decode aHashes: bits closed-form
    // (cell bright ⇔ fnv even, XOR the dirty flip mask), 4×16-bit
    // bands, anchor-capped admission, exact Hamming — mmImageNeardup
    "mm_image_neardup" ->
      s"""WITH img AS (SELECT doc_id FROM documents WHERE doc_id % 7 <= 1),
        |reg AS (
        |  SELECT doc_id AS media_id, doc_id AS id, FALSE AS dirty FROM img
        |  UNION ALL
        |  SELECT doc_id + 10000000, doc_id, TRUE FROM img WHERE doc_id % 5 = 2),
        |cells AS (
        |  SELECT r.media_id, cs.c,
        |    CASE WHEN (((${fnvSql(s"CAST((${fnvSql("'img:' || CAST(r.id AS VARCHAR) || ':' || CAST(cs.c AS VARCHAR)")}) AS VARCHAR)")}) // 4294967296) % 2 = 0)
        |           <> (r.dirty AND ((${fnvSql(s"CAST((${fnvSql("'flip:' || CAST(r.id AS VARCHAR) || ':' || CAST(cs.c AS VARCHAR)")}) AS VARCHAR)")}) // 4294967296) % 16 = 0)
        |         THEN 1 ELSE 0 END AS bright
        |  FROM reg r CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS c) cs),
        |kk AS (SELECT media_id, sum(bright) AS k FROM cells GROUP BY media_id),
        |bits AS (
        |  SELECT c.media_id, c.c,
        |    CASE WHEN kk.k = 64 THEN 0 ELSE c.bright END AS bit
        |  FROM cells c JOIN kk USING (media_id)),
        |gbits AS (
        |  SELECT b.media_id, g.g, b.bit
        |  FROM bits b JOIN (SELECT unnest(generate_series(0, ${operators.TextOps.PhashWords * 64 - 1})) AS g) g
        |    ON b.c = (g.g // ${operators.TextOps.PhashWords * 8}) * 8 + (g.g % ${operators.TextOps.PhashWords * 8}) // ${operators.TextOps.PhashWords}),
        |bands AS (
        |  SELECT media_id, g//${operators.TextOps.PhashBandBits} AS band,
        |    CAST(sum(CAST(bit AS BIGINT) << (g%${operators.TextOps.PhashBandBits})) AS BIGINT) AS bv
        |  FROM gbits GROUP BY 1, 2),
        |sig AS (SELECT media_id, list(bv ORDER BY band) AS sg FROM bands GROUP BY media_id),
        |bseq AS (
        |  SELECT media_id, band, bv, row_number() OVER (PARTITION BY band, bv ORDER BY media_id) AS i
        |  FROM bands),
        |cand AS (
        |  SELECT DISTINCT a.media_id AS ma, b.media_id AS mb
        |  FROM bseq a JOIN bseq b ON a.band = b.band AND a.bv = b.bv AND a.media_id < b.media_id
        |  WHERE a.i <= ${operators.Blocking.DefaultCap}),
        |h AS (
        |  SELECT ma, mb,
        |    CAST(list_sum([bit_count(xor(sa.sg[i], sb.sg[i])) for i in generate_series(1, ${operators.TextOps.PhashBands})]) AS BIGINT) AS hamming
        |  FROM cand JOIN sig sa ON sa.media_id = ma JOIN sig sb ON sb.media_id = mb)
        |SELECT ma AS media_a, mb AS media_b, hamming
        |FROM h WHERE hamming <= ${operators.TextOps.PhashTau}
        |ORDER BY media_a, media_b""".stripMargin,

    // the closed forms the EXIF encoder embeds, replayed: byte order
    // by parity, dims/orientation/make/software/resolution by residue
    // — a parser that misreads either endianness, peeks a fixed
    // offset, or right-justifies an inline value hash-fails
    "mm_exif_meta" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |  CAST(640 + (doc_id % 9) * 32 AS BIGINT) AS width,
        |  CAST(360 + (doc_id % 5) * 24 AS BIGINT) AS height,
        |  CAST(1 + (doc_id % 8) AS BIGINT) AS orientation,
        |  'CAM-' || CAST(doc_id % 4 AS VARCHAR) AS make,
        |  'g' || CAST(doc_id % 10 AS VARCHAR) AS software,
        |  CAST(72 + (doc_id % 3) * 78 AS BIGINT) AS xres_num,
        |  CAST(1 + (doc_id % 2) AS BIGINT) AS xres_den,
        |  CAST(6 AS BIGINT) AS n_entries
        |FROM documents WHERE doc_id % 7 = 4 ORDER BY media_id""".stripMargin,

    // one pointer hop deeper than mm_exif_meta: the Exif sub-IFD
    // (ISO, DateTimeOriginal) and GPS IFD (refs + DMS rationals)
    // closed forms replayed; decimal degrees use the identical IEEE
    // association (deg + min/60 + sec/3600, each term one division)
    "mm_exif_gps" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |  CAST(100 * (1 + doc_id % 6) AS BIGINT) AS iso,
        |  '2023:' || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0') || ':' ||
        |    lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') || ' 12:34:56' AS dt_original,
        |  CASE WHEN doc_id % 4 < 2 THEN 'N' ELSE 'S' END AS lat_ref,
        |  CASE WHEN doc_id % 3 = 0 THEN 'E' ELSE 'W' END AS lon_ref,
        |  floor(((doc_id % 90) + (doc_id % 60) / 60.0
        |    + (((doc_id * 3) % 600) / 10.0) / 3600.0) * 1000000 + 0.5) / 1000000 AS lat_deg,
        |  floor(((doc_id % 180) + ((doc_id * 7) % 60) / 60.0
        |    + (((doc_id * 13) % 600) / 10.0) / 3600.0) * 1000000 + 0.5) / 1000000 AS lon_deg,
        |  CAST(2 AS BIGINT) AS n_exif,
        |  CAST(4 AS BIGINT) AS n_gps
        |FROM documents WHERE doc_id % 7 = 4 ORDER BY media_id""".stripMargin,

    // the closed forms the SAMPLED writer embeds, replayed: n in
    // [2,14] samples from the payload length, two stts runs (deltas
    // ts/100 then ts/50), syncs every 3rd from 1, codec by residue;
    // ts_ms = stts prefix sum · 1000 // timescale — integer exact
    "mm_mp4_samples" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nb,
        |    CAST(CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
        |         ELSE 90000 END AS BIGINT) AS ts,
        |    CASE doc_id % 3 WHEN 0 THEN 'avc1' WHEN 1 THEN 'hev1'
        |         ELSE 'vp09' END AS codec
        |  FROM documents WHERE doc_id % 7 = 3),
        |p AS (
        |  SELECT doc_id, ts, codec,
        |    CAST(2 + nb % 13 AS BIGINT) AS n,
        |    CAST((2 + nb % 13 + 1) // 2 AS BIGINT) AS n1,
        |    ts // 100 AS d1, ts // 50 AS d2
        |  FROM v),
        |s AS (
        |  SELECT doc_id AS media_id, codec, n AS n_samples, ts, n1, d1, d2,
        |    unnest([CAST(x AS BIGINT) for x in generate_series(1, n, 3)]) AS sync_idx
        |  FROM p)
        |SELECT media_id, codec, n_samples,
        |  CAST((n_samples + 2) // 3 AS BIGINT) AS n_sync, sync_idx,
        |  CAST((CASE WHEN sync_idx <= n1 THEN (sync_idx - 1) * d1
        |        ELSE n1 * d1 + (sync_idx - 1 - n1) * d2 END) * 1000 // ts AS BIGINT) AS ts_ms
        |FROM s ORDER BY media_id, sync_idx""".stripMargin,

    // the fetch side of the keyframe schedule: cyclic sizes give
    // arithmetic prefix sums (S(m) = 3m + 10⌊m/5⌋ + r(r−1)/2), the
    // container prologue is a linear function of the table sizes
    // (416 + 4·(nSync + n + nChunks)), 2 samples per chunk — a
    // parser that miscounts any box length hash-fails every offset
    "mm_mp4_byteranges" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nb
        |  FROM documents WHERE doc_id % 7 = 3),
        |p AS (SELECT doc_id, CAST(2 + nb % 13 AS BIGINT) AS n FROM v),
        |g AS (
        |  SELECT doc_id, n,
        |    CAST((n + 2) // 3 AS BIGINT) AS nsync,
        |    CAST((n + 1) // 2 AS BIGINT) AS nchunks,
        |    unnest([CAST(x AS BIGINT) for x in generate_series(1, n, 3)]) AS i
        |  FROM p)
        |SELECT doc_id AS media_id, i AS sync_idx,
        |  (i + 1) // 2 AS chunk_idx,
        |  416 + 4 * (nsync + n + nchunks)
        |    + 3 * (i - 1) + 10 * ((i - 1) // 5)
        |    + ((i - 1) % 5) * (((i - 1) % 5) - 1) // 2 AS byte_off,
        |  3 + (i - 1) % 5 AS n_bytes
        |FROM g ORDER BY media_id, sync_idx""".stripMargin,

    // resize through two real encode/decode round trips: the box
    // mean of the test card is out(X,Y) = 2X + 2Y + (id%64) + 1, so
    // the thumbnail's exact luma sum closes without a pixel loop
    "mm_image_resize" ->
      """WITH v AS (
        |  SELECT doc_id, CAST(8 + length(text) % 32 AS BIGINT) AS w,
        |    CAST(8 + doc_id % 24 AS BIGINT) AS h,
        |    CAST(doc_id % 64 AS BIGINT) AS b
        |  FROM documents WHERE doc_id % 7 <= 1 AND doc_id % 3 <= 1)
        |SELECT doc_id AS media_id, w AS in_w, h AS in_h,
        |  w // 2 AS out_w, h // 2 AS out_h,
        |  CAST((h // 2) * (w // 2) * ((w // 2) - 1)
        |    + (w // 2) * (h // 2) * ((h // 2) - 1)
        |    + (w // 2) * (h // 2) * (b + 1) AS BIGINT) AS sum_luma
        |FROM v ORDER BY media_id""".stripMargin,

    // the closed form the MP4 encoder embeds, replayed: timescale by
    // residue (600/1000/90000), duration units = ms·ts/1000 (exact —
    // ms is a multiple of 40), floor-ms back out of the units, 16.16
    // dims by closed form, brand isom, 3 top-level boxes
    "mm_mp4_meta" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nb,
        |    CAST(CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
        |         ELSE 90000 END AS BIGINT) AS ts
        |  FROM documents WHERE doc_id % 7 = 3)
        |SELECT doc_id AS media_id, 'isom' AS major_brand, ts AS timescale,
        |  CAST((nb + 8) * 40 * ts // 1000 AS BIGINT) AS duration_units,
        |  CAST((nb + 8) * 40 * ts // 1000 * 1000 // ts AS BIGINT) AS duration_ms,
        |  CAST(320 + (doc_id % 5) * 16 AS BIGINT) AS width,
        |  CAST(180 + (doc_id % 7) * 16 AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS n_boxes
        |FROM v ORDER BY media_id""".stripMargin,

    "mm_frame_sample" ->
      """WITH v AS (
        |  SELECT doc_id AS media_id,
        |    (CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) + 8) * 40 AS duration_ms
        |  FROM documents WHERE doc_id % 7 = 3),
        |n AS (
        |  SELECT media_id, duration_ms,
        |    least(CAST(floor((duration_ms - 1001) / 2000.0) + 1 AS BIGINT), 8) AS n_frames
        |  FROM v WHERE floor((duration_ms - 1001) / 2000.0) + 1 >= 1)
        |SELECT media_id, duration_ms, n_frames,
        |  i AS frame_idx, 1000 + (i - 1) * 2000 AS ts_ms
        |FROM (SELECT media_id, duration_ms, n_frames,
        |        unnest([CAST(x AS BIGINT) for x in generate_series(1, n_frames)]) AS i
        |      FROM n) u
        |ORDER BY media_id, frame_idx""".stripMargin,

    // the kept VTT cues constructed closed-form from the residues —
    // a parser slip (mis-timed ms, kept settings, swallowed second
    // line, an unskipped NOTE or malformed cue) lands on a value/row
    "mm_vtt_cues" ->
      """WITH v AS (SELECT doc_id AS id FROM documents WHERE doc_id % 7 = 5),
        |c AS (
        |  SELECT id, unnest(generate_series(1, 2 + CAST(id % 5 AS INT))) AS i
        |  FROM v)
        |SELECT id AS media_id, CAST(i - 1 AS BIGINT) AS cue_idx,
        |  CAST((id % 3) * 400 + (i - 1) * 2500 AS BIGINT) AS start_ms,
        |  CAST((id % 3) * 400 + (i - 1) * 2500 + 1500 + 100 * (i % 4) AS BIGINT) AS end_ms,
        |  CAST(1500 + 100 * (i % 4) AS BIGINT) AS dur_ms,
        |  CAST(CASE WHEN i % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_lines,
        |  'cue ' || i || ' of media ' || id ||
        |    CASE WHEN i % 2 = 0 THEN ' / line two' ELSE '' END AS text
        |FROM c ORDER BY media_id, cue_idx""".stripMargin,

    // caption→frame alignment: the closed-form cue schedule (the
    // mm_vtt_cues CTEs) ASOF-LEFT-joined to the closed-form sparse
    // frame schedule in DuckDB's NATIVE asof join — independent of
    // the engine's sort-merge asof operator under test; every
    // media's first cue precedes the first frame (null path on
    // every group)
    "mm_caption_align" ->
      """WITH v AS (SELECT doc_id AS id FROM documents WHERE doc_id % 7 = 5),
        |c AS (
        |  SELECT id, unnest(generate_series(1, 2 + CAST(id % 5 AS INT))) AS i
        |  FROM v),
        |cues AS (SELECT id AS media_id, CAST(i - 1 AS BIGINT) AS cue_idx,
        |  CAST((id % 3) * 400 + (i - 1) * 2500 AS BIGINT) AS start_ms FROM c),
        |fr AS (
        |  SELECT v.id AS media_id, CAST(1000 + 2000 * k.k AS BIGINT) AS frame_ms
        |  FROM v CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS k) k
        |  WHERE 1000 + 2000 * k.k <
        |    (id % 3) * 400 + (1 + CAST(id % 5 AS INT)) * 2500 + 1500
        |    + 100 * ((2 + id % 5) % 4) + 1000)
        |SELECT c.media_id, c.cue_idx, c.start_ms, f.frame_ms,
        |  c.start_ms - f.frame_ms AS lag_ms
        |FROM cues c ASOF LEFT JOIN fr f
        |  ON c.media_id = f.media_id AND c.start_ms >= f.frame_ms
        |ORDER BY c.media_id, c.cue_idx""".stripMargin,

    // the png chunk walk replayed closed-form from the residues: the
    // encoder's pinned choices (8-bit truecolor, no interlace), our
    // framed tEXt on %6==0, the counted-not-fatal IHDR CRC flip on
    // %6==1, the mid-IEND truncation keeping IHDR scalars on %6==2,
    // the broken signature nulling everything on %6==3
    "mm_png_meta" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 6 = 3 THEN 'not_png'
        |       WHEN doc_id % 6 = 2 THEN 'truncated' ELSE 'ok' END AS status,
        |  CASE WHEN doc_id % 6 = 3 THEN NULL ELSE CAST(8 + (doc_id % 16) AS BIGINT) END AS width,
        |  CASE WHEN doc_id % 6 = 3 THEN NULL ELSE CAST(8 + (doc_id % 10) AS BIGINT) END AS height,
        |  CASE WHEN doc_id % 6 = 3 THEN NULL ELSE CAST(8 AS BIGINT) END AS bit_depth,
        |  CASE WHEN doc_id % 6 = 3 THEN NULL ELSE CAST(2 AS BIGINT) END AS color_type,
        |  CASE WHEN doc_id % 6 = 3 THEN NULL ELSE CAST(0 AS BIGINT) END AS interlace,
        |  CAST(CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_text,
        |  CASE WHEN doc_id % 6 = 0 THEN 'src=doc' || CAST(doc_id AS VARCHAR) END AS text_kv,
        |  CAST(CASE WHEN doc_id % 6 = 1 THEN 1 ELSE 0 END AS BIGINT) AS n_bad_crc,
        |  (doc_id % 6 NOT IN (2, 3)) AS saw_iend
        |FROM documents WHERE doc_id % 7 = 3 ORDER BY media_id""".stripMargin,

    // the jpeg walk replayed closed-form: SOF scalars from the
    // chosen dims, encoder constants (JFIF 1.2, baseline, 3-comp
    // YCbCr, 8-bit) pinned, residue classes for comment/exif/
    // truncation/broken-SOI/trailing; SOF scalars SURVIVE the
    // mid-entropy cut (the bytes were there), broken SOI nulls all
    "mm_jpeg_meta" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 6 = 3 THEN 'not_jpeg'
        |       WHEN doc_id % 6 = 2 THEN 'truncated' ELSE 'ok' END AS status,
        |  CASE WHEN doc_id % 6 = 3 THEN NULL ELSE CAST(8 + (doc_id % 13) AS BIGINT) END AS width,
        |  CASE WHEN doc_id % 6 = 3 THEN NULL ELSE CAST(8 + (doc_id % 9) AS BIGINT) END AS height,
        |  CASE WHEN doc_id % 6 = 3 THEN NULL ELSE CAST(8 AS BIGINT) END AS sof_precision,
        |  CASE WHEN doc_id % 6 = 3 THEN NULL ELSE CAST(3 AS BIGINT) END AS n_components,
        |  CASE WHEN doc_id % 6 = 3 THEN NULL ELSE FALSE END AS progressive,
        |  CASE WHEN doc_id % 6 = 3 THEN NULL ELSE '1.2' END AS jfif_version,
        |  (doc_id % 6 = 1) AS has_exif,
        |  CASE WHEN doc_id % 6 = 0 THEN 'doc' || CAST(doc_id AS VARCHAR) END AS comment_text,
        |  (doc_id % 6 NOT IN (2, 3)) AS saw_eoi,
        |  CAST(CASE WHEN doc_id % 6 = 4 THEN 9 ELSE 0 END AS BIGINT) AS trailing_bytes
        |FROM documents WHERE doc_id % 7 = 1 ORDER BY media_id""".stripMargin,

    // the gif walk replayed closed-form: screen scalars from the
    // chosen dims, encoder constants (89a, GCT, interlaced) pinned,
    // residues for comment/GCE/truncation/broken-sig/trailing;
    // screen scalars and the frame count SURVIVE the mid-chain cut
    "mm_gif_meta" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 6 = 3 THEN 'not_gif'
        |       WHEN doc_id % 6 = 2 THEN 'truncated' ELSE 'ok' END AS status,
        |  CASE WHEN doc_id % 6 = 3 THEN NULL ELSE '89a' END AS version,
        |  CASE WHEN doc_id % 6 = 3 THEN NULL ELSE CAST(8 + (doc_id % 12) AS BIGINT) END AS width,
        |  CASE WHEN doc_id % 6 = 3 THEN NULL ELSE CAST(8 + (doc_id % 11) AS BIGINT) END AS height,
        |  (doc_id % 6 <> 3) AS has_gct,
        |  (doc_id % 6 <> 3) AS interlaced,
        |  CAST(CASE WHEN doc_id % 6 = 3 THEN 0 ELSE 1 END AS BIGINT) AS n_frames,
        |  CASE WHEN doc_id % 6 = 1 THEN CAST(doc_id % 90 + 1 AS BIGINT) END AS delay_cs,
        |  (doc_id % 6 = 1 AND doc_id % 2 = 0) AS transparent,
        |  CASE WHEN doc_id % 6 = 0 THEN 'doc' || CAST(doc_id AS VARCHAR) END AS comment_text,
        |  (doc_id % 6 NOT IN (2, 3)) AS saw_trailer,
        |  CAST(CASE WHEN doc_id % 6 = 4 THEN 7 ELSE 0 END AS BIGINT) AS trailing_bytes
        |FROM documents WHERE doc_id % 7 = 4 ORDER BY media_id""".stripMargin,

    // the flac walk replayed closed-form: bit-packed STREAMINFO
    // fields by residue, duration = total·1000/rate floored (the
    // demuxer arithmetic), block counts per corruption class —
    // mid-STREAMINFO cut nulls fields, an overrunning second block
    // keeps them, broken magic nulls everything
    "mm_flac_meta" ->
      """WITH f AS (SELECT doc_id AS id FROM documents WHERE doc_id % 7 = 2),
        |v AS (SELECT id, id % 6 AS cls,
        |  CASE id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050
        |       WHEN 3 THEN 44100 ELSE 48000 END AS rate,
        |  1 + (id % 2) AS ch,
        |  CASE WHEN id % 3 = 0 THEN 24 ELSE 16 END AS bps,
        |  1000 + (id % 9000) AS total
        |  FROM f)
        |SELECT id AS media_id,
        |  CASE WHEN cls = 2 THEN 'not_flac'
        |       WHEN cls IN (1, 3) THEN 'truncated' ELSE 'ok' END AS status,
        |  CASE WHEN cls IN (1, 2) THEN NULL ELSE CAST(rate AS BIGINT) END AS sample_rate,
        |  CASE WHEN cls IN (1, 2) THEN NULL ELSE CAST(ch AS BIGINT) END AS channels,
        |  CASE WHEN cls IN (1, 2) THEN NULL ELSE CAST(bps AS BIGINT) END AS bps,
        |  CASE WHEN cls IN (1, 2) THEN NULL ELSE CAST(total AS BIGINT) END AS total_samples,
        |  CASE WHEN cls IN (1, 2) THEN NULL ELSE CAST((total * 1000) // rate AS BIGINT) END AS duration_ms,
        |  CAST(CASE cls WHEN 0 THEN 2 WHEN 3 THEN 1 WHEN 4 THEN 3 WHEN 5 THEN 1 ELSE 0 END AS BIGINT) AS n_blocks,
        |  CASE WHEN cls IN (0, 4) THEN 'doc' || CAST(id AS VARCHAR) END AS title,
        |  CASE WHEN cls IN (0, 4) THEN 'l' || CAST(id % 4 AS VARCHAR) END AS lang
        |FROM v ORDER BY media_id""".stripMargin,

    // the zip central-directory walk replayed closed-form: per-entry
    // names/sizes by residue (even entries stored, odd deflated),
    // the tail cut killing the EOCD entirely, the patched entry
    // count reported as count_mismatch with the REAL entries listed,
    // the archive comment riding the EOCD's variable tail
    "mm_zip_entries" ->
      """WITH z AS (SELECT doc_id AS id FROM documents WHERE doc_id % 7 = 4),
        |e AS (
        |  SELECT id, unnest(generate_series(1, 1 + CAST(id % 3 AS INT))) AS i
        |  FROM z WHERE id % 6 <> 1),
        |per AS (
        |  SELECT id, count(*) AS n_entries,
        |    sum(CASE WHEN i % 2 = 0 THEN 1 ELSE 0 END) AS n_stored,
        |    sum(11 + length(CAST(id AS VARCHAR)) + ((id + i) % 64)) AS sum_usize,
        |    string_agg('doc' || CAST(id AS VARCHAR) || '/e' || CAST(i AS VARCHAR) || '.txt',
        |               ',' ORDER BY i) AS names
        |  FROM e GROUP BY id)
        |SELECT z.id AS media_id,
        |  CASE WHEN z.id % 6 = 1 THEN 'no_eocd'
        |       WHEN z.id % 6 = 5 THEN 'count_mismatch' ELSE 'ok' END AS status,
        |  CAST(CASE WHEN z.id % 6 = 1 THEN 0
        |       WHEN z.id % 6 = 5 THEN 2 + (z.id % 3)
        |       ELSE 1 + (z.id % 3) END AS BIGINT) AS claimed,
        |  CAST(coalesce(p.n_entries, 0) AS BIGINT) AS n_entries,
        |  CAST(coalesce(p.n_stored, 0) AS BIGINT) AS n_stored,
        |  CAST(coalesce(p.sum_usize, 0) AS BIGINT) AS sum_usize,
        |  coalesce(p.names, '') AS names,
        |  CASE WHEN z.id % 6 = 0 THEN 'c' || CAST(z.id AS VARCHAR) END AS comment
        |FROM z LEFT JOIN per p ON z.id = p.id
        |ORDER BY media_id""".stripMargin,

    // the id3 walk replayed closed-form: version by parity (and with
    // it the frame-size encoding — the >127-byte album frame makes a
    // one-version parser hash-fail), the utf-16/utf-8 title against
    // one closed-form string, the tail cut dropping only the trailing
    // unknown frame, the broken magic nulling the tag
    "mm_id3_tags" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 6 = 2 THEN 'no_tag'
        |       WHEN doc_id % 6 = 1 THEN 'truncated' ELSE 'ok' END AS status,
        |  CASE WHEN doc_id % 6 = 2 THEN NULL
        |       WHEN doc_id % 2 = 0 THEN CAST(4 AS BIGINT)
        |       ELSE CAST(3 AS BIGINT) END AS version,
        |  CAST(CASE WHEN doc_id % 6 = 2 THEN 0
        |       WHEN doc_id % 6 = 1 THEN 3 ELSE 4 END AS BIGINT) AS n_frames,
        |  CASE WHEN doc_id % 6 = 2 THEN NULL
        |       ELSE 'T★' || CAST(doc_id AS VARCHAR) END AS title,
        |  CASE WHEN doc_id % 6 = 2 THEN NULL
        |       ELSE 'A' || CAST(doc_id AS VARCHAR) || repeat('z', 130) END AS album,
        |  CASE WHEN doc_id % 6 = 2 THEN NULL
        |       ELSE CAST(doc_id % 12 AS VARCHAR) END AS track
        |FROM documents WHERE doc_id % 7 = 0 ORDER BY media_id""".stripMargin,

    // the canonical URL CONSTRUCTED from the fixture's closed forms —
    // a parser slip (kept fragment, unsorted params, :443 stripped on
    // http, case-folded path, a surviving dot segment or trailing
    // DNS dot, an undecoded %62, a lowercase %2f, a kept second
    // trailing slash) lands on the canonical string itself
    "text_url_canonicalize" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END AS scheme,
        |    'www.example' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host,
        |    CASE WHEN doc_id % 5 = 0 AND doc_id % 2 <> 0 THEN ':443'
        |         WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END AS port,
        |    '/A/b' || CAST(doc_id % 13 AS VARCHAR) AS path,
        |    '?a=' || CAST(doc_id % 9 AS VARCHAR) ||
        |      '&b=' || CAST(doc_id % 11 AS VARCHAR) ||
        |      CASE WHEN doc_id % 4 = 1 THEN '&c=x%2Fy' ELSE '' END AS q
        |  FROM documents),
        |c AS (SELECT doc_id,
        |        scheme || '://' || host || port || path || q AS canonical_url
        |      FROM v)
        |SELECT canonical_url, count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM c GROUP BY 1 ORDER BY canonical_url""".stripMargin,

    "q_vocab_growth" ->
      """WITH tc AS (
        |  SELECT source, t AS tok, count(*) AS c
        |  FROM (SELECT source, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t
        |        FROM documents) u
        |  GROUP BY source, t),
        |ag AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types,
        |    CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax
        |  FROM tc GROUP BY source)
        |SELECT source, n_tokens, n_types, n_hapax,
        |  floor((CAST(n_types AS DOUBLE)/n_tokens)*1000000 + 0.5)/1000000 AS ttr,
        |  floor((CAST(n_hapax AS DOUBLE)/n_types)*1000000 + 0.5)/1000000 AS hapax_share
        |FROM ag ORDER BY source""".stripMargin,

    "q_pareto_docs" ->
      """WITH pts AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        |    floor((CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk))*1000000 + 0.5)/1000000 AS ttr
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |        FROM documents)
        |  WHERE len(tk) >= 1)
        |SELECT doc_id, n_tokens, ttr FROM pts a
        |WHERE NOT EXISTS (SELECT 1 FROM pts b
        |  WHERE (b.n_tokens > a.n_tokens AND b.ttr >= a.ttr)
        |     OR (b.n_tokens = a.n_tokens AND b.ttr > a.ttr))
        |ORDER BY n_tokens DESC, doc_id""".stripMargin,

    "emb_pca_power" -> pcaOracle,

    "dedup_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ') for i in generate_series(1, len(tk)-2)]) AS shs
        |  FROM toks WHERE len(tk) >= 3),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)/len(a.shs) AS c
        |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id)
        |SELECT doc_a, doc_b, floor(c*10000 + 0.5)/10000 AS containment
        |FROM p WHERE c >= 0.6 ORDER BY doc_a, doc_b""".stripMargin,

    "q_attribution" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    first_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS first_touch,
        |    coalesce(last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'none') AS last_touch
        |  FROM events),
        |pu AS (SELECT * FROM t WHERE event_type = 'purchase'),
        |ft AS (
        |  SELECT 'first_touch' AS model, first_touch AS channel, count(*) AS n_conv,
        |    CAST(sum(CAST(value AS DECIMAL(27,10))) AS DOUBLE) AS rev FROM pu GROUP BY 2),
        |lt AS (
        |  SELECT 'last_touch' AS model, last_touch AS channel, count(*) AS n_conv,
        |    CAST(sum(CAST(value AS DECIMAL(27,10))) AS DOUBLE) AS rev FROM pu GROUP BY 2)
        |SELECT model, channel, CAST(n_conv AS BIGINT) AS n_conv,
        |  floor(rev*100 + 0.5)/100 AS revenue
        |FROM (SELECT * FROM ft UNION ALL SELECT * FROM lt) u ORDER BY model, channel""".stripMargin,

    "q_collocations" ->
      """WITH toks AS (
        |  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents),
        |uni AS (SELECT unnest(tk) AS w FROM toks),
        |uc AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
        |tot AS (SELECT count(*) AS t FROM uni),
        |bg AS (
        |  SELECT u.p['w1'] AS w1, u.p['w2'] AS w2
        |  FROM (SELECT unnest([{'w1': tk[i], 'w2': tk[i+1]} for i in generate_series(1, len(tk) - 1)]) AS p
        |        FROM toks) u),
        |bc AS (SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY 1, 2 HAVING count(*) >= 5),
        |j AS (
        |  SELECT bc.w1, bc.w2, bc.c_ab,
        |    (CAST(bc.c_ab AS DOUBLE) * (SELECT t FROM tot)) / (CAST(u1.c AS DOUBLE) * u2.c) AS lift
        |  FROM bc JOIN uc u1 ON bc.w1 = u1.w JOIN uc u2 ON bc.w2 = u2.w)
        |SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
        |  floor(lift*10000 + 0.5)/10000 AS lift
        |FROM j ORDER BY lift DESC, w1, w2 LIMIT 25""".stripMargin,

    "q_merge_upsert" -> mergeViewOracle,

    // base vs merged snapshot, classified row by row; the merge
    // replay is the mergeViewOracle's ch/m chain inlined with keys
    "q_snapshot_diff" ->
      """WITH ch AS (
        |  SELECT o_orderkey AS key, 'update' AS op, 'X' AS st, o_totalprice * 1.1 AS tp
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, 'delete', NULL, NULL FROM orders WHERE o_orderkey % 100 = 7
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 'insert', 'N', o_totalprice * 0.5
        |  FROM orders WHERE o_orderkey % 10 = 4),
        |m AS (
        |  SELECT coalesce(c.key, b.o_orderkey) AS key,
        |    CASE WHEN c.op = 'delete' THEN NULL
        |         WHEN c.op IS NOT NULL THEN c.st ELSE b.o_orderstatus END AS st,
        |    CASE WHEN c.op = 'delete' THEN NULL
        |         WHEN c.op IS NOT NULL THEN c.tp ELSE b.o_totalprice END AS tp
        |  FROM orders b FULL OUTER JOIN ch c ON b.o_orderkey = c.key),
        |nx AS (SELECT key, st AS n_st, tp AS n_tp FROM m WHERE st IS NOT NULL),
        |d AS (
        |  SELECT
        |    CASE WHEN b.o_orderstatus IS NULL THEN 'inserted'
        |         WHEN nx.n_st IS NULL THEN 'deleted'
        |         WHEN b.o_orderstatus <> nx.n_st OR b.o_totalprice <> nx.n_tp THEN 'updated'
        |         ELSE 'unchanged' END AS change,
        |    CASE WHEN b.o_orderstatus <> nx.n_st THEN 1 ELSE 0 END AS st_chg,
        |    CASE WHEN b.o_totalprice <> nx.n_tp THEN 1 ELSE 0 END AS tp_chg
        |  FROM orders b FULL OUTER JOIN nx ON b.o_orderkey = nx.key)
        |SELECT change, count(*) AS n_rows,
        |  CAST(sum(st_chg) AS BIGINT) AS n_status_changed,
        |  CAST(sum(tp_chg) AS BIGINT) AS n_price_changed
        |FROM d GROUP BY change ORDER BY change""".stripMargin,

    // hopping 6h/2h panes: each event's 3 aligned starts derived
    // with integer epoch-microsecond arithmetic
    "q_events_hopping" ->
      """WITH e AS (SELECT event_type, value, epoch_us(ts) AS us FROM events),
        |hop AS (
        |  SELECT event_type, value,
        |    (us // 7200000000) * 7200000000 - k * 7200000000 AS ws
        |  FROM e, (SELECT unnest([0, 1, 2]) AS k))
        |SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS win_start,
        |  event_type, count(*) AS n_events,
        |  floor(CAST(sum(CAST((value) AS DECIMAL(27,10))) AS DOUBLE)*100 + 0.5)/100 AS sum_value
        |FROM hop GROUP BY ws, event_type
        |ORDER BY win_start, event_type""".stripMargin,

    // cross-user Markov evaluation: argmax model trained on even
    // users, integer accuracy vs the global-mode baseline on odd
    "q_markov_accuracy" ->
      """WITH tr AS (
        |  SELECT user_id, event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM events QUALIFY dst IS NOT NULL),
        |train AS (SELECT src, dst, count(*) AS n FROM tr WHERE user_id % 2 = 0 GROUP BY 1, 2),
        |model AS (
        |  SELECT src, dst AS pred FROM (
        |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY n DESC, dst ASC) AS rk
        |    FROM train) WHERE rk = 1),
        |md AS (SELECT dst AS mode_dst FROM (
        |    SELECT dst, CAST(sum(n) AS BIGINT) AS n FROM train GROUP BY dst
        |    ORDER BY n DESC, dst ASC LIMIT 1))
        |SELECT t.src, count(*) AS n_test,
        |  CAST(sum(CASE WHEN t.dst = model.pred THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |  floor((CAST(sum(CASE WHEN t.dst = model.pred THEN 1 ELSE 0 END) AS DOUBLE)/count(*))*1000000 + 0.5)/1000000 AS accuracy,
        |  floor((CAST(sum(CASE WHEN t.dst = md.mode_dst THEN 1 ELSE 0 END) AS DOUBLE)/count(*))*1000000 + 0.5)/1000000 AS baseline
        |FROM tr t JOIN model USING (src), md
        |WHERE t.user_id % 2 = 1
        |GROUP BY t.src, md.mode_dst ORDER BY t.src""".stripMargin,

    "q_profile_table" ->
      """WITH u AS (
        |  SELECT 'l_quantity' AS col_name, l_quantity AS v FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
        |SELECT col_name, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  count(DISTINCT v) AS n_distinct,
        |  floor(min(v)*10000 + 0.5)/10000 AS v_min,
        |  floor(max(v)*10000 + 0.5)/10000 AS v_max,
        |  floor((CAST(sum(CAST((v) AS DECIMAL(27,10))) AS DOUBLE)/count(v))*1000000 + 0.5)/1000000 AS v_mean
        |FROM u GROUP BY col_name ORDER BY col_name""".stripMargin,

    "q_uplift_quintiles" ->
      """WITH t0 AS (SELECT min(ts) AS t0 FROM events),
        |pu AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN ts < t0 + INTERVAL 15 DAY AND event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |    CAST(max(CASE WHEN ts >= t0 + INTERVAL 15 DAY AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv
        |  FROM events, t0 GROUP BY user_id),
        |nn AS (SELECT count(*) AS n FROM pu),
        |q AS (
        |  SELECT user_id, conv,
        |    CAST(floor(CAST(row_number() OVER (ORDER BY x DESC, user_id)*5 + nn.n - 1 AS DOUBLE)/nn.n) AS BIGINT) AS quintile
        |  FROM pu, nn)
        |SELECT quintile,
        |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS BIGINT) AS x_a,
        |  CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END) AS BIGINT) AS x_b,
        |  CASE WHEN sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) > 0 THEN floor((CAST(sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS DOUBLE)/CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS DOUBLE))*1000000 + 0.5)/1000000 END AS rate_a,
        |  CASE WHEN sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) > 0 THEN floor((CAST(sum(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END) AS DOUBLE)/CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS DOUBLE))*1000000 + 0.5)/1000000 END AS rate_b,
        |  CASE WHEN sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) > 0 AND sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) > 0 THEN floor((CAST(sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS DOUBLE)/CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS DOUBLE) - CAST(sum(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END) AS DOUBLE)/CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS DOUBLE))*1000000 + 0.5)/1000000 END AS uplift
        |FROM q GROUP BY quintile ORDER BY quintile""".stripMargin,

    // CUPED: every moment accumulates exactly, then one fixed IEEE
    // expression tree — the variance-reduction panel hash-verifies
    "q_ab_cuped" ->
      """WITH t0 AS (SELECT min(ts) AS t0 FROM events),
        |pu AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN ts < t0 + INTERVAL 15 DAY AND event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) AS x,
        |    CAST(sum(CAST((CASE WHEN NOT (ts < t0 + INTERVAL 15 DAY) AND event_type = 'purchase' THEN value ELSE 0.0 END) AS DECIMAL(27,10))) AS DOUBLE) AS y
        |  FROM events, t0 GROUP BY user_id),
        |m AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST((x) AS DECIMAL(27,10))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST((y) AS DECIMAL(27,10))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST((x*x) AS DECIMAL(27,10))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST((y*y) AS DECIMAL(27,10))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST((x*y) AS DECIMAL(27,10))) AS DOUBLE) AS sxy,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS na,
        |    CAST(sum(CAST((CASE WHEN user_id % 2 = 0 THEN x ELSE 0.0 END) AS DECIMAL(27,10))) AS DOUBLE) AS sxa,
        |    CAST(sum(CAST((CASE WHEN user_id % 2 = 0 THEN y ELSE 0.0 END) AS DECIMAL(27,10))) AS DOUBLE) AS sya,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS nb,
        |    CAST(sum(CAST((CASE WHEN user_id % 2 = 1 THEN x ELSE 0.0 END) AS DECIMAL(27,10))) AS DOUBLE) AS sxb,
        |    CAST(sum(CAST((CASE WHEN user_id % 2 = 1 THEN y ELSE 0.0 END) AS DECIMAL(27,10))) AS DOUBLE) AS syb
        |  FROM pu),
        |d AS (
        |  SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |    sx/n AS xbar,
        |    (sxy/n) - (sx/n)*(sy/n) AS covxy,
        |    (sxx/n) - (sx/n)*(sx/n) AS varx,
        |    (syy/n) - (sy/n)*(sy/n) AS vary,
        |    sya/na AS ya, sxa/na AS xa, syb/nb AS yb, sxb/nb AS xb
        |  FROM m)
        |SELECT n_a, n_b,
        |  floor(ya*10000 + 0.5)/10000 AS mean_a,
        |  floor(yb*10000 + 0.5)/10000 AS mean_b,
        |  floor((covxy/varx)*1000000 + 0.5)/1000000 AS theta,
        |  floor((ya - (covxy/varx)*(xa - xbar))*10000 + 0.5)/10000 AS adj_mean_a,
        |  floor((yb - (covxy/varx)*(xb - xbar))*10000 + 0.5)/10000 AS adj_mean_b,
        |  floor(((covxy/varx)*(covxy/varx)*varx/vary)*1000000 + 0.5)/1000000 AS var_reduction
        |FROM d""".stripMargin,

    // time-decay multi-touch: halving integer weights over the 8
    // most recent touches, exact geometric mass in the denominator
    "q_attribution_decay" ->
      """WITH p AS (SELECT user_id, ts AS pts, event_id AS pid, value FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, ts AS tts, event_id AS tid, event_type AS channel FROM events WHERE event_type <> 'purchase'),
        |rk AS (
        |  SELECT p.pid, p.value, t.channel,
        |    row_number() OVER (PARTITION BY p.pid ORDER BY t.tts DESC, t.tid DESC) AS k
        |  FROM p JOIN t ON p.user_id = t.user_id
        |    AND (t.tts < p.pts OR (t.tts = p.pts AND t.tid < p.pid))),
        |c AS (SELECT pid, value, channel, k, count(*) OVER (PARTITION BY pid) AS m
        |      FROM rk WHERE k <= 8),
        |cr AS (SELECT channel,
        |    value * CAST(1 << (8 - k) AS DOUBLE) / CAST((1 << 8) - (1 << (8 - m)) AS DOUBLE) AS credit
        |  FROM c)
        |SELECT channel, count(*) AS n_credits,
        |  floor(CAST(sum(CAST((credit) AS DECIMAL(27,10))) AS DOUBLE)*100 + 0.5)/100 AS credited_revenue
        |FROM cr GROUP BY channel ORDER BY channel""".stripMargin,

    // the bloom is scan-side pruning only — false positives never
    // reach the output, so the oracle is the plain semi-join
    "q_bloom_semijoin" ->
      """WITH hi AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)
        |SELECT l_returnflag, count(*) AS n_lines,
        |  floor(CAST(sum(CAST((l_quantity) AS DECIMAL(27,10))) AS DOUBLE)*100 + 0.5)/100 AS sum_qty,
        |  floor(CAST(sum(CAST((l_extendedprice) AS DECIMAL(27,10))) AS DOUBLE)*100 + 0.5)/100 AS sum_price
        |FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM hi)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // IVM correctness theorem as a hash check: the ENGINE maintains
    // the per-status view from the delta batch alone (never rescans
    // the base); the ORACLE recomputes it from the fully merged
    // snapshot. Same oracle as q_merge_upsert by design.
    "q_ivm_maintain" -> mergeViewOracle,

    "text_hash_lr" ->
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents),
        |fe AS (
        |  SELECT doc_id, list_concat(tk,
        |    [tk[i] || ' ' || tk[i+1] for i in generate_series(1, len(tk) - 1)]) AS feats
        |  FROM toks WHERE len(tk) > 0),
        |hw AS (
        |  SELECT doc_id, ${fnvSql("u.f")} AS hu
        |  FROM (SELECT doc_id, unnest(feats) AS f FROM fe) u),
        |w AS (
        |  SELECT doc_id,
        |    CAST(((hu % 65536) * 2654435761) % 4294967296 AS DOUBLE)/2147483648 - 1 AS wt
        |  FROM hw),
        |ag AS (
        |  SELECT doc_id, count(*) AS n_feats,
        |    CAST(sum(CAST(wt AS DECIMAL(27,10))) AS DOUBLE)/count(*) AS score
        |  FROM w GROUP BY doc_id)
        |SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
        |  floor(score*1000000 + 0.5)/1000000 AS score,
        |  floor(score*1000000 + 0.5)/1000000 > 0 AS keep
        |FROM ag ORDER BY doc_id""".stripMargin,

    "text_bpe_train" -> bpeOracle,

    "text_ngram_novelty" ->
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, ${fnvSql("gram")} AS h
        |  FROM (SELECT doc_id, unnest([array_to_string(tk[i:i+2], ' ')
        |          for i in generate_series(1, len(tk) - 2)]) AS gram
        |        FROM toks WHERE len(tk) >= 3) u),
        |f AS (SELECT h, min(doc_id) AS first_doc FROM g GROUP BY h)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(count(*) FILTER (WHERE doc_id = first_doc) AS BIGINT) AS n_novel,
        |  floor((CAST(count(*) FILTER (WHERE doc_id = first_doc) AS DOUBLE)/count(*))*1000000 + 0.5)/1000000 AS novelty
        |FROM g JOIN f USING (h)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_bpe_encode" -> bpeEncodeOracle,
    "q_tokenizer_fertility" -> tokenizerFertilityOracle,

    "text_dsir_importance" ->
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, doc_id % 10 = 9 AS is_target,
        |    CAST(${fnvSql("gram")} % 256 AS BIGINT) AS bucket
        |  FROM (SELECT doc_id, unnest([array_to_string(tk[i:i+1], ' ')
        |          for i in generate_series(1, len(tk) - 1)]) AS gram
        |        FROM toks WHERE len(tk) >= 2) u),
        |stats AS (
        |  SELECT bucket,
        |    sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS tb,
        |    sum(CASE WHEN NOT is_target THEN 1 ELSE 0 END) AS sb
        |  FROM g GROUP BY 1),
        |tot AS (SELECT sum(tb) AS tt, sum(sb) AS st FROM stats),
        |r AS (
        |  SELECT bucket,
        |    (CAST(tb + 1 AS DOUBLE) * CAST(st + 256 AS DOUBLE)) /
        |    (CAST(sb + 1 AS DOUBLE) * CAST(tt + 256 AS DOUBLE)) AS ratio
        |  FROM stats, tot)
        |SELECT doc_id, n_grams, weight, weight >= 1.0 AS selected FROM (
        |  SELECT doc_id, count(*) AS n_grams,
        |    floor((CAST(sum(CAST(ratio AS DECIMAL(27,10))) AS DOUBLE) / count(*))*1000000 + 0.5)/1000000 AS weight
        |  FROM g JOIN r USING (bucket) WHERE NOT is_target GROUP BY doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_exp_smoothing" ->
      """WITH mo AS (
        |  SELECT o_orderpriority AS priority,
        |    CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS BIGINT) AS m,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(27,10))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1, 2),
        |ser AS (SELECT priority, list(rev ORDER BY m) AS revs FROM mo GROUP BY 1)
        |SELECT priority, CAST(len(revs) AS BIGINT) AS n_months,
        |  floor(list_reduce(revs, (acc, x) -> (x + acc)/2)*10000 + 0.5)/10000 AS level,
        |  floor(revs[-1]*10000 + 0.5)/10000 AS last_rev
        |FROM ser ORDER BY priority""".stripMargin,

    "dedup_minhash_lsh" -> minhashLshOracle,
    "text_minhash_decontaminate" -> minhashDecontamOracle,

    // the dedup_clusters partition + the text_quality score, folded
    // to the per-cluster argmax survivor
    "dedup_keep_best" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ') for i in generate_series(1, len(tk)-2)]) AS sh
        |  FROM toks WHERE len(tk) >= 3),
        |p AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |e AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
        |reach(u, v) AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
        |rp AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u),
        |lab AS (
        |  SELECT d.doc_id, CAST(least(coalesce(rp.mn, d.doc_id), d.doc_id) AS BIGINT) AS rep
        |  FROM documents d LEFT JOIN rp USING (doc_id)),
        |q AS (
        |  SELECT doc_id,
        |    floor(least(len(tk)/100.0, 1.0) * (CAST(len(list_distinct(tk)) AS DOUBLE)/len(tk))*1000000 + 0.5)/1000000 AS q
        |  FROM toks),
        |g AS (
        |  SELECT lab.rep AS cluster_rep, count(*) AS n_docs,
        |    max(struct_pack(q := q.q, nid := -q.doc_id)) AS m
        |  FROM lab JOIN q USING (doc_id) GROUP BY 1 HAVING count(*) >= 2)
        |SELECT cluster_rep, n_docs, CAST(-m['nid'] AS BIGINT) AS kept_doc,
        |  m['q'] AS kept_quality, -m['nid'] <> cluster_rep AS kept_differs
        |FROM g ORDER BY cluster_rep""".stripMargin,

    // the same replayed LSH index, folded to the per-source-pair
    // governance matrix
    "dedup_source_matrix" -> {
      s"""WITH $minhashCoreCtes,
         |mp AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.5),
         |src AS (SELECT doc_id, source FROM documents),
         |cnt AS (SELECT source, count(*) AS nd FROM documents GROUP BY source),
         |lab AS (
         |  SELECT least(sa.source, sb.source) AS source_a,
         |    greatest(sa.source, sb.source) AS source_b
         |  FROM mp JOIN src sa ON sa.doc_id = mp.doc_a JOIN src sb ON sb.doc_id = mp.doc_b),
         |agg AS (SELECT source_a, source_b, count(*) AS n_pairs FROM lab GROUP BY 1, 2)
         |SELECT agg.source_a, agg.source_b, agg.n_pairs,
         |  floor((CAST(agg.n_pairs AS DOUBLE) /
         |    (CASE WHEN agg.source_a = agg.source_b
         |          THEN CAST(ca.nd * (ca.nd - 1) AS DOUBLE)/2
         |          ELSE CAST(ca.nd * cb.nd AS DOUBLE) END))*100000000 + 0.5)/100000000 AS dup_rate
         |FROM agg JOIN cnt ca ON ca.source = agg.source_a
         |        JOIN cnt cb ON cb.source = agg.source_b
         |ORDER BY agg.source_a, agg.source_b""".stripMargin
    },

    "emb_drift_check" ->
      """WITH e AS (
        |  SELECT vec_id % 2 = 0 AS even,
        |    generate_subscripts(embedding, 1) - 1 AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |h AS (
        |  SELECT CAST(pos AS BIGINT) AS pos, even, count(*) AS n,
        |    CAST(sum(CAST((x) AS DECIMAL(27,10))) AS DOUBLE) AS sx
        |  FROM e GROUP BY pos, even)
        |SELECT a.pos, a.n AS n_a, b.n AS n_b,
        |  floor((a.sx/a.n)*1000000 + 0.5)/1000000 AS mean_even,
        |  floor((b.sx/b.n)*1000000 + 0.5)/1000000 AS mean_odd,
        |  floor(abs(a.sx/a.n - b.sx/b.n)*1000000 + 0.5)/1000000 AS abs_drift
        |FROM h a JOIN h b ON a.pos = b.pos AND a.even AND NOT b.even
        |ORDER BY a.pos""".stripMargin,
    // binary quantization: sign signatures as two 32-bit halves
    // (bit 63 in one word would hit signed-overflow divergence —
    // Spark Long wraps, DuckDB list_sum widens), Hamming shortlist
    // (popcount(xor) per half), exact-cosine rerank — dial-driven
    "ann_bq_topk" ->
      s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sig AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum([CASE WHEN v[i+1] > 0 THEN CAST(1 AS BIGINT) << i
        |                        ELSE CAST(0 AS BIGINT) END
        |                   for i in generate_series(0, 31)]) AS BIGINT) AS lo,
        |    CAST(list_sum([CASE WHEN v[i+33] > 0 THEN CAST(1 AS BIGINT) << i
        |                        ELSE CAST(0 AS BIGINT) END
        |                   for i in generate_series(0, 31)]) AS BIGINT) AS hi
        |  FROM emb),
        |p AS (SELECT vec_id AS pid, v AS pe, lo AS plo, hi AS phi
        |  FROM sig WHERE vec_id < ${operators.AnnOps.NumProbes}),
        |ham AS (
        |  SELECT p.pid, s.vec_id AS nid, p.pe, s.v,
        |    CAST(bit_count(xor(s.lo, p.plo)) + bit_count(xor(s.hi, p.phi)) AS BIGINT) AS hamming
        |  FROM sig s, p WHERE s.vec_id <> p.pid),
        |short AS (
        |  SELECT pid, nid, pe, v FROM (
        |    SELECT pid, nid, pe, v,
        |      row_number() OVER (PARTITION BY pid ORDER BY hamming, nid) AS rn
        |    FROM ham) t WHERE rn <= ${operators.AnnOps.BqShortlist}),
        |sims AS (SELECT pid, nid, list_cosine_similarity(pe, v) AS sim FROM short),
        |ranked AS (SELECT pid, nid, sim,
        |  row_number() OVER (PARTITION BY pid
        |    ORDER BY floor((sim)*1000000 + 0.5)/1000000 DESC, nid) AS rnk FROM sims)
        |SELECT pid, CAST(rnk AS BIGINT) AS rnk, nid, floor((sim)*10000 + 0.5)/10000 AS sim
        |FROM ranked WHERE rnk <= ${operators.AnnOps.K} ORDER BY pid, rnk""".stripMargin,

    // the COMPOSED ivf×bq index replayed whole: decimal-exact
    // centroids, argmax cell assignment, 6 probe cells, two-32-bit-
    // half signatures, in-cell Hamming shortlist, exact-cosine rerank
    "ann_ivfbq_topk" ->
      s"""WITH $ivfIndexCtes,
        |$bqSigCte,
        |ham AS (
        |  SELECT p.pid, a.vec_id AS nid,
        |    CAST(bit_count(xor(sa.lo, sp.lo)) + bit_count(xor(sa.hi, sp.hi)) AS BIGINT) AS hamming
        |  FROM pcells p
        |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.pid
        |  JOIN sig sa ON sa.vec_id = a.vec_id
        |  JOIN sig sp ON sp.vec_id = p.pid),
        |short AS (SELECT pid, nid FROM (
        |  SELECT pid, nid, row_number() OVER (PARTITION BY pid ORDER BY hamming, nid) AS rn
        |  FROM ham) t WHERE rn <= ${operators.AnnOps.BqShortlist}),
        |sims AS (
        |  SELECT s.pid, s.nid, list_cosine_similarity(pr.pe, ev.v) AS sim
        |  FROM short s JOIN probes pr ON pr.pid = s.pid JOIN emb ev ON ev.vec_id = s.nid),
        |ranked AS (SELECT pid, nid, sim,
        |  row_number() OVER (PARTITION BY pid ORDER BY floor((sim)*1000000 + 0.5)/1000000 DESC, nid) AS rnk FROM sims)
        |SELECT pid, CAST(rnk AS BIGINT) AS rnk, nid, floor((sim)*10000 + 0.5)/10000 AS sim
        |FROM ranked WHERE rnk <= ${operators.AnnOps.K} ORDER BY pid, rnk""".stripMargin,

    // equal-budget panel: each layout admits <= BqShortlist
    // candidates per probe into the same exact rerank; recall@K vs
    // the brute-force truth — integer hits, one rounded division
    "ann_ivfbq_recall" ->
      s"""WITH $ivfIndexCtes,
        |$bqSigCte,
        |psig AS (SELECT vec_id AS pid, lo AS plo, hi AS phi FROM sig
        |  WHERE vec_id < ${operators.AnnOps.NumProbes}),
        |hamfull AS (
        |  SELECT p.pid, s.vec_id AS nid,
        |    CAST(bit_count(xor(s.lo, p.plo)) + bit_count(xor(s.hi, p.phi)) AS BIGINT) AS hamming
        |  FROM sig s, psig p WHERE s.vec_id <> p.pid),
        |bq AS (SELECT pid, nid FROM (
        |  SELECT pid, nid, row_number() OVER (PARTITION BY pid ORDER BY hamming, nid) AS rn
        |  FROM hamfull) t WHERE rn <= ${operators.AnnOps.BqShortlist}),
        |cellmem AS (
        |  SELECT p.pid, a.vec_id AS nid
        |  FROM pcells p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.pid),
        |ivf AS (SELECT pid, nid FROM (
        |  SELECT pid, nid, row_number() OVER (PARTITION BY pid ORDER BY nid) AS rn
        |  FROM cellmem) t WHERE rn <= ${operators.AnnOps.BqShortlist}),
        |hamcell AS (
        |  SELECT cm.pid, cm.nid,
        |    CAST(bit_count(xor(sa.lo, p.plo)) + bit_count(xor(sa.hi, p.phi)) AS BIGINT) AS hamming
        |  FROM cellmem cm JOIN sig sa ON sa.vec_id = cm.nid JOIN psig p ON p.pid = cm.pid),
        |ivfbq AS (SELECT pid, nid FROM (
        |  SELECT pid, nid, row_number() OVER (PARTITION BY pid ORDER BY hamming, nid) AS rn
        |  FROM hamcell) t WHERE rn <= ${operators.AnnOps.BqShortlist}),
        |pl AS (SELECT ${planesLiteral(operators.AnnOps.LshPlanes)} AS w),
        |he AS (SELECT vec_id, embedding FROM embeddings),
        |hd AS (
        |  SELECT vec_id, p,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      [CAST(embedding[i] AS DOUBLE) * w[p][i] for i in generate_series(1, 64)]),
        |      (a, b) -> a + b) AS dot
        |  FROM he, pl, (SELECT unnest(generate_series(1, ${operators.AnnOps.LshPlanes})) AS p)),
        |hbv AS (
        |  SELECT vec_id, (p - 1) // ${operators.AnnOps.LshBandBits} AS b,
        |    sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << ((p - 1) % ${operators.AnnOps.LshBandBits})) ELSE 0 END) AS val
        |  FROM hd GROUP BY 1, 2),
        |hbsq AS (
        |  SELECT vec_id, b, val, row_number() OVER (PARTITION BY b, val ORDER BY vec_id) AS i
        |  FROM hbv),
        |hcpair AS (
        |  SELECT DISTINCT a.vec_id AS src, c.vec_id AS dst
        |  FROM hbsq a JOIN hbsq c ON a.b = c.b AND a.val = c.val
        |  WHERE a.vec_id <> c.vec_id
        |    AND least(a.i, c.i) <= ${operators.HnswOps.BuildCap}),
        |hcsim AS (
        |  SELECT hcpair.src, hcpair.dst, ${cosEmbSql("sa", "sb")} AS sim
        |  FROM hcpair JOIN he sa ON sa.vec_id = hcpair.src JOIN he sb ON sb.vec_id = hcpair.dst),
        |hem AS (
        |  SELECT src, dst FROM (
        |    SELECT src, dst, row_number() OVER (PARTITION BY src
        |      ORDER BY floor(sim*1000000 + 0.5)/1000000 DESC, dst ASC) AS rn
        |    FROM hcsim) WHERE rn <= ${operators.HnswOps.M}),
        |hedges AS (SELECT DISTINCT * FROM (
        |  SELECT src, dst FROM hem UNION ALL SELECT dst AS src, src AS dst FROM hem)),
        |med AS (
        |  SELECT vec_id FROM (
        |    SELECT a.cell, a.vec_id,
        |      row_number() OVER (PARTITION BY a.cell ORDER BY d.sim DESC, a.vec_id) AS rn
        |    FROM assigned a JOIN scored d ON d.vec_id = a.vec_id AND d.cell = a.cell) t
        |  WHERE rn = 1),
        |psim AS (
        |  SELECT pr.pid, ev.vec_id AS nid, list_cosine_similarity(pr.pe, ev.v) AS sim
        |  FROM probes pr, emb ev),
        |hbs0 AS (
        |  SELECT psim.pid, psim.nid, psim.sim FROM psim
        |  WHERE psim.nid IN (SELECT vec_id FROM med)),
        |hx1 AS (SELECT DISTINCT b.pid, ed.dst AS nid FROM hbs0 b JOIN hedges ed ON ed.src = b.nid),
        |hbs1 AS (SELECT pid, nid, sim FROM (
        |  SELECT u.pid, u.nid, psim.sim, row_number() OVER (PARTITION BY u.pid
        |    ORDER BY floor(psim.sim*1000000 + 0.5)/1000000 DESC, u.nid ASC) AS rn
        |  FROM (SELECT pid, nid FROM hx1 UNION SELECT pid, nid FROM hbs0) u
        |  JOIN psim ON psim.pid = u.pid AND psim.nid = u.nid)
        |  WHERE rn <= ${operators.HnswOps.Beam}),
        |hx2 AS (SELECT DISTINCT b.pid, ed.dst AS nid FROM hbs1 b JOIN hedges ed ON ed.src = b.nid),
        |hbs2 AS (SELECT pid, nid, sim FROM (
        |  SELECT u.pid, u.nid, psim.sim, row_number() OVER (PARTITION BY u.pid
        |    ORDER BY floor(psim.sim*1000000 + 0.5)/1000000 DESC, u.nid ASC) AS rn
        |  FROM (SELECT pid, nid FROM hx2 UNION SELECT pid, nid FROM hbs1) u
        |  JOIN psim ON psim.pid = u.pid AND psim.nid = u.nid)
        |  WHERE rn <= ${operators.HnswOps.Beam}),
        |hx3 AS (SELECT DISTINCT b.pid, ed.dst AS nid FROM hbs2 b JOIN hedges ed ON ed.src = b.nid),
        |vis AS (
        |  SELECT pid, nid, min(hop) AS hop FROM (
        |    SELECT p.pid, m.vec_id AS nid, 0 AS hop FROM probes p, med m
        |    UNION ALL SELECT pid, nid, 1 FROM hx1
        |    UNION ALL SELECT pid, nid, 2 FROM hx2
        |    UNION ALL SELECT pid, nid, 3 FROM hx3)
        |  GROUP BY pid, nid),
        |hnsw AS (SELECT pid, nid FROM (
        |  SELECT v.pid, v.nid, row_number() OVER (PARTITION BY v.pid
        |    ORDER BY v.hop, floor(psim.sim*1000000 + 0.5)/1000000 DESC, v.nid ASC) AS rn
        |  FROM vis v JOIN psim ON psim.pid = v.pid AND psim.nid = v.nid
        |  WHERE v.nid <> v.pid) t
        |  WHERE rn <= ${operators.AnnOps.BqShortlist}),
        |srv_hnsw AS (SELECT pid, nid FROM (
        |  SELECT c.pid, c.nid, row_number() OVER (PARTITION BY c.pid
        |    ORDER BY floor((list_cosine_similarity(pr.pe, ev.v))*1000000 + 0.5)/1000000 DESC, c.nid) AS rn
        |  FROM hnsw c JOIN probes pr ON pr.pid = c.pid JOIN emb ev ON ev.vec_id = c.nid) t
        |  WHERE rn <= ${operators.AnnOps.K}),
        |exr AS (SELECT pid, nid FROM (
        |  SELECT pr.pid, ev.vec_id AS nid, row_number() OVER (PARTITION BY pr.pid
        |    ORDER BY floor((list_cosine_similarity(pr.pe, ev.v))*1000000 + 0.5)/1000000 DESC, ev.vec_id) AS rn
        |  FROM probes pr JOIN emb ev ON ev.vec_id <> pr.pid) t
        |  WHERE rn <= ${operators.AnnOps.K}),
        |srv_bq AS (SELECT pid, nid FROM (
        |  SELECT c.pid, c.nid, row_number() OVER (PARTITION BY c.pid
        |    ORDER BY floor((list_cosine_similarity(pr.pe, ev.v))*1000000 + 0.5)/1000000 DESC, c.nid) AS rn
        |  FROM bq c JOIN probes pr ON pr.pid = c.pid JOIN emb ev ON ev.vec_id = c.nid) t
        |  WHERE rn <= ${operators.AnnOps.K}),
        |srv_ivf AS (SELECT pid, nid FROM (
        |  SELECT c.pid, c.nid, row_number() OVER (PARTITION BY c.pid
        |    ORDER BY floor((list_cosine_similarity(pr.pe, ev.v))*1000000 + 0.5)/1000000 DESC, c.nid) AS rn
        |  FROM ivf c JOIN probes pr ON pr.pid = c.pid JOIN emb ev ON ev.vec_id = c.nid) t
        |  WHERE rn <= ${operators.AnnOps.K}),
        |srv_ivfbq AS (SELECT pid, nid FROM (
        |  SELECT c.pid, c.nid, row_number() OVER (PARTITION BY c.pid
        |    ORDER BY floor((list_cosine_similarity(pr.pe, ev.v))*1000000 + 0.5)/1000000 DESC, c.nid) AS rn
        |  FROM ivfbq c JOIN probes pr ON pr.pid = c.pid JOIN emb ev ON ev.vec_id = c.nid) t
        |  WHERE rn <= ${operators.AnnOps.K}),
        |rows_out AS (
        |  SELECT 'bq_only' AS method,
        |    (SELECT count(*) FROM bq) AS n_cands,
        |    (SELECT count(*) FROM srv_bq s JOIN exr x ON x.pid = s.pid AND x.nid = s.nid) AS n_hits
        |  UNION ALL
        |  SELECT 'ivf_only',
        |    (SELECT count(*) FROM ivf),
        |    (SELECT count(*) FROM srv_ivf s JOIN exr x ON x.pid = s.pid AND x.nid = s.nid)
        |  UNION ALL
        |  SELECT 'ivfbq',
        |    (SELECT count(*) FROM ivfbq),
        |    (SELECT count(*) FROM srv_ivfbq s JOIN exr x ON x.pid = s.pid AND x.nid = s.nid)
        |  UNION ALL
        |  SELECT 'hnsw_beam',
        |    (SELECT count(*) FROM hnsw),
        |    (SELECT count(*) FROM srv_hnsw s JOIN exr x ON x.pid = s.pid AND x.nid = s.nid))
        |SELECT method, CAST(n_cands AS BIGINT) AS n_cands,
        |  CAST(n_hits AS BIGINT) AS n_hits,
        |  floor((CAST(n_hits AS DOUBLE) /
        |    ${operators.AnnOps.K * operators.AnnOps.NumProbes})*1000000 + 0.5)/1000000 AS recall
        |FROM rows_out ORDER BY method""".stripMargin,

    // prefix-truncation recall panel: prefix cosine ranks per dim
    // (1e-6-rounded ties, nid asc), overlap vs the full-width top-k,
    // mean FULL-dim sim of truncated winners as a 1e-6 scaled-integer
    // sum with one division — all dial-driven (K, NumProbes)
    "emb_matryoshka_eval" ->
      s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |probes AS (SELECT vec_id AS pid, v AS pe FROM emb WHERE vec_id < ${operators.AnnOps.NumProbes}),
        |dims AS (SELECT unnest([${operators.AnnOps.MatryoshkaDims.mkString(", ")}]) AS d),
        |sims AS (
        |  SELECT d, pid, e.vec_id AS nid,
        |    list_cosine_similarity(pe[1:d], e.v[1:d]) AS sim,
        |    list_cosine_similarity(pe, e.v) AS fsim
        |  FROM probes, emb e, dims WHERE e.vec_id <> pid),
        |ranked AS (
        |  SELECT d, pid, nid, fsim,
        |    row_number() OVER (PARTITION BY d, pid
        |      ORDER BY floor((sim)*1000000 + 0.5)/1000000 DESC, nid) AS rnk
        |  FROM sims),
        |topd AS (SELECT d, pid, nid, fsim FROM ranked WHERE rnk <= ${operators.AnnOps.K}),
        |fullk AS (SELECT pid, nid FROM topd WHERE d = ${operators.AnnOps.MatryoshkaDims.max}),
        |hits AS (SELECT d, count(*) AS h FROM topd JOIN fullk USING (pid, nid) GROUP BY d),
        |agg AS (
        |  SELECT d, count(*) AS n,
        |    CAST(sum(CAST(floor(fsim*1000000 + 0.5) AS BIGINT)) AS BIGINT) AS ssum
        |  FROM topd GROUP BY d)
        |SELECT CAST(a.d AS BIGINT) AS dim,
        |  CAST(coalesce(h.h, 0) AS BIGINT) AS n_hits,
        |  floor((CAST(coalesce(h.h, 0) AS DOUBLE)/${operators.AnnOps.K * operators.AnnOps.NumProbes})*10000 + 0.5)/10000 AS recall,
        |  floor(((CAST(a.ssum AS DOUBLE)/a.n)/1000000)*10000 + 0.5)/10000 AS mean_full_sim
        |FROM agg a LEFT JOIN hits h ON h.d = a.d
        |ORDER BY dim""".stripMargin,

    "dedup_minhash_calibration" -> minhashCalibrationOracle,
    "ann_lsh_topk" -> annLshOracle,
    "ann_lsh_scheduled_mass" -> annLshScheduledMassOracle,
    "ann_lsh_multiword_mass" -> annLshMultiwordMassOracle,
    "ann_hnsw_topk" -> annHnswOracle,
    "dedup_embedding" -> dedupEmbeddingOracle,
    "ann_pq_topk" -> annPqOracle,
    "emb_pq_distortion" -> pqDistortionOracle,
    "ann_ivfpq_topk" -> annIvfPqOracle,
    "ann_ivfpq_residual_topk" -> annIvfPqResidualOracle,

    "text_char_diversity" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(lower(text), '')) AS ch FROM documents),
        |pc AS (SELECT doc_id, ch, count(*) AS c FROM ch WHERE len(ch) > 0 GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars, count(*) AS n_distinct_chars,
        |  floor((CAST(sum(c*c) AS DOUBLE)/CAST(sum(c)*sum(c) AS DOUBLE))*1000000 + 0.5)/1000000 AS collision_mass,
        |  floor((CAST(sum(c)*sum(c) AS DOUBLE)/CAST(sum(c*c) AS DOUBLE))*10000 + 0.5)/10000 AS eff_alphabet,
        |  floor((CAST(max(c) AS DOUBLE)/CAST(sum(c) AS DOUBLE))*1000000 + 0.5)/1000000 AS top_char_share
        |FROM pc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // retrieval eval replayed end-to-end: the same BM25 postings
    // scored per term, pseudo-judgments from the suite's own
    // fnv64→mix64 primitives, exact integer DCG (gains × lcm(2..11)
    // discounts), NDCG as one BIGINT/BIGINT division
    "q_search_rankeval" ->
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM toks WHERE len(tk) > 0),
        |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot_dl FROM dl),
        |hit AS (
        |  SELECT doc_id, unnest(list_filter(tk, x -> x IN ('join', 'scan', 'filter'))) AS term
        |  FROM toks WHERE len(tk) > 0),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM hit GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.term, tf.doc_id,
        |    floor((((CAST(st.n_docs - df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5)
        |      * (CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1 AS DOUBLE))))
        |    / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
        |       ((CAST(1 AS DOUBLE) - CAST(0.75 AS DOUBLE)) +
        |        ((CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE)) /
        |         (CAST(st.tot_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE))))))*1000000 + 0.5)/1000000 AS score_r,
        |    CAST(${mixSql(fnvSql("tf.term || ':' || CAST(tf.doc_id AS VARCHAR)"))} % 4 AS BIGINT) AS rel
        |  FROM tf JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id, st),
        |d AS (SELECT [13860, 9240, 6930, 5544, 4620, 3960, 3465, 3080, 2772, 2520] AS ds),
        |ret AS (
        |  SELECT term, rel, rank FROM (
        |    SELECT term, rel,
        |      row_number() OVER (PARTITION BY term ORDER BY score_r DESC, doc_id) AS rank
        |    FROM sc) WHERE rank <= 10),
        |m AS (
        |  SELECT term, count(*) AS n_ret,
        |    count(CASE WHEN rel > 0 THEN 1 END) / CAST(10.0 AS DOUBLE) AS p_at_10,
        |    coalesce(CAST(1.0 AS DOUBLE) / min(CASE WHEN rel > 0 THEN rank END),
        |      CAST(0.0 AS DOUBLE)) AS mrr,
        |    CAST(sum(((1 << rel) - 1) * ds[rank]) AS BIGINT) AS dcg_s
        |  FROM ret, d GROUP BY term),
        |idl AS (
        |  SELECT term, rel, rank FROM (
        |    SELECT term, rel,
        |      row_number() OVER (PARTITION BY term ORDER BY rel DESC, doc_id) AS rank
        |    FROM sc) WHERE rank <= 10),
        |im AS (
        |  SELECT term, CAST(sum(((1 << rel) - 1) * ds[rank]) AS BIGINT) AS idcg_s
        |  FROM idl, d GROUP BY term)
        |SELECT m.term, df.df, m.n_ret, m.p_at_10, m.mrr, m.dcg_s, im.idcg_s,
        |  floor((CAST(m.dcg_s AS DOUBLE) / CAST(im.idcg_s AS DOUBLE))*1000000 + 0.5)/1000000 AS ndcg
        |FROM m JOIN im USING (term) JOIN df USING (term)
        |ORDER BY term""".stripMargin,

    "q_bm25_search" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM toks WHERE len(tk) > 0),
        |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot_dl FROM dl),
        |hit AS (
        |  SELECT doc_id, unnest(list_filter(tk, x -> x IN ('join', 'scan', 'filter'))) AS term
        |  FROM toks WHERE len(tk) > 0),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM hit GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.doc_id, dl.dl,
        |    ((CAST(st.n_docs - df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5)
        |      * (CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1 AS DOUBLE))))
        |    / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
        |       ((CAST(1 AS DOUBLE) - CAST(0.75 AS DOUBLE)) +
        |        ((CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE)) /
        |         (CAST(st.tot_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE))))) AS term_score
        |  FROM tf JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id, st)
        |SELECT doc_id, max(dl) AS dl,
        |  floor((CAST(sum(CAST(term_score AS DECIMAL(27,10))) AS DOUBLE))*1000000 + 0.5)/1000000 AS score
        |FROM sc GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // the compaction plan replayed: per-partition next-fit-decreasing
    // — files ordered (bytes DESC, doc_id ASC), bin = integer-div of
    // the running sum BEFORE each file by the target
    "q_compact_binpack" ->
      s"""WITH f AS (
        |  SELECT source, doc_id, n_chars,
        |    COALESCE(sum(n_chars) OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bfr
        |  FROM documents)
        |SELECT source, CAST(bfr // ${operators.LayoutOps.CompactTarget} AS BIGINT) AS bin,
        |  count(*) AS n_files,
        |  CAST(sum(n_chars) AS BIGINT) AS total_bytes,
        |  CAST(max(n_chars) AS BIGINT) AS max_file_bytes,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM f GROUP BY source, bin ORDER BY source, bin""".stripMargin,

    "q_zorder_layout" -> {
      val morton = (0 until 8).map { i =>
        s"(((xb >> $i) & 1) << ${2 * i}) | (((yb >> $i) & 1) << ${2 * i + 1})"
      }.mkString(" | ")
      s"""WITH b AS (
        |  SELECT CAST(o_custkey // ${operators.LayoutOps.CustDiv} AS BIGINT) & 255 AS xb,
        |    CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS BIGINT) & 255 AS yb
        |  FROM orders),
        |z AS (SELECT xb, yb, ($morton) AS z FROM b)
        |SELECT (z >> 8) AS file_id, count(*) AS n_rows,
        |  min(xb) AS cust_min, max(xb) AS cust_max,
        |  min(yb) AS month_min, max(yb) AS month_max,
        |  (max(xb) - min(xb) + 1) * (max(yb) - min(yb) + 1) AS envelope_area
        |FROM z GROUP BY 1 ORDER BY file_id""".stripMargin
    },

    "q_hilbert_layout" -> {
      // the 8-level xy→d transform unrolled: each SQL level computes
      // (x, y, d) from the PREVIOUS level's columns — linear growth,
      // where the composed Column form would be exponential
      val levels = (0 until 8).map { k =>
        val s = 128L >> k
        val rx = s"(CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END)"
        val ry = s"(CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)"
        s"""h${k + 1} AS (
           |  SELECT xb, yb,
           |    CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN ${s - 1} - y ELSE y END) ELSE x END AS x,
           |    CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN ${s - 1} - x ELSE x END) ELSE y END AS y,
           |    d + ${s * s} * xor(3 * $rx, $ry) AS d
           |  FROM h$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH b AS (
        |  SELECT CAST(o_custkey // ${operators.LayoutOps.CustDiv} AS BIGINT) & 255 AS xb,
        |    CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS BIGINT) & 255 AS yb
        |  FROM orders),
        |h0 AS (SELECT xb, yb, xb AS x, yb AS y, CAST(0 AS BIGINT) AS d FROM b),
        |$levels
        |SELECT (d >> 8) AS file_id, count(*) AS n_rows,
        |  min(xb) AS cust_min, max(xb) AS cust_max,
        |  min(yb) AS month_min, max(yb) AS month_max,
        |  (max(xb) - min(xb) + 1) * (max(yb) - min(yb) + 1) AS envelope_area
        |FROM h8 GROUP BY 1 ORDER BY file_id""".stripMargin
    },

    "dedup_cdc_chunks" ->
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
        |  FROM documents),
        |t2 AS (
        |  SELECT doc_id, unnest(tk) AS tok, generate_subscripts(tk, 1) AS pos
        |  FROM toks WHERE len(tk) > 0),
        |f AS (
        |  SELECT doc_id, pos, tok,
        |    CASE WHEN ${fnvSql("tok")} % 8 = 0 THEN 1 ELSE 0 END AS b
        |  FROM t2),
        |c AS (
        |  SELECT doc_id, pos, tok,
        |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos) - b AS cid
        |  FROM f),
        |chk AS (
        |  SELECT doc_id, cid, count(*) AS n_tokens,
        |    string_agg(tok, ' ' ORDER BY pos) AS chunk
        |  FROM c GROUP BY 1, 2)
        |SELECT chunk, CAST(min(n_tokens) AS BIGINT) AS n_tokens,
        |  count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ, min(doc_id) AS first_doc
        |FROM chk WHERE n_tokens >= ${operators.DedupOps.CdcMinTokens}
        |GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2 ORDER BY chunk""".stripMargin,

    "dedup_semantic" ->
      s"""WITH $kmeansAssignCtes,
        |asg AS (SELECT vec_id, cluster FROM a3 WHERE rn = 1),
        |ev AS (
        |  SELECT vec_id, [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)] AS emb
        |  FROM embeddings),
        |pr AS (
        |  SELECT a.cluster, a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    ${cosSql("ea.emb", "eb.emb")} AS cos_raw
        |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  JOIN ev ea ON ea.vec_id = a.vec_id JOIN ev eb ON eb.vec_id = b.vec_id),
        |rk AS (
        |  SELECT cluster, vec_a, vec_b, cos_raw,
        |    row_number() OVER (PARTITION BY cluster
        |      ORDER BY floor(cos_raw*1000000 + 0.5)/1000000 DESC, vec_a, vec_b) AS rnk
        |  FROM pr)
        |SELECT CAST(cluster AS BIGINT) AS cluster_id, CAST(rnk AS BIGINT) AS rnk,
        |  vec_a, vec_b, floor(cos_raw*10000 + 0.5)/10000 AS cos
        |FROM rk WHERE rnk <= ${operators.DedupOps.SemTopPerCluster}
        |ORDER BY cluster_id, rnk""".stripMargin,

    // mm_featurize replayed end-to-end: the magic-prefix payload
    // construction (chr() literals = the bytes MediaPipeline
    // prepends), the sniff CASE, FNV-1a over the payload chars, and
    // java.util.Random's 48-bit LCG seeded with the hash — one
    // scramble + one step gives nextFloat() = next(24)/2^24, which is
    // dyadic and therefore exact in both engines
    "mm_featurize" ->
      """WITH p AS (SELECT doc_id,
        |    CASE CAST(doc_id % 7 AS INT)
        |      WHEN 0 THEN chr(255)||chr(216)||chr(255)||text
        |      WHEN 1 THEN chr(137)||'PNG'||text
        |      WHEN 2 THEN 'RIFF'||text
        |      WHEN 3 THEN 'mp4_ftyp'||text
        |      ELSE text END AS pay
        |  FROM documents),
        |k AS (SELECT doc_id, pay,
        |    CASE
        |      WHEN unicode(substring(pay,1,1)) = 255 AND unicode(substring(pay,2,1)) = 216 THEN 'image'
        |      WHEN unicode(substring(pay,1,1)) = 137 AND substring(pay,2,3) = 'PNG' THEN 'image'
        |      WHEN substring(pay,1,4) = 'RIFF' THEN 'audio'
        |      WHEN substring(pay,5,4) = 'ftyp' THEN 'video'
        |      ELSE 'bin' END AS kind
        |  FROM p),
        |h AS (SELECT doc_id, kind, list_reduce(
        |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |        list_transform(split(pay, ''), c -> CAST(unicode(c) AS HUGEINT))),
        |      (h, c) -> (xor(h, c) * 1099511628211) % 18446744073709551616) AS hu
        |    FROM k),
        |f AS (SELECT doc_id, kind,
        |    CAST(((xor(hu, 25214903917) % 281474976710656) * 25214903917 + 11)
        |         % 281474976710656 // 16777216 AS DOUBLE) / 16777216 AS f0
        |  FROM h)
        |SELECT kind, count(*) AS n_media, CAST(8 AS BIGINT) AS dim,
        |  floor((CAST(sum(CAST(f0 AS DECIMAL(27,10))) AS DOUBLE)/count(*))*10000 + 0.5)/10000 AS avg_f0
        |FROM f GROUP BY kind ORDER BY kind""".stripMargin,

    // ---- §2.G streaming: the engine runs REAL Structured Streaming
    // jobs (file source → stateful transform → memory sink, blocked to
    // completion); these oracles are the declarative batch semantics
    // the incremental execution must land on bit-for-bit ----

    // tumbling 1 h panes; sums accumulate in DECIMAL on both sides so
    // pane values can't depend on micro-batch/partial-agg merge order
    "stream_window_stats" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |count(*) AS n_events,
        |floor((CAST(sum(CAST((value) AS DECIMAL(27,10))) AS DOUBLE))*100 + 0.5)/100 AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    // hopping 6 h / 2 h panes: every event lands in exactly 3 —
    // replayed by cross-joining each event with offsets {0,1,2}
    "stream_hopping_stats" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
        |hop AS (
        |  SELECT event_type, (us // 7200000000) * 7200000000 - k * 7200000000 AS ws
        |  FROM e, (SELECT unnest([0, 1, 2]) AS k))
        |SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS win_start,
        |  event_type, count(*) AS n_events
        |FROM hop GROUP BY ws, event_type ORDER BY win_start, event_type""".stripMargin,

    // dropDuplicatesWithinWatermark survivors projected to keys: WHICH
    // row wins is arrival-order; the KEY SET is the contract
    "stream_dedup_keys" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    // stream-stream interval self-join: same-user purchases within
    // [view, view+1h], inclusive both ends like the engine's condition
    "stream_interval_join" ->
      """WITH v AS (SELECT user_id, event_id AS view_id, epoch_us(ts) AS vus
        |           FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pus, value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT v.user_id AS user_id, view_id, purchase_id,
        |  CAST(floor(value*100 + 0.5) AS BIGINT) AS purchase_cents
        |FROM v JOIN p ON v.user_id = p.user_id
        |  AND pus >= vus AND pus <= vus + 3600000000
        |ORDER BY view_id, purchase_id""".stripMargin,

    // the LEFT OUTER interval join replayed: inner pairs exactly as
    // stream_interval_join, plus every unmatched view whose match
    // interval END (vus + 1h) sits strictly below the final
    // watermark — min of the two sides' ms-truncated max event time
    // minus the 1h delay, the engine's multi-watermark "min" policy
    // — as a (-1, -1)-padded abandonment row; newer unmatched views
    // stay in state and must NOT emit
    "stream_interval_outer" ->
      """WITH v AS (SELECT user_id, event_id AS view_id, epoch_us(ts) AS vus
        |           FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pus, value
        |      FROM events WHERE event_type = 'purchase'),
        |inner_ AS (
        |  SELECT v.user_id AS user_id, view_id, purchase_id,
        |    CAST(floor(value*100 + 0.5) AS BIGINT) AS purchase_cents
        |  FROM v JOIN p ON v.user_id = p.user_id
        |    AND pus >= vus AND pus <= vus + 3600000000),
        |wm AS (SELECT least((SELECT max(vus // 1000) FROM v),
        |                    (SELECT max(pus // 1000) FROM p)) - 3600000 AS wm_ms)
        |SELECT user_id, view_id, purchase_id, purchase_cents FROM inner_
        |UNION ALL
        |SELECT v.user_id, v.view_id,
        |  CAST(-1 AS BIGINT) AS purchase_id, CAST(-1 AS BIGINT) AS purchase_cents
        |FROM v, wm
        |WHERE v.view_id NOT IN (SELECT view_id FROM inner_)
        |  AND vus // 1000 + 3600000 < wm_ms
        |ORDER BY view_id, purchase_id""".stripMargin,

    // flatMapGroupsWithState sessionizer, closed sessions only: a
    // non-final session closes via its successor event; the final one
    // closes iff its event-time timeout (last_ms + 30 min) is strictly
    // below the final watermark (global max_ms − 30 min delay) — the
    // engine's exact ms-truncated timeout rule. value is pre-scaled to
    // integral cents so state sums are order-free.
    "stream_sessionize_closed" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, floor(value*100 + 0.5) AS cents FROM events),
        |m AS (SELECT max(us) AS max_us FROM e),
        |s AS (SELECT user_id, us, cents,
        |  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |         OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
        |       THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |g AS (SELECT user_id, us, cents,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s),
        |sess AS (SELECT user_id, sid, min(us) AS start_us, max(us) AS end_us,
        |    count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM g GROUP BY 1, 2),
        |lastsid AS (SELECT user_id, max(sid) AS max_sid FROM sess GROUP BY 1)
        |SELECT sess.user_id AS user_id, start_us, end_us, n_events, sum_cents
        |FROM sess JOIN lastsid ON sess.user_id = lastsid.user_id CROSS JOIN m
        |WHERE sess.sid < lastsid.max_sid
        |   OR (end_us // 1000 + 1800000 < (m.max_us // 1000) - 1800000)
        |ORDER BY user_id, start_us""".stripMargin,

    // mapGroupsWithState MERGE state: max-seq change wins per key
    // (seq = event_id, unique); clicks are tombstones (st='', tp=0)
    "stream_cdc_state" ->
      """WITH c AS (SELECT event_id AS seq, user_id % 500 AS key, event_type, value FROM events),
        |r AS (SELECT key, seq, event_type, value,
        |  row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn FROM c)
        |SELECT key,
        |  CASE WHEN event_type = 'click' THEN '' ELSE event_type END AS st,
        |  CASE WHEN event_type = 'click' THEN 0.0 ELSE floor(value*100 + 0.5)/100 END AS tp,
        |  CAST(CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS BIGINT) AS alive
        |FROM r WHERE rn = 1 ORDER BY key""".stripMargin,

    // the streaming KMV's final state IS the batch sketch (set
    // function): k unsigned-minimal mix64(fnv64(user)) hashes,
    // (k−1)·2⁶⁴/kth estimator — q_kmv_distinct's replay, trimmed
    "stream_kmv_distinct" ->
      s"""WITH h AS (
        |  SELECT DISTINCT event_type, ${mixSql(fnvSql("CAST(user_id AS VARCHAR)"))} AS hu
        |  FROM events),
        |sk AS (
        |  SELECT event_type, hu,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hu) AS rn
        |  FROM h),
        |agg AS (
        |  SELECT event_type, max(hu) AS kth, count(*) AS n_sketch
        |  FROM sk WHERE rn <= 8 GROUP BY event_type)
        |SELECT event_type, CAST(n_sketch AS BIGINT) AS n_sketch,
        |  floor((CASE WHEN n_sketch < 8 THEN CAST(n_sketch AS DOUBLE)
        |              ELSE 7.0 * 1.8446744073709552e19 / CAST(kth AS DOUBLE) END)*100 + 0.5)/100 AS est_distinct
        |FROM agg ORDER BY event_type""".stripMargin,

    // the streaming HLL's final registers equal the batch registers
    // (merge = max): q_hll_distinct's exact register replay, trimmed
    "stream_hll_distinct" ->
      s"""WITH h AS (
        |  SELECT event_type, ${mixSql(fnvSql("CAST(user_id AS VARCHAR)"))} AS hu FROM events),
        |b AS (
        |  SELECT event_type,
        |    CAST(hu // 72057594037927936 AS BIGINT) AS bucket,
        |    CAST(hu % 72057594037927936 AS BIGINT) AS w
        |  FROM h),
        |r AS (
        |  SELECT event_type, bucket,
        |    max(CASE WHEN w = 0 THEN 57 ELSE 57 - length(bin(w)) END) AS m
        |  FROM b GROUP BY event_type, bucket),
        |f AS (
        |  SELECT event_type,
        |    sum(CAST(1 AS BIGINT) << (57 - m)) AS s_present,
        |    count(*) AS n_present
        |  FROM r GROUP BY event_type),
        |g AS (
        |  SELECT event_type,
        |    CAST(s_present + (256 - n_present) * CAST(144115188075855872 AS HUGEINT)
        |         AS DOUBLE) / 144115188075855872.0 AS hsum,
        |    CAST(256 - n_present AS BIGINT) AS v
        |  FROM f),
        |est AS (
        |  SELECT event_type, v,
        |    (0.7213/(1 + 1.079/256)) * 65536.0 / hsum AS e_raw
        |  FROM g)
        |SELECT event_type, v AS n_zero_regs,
        |  floor((CASE WHEN e_raw <= 640.0 AND v > 0
        |              THEN 256.0 * ln(256.0 / CAST(v AS DOUBLE)) ELSE e_raw END)*100 + 0.5)/100 AS est_distinct
        |FROM est ORDER BY event_type""".stripMargin,

    // stream-static enrichment: same join+rollup in batch SQL
    "stream_enrich_rollup" ->
      """SELECT coalesce(n.n_name, '<none>') AS nation, e.event_type,
        |  count(*) AS n_events,
        |  floor(CAST(sum(CAST((e.value) AS DECIMAL(27,10))) AS DOUBLE)*100 + 0.5)/100 AS sum_value
        |FROM events e
        |LEFT JOIN customer c ON c.c_custkey = e.user_id
        |LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
        |GROUP BY 1, 2 ORDER BY nation, event_type""".stripMargin,

    // final top-k state selected set-wise from the append emissions
    // (every emitted pair is a real event; every final member was
    // emitted) — the oracle is the plain batch top-5 per type
    "stream_topk_events" ->
      """SELECT event_type, CAST(rnk AS BIGINT) AS rnk, event_id,
        |  floor(value*100 + 0.5)/100 AS value
        |FROM (SELECT event_type, event_id, value,
        |        row_number() OVER (PARTITION BY event_type
        |          ORDER BY value DESC, event_id) AS rnk
        |      FROM events) t
        |WHERE rnk <= 5 ORDER BY event_type, rnk""".stripMargin,

    // the frozen quantizer replayed: decimal-exact BASE-corpus
    // centroids (vec_id % 10 <> 0), arriving tenth assigned by argmax
    // at 1e-6-rounded cosine, ties to the lower cell — identical to
    // the ann_incremental_topk index CTEs
    "stream_ivf_ingest" ->
      """WITH e AS (
        |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |c AS (
        |  SELECT label, pos,
        |    CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE)/count(*) AS m
        |  FROM e WHERE vec_id % 10 <> 0 GROUP BY label, pos),
        |cent AS (SELECT CAST(label AS INTEGER) AS cell, list(m ORDER BY pos) AS centroid FROM c GROUP BY label),
        |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 10 = 0),
        |scored AS (
        |  SELECT vec_id, cell,
        |    floor((list_cosine_similarity(v, centroid))*1000000 + 0.5)/1000000 AS sim
        |  FROM emb CROSS JOIN cent)
        |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
        |  FROM scored) t
        |WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // the HNSW attach replayed whole AT THE SCHEDULE-FLOOR DIAL
    // (r12 verdict #1 — (60, 15) at the gate, context-resolved to
    // the schedule's real choice on bigger corpora): literal
    // hyperplanes, band collisions of the arriving tenth against the
    // base split, exact cosines in the identical accumulation order,
    // top-M at (1e-6-rounded sim, nbr asc), per-arrival candidate
    // count, LEFT JOIN from the arrival split with (0, 0, -1, 0.0)
    // sentinels so the row set is the arrival split by construction
    "stream_hnsw_ingest" -> streamHnswIngestOracle,

    // on bands where the prior cap never binds, the streaming alert
    // pair set (canonicalized unordered) IS the full LSH candidate
    // set — the whole minhash index replays through the shared CTEs,
    // then all pairs of every 2..cap-occupancy bucket
    "stream_neardup_alerts" ->
      s"""WITH $minhashCoreCtes,
        |bn AS (SELECT b, bk, count(*) AS n FROM bandk GROUP BY b, bk),
        |okb AS (SELECT b, bk FROM bn
        |  WHERE n >= 2 AND n <= ${graft.streaming.Streams.MaxPriorsPerBand}),
        |pr AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
        |  FROM bandk a
        |  JOIN bandk b2 ON a.b = b2.b AND a.bk = b2.bk AND a.doc_id < b2.doc_id
        |  JOIN okb ON okb.b = a.b AND okb.bk = a.bk)
        |SELECT doc_a, doc_b FROM pr ORDER BY doc_a, doc_b""".stripMargin,

    // ---- §2.H sources & sinks: the engine writes through a real sink
    // and reads back through the matching source; the oracle runs the
    // same aggregate over the ORIGINAL parquet, so a hash pass proves
    // the round-trip lost nothing ----

    "src_csv_roundtrip" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST((l_quantity) AS DECIMAL(27,10))) AS DOUBLE) AS sum_qty,
        |  floor(CAST(sum(CAST((l_extendedprice * (1.0 - l_discount)) AS DECIMAL(27,10))) AS DOUBLE)*100 + 0.5)/100 AS disc_price
        |FROM lineitem WHERE l_quantity < 25.0
        |GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // the avro round trip judged against the ORIGINAL parquet: the
    // planted union-null rows (okey%9==4) count closed-form, the
    // rest must survive the container blocks + per-file codecs
    // bit-identically in values AND cardinality
    "src_avro_roundtrip" ->
      """SELECT o_orderstatus AS status, count(*) AS n,
        |  CAST(sum(CASE WHEN o_orderkey % 9 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_priority,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
        |  floor(CAST(sum(CAST((o_totalprice) AS DECIMAL(27,10))) AS DOUBLE)*100 + 0.5)/100 AS sum_total,
        |  strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS last_odate
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin,

    "src_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST((l_quantity) AS DECIMAL(27,10))) AS DOUBLE) AS sum_qty,
        |  floor(CAST(sum(CAST((l_extendedprice * (1.0 - l_discount)) AS DECIMAL(27,10))) AS DOUBLE)*100 + 0.5)/100 AS disc_price,
        |  strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS last_ship
        |FROM lineitem WHERE l_extendedprice >= 1000.0
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    // PERMISSIVE quarantine semantics replayed: the good group is the
    // original table's rollup; the corrupt group is the three hostile
    // lines with Spark's parsed-prefix rule (orderkey/status parse,
    // price only where the token was numeric → 1.5), blank line
    // skipped by the reader entirely
    "src_csv_malformed" ->
      """SELECT false AS corrupt, count(*) AS n, count(*) AS n_keys,
        |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_status,
        |  floor(CAST(sum(CAST((o_totalprice) AS DECIMAL(27,10))) AS DOUBLE)*100 + 0.5)/100 AS total
        |FROM orders
        |UNION ALL
        |SELECT true AS corrupt, CAST(3 AS BIGINT) AS n, CAST(3 AS BIGINT) AS n_keys,
        |  CAST(3 AS BIGINT) AS n_status, 1.5 AS total
        |ORDER BY corrupt""".stripMargin,

    "src_json_roundtrip" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  floor(CAST(sum(CAST((o_totalprice) AS DECIMAL(27,10))) AS DOUBLE)*100 + 0.5)/100 AS total,
        |  count(DISTINCT o_custkey) AS n_cust
        |FROM orders GROUP BY 1, 2 ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "src_partitioned_sink" ->
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
        |  count(*) AS n,
        |  floor(CAST(sum(CAST((o_totalprice) AS DECIMAL(27,10))) AS DOUBLE)*100 + 0.5)/100 AS total
        |FROM orders WHERE o_orderstatus = 'F' GROUP BY 1 ORDER BY month""".stripMargin,

    // text-dir round-trip: doc text re-splits at newlines on read; the
    // whitespace-token multiset is invariant under line re-splitting
    "src_text_dir" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents) t
        |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin,

    "src_object_store" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  floor(CAST(sum(CAST((o_totalprice) AS DECIMAL(27,10))) AS DOUBLE)*100 + 0.5)/100 AS total,
        |  count(DISTINCT o_orderkey) AS n_keys
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

    // v1 files (even keys) lack o_orderpriority; mergeSchema surfaces
    // them as NULL → the '<v1>' group
    "src_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority ELSE '<v1>' END AS priority,
        |  count(*) AS n,
        |  floor(CAST(sum(CAST((o_totalprice) AS DECIMAL(27,10))) AS DOUBLE)*100 + 0.5)/100 AS total
        |FROM orders GROUP BY 1 ORDER BY priority""".stripMargin,

    // bucketed round trip proven against the ORIGINAL parquet: the
    // join cardinality and decimal-exact revenue move if the bucketed
    // write or the co-located read drops/duplicates a row
    "src_bucketed_join" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderpriority FROM orders
        |  WHERE year(o_orderdate) = 1996)
        |SELECT o_orderpriority,
        |  count(DISTINCT o_orderkey) AS n_orders,
        |  count(*) AS n_lines,
        |  floor(CAST(sum(CAST((l_extendedprice * (1.0 - l_discount)) AS DECIMAL(27,10))) AS DOUBLE)*100 + 0.5)/100 AS revenue
        |FROM o JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the json reader's three corruption classes replayed closed-form
    // from the residues: truncated objects and type mismatches
    // quarantine (mismatches keep their PARTIAL siblings — Spark's
    // enablePartialResults semantics, pinned here: s survives, v
    // sums, k nulls), while missing fields are LEGAL JSON and must
    // land as plain NULLs outside the corrupt group
    "src_json_malformed" ->
      """WITH cls AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN doc_id % 12 IN (5, 8) THEN 'corrupt'
        |         WHEN doc_id % 12 = 10 THEN 'missing'
        |         ELSE 'valid' END AS cls
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT FALSE AS corrupt, FALSE AS missing_v,
        |    count(*) AS n, count(*) AS n_keys,
        |    count(DISTINCT 't' || CAST(id % 5 AS VARCHAR)) AS n_s,
        |    floor(CAST(sum(CAST((id % 7) * 1.25 AS DECIMAL(27,10))) AS DOUBLE)*100 + 0.5)/100 AS sum_v
        |  FROM cls WHERE cls = 'valid' HAVING count(*) > 0
        |  UNION ALL
        |  SELECT FALSE, TRUE, count(*), count(*),
        |    count(DISTINCT 't' || CAST(id % 5 AS VARCHAR)), 0.0
        |  FROM cls WHERE cls = 'missing' HAVING count(*) > 0
        |  UNION ALL
        |  SELECT TRUE, FALSE, count(*), CAST(0 AS BIGINT),
        |    count(DISTINCT CASE WHEN id % 12 = 8 THEN 't' || CAST(id % 5 AS VARCHAR) END),
        |    floor((0.5 * count(CASE WHEN id % 12 = 8 THEN 1 END))*100 + 0.5)/100
        |  FROM cls WHERE cls = 'corrupt' HAVING count(*) > 0)
        |ORDER BY corrupt, missing_v""".stripMargin,

    // the xml round trip judged against the ORIGINAL parquet: entity
    // escaping must survive both directions (the ' <&> ' tag lands in
    // min()), the nested contact element must re-read into its two
    // distinct-counts, doubles must re-parse to identical bits for
    // the acctbal filter and sum
    "src_xml_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  floor(CAST(sum(CAST(c_acctbal AS DECIMAL(27,10))) AS DOUBLE)*100 + 0.5)/100 AS sum_bal,
        |  count(DISTINCT 'c' || CAST(c_custkey % 97 AS VARCHAR)) AS n_codes,
        |  count(DISTINCT c_nationkey) AS n_nations,
        |  min(c_name || ' <&> ' || c_mktsegment) AS first_tag
        |FROM customer WHERE c_acctbal > 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // SequenceFile rollup on the ORIGINAL parquet: totals travel as
    // Double.toString shortest-roundtrip decimals, so parse-back is
    // bit-identical and the decimal xsum matches exactly
    "src_sequencefile" ->
      """SELECT o_orderstatus AS status, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(27,10))) AS DOUBLE) AS total_price,
        |  strftime(max(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS last_odate
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // the warc walk replayed closed-form from the residues: %9==4
    // records (corrupted Content-Length) are ABSENT — the reader
    // dropped them and resynced; %9==7 records are present but
    // invalid with a NULL type; %5==0 payloads carry the embedded
    // WARC/ trap line whose 19 bytes and 2 tokens land in
    // content_length/n_tokens — a reader that split on it would
    // shred both
    "src_warc_records" ->
      """WITH w AS (
        |  SELECT doc_id AS id FROM documents
        |  WHERE doc_id % 7 = 6 AND doc_id % 9 <> 4)
        |SELECT id AS uri_id,
        |  CASE WHEN id % 9 = 7 THEN NULL
        |       WHEN id % 3 = 0 THEN 'response'
        |       WHEN id % 3 = 1 THEN 'request' ELSE 'metadata' END AS warc_type,
        |  CAST(5 + length(CAST(id AS VARCHAR)) + 4 * (id % 11)
        |    + CASE WHEN id % 5 = 0 THEN 19 ELSE 0 END AS BIGINT) AS content_length,
        |  (id % 5 = 0) AS has_marker,
        |  CAST(2 + (id % 11) + CASE WHEN id % 5 = 0 THEN 2 ELSE 0 END AS BIGINT) AS n_tokens,
        |  (id % 9 <> 7) AS valid
        |FROM w ORDER BY uri_id""".stripMargin,

    // the gzip-member walk replayed closed-form: %9==4 members
    // (flipped deflate byte → CRC fail) are ABSENT — the reader
    // dropped the MEMBER and resynced at the next member magic, so
    // every other record in the same file still lands; envelopes are
    // all well-formed here (the corruption lives one layer down),
    // so valid is uniformly true and warc_type always present
    "src_warc_gz" ->
      """WITH w AS (
        |  SELECT doc_id AS id FROM documents
        |  WHERE doc_id % 7 = 5 AND doc_id % 9 <> 4)
        |SELECT id AS uri_id,
        |  CASE WHEN id % 3 = 0 THEN 'response'
        |       WHEN id % 3 = 1 THEN 'request' ELSE 'metadata' END AS warc_type,
        |  CAST(5 + length(CAST(id AS VARCHAR)) + 4 * (id % 11)
        |    + CASE WHEN id % 5 = 0 THEN 19 ELSE 0 END AS BIGINT) AS content_length,
        |  (id % 5 = 0) AS has_marker,
        |  CAST(2 + (id % 11) + CASE WHEN id % 5 = 0 THEN 2 ELSE 0 END AS BIGINT) AS n_tokens,
        |  TRUE AS valid
        |FROM w ORDER BY uri_id""".stripMargin,

    // both codecs must decompress to the byte-identical stream: the
    // per-codec rows are the SAME closed-form line/token/prefix
    // accounting over documents (each doc reads back as nl(text)+1
    // lines — the writer terminates records, embedded newlines
    // re-split, empty lines are KEPT by the text source)
    "src_compressed_text" ->
      """WITH l AS (
        |  SELECT unnest(string_split(text, chr(10))) AS line FROM documents),
        |agg AS (
        |  SELECT count(*) AS n_lines,
        |    (SELECT CAST(count(*) AS BIGINT)
        |     FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS w
        |           FROM documents) t WHERE w <> '') AS n_tokens,
        |    count(DISTINCT CASE WHEN line <> '' THEN substring(line, 1, 16) END) AS n_prefixes
        |  FROM l)
        |SELECT codec, n_lines, n_tokens, n_prefixes
        |FROM (SELECT 'bzip2' AS codec UNION ALL SELECT 'gzip') c
        |CROSS JOIN agg ORDER BY codec""".stripMargin,

    // the fixed-width round trip judged against the ORIGINAL parquet:
    // implied-decimal cents reconstruct exactly (integer sums, zero
    // rounding), the record-END date filter catches any upstream
    // width shear
    "src_fixedwidth" ->
      """SELECT l_returnflag AS rf, l_linestatus AS ls, count(*) AS n,
        |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_price_c,
        |  count(DISTINCT l_orderkey) AS n_okeys
        |FROM lineitem WHERE strftime(l_shipdate, '%Y%m%d') >= '19940101'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the FnvBloom sketch replayed END-TO-END: benchmark bit set from
    // the fnv64→mix64 double-hash probes, per-gram all-k membership,
    // per-doc flag counts — false positives INCLUDED (they are a
    // deterministic function of the sketch, which is what makes a
    // Bloom filter hashable at all)
    "text_bloom_decontaminate" -> bloomOracleSql(allDocs = false),

    // the streaming admission face: same sketch replay over ALL
    // arriving docs (admit = n_flagged 0), no flagged-only filter
    "stream_decontaminate" -> bloomOracleSql(allDocs = true),
  )

  /** `dedup_minhash_lsh` replayed END-TO-END in DuckDB — the whole
    * LSH index, not just the verified output: FNV-1a 3-gram shingles
    * (same HUGEINT mod-2^64 reduce as the winnow/simhash oracles),
    * the splitmix64 salt mix behind MinHashSigExpr, signed min per
    * permutation, 16×4 banding, and exact Jaccard ≥ 0.5 verification
    * of the colliding pairs. Two mechanical notes:
    *
    *  - the mod-2^64 MULTIPLIES are split into 32-bit halves:
    *    both splitmix constants are ≈2^64, so a direct HUGEINT
    *    product of two 64-bit operands would overflow 128-bit signed
    *    ((a·b) mod 2^64 = (aˡbˡ + ((aˡbʰ + aʰbˡ) mod 2^32)·2^32)
    *    mod 2^64 — every intermediate < 2^65);
    *  - Spark keys bands on xxhash64(band, slice-as-string); the
    *    oracle groups on (band, slice-as-string) directly — the same
    *    partition of documents, minus the astronomically unlikely
    *    xxhash collision.
    *
    * The 64 salt literals are the same Random(42) draw the Spark
    * expression uses, emitted unsigned. */
  /** The seeded random hyperplanes behind `ann_lsh_topk` /
    * `dedup_embedding`, emitted as a DuckDB list-of-lists literal.
    * Scala's `Double.toString` is the shortest round-trip
    * representation, and DuckDB parses decimal literals to the
    * nearest double — so the planes are bit-identical on both
    * engines, and every dot product below them is too (both engines
    * accumulate left-to-right over index order in doubles). */
  private def planesLiteral(h: Int): String =
    graft.functions.Hashes.hyperplanes(h, 64)
      .map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")

  /** `ann_lsh_topk` replayed end-to-end: 48 sign-projection bits from
    * the literal planes, 12×4-bit band collision candidates, exact
    * cosine re-scoring, rank by (rounded sim, nid). The cosine is the
    * same three left-to-right double accumulations as the native
    * CosineSim expression, so similarity values match bit for bit. */
  /** The banded-LSH index replay through exact candidate cosines
    * (CTE `cos`) — shared by [[annLshOracle]] (top-k serve path) and
    * the `ann_radius_search` oracle (threshold serve path): one
    * index, two APIs, provably the same candidates. */
  private def lshCosCtes: String = {
    s"""pl AS (SELECT ${planesLiteral(operators.AnnOps.LshPlanes)} AS w),
       |e AS (SELECT vec_id, embedding FROM embeddings),
       |d AS (
       |  SELECT vec_id, p,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      [CAST(embedding[i] AS DOUBLE) * w[p][i] for i in generate_series(1, 64)]),
       |      (a, b) -> a + b) AS dot
       |  FROM e, pl, (SELECT unnest(generate_series(1, ${operators.AnnOps.LshPlanes})) AS p)),
       |bv AS (
       |  SELECT vec_id, (p - 1) // ${operators.AnnOps.LshBandBits} AS b,
       |    sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << ((p - 1) % ${operators.AnnOps.LshBandBits})) ELSE 0 END) AS val
       |  FROM d GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT pr.vec_id AS pid, c.vec_id AS nid
       |  FROM bv pr JOIN bv c ON pr.b = c.b AND pr.val = c.val
       |  WHERE pr.vec_id < ${operators.AnnOps.NumProbes} AND c.vec_id <> pr.vec_id),
       |cos AS (
       |  SELECT cand.pid, cand.nid,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      [CAST(a.embedding[i] AS DOUBLE) * CAST(bb.embedding[i] AS DOUBLE) for i in generate_series(1, 64)]),
       |      (x, y) -> x + y)
       |    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        [CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE) for i in generate_series(1, 64)]),
       |        (x, y) -> x + y))
       |       * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        [CAST(bb.embedding[i] AS DOUBLE) * CAST(bb.embedding[i] AS DOUBLE) for i in generate_series(1, 64)]),
       |        (x, y) -> x + y))) AS sim
       |  FROM cand JOIN e a ON a.vec_id = cand.pid JOIN e bb ON bb.vec_id = cand.nid)""".stripMargin
  }

  /** The exact cross-set contamination span chain (suffix sort →
    * adjacent LCPs → segmented scans → maximal spans), shared by the
    * `text_decontaminate_spans` rollup and the `text_cut_contaminated`
    * reconstruction. Positions are 1-based here (list slices);
    * span semantics match the engine's 0-based ones because only
    * differences and containment are consumed. */
  private def contamSpanCtes: String =
    """toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
      |  FROM documents),
      |sufs AS (
      |  SELECT doc_id, u.s['i'] AS pos, CAST(len(tk) AS BIGINT) AS len, tk[u.s['i']:] AS suf,
      |    (doc_id % 10 = 9) AS mark
      |  FROM (SELECT doc_id, tk, unnest([{'i': i} for i in generate_series(1, len(tk))]) AS s
      |        FROM toks WHERE len(tk) > 0) u),
      |ordx AS (
      |  SELECT doc_id, pos, len, mark, suf,
      |    row_number() OVER (ORDER BY suf, doc_id, pos) AS rn,
      |    lag(suf) OVER (ORDER BY suf, doc_id, pos) AS psuf
      |  FROM sufs),
      |lp AS (
      |  SELECT doc_id, pos, len, mark, rn,
      |    CASE WHEN psuf IS NULL THEN NULL ELSE
      |      coalesce(nullif(list_position(list_transform(range(1, least(len(suf), len(psuf)) + 1),
      |        i -> suf[i] IS DISTINCT FROM psuf[i]), true), 0) - 1,
      |        least(len(suf), len(psuf))) END AS lcp_prev
      |  FROM ordx),
      |scan AS (
      |  SELECT *,
      |    lead(lcp_prev) OVER (ORDER BY rn) AS lcp_next,
      |    coalesce(sum(CASE WHEN mark THEN 1 ELSE 0 END) OVER (ORDER BY rn
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS segu,
      |    coalesce(sum(CASE WHEN mark THEN 1 ELSE 0 END) OVER (ORDER BY rn DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS segd
      |  FROM lp),
      |reach AS (
      |  SELECT doc_id, pos, len, mark,
      |    CASE WHEN segu >= 1 THEN min(lcp_prev) OVER (PARTITION BY segu ORDER BY rn
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) END AS aup,
      |    CASE WHEN segd >= 1 THEN min(lcp_next) OVER (PARTITION BY segd ORDER BY rn DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) END AS adn
      |  FROM scan),
      |mx0 AS (
      |  SELECT doc_id, pos, len, greatest(aup, adn) AS m
      |  FROM reach WHERE NOT mark AND greatest(aup, adn) >= 5),
      |g AS (
      |  SELECT doc_id, pos, len, m,
      |    CASE WHEN max(pos + m) OVER (PARTITION BY doc_id ORDER BY pos
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |         OR pos > max(pos + m) OVER (PARTITION BY doc_id ORDER BY pos
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |    THEN 1 ELSE 0 END AS brk
      |  FROM mx0),
      |g2 AS (SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM g),
      |spans AS (
      |  SELECT doc_id, grp, min(pos) AS st, max(pos + m) AS en, max(m) AS mx, max(len) AS len
      |  FROM g2 GROUP BY 1, 2)""".stripMargin

  /** DuckDB cosine between two embedding-table aliases — the same
    * three left-to-right double accumulations as the native
    * CosineSim expression (bit-identical cross-engine). */
  private def cosEmbSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      [CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE) for i in generate_series(1, 64)]),
       |      (x, y) -> x + y)
       |    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        [CAST($a.embedding[i] AS DOUBLE) * CAST($a.embedding[i] AS DOUBLE) for i in generate_series(1, 64)]),
       |        (x, y) -> x + y))
       |       * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        [CAST($b.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE) for i in generate_series(1, 64)]),
       |        (x, y) -> x + y)))""".stripMargin

  /** `ann_hnsw_topk` replayed end-to-end: the same 48-plane/12-band
    * signatures produce corpus-corpus band candidates, top-M per
    * node by (rounded sim, dst) forms the pruned edge list,
    * bidirectionalized; then the UNROLLED fixed-depth beam search
    * (entries → 3 × expand/score/top-Beam → final top-k). The
    * oracle pre-computes probe→node sims brute-force (oracle-scale
    * liberty); the engine only ever scores visited nodes. */
  private def annHnswOracle: String = {
    val (m, beam, k) = (operators.HnswOps.M,
      operators.HnswOps.Beam, operators.AnnOps.K)
    def hop(i: Int): String =
      s"""x$i AS (
         |  SELECT DISTINCT b.pid, ed.dst AS nid FROM bs${i - 1} b JOIN edges ed ON ed.src = b.nid
         |  UNION SELECT pid, nid FROM bs${i - 1}),
         |bs$i AS (
         |  SELECT pid, nid, sim FROM (
         |    SELECT x$i.pid, x$i.nid, psim.sim,
         |      row_number() OVER (PARTITION BY x$i.pid
         |        ORDER BY floor(psim.sim*1000000 + 0.5)/1000000 DESC, x$i.nid ASC) AS rn
         |    FROM x$i JOIN psim ON psim.pid = x$i.pid AND psim.nid = x$i.nid)
         |  WHERE rn <= $beam)""".stripMargin
    s"""WITH pl AS (SELECT ${planesLiteral(operators.AnnOps.LshPlanes)} AS w),
       |e AS (SELECT vec_id, embedding FROM embeddings),
       |e0 AS (
       |  SELECT vec_id, label, [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)] AS raw
       |  FROM embeddings),
       |$ivfCellCtes,
       |med AS (
       |  SELECT vec_id FROM (
       |    SELECT a.cell, a.vec_id,
       |      row_number() OVER (PARTITION BY a.cell ORDER BY d.sim DESC, a.vec_id) AS rn
       |    FROM assigned a JOIN cdist d ON d.vec_id = a.vec_id AND d.cell = a.cell) t
       |  WHERE rn = 1),
       |d AS (
       |  SELECT vec_id, p,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      [CAST(embedding[i] AS DOUBLE) * w[p][i] for i in generate_series(1, 64)]),
       |      (a, b) -> a + b) AS dot
       |  FROM e, pl, (SELECT unnest(generate_series(1, ${operators.AnnOps.LshPlanes})) AS p)),
       |bv AS (
       |  SELECT vec_id, (p - 1) // ${operators.AnnOps.LshBandBits} AS b,
       |    sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << ((p - 1) % ${operators.AnnOps.LshBandBits})) ELSE 0 END) AS val
       |  FROM d GROUP BY 1, 2),
       |bsq AS (
       |  SELECT vec_id, b, val, row_number() OVER (PARTITION BY b, val ORDER BY vec_id) AS i
       |  FROM bv),
       |cpair AS (
       |  SELECT DISTINCT a.vec_id AS src, c.vec_id AS dst
       |  FROM bsq a JOIN bsq c ON a.b = c.b AND a.val = c.val
       |  WHERE a.vec_id <> c.vec_id
       |    AND least(a.i, c.i) <= ${operators.HnswOps.BuildCap}),
       |csim AS (
       |  SELECT cpair.src, cpair.dst, ${cosEmbSql("sa", "sb")} AS sim
       |  FROM cpair JOIN e sa ON sa.vec_id = cpair.src JOIN e sb ON sb.vec_id = cpair.dst),
       |em AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |      ORDER BY floor(sim*1000000 + 0.5)/1000000 DESC, dst ASC) AS rn
       |    FROM csim) WHERE rn <= $m),
       |edges AS (SELECT DISTINCT * FROM (
       |  SELECT src, dst FROM em UNION ALL SELECT dst AS src, src AS dst FROM em)),
       |probes AS (SELECT vec_id AS pid FROM e WHERE vec_id < ${operators.AnnOps.NumProbes}),
       |psim AS (
       |  SELECT pa.vec_id AS pid, pc.vec_id AS nid, ${cosEmbSql("pa", "pc")} AS sim
       |  FROM e pa JOIN probes ON probes.pid = pa.vec_id, e pc),
       |bs0 AS (
       |  SELECT psim.pid, psim.nid, psim.sim FROM psim
       |  WHERE psim.nid IN (SELECT vec_id FROM med)),
       |${hop(1)},
       |${hop(2)},
       |${hop(3)}
       |SELECT pid, CAST(rnk AS BIGINT) AS rnk, nid, floor(sim*10000 + 0.5)/10000 AS sim
       |FROM (
       |  SELECT pid, nid, sim,
       |    row_number() OVER (PARTITION BY pid
       |      ORDER BY floor(sim*1000000 + 0.5)/1000000 DESC, nid ASC) AS rnk
       |  FROM bs3 WHERE nid <> pid)
       |WHERE rnk <= $k ORDER BY pid, rnk""".stripMargin
  }

  /** `ann_lsh_scheduled_mass` replayed end-to-end at the SCHEDULED
    * geometry (r11 what's-missing #1): the same literal-plane sign
    * signature as the LSH family, but at the schedule-floor dial
    * [[operators.AnnOps.lshScheduleFloorGeometry]] — (60, 15) at the
    * gate, context-resolved to the real n-aware choice on bigger
    * corpora — then per band the distinct keys, items, deepest
    * bucket, and Σ C(bucket, 2) admitted pair mass. Integer DIV on
    * both engines keeps the pair count exact at any depth. */
  private def annLshScheduledMassOracle: String =
    lshMassAuditOracle(operators.AnnOps.lshScheduleFloorGeometry)

  /** `ann_lsh_multiword_mass` (r12 what's-missing #1): the identical
    * replay at the schedule's multi-word exit tier (320, 32) — the
    * oracle's global `(p-1)//bits` band rule is geometry-parametric
    * by construction, so the 5-word engine signature's per-word
    * shift/mask extraction is judged against the same arithmetic at
    * every dial. */
  private def annLshMultiwordMassOracle: String =
    lshMassAuditOracle((operators.AnnOps.MultiWordPlanes,
      operators.AnnOps.MultiWordBandBits))

  private def lshMassAuditOracle(geo: (Int, Int)): String = {
    val (planes, bandBits) = geo
    s"""WITH pl AS (SELECT ${planesLiteral(planes)} AS w),
       |e AS (SELECT vec_id, embedding FROM embeddings),
       |d AS (
       |  SELECT vec_id, p,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      [CAST(embedding[i] AS DOUBLE) * w[p][i] for i in generate_series(1, 64)]),
       |      (a, b) -> a + b) AS dot
       |  FROM e, pl, (SELECT unnest(generate_series(1, $planes)) AS p)),
       |bv AS (
       |  SELECT vec_id, (p - 1) // $bandBits AS band,
       |    sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << ((p - 1) % $bandBits)) ELSE 0 END) AS val
       |  FROM d GROUP BY 1, 2),
       |bk AS (SELECT band, val, count(*) AS c FROM bv GROUP BY 1, 2)
       |SELECT CAST(band AS BIGINT) AS band, count(*) AS n_keys,
       |  CAST(sum(c) AS BIGINT) AS n_items, CAST(max(c) AS BIGINT) AS max_bucket,
       |  CAST(sum(c*(c-1)//2) AS BIGINT) AS pair_mass,
       |  CAST(min(val) AS BIGINT) AS key_min,
       |  CAST(max(val) AS BIGINT) AS key_max,
       |  CAST(sum(val) AS BIGINT) AS key_sum
       |FROM bk GROUP BY band ORDER BY band""".stripMargin
  }

  /** `stream_hnsw_ingest` replayed end-to-end at the attach path's
    * SCHEDULE-FLOOR dial ([[operators.HnswOps.attachGeometryFor]] —
    * the same accessor discipline as the scheduled-mass row): band
    * collisions of the arriving tenth against the base split, exact
    * cosines, per-arrival distinct-candidate count, top-M edges,
    * LEFT JOIN from the full arrival split with the engine's
    * (0, 0, -1, 0.0) sentinels for collision-free arrivals. */
  private def streamHnswIngestOracle: String = {
    val (planes, bandBits) = operators.AnnOps.lshScheduleFloorGeometry
    s"""WITH pl AS (SELECT ${planesLiteral(planes)} AS w),
      |e AS (SELECT vec_id, embedding FROM embeddings),
      |d AS (
      |  SELECT vec_id, p,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      [CAST(embedding[i] AS DOUBLE) * w[p][i] for i in generate_series(1, 64)]),
      |      (a, b) -> a + b) AS dot
      |  FROM e, pl, (SELECT unnest(generate_series(1, $planes)) AS p)),
      |bv AS (
      |  SELECT vec_id, (p - 1) // $bandBits AS b,
      |    sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << ((p - 1) % $bandBits)) ELSE 0 END) AS val
      |  FROM d GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS vid, c.vec_id AS nbr
      |  FROM bv a JOIN bv c ON a.b = c.b AND a.val = c.val
      |  WHERE a.vec_id % 10 = 0 AND c.vec_id % 10 <> 0 AND c.vec_id <> a.vec_id),
      |nc AS (SELECT vid, count(*) AS n_cands FROM cand GROUP BY vid),
      |cos AS (
      |  SELECT cand.vid, cand.nbr,
      |    floor((list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      [CAST(a.embedding[i] AS DOUBLE) * CAST(bb.embedding[i] AS DOUBLE) for i in generate_series(1, 64)]),
      |      (x, y) -> x + y)
      |    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        [CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE) for i in generate_series(1, 64)]),
      |        (x, y) -> x + y))
      |       * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        [CAST(bb.embedding[i] AS DOUBLE) * CAST(bb.embedding[i] AS DOUBLE) for i in generate_series(1, 64)]),
      |        (x, y) -> x + y))))*1000000 + 0.5)/1000000 AS sim_r
      |  FROM cand JOIN e a ON a.vec_id = cand.vid JOIN e bb ON bb.vec_id = cand.nbr),
      |rk AS (
      |  SELECT vid, nbr, sim_r,
      |    row_number() OVER (PARTITION BY vid ORDER BY sim_r DESC, nbr) AS rnk
      |  FROM cos),
      |topm AS (SELECT vid, nbr, sim_r, rnk FROM rk
      |  WHERE rnk <= ${operators.HnswOps.M}),
      |arr AS (SELECT vec_id FROM embeddings WHERE vec_id % 10 = 0)
      |SELECT arr.vec_id,
      |  CAST(COALESCE(nc.n_cands, 0) AS BIGINT) AS n_cands,
      |  CAST(COALESCE(topm.rnk, 0) AS BIGINT) AS rnk,
      |  CAST(COALESCE(topm.nbr, -1) AS BIGINT) AS nbr,
      |  COALESCE(topm.sim_r, 0.0) AS sim_r
      |FROM arr
      |LEFT JOIN topm ON topm.vid = arr.vec_id
      |LEFT JOIN nc ON nc.vid = arr.vec_id
      |ORDER BY vec_id, rnk""".stripMargin
  }

  private def annLshOracle: String =
    s"""WITH $lshCosCtes,
       |rk AS (
       |  SELECT pid, nid, sim,
       |    row_number() OVER (PARTITION BY pid
       |      ORDER BY floor(sim*1000000 + 0.5)/1000000 DESC, nid ASC) AS rnk
       |  FROM cos)
       |SELECT pid, CAST(rnk AS BIGINT) AS rnk, nid, floor(sim*10000 + 0.5)/10000 AS sim
       |FROM rk WHERE rnk <= ${operators.AnnOps.K} ORDER BY pid, rnk""".stripMargin

  /** `ann_radius_search`: the same replayed index, thresholded
    * instead of ranked. */
  private def annRadiusOracle: String =
    s"""WITH $lshCosCtes
       |SELECT pid, nid, floor(sim*10000 + 0.5)/10000 AS sim
       |FROM cos WHERE sim >= ${operators.AnnOps.RadiusTau}
       |ORDER BY pid, nid""".stripMargin

  /** The 3-iteration exact Lloyd's assignment replay (init =
    * vec_id < 8, decimal-exact distances and means, ties to the lower
    * cluster) — a3 holds (vec_id, cluster, d2, rn); rn = 1 is the
    * final assignment. Shared by `emb_kmeans` and `dedup_semantic`. */
  private def kmeansAssignCtes: String =
    s"""e AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS val
      |  FROM embeddings),
      |c0 AS (SELECT vec_id AS cluster, dim, val FROM e WHERE vec_id < ${operators.KMeansOps.K}),
      |d1 AS (
      |  SELECT e.vec_id, c.cluster,
      |    CAST(sum(CAST((e.val - c.val)*(e.val - c.val) AS DECIMAL(27,10))) AS DOUBLE) AS d2
      |  FROM e JOIN c0 c USING (dim) GROUP BY e.vec_id, c.cluster),
      |a1 AS (
      |  SELECT vec_id, cluster, d2,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn FROM d1),
      |c1 AS (
      |  SELECT a.cluster, e.dim,
      |    CAST(sum(CAST(e.val AS DECIMAL(27,10))) AS DOUBLE)/count(*) AS val
      |  FROM e JOIN a1 a ON e.vec_id = a.vec_id AND a.rn = 1 GROUP BY a.cluster, e.dim),
      |d2_ AS (
      |  SELECT e.vec_id, c.cluster,
      |    CAST(sum(CAST((e.val - c.val)*(e.val - c.val) AS DECIMAL(27,10))) AS DOUBLE) AS d2
      |  FROM e JOIN c1 c USING (dim) GROUP BY e.vec_id, c.cluster),
      |a2 AS (
      |  SELECT vec_id, cluster, d2,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn FROM d2_),
      |c2 AS (
      |  SELECT a.cluster, e.dim,
      |    CAST(sum(CAST(e.val AS DECIMAL(27,10))) AS DOUBLE)/count(*) AS val
      |  FROM e JOIN a2 a ON e.vec_id = a.vec_id AND a.rn = 1 GROUP BY a.cluster, e.dim),
      |d3 AS (
      |  SELECT e.vec_id, c.cluster,
      |    CAST(sum(CAST((e.val - c.val)*(e.val - c.val) AS DECIMAL(27,10))) AS DOUBLE) AS d2
      |  FROM e JOIN c2 c USING (dim) GROUP BY e.vec_id, c.cluster),
      |a3 AS (
      |  SELECT vec_id, cluster, d2,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn FROM d3)""".stripMargin

  /** `emb_pca_power`'s 3-round power iteration replayed in SQL —
    * decimal-exact mean, projections and update sums (order-free), the
    * driver's left-to-right norm fold as `list_reduce(list(w*w ORDER
    * BY dim))`, v₀ = the exact-binary 0.125, eigenvalue = final
    * ‖w‖/(n−1). Same determinism discipline as `emb_kmeans`'s unroll,
    * applied to the matrix-free power method. */
  private def pcaOracle: String = {
    val rounds = (1 to operators.PcaOps.Iters).map { k =>
      val prevV = if (k == 1) "CAST(0.125 AS DOUBLE)" else s"v${k - 1}.v"
      val join = if (k == 1) "" else s" JOIN v${k - 1} USING (dim)"
      s"""s$k AS (
         |  SELECT ce.vec_id, CAST(sum(CAST(ce.c * $prevV AS DECIMAL(27,10))) AS DOUBLE) AS s
         |  FROM ce$join GROUP BY ce.vec_id),
         |w$k AS (
         |  SELECT ce.dim, CAST(sum(CAST(s$k.s * ce.c AS DECIMAL(27,10))) AS DOUBLE) AS w
         |  FROM ce JOIN s$k USING (vec_id) GROUP BY ce.dim),
         |n$k AS (SELECT sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(w*w ORDER BY dim)), (a, b) -> a + b)) AS nrm FROM w$k),
         |v$k AS (SELECT dim, w / (SELECT nrm FROM n$k) AS v FROM w$k)""".stripMargin
    }.mkString(",\n")
    val last = s"v${operators.PcaOps.Iters}"
    val lastN = s"n${operators.PcaOps.Iters}"
    s"""WITH e AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
       |    CAST(unnest(embedding) AS DOUBLE) AS val
       |  FROM embeddings),
       |cnt AS (SELECT count(*) AS n FROM embeddings),
       |mu AS (
       |  SELECT dim, CAST(sum(CAST(val AS DECIMAL(27,10))) AS DOUBLE) / (SELECT n FROM cnt) AS mu
       |  FROM e GROUP BY dim),
       |ce AS (SELECT e.vec_id, e.dim, e.val - mu.mu AS c FROM e JOIN mu USING (dim)),
       |$rounds,
       |sc AS (
       |  SELECT ce.vec_id, CAST(sum(CAST(ce.c * $last.v AS DECIMAL(27,10))) AS DOUBLE) AS raw
       |  FROM ce JOIN $last USING (dim) GROUP BY ce.vec_id)
       |SELECT vec_id, floor(raw*1000000 + 0.5)/1000000 AS score,
       |  floor(abs(raw)*1000000 + 0.5)/1000000 AS abs_score,
       |  floor(((SELECT nrm FROM $lastN) / ((SELECT n FROM cnt) - 1))*10000 + 0.5)/10000 AS eigenvalue
       |FROM sc ORDER BY abs_score DESC, vec_id LIMIT ${operators.PcaOps.TopN}""".stripMargin
  }

  /** `text_bpe_train`'s 3 merge rounds replayed in SQL: the same
    * vocab-table shape (pair counts weighted by word frequency), the
    * same (count desc, pair asc) argmax, and the same greedy
    * left-to-right rewrite — the oracle's `list_reduce` fold is the
    * literal twin of the Scala merge UDF, so a just-merged symbol
    * re-matches (or doesn't) identically in both engines. */
  /** One batched training round as DuckDB CTEs (shared by
    * [[bpeOracle]] and [[bpeEncodeCtes]]): pair counts over the
    * round's vocab, the TopWindow ranked window, the disjointness
    * admission (a pair enters iff its {lhs, rhs, merged} strings
    * overlap NO higher-ranked window pair's — the engine's exact
    * rule, tie order = (count desc, lhs, rhs)), capped at BatchT;
    * then ONE greedy scan applying the whole batch (disjointness
    * makes the simultaneous scan equal to sequential application —
    * the mergeBatch contract BpeSpec pins). `withEncode` additionally
    * threads the per-(doc, word) symbol frame e$r. */
  private def bpeBatchRound(r: Int, withEncode: Boolean): String = {
    val fold =
      s"""list_reduce(
         |      list_prepend(CAST([] AS VARCHAR[]), list_transform(syms, x -> [x])),
         |      (acc, xl) -> CASE WHEN len(acc) > 0 AND
         |          list_contains(bl$r.ms, {'a': acc[-1], 'b': xl[1]})
         |        THEN list_append(acc[1:len(acc) - 1], acc[-1] || xl[1])
         |        ELSE list_concat(acc, xl) END) AS syms""".stripMargin
    val enc = if (!withEncode) "" else
      s""",
         |e$r AS MATERIALIZED (
         |  SELECT doc_id, n_chars, $fold
         |  FROM e${r - 1}, bl$r)""".stripMargin
    s"""pc$r AS MATERIALIZED (
       |  SELECT u.p['a'] AS a, u.p['b'] AS b, sum(u.cnt) AS pc
       |  FROM (SELECT cnt, unnest([{'a': syms[i], 'b': syms[i+1]}
       |          for i in generate_series(1, len(syms) - 1)]) AS p
       |        FROM s${r - 1}) u
       |  GROUP BY 1, 2),
       |w$r AS MATERIALIZED (
       |  SELECT a, b, pc, row_number() OVER (ORDER BY pc DESC, a, b) AS rn
       |  FROM (SELECT * FROM pc$r ORDER BY pc DESC, a, b LIMIT ${operators.BpeOps.TopWindow})),
       |sel$r AS MATERIALIZED (
       |  SELECT a, b, pc, rn, row_number() OVER (ORDER BY rn) AS bi
       |  FROM w$r w1
       |  WHERE NOT EXISTS (SELECT 1 FROM w$r w2 WHERE w2.rn < w1.rn AND (
       |      w2.a IN (w1.a, w1.b, w1.a || w1.b) OR
       |      w2.b IN (w1.a, w1.b, w1.a || w1.b) OR
       |      (w2.a || w2.b) IN (w1.a, w1.b, w1.a || w1.b)))
       |  QUALIFY bi <= ${operators.BpeOps.BatchT}),
       |bl$r AS MATERIALIZED (SELECT list({'a': a, 'b': b} ORDER BY bi) AS ms FROM sel$r),
       |s$r AS MATERIALIZED (
       |  SELECT $fold,
       |    cnt
       |  FROM s${r - 1}, bl$r)$enc""".stripMargin
  }

  private def bpeOracle: String = {
    val rounds = (1 to operators.BpeOps.Rounds)
      .map(bpeBatchRound(_, withEncode = false)).mkString(",\n")
    val out = (1 to operators.BpeOps.Rounds).map { r =>
      s"SELECT $r AS rnd, bi, a, b, pc FROM sel$r"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH w AS (
       |  SELECT u.t AS w, count(*) AS cnt
       |  FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS t
       |        FROM documents) u
       |  GROUP BY 1),
       |s0 AS MATERIALIZED (SELECT string_split(w, '') AS syms, cnt FROM w),
       |$rounds,
       |allsel AS (
       |  $out)
       |SELECT CAST(row_number() OVER (ORDER BY rnd, bi) AS BIGINT) AS rank,
       |  a AS lhs, b AS rhs, a || b AS merged, CAST(pc AS BIGINT) AS pair_count
       |FROM allsel ORDER BY rank""".stripMargin
  }

  /** Shared by `ann_bruteforce_topk` and its SQL-front-door twin
    * `q_sql_cosine_topk`. */
  /** The IVF index replay through the probe-cell ranking (CTE
    * `ranked`, plus `probes`/`emb` for reuse) — shared by
    * `ann_ivf_topk` and `ann_recall_panel`. */
  private def ivfRankedCtes: String =
    s"""$ivfIndexCtes,
      |cands AS (
      |  SELECT p.pid, a.vec_id AS nid, list_cosine_similarity(pr.pe, ev.v) AS sim
      |  FROM pcells p
      |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.pid
      |  JOIN probes pr ON pr.pid = p.pid
      |  JOIN emb ev ON ev.vec_id = a.vec_id),
      |ranked AS (SELECT pid, nid, sim,
      |  row_number() OVER (PARTITION BY pid ORDER BY floor((sim)*1000000 + 0.5)/1000000 DESC, nid) AS rnk FROM cands)""".stripMargin

  /** The IVF index structures alone — centroids, cell assignment,
    * probe cells, probes — shared with the composed ivf×bq oracles,
    * which swap the exact in-cell scan for a Hamming stage. */
  // interpolates AnnOps.NumProbes (r9 advice: a hardcoded
  // `vec_id < 10` here desyncs from a spec override — the composed
  // ivf×bq oracles mix this chain with accessor-driven CTEs, so BOTH
  // must read the accessor)
  private def ivfIndexCtes: String =
    s"""e AS (
      |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |c AS (
      |  SELECT label, pos,
      |    CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE)/count(*) AS m
      |  FROM e GROUP BY label, pos),
      |cent AS (SELECT CAST(label AS INTEGER) AS cell, list(m ORDER BY pos) AS centroid FROM c GROUP BY label),
      |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |scored AS (
      |  SELECT vec_id, cell,
      |    floor((list_cosine_similarity(v, centroid))*1000000 + 0.5)/1000000 AS sim
      |  FROM emb CROSS JOIN cent),
      |assigned AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
      |    FROM scored) t WHERE rn = 1),
      |pcells AS (
      |  SELECT vec_id AS pid, cell FROM (
      |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
      |    FROM scored WHERE vec_id < ${operators.AnnOps.NumProbes}) t WHERE rn <= ${operators.AnnOps.IvfProbeCells}),
      |probes AS (SELECT vec_id AS pid, v AS pe FROM emb WHERE vec_id < ${operators.AnnOps.NumProbes})""".stripMargin

  /** The two-32-bit-half sign-signature CTE over `emb` — shared by
    * the composed ivf×bq oracles (the `ann_bq_topk` discipline: a
    * single 64-bit word would set bit 63 and the engines diverge on
    * signed overflow). */
  private def bqSigCte: String =
    """sig AS (
      |  SELECT vec_id,
      |    CAST(list_sum([CASE WHEN v[i+1] > 0 THEN CAST(1 AS BIGINT) << i
      |                        ELSE CAST(0 AS BIGINT) END
      |                   for i in generate_series(0, 31)]) AS BIGINT) AS lo,
      |    CAST(list_sum([CASE WHEN v[i+33] > 0 THEN CAST(1 AS BIGINT) << i
      |                        ELSE CAST(0 AS BIGINT) END
      |                   for i in generate_series(0, 31)]) AS BIGINT) AS hi
      |  FROM emb)""".stripMargin

  private def bruteforceOracle: String =
    s"""WITH probes AS (SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS pe FROM embeddings WHERE vec_id < ${operators.AnnOps.NumProbes}),
      |sims AS (SELECT pid, e.vec_id AS nid,
      |  list_cosine_similarity(pe, CAST(e.embedding AS DOUBLE[])) AS sim
      |  FROM probes, embeddings e WHERE e.vec_id <> pid),
      |ranked AS (SELECT pid, nid, sim,
      |  row_number() OVER (PARTITION BY pid ORDER BY floor((sim)*1000000 + 0.5)/1000000 DESC, nid) AS rnk FROM sims)
      |SELECT pid, CAST(rnk AS BIGINT) AS rnk, nid, floor((sim)*10000 + 0.5)/10000 AS sim
      |FROM ranked WHERE rnk <= 5 ORDER BY pid, rnk""".stripMargin

  /** `text_perceptron_train`'s oracle: the FULL training unroll —
    * round 1 is the cold start (w₀ = 0 ⇒ everyone misclassified ⇒
    * w₁ = per-bucket Σy), each later round is a margin CTE, a
    * misclassified-set CTE, and an integer weight update folded into
    * the previous weight table. All 64-bit integer arithmetic: the
    * replay is exact, no rounding anywhere. */
  /** The per-status (count, total) view recomputed from the fully
    * merged snapshot — serves `q_merge_upsert` (which merges then
    * aggregates) and `q_ivm_maintain` (which maintains the same view
    * incrementally from deltas; equality against this recompute is
    * the IVM correctness statement). */
  private def mergeViewOracle: String =
    """WITH ch AS (
      |  SELECT o_orderkey AS key, 'update' AS op, 'X' AS st, o_totalprice * 1.1 AS tp
      |  FROM orders WHERE o_orderkey % 10 = 3
      |  UNION ALL
      |  SELECT o_orderkey, 'delete', NULL, NULL FROM orders WHERE o_orderkey % 100 = 7
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, 'insert', 'N', o_totalprice * 0.5
      |  FROM orders WHERE o_orderkey % 10 = 4),
      |m AS (
      |  SELECT
      |    CASE WHEN c.op = 'delete' THEN NULL
      |         WHEN c.op IS NOT NULL THEN c.st ELSE b.o_orderstatus END AS st,
      |    CASE WHEN c.op = 'delete' THEN NULL
      |         WHEN c.op IS NOT NULL THEN c.tp ELSE b.o_totalprice END AS tp
      |  FROM orders b FULL OUTER JOIN ch c ON b.o_orderkey = c.key)
      |SELECT st AS o_orderstatus, count(*) AS n_rows,
      |  floor(CAST(sum(CAST(tp AS DECIMAL(27,10))) AS DOUBLE)*100 + 0.5)/100 AS total_price
      |FROM m WHERE st IS NOT NULL GROUP BY st ORDER BY o_orderstatus""".stripMargin

  /** The 3-round LPA unroll over the support-≥2 co-purchase graph
    * (CTEs `e`, `sym`, `l0` … `l$R`) — shared by the
    * `q_label_propagation` oracle and `q_graph_modularity` (which
    * scores the SAME partition). */
  private def lpaCtes: String = {
    val rounds = (1 to operators.GraphOps.LpaRounds).map { t =>
      s"""l$t AS (
         |  SELECT u AS node, lbl FROM (
         |    SELECT s.u, l.lbl,
         |      row_number() OVER (PARTITION BY s.u ORDER BY count(*) DESC, l.lbl ASC) AS rk
         |    FROM sym s JOIN l${t - 1} l ON l.node = s.v
         |    GROUP BY s.u, l.lbl) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
       |l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM sym),
       |$rounds""".stripMargin
  }

  /** The perceptron training unroll's CTE chain (`f`, `w1` … `w$nr`)
    * — shared by [[perceptronOracle]] and [[perceptronGainsOracle]]
    * so the evaluation panel provably scores the SAME trained
    * weights as the training proof. */
  private def perceptronCoreCtes: String = {
    val bkts = operators.ModelOps.PercBuckets
    val nr = operators.ModelOps.PercRounds
    val rounds = (2 to nr).map { t =>
      s"""m$t AS (
         |  SELECT f.doc_id, f.y, CAST(sum(w${t - 1}.w) AS BIGINT) AS margin
         |  FROM f JOIN w${t - 1} USING (bucket) GROUP BY f.doc_id, f.y),
         |d$t AS (
         |  SELECT f.bucket, CAST(sum(f.y) AS BIGINT) AS d
         |  FROM f JOIN (SELECT doc_id FROM m$t WHERE y * margin <= 0) mis USING (doc_id)
         |  GROUP BY f.bucket),
         |w$t AS (SELECT w${t - 1}.bucket, w${t - 1}.w + COALESCE(d$t.d, 0) AS w
         |  FROM w${t - 1} LEFT JOIN d$t USING (bucket))""".stripMargin
    }.mkString(",\n")
    s"""f AS (
       |  SELECT DISTINCT doc_id,
       |    CASE WHEN doc_id % 10 = 9 THEN 1 ELSE -1 END AS y,
       |    CAST(${fnvSql("tok")} % $bkts AS BIGINT) AS bucket
       |  FROM (SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS tok
       |        FROM documents) u),
       |w1 AS (SELECT bucket, CAST(sum(y) AS BIGINT) AS w FROM f GROUP BY bucket),
       |$rounds""".stripMargin
  }

  private def perceptronOracle: String = {
    val nr = operators.ModelOps.PercRounds
    s"""WITH $perceptronCoreCtes
       |SELECT doc_id, CAST(y AS BIGINT) AS y,
       |  CAST(sum(w$nr.w) AS BIGINT) AS margin,
       |  CAST(y AS BIGINT) * CAST(sum(w$nr.w) AS BIGINT) > 0 AS correct
       |FROM f JOIN w$nr USING (bucket)
       |GROUP BY doc_id, y ORDER BY doc_id""".stripMargin
  }

  /** `q_model_gains`: the same trained weights, folded into the
    * decile gains/lift panel — ranking and deciles use the explicit
    * ceil-division formula so both engines cut identical buckets. */
  private def perceptronGainsOracle: String = {
    val nr = operators.ModelOps.PercRounds
    s"""WITH $perceptronCoreCtes,
       |mar AS (
       |  SELECT doc_id, CAST(y AS BIGINT) AS y, CAST(sum(w$nr.w) AS BIGINT) AS margin
       |  FROM f JOIN w$nr USING (bucket) GROUP BY doc_id, y),
       |rk AS (SELECT y, row_number() OVER (ORDER BY margin DESC, doc_id) AS rn,
       |         count(*) OVER () AS nn FROM mar),
       |dec AS (SELECT CAST(floor(CAST(rn*10 + nn - 1 AS DOUBLE)/nn) AS BIGINT) AS decile, y FROM rk),
       |byd AS (SELECT decile, count(*) AS n,
       |          CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
       |        FROM dec GROUP BY decile),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(n_pos) AS BIGINT) AS pt FROM byd),
       |cum AS (SELECT decile, n, n_pos,
       |          CAST(sum(n_pos) OVER (ORDER BY decile
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos
       |        FROM byd)
       |SELECT decile, n, n_pos,
       |  floor((CAST(n_pos AS DOUBLE)/CAST(n AS DOUBLE))*1000000 + 0.5)/1000000 AS pos_rate,
       |  floor((CAST(cum_pos AS DOUBLE)/CAST(pt AS DOUBLE))*1000000 + 0.5)/1000000 AS cum_capture,
       |  floor(((CAST(n_pos AS DOUBLE)/CAST(n AS DOUBLE))/(CAST(pt AS DOUBLE)/CAST(nt AS DOUBLE)))*10000 + 0.5)/10000 AS lift
       |FROM cum, tot ORDER BY decile""".stripMargin
  }

  /** `q_mmr_select`'s oracle: the k-round greedy MMR unroll. Each
    * round is a 1-row argmax CTE (`pN`) over the base relevance CTE
    * cross-joined with every prior pick; scores use the identical
    * 6 dp-rounded cosines and vec_id tiebreak as the Spark rounds, so
    * the greedy trajectory is deterministic cross-engine. */
  private def mmrOracle: String = {
    val k = operators.CurationOps.MmrK
    def cosR(a: String, b: String) =
      s"floor(list_cosine_similarity($a, $b)*1000000 + 0.5)/1000000"
    val rounds = (2 to k).map { t =>
      val prev = (1 until t).map(i => s"p$i")
      val mx =
        if (prev.size == 1) cosR("b.ve", s"${prev.head}.ve")
        else "greatest(" + prev.map(p => cosR("b.ve", s"$p.ve")).mkString(", ") + ")"
      val excl = prev.map(p => s"b.vec_id <> $p.vec_id").mkString(" AND ")
      s"""c$t AS (
         |  SELECT b.vec_id, b.ve, b.rel, b.rel/2 - ($mx)/2 AS score
         |  FROM base b, ${prev.mkString(", ")} WHERE $excl),
         |p$t AS (SELECT vec_id, ve, rel, score FROM c$t ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to k).map(t => s"SELECT $t AS rank, vec_id, rel, score FROM p$t")
      .mkString("\nUNION ALL ")
    s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
       |base AS (
       |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS ve,
       |    ${cosR("CAST(e.embedding AS DOUBLE[])", "q.qe")} AS rel
       |  FROM embeddings e, q WHERE e.vec_id > 0),
       |p1 AS (SELECT vec_id, ve, rel, rel/2 - 0.0/2 AS score FROM base ORDER BY score DESC, vec_id LIMIT 1),
       |$rounds
       |SELECT CAST(rank AS BIGINT) AS rank, vec_id, rel, score FROM (
       |$sel) ORDER BY rank""".stripMargin
  }

  /** `text_bpe_encode`'s oracle: the SAME 3-round training replay as
    * [[bpeOracle]] (pc/b/s CTEs — the merges must come out identical
    * before application even makes sense), then the learned merges
    * applied per (doc, word) with the identical greedy list_reduce
    * fold, aggregated to the per-doc token accounting. */
  private def bpeEncodeOracle: String =
    s"""$bpeEncodeCtes
       |SELECT doc_id, count(*) AS n_words,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |  CAST(sum(len(syms)) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_chars) - sum(len(syms)) AS BIGINT) AS n_merges,
       |  floor((CAST(sum(len(syms)) AS DOUBLE) / CAST(sum(n_chars) AS DOUBLE))*1000000 + 0.5)/1000000 AS compression
       |FROM e${operators.BpeOps.Rounds} GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** `q_tokenizer_fertility`'s oracle: the identical training+encode
    * replay, folded to the per-language tokenizer report. */
  private def tokenizerFertilityOracle: String =
    s"""$bpeEncodeCtes,
       |perdoc AS (
       |  SELECT doc_id, count(*) AS n_words,
       |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |    CAST(sum(len(syms)) AS BIGINT) AS n_tokens
       |  FROM e${operators.BpeOps.Rounds} GROUP BY doc_id)
       |SELECT d.lang, count(*) AS n_docs,
       |  CAST(sum(p.n_words) AS BIGINT) AS n_words,
       |  CAST(sum(p.n_tokens) AS BIGINT) AS n_tokens,
       |  floor((CAST(sum(p.n_tokens) AS DOUBLE) / CAST(sum(p.n_words) AS DOUBLE))*1000000 + 0.5)/1000000 AS fertility,
       |  floor((CAST(sum(p.n_chars) AS DOUBLE) / CAST(sum(p.n_tokens) AS DOUBLE))*1000000 + 0.5)/1000000 AS chars_per_token
       |FROM perdoc p JOIN documents d USING (doc_id)
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  /** The shared training+encode CTE chain behind [[bpeEncodeOracle]]
    * and [[tokenizerFertilityOracle]] (pc/b/s training rounds as in
    * [[bpeOracle]], then the per-(doc, word) greedy application). */
  private def bpeEncodeCtes: String = {
    val rounds = (1 to operators.BpeOps.Rounds)
      .map(bpeBatchRound(_, withEncode = true)).mkString(",\n")
    s"""WITH w AS (
       |  SELECT u.t AS w, count(*) AS cnt
       |  FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS t
       |        FROM documents) u
       |  GROUP BY 1),
       |s0 AS MATERIALIZED (SELECT string_split(w, '') AS syms, cnt FROM w),
       |e0 AS MATERIALIZED (
       |  SELECT doc_id, string_split(u.t, '') AS syms, CAST(len(u.t) AS BIGINT) AS n_chars
       |  FROM (SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS t
       |        FROM documents) u),
       |$rounds""".stripMargin
  }

  /** FNV-1a 64 over a string SQL expression, as unsigned HUGEINT —
    * shared by the winnow/simhash/minhash/mm/PQ replays. */
  /** Murmur3 fmix64 finalizer over a HUGEINT hash expression —
    * replays [[graft.functions.Hashes.mix64]] bit-exactly. The 64×64
    * wrapping multiplies overflow INT128, so each runs as split
    * 32-bit halves mod 2⁶⁴; the 5 steps thread through one
    * list_reduce so `hExpr` evaluates ONCE. Required wherever a
    * sketch slices BIT FIELDS out of a hash (HLL buckets, KMV
    * order): raw FNV-1a's bit fields are structurally biased. */
  private def mixSql(hExpr: String): String =
    s"""list_reduce(
       |      list_prepend($hExpr,
       |        [CAST(s AS HUGEINT) for s in [1, 2, 3, 4, 5]]),
       |      (h, s) -> CASE
       |        WHEN s = 2 THEN (((h * 4283543511) % 4294967296) * 4294967296 + h * 3981806797) % 18446744073709551616
       |        WHEN s = 4 THEN (((h * 3301882366) % 4294967296) * 4294967296 + h * 444984403) % 18446744073709551616
       |        ELSE xor(h, h // 8589934592) END)""".stripMargin

  /** The dedup_simhash oracle, parametric in
    * [[operators.DedupOps.simhashGeometry]] (words × 64-bit signature,
    * bandBits-wide candidate chunks, full-signature hamming ≤ tau).
    * Word 0 replays the historical FNV token hash; word w ≥ 1 replays
    * `mix64(fnv64(tok) ^ seed_w)` through the split-multiply mixSql.
    * With the default 1:16:6 dial this reduces to the r3-era oracle
    * value-for-value (w = 0 everywhere, four 16-bit chunks). */
  private def simhashOracleSql: String = {
    val (words, bandBits, tau) = operators.DedupOps.simhashGeometry
    val bandsPerWord = 64 / bandBits
    val mask = java.lang.Long.toUnsignedString(
      if (bandBits == 64) -1L else (1L << bandBits) - 1)
    val hByWord =
      if (words == 1) "h"
      else {
        val cases = (1 until words).map { w =>
          val seed = java.lang.Long.toUnsignedString(operators.DedupOps.simhashSeed(w))
          s"WHEN $w THEN ${mixSql(s"xor(h, CAST($seed AS HUGEINT))")}"
        }.mkString("\n        |          ")
        s"CASE w.w WHEN 0 THEN h\n        |          $cases END"
      }
    s"""WITH toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(tk) AS t FROM toks),
      |th0 AS (SELECT doc_id, ${fnvSql("t")} AS h FROM tok),
      |thw AS (SELECT doc_id, w.w, $hByWord AS h
      |        FROM th0 CROSS JOIN (SELECT unnest(generate_series(0, ${words - 1})) AS w) w),
      |bitsum AS (
      |  SELECT doc_id, w, b.bit,
      |    CASE WHEN sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) > 0
      |         THEN CAST(1 AS HUGEINT) << b.bit ELSE CAST(0 AS HUGEINT) END AS bv
      |  FROM thw CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bit) b
      |  GROUP BY doc_id, w, b.bit),
      |sigs AS (SELECT doc_id, w, CAST(sum(bv) AS HUGEINT) AS sig FROM bitsum GROUP BY doc_id, w),
      |ch AS (SELECT doc_id, w * $bandsPerWord + c.c AS c,
      |         (sig >> (c.c * $bandBits)) & CAST($mask AS HUGEINT) AS cv
      |       FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, ${bandsPerWord - 1})) AS c) c),
      |cseq AS (SELECT doc_id, c, cv, row_number() OVER (PARTITION BY c, cv ORDER BY doc_id) AS i
      |         FROM ch),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM cseq a JOIN cseq b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
      |  WHERE a.i <= ${DedupOps.BandCap}),
      |ham AS (
      |  SELECT c.doc_a, c.doc_b, sum(bit_count(xor(sa.sig, sb.sig))) AS hamming
      |  FROM cand c JOIN sigs sa ON sa.doc_id = c.doc_a
      |              JOIN sigs sb ON sb.doc_id = c.doc_b AND sb.w = sa.w
      |  GROUP BY c.doc_a, c.doc_b)
      |SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
      |FROM ham WHERE hamming <= $tau ORDER BY doc_a, doc_b""".stripMargin
  }

  /** The Markov removal-effect attribution replayed end-to-end: the
    * same journey/transition construction (tuple-strict first-
    * purchase cut, partitioned lag/row_number, empty-journey
    * START→absorbing rows), single-division transition
    * probabilities, and [[operators.EventAnalytics.MarkovRounds]]
    * unrolled rounds per variant (full + one per removed channel)
    * where each Σ p(u,v)·r(v) is an ORDERED list_reduce over v —
    * the exact left-to-right double adds the engine's driver fold
    * performs, so every rounded output is bit-identical. */
  private def markovAttributionSql: String = {
    val chans = operators.EventAnalytics.AttributionChannels
    val rounds = operators.EventAnalytics.MarkovRounds
    val variants = ("full", None) +: chans.map(c => (s"rm_$c", Some(c)))
    def r0(q: String) =
      s"""${q}_r0 AS MATERIALIZED (SELECT node, CAST(0.0 AS DOUBLE) AS r FROM frm
         |  UNION ALL SELECT 'CONV', CAST(1.0 AS DOUBLE)
         |  UNION ALL SELECT 'END', CAST(0.0 AS DOUBLE))""".stripMargin
    def rk(q: String, removed: Option[String], k: Int) = {
      val rmCase = removed.map(c => s"n.node = '$c'").getOrElse("FALSE")
      s"""${q}_r$k AS MATERIALIZED (
         |  SELECT n.node,
         |    CASE WHEN $rmCase THEN CAST(0.0 AS DOUBLE)
         |         ELSE coalesce(s.r, CAST(0.0 AS DOUBLE)) END AS r
         |  FROM frm n LEFT JOIN (
         |    SELECT t2.u AS node,
         |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list((t2.p * prev.r) ORDER BY t2.v)), (x, y) -> x + y) AS r
         |    FROM p t2 JOIN ${q}_r${k - 1} prev ON t2.v = prev.node
         |    GROUP BY t2.u) s ON n.node = s.node
         |  UNION ALL SELECT 'CONV', CAST(1.0 AS DOUBLE)
         |  UNION ALL SELECT 'END', CAST(0.0 AS DOUBLE))""".stripMargin
    }
    val roundCtes = variants.flatMap { case (q, rm) =>
      r0(q) +: (1 to rounds).map(k => rk(q, rm, k))
    }.mkString(",\n")
    val effs = chans.map(c =>
      s"(1.0 - (SELECT r FROM rm_${c}_r$rounds WHERE node = 'START') / pf)")
    val effList = effs.mkString("[", ", ", "]")
    val rows = chans.zipWithIndex.map { case (c, _) =>
      s"""SELECT '$c' AS channel,
         |  CAST((SELECT sum(c) FROM t WHERE v = '$c') AS BIGINT) AS touches,
         |  floor(pf*1000000 + 0.5)/1000000 AS p_full,
         |  floor(((SELECT r FROM rm_${c}_r$rounds WHERE node = 'START'))*1000000 + 0.5)/1000000 AS p_removed,
         |  floor(((1.0 - (SELECT r FROM rm_${c}_r$rounds WHERE node = 'START') / pf) / es)*1000000 + 0.5)/1000000 AS share
         |FROM fin""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH fp AS (
       |  SELECT user_id, ts AS fts, event_id AS fid FROM (
       |    SELECT user_id, ts, event_id,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |    FROM events WHERE event_type = 'purchase') WHERE rn = 1),
       |j AS (
       |  SELECT e.user_id, e.ts, e.event_id, e.event_type,
       |    (f.user_id IS NOT NULL) AS conv
       |  FROM events e LEFT JOIN fp f USING (user_id)
       |  WHERE e.event_type <> 'purchase'
       |    AND (f.user_id IS NULL OR e.ts < f.fts
       |         OR (e.ts = f.fts AND e.event_id < f.fid))),
       |st AS (
       |  SELECT user_id, event_type AS cur,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prevc,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rnd_,
       |    conv
       |  FROM j),
       |mids AS (SELECT coalesce(prevc, 'START') AS u, cur AS v FROM st),
       |ends AS (SELECT cur AS u, CASE WHEN conv THEN 'CONV' ELSE 'END' END AS v
       |         FROM st WHERE rnd_ = 1),
       |emptyu AS (
       |  SELECT e.user_id FROM (SELECT DISTINCT user_id FROM events) e
       |  LEFT JOIN (SELECT DISTINCT user_id FROM j) jj USING (user_id)
       |  WHERE jj.user_id IS NULL),
       |empties AS (
       |  SELECT 'START' AS u,
       |    CASE WHEN f.user_id IS NOT NULL THEN 'CONV' ELSE 'END' END AS v
       |  FROM emptyu LEFT JOIN fp f USING (user_id)),
       |t AS MATERIALIZED (SELECT u, v, count(*) AS c FROM (
       |  SELECT * FROM mids UNION ALL SELECT * FROM ends
       |  UNION ALL SELECT * FROM empties) GROUP BY u, v),
       |ow AS (SELECT u, sum(c) AS o FROM t GROUP BY u),
       |p AS MATERIALIZED (SELECT t.u, t.v, CAST(t.c AS DOUBLE) / CAST(ow.o AS DOUBLE) AS p
       |      FROM t JOIN ow ON t.u = ow.u),
       |frm AS MATERIALIZED (SELECT unnest(['START'${chans.map(c => s", '$c'").mkString}]) AS node),
       |$roundCtes,
       |pfc AS MATERIALIZED (SELECT (SELECT r FROM full_r$rounds WHERE node = 'START') AS pf),
       |fin AS MATERIALIZED (SELECT pf,
       |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $effList),
       |    (x, y) -> x + y) AS es
       |  FROM pfc)
       |SELECT * FROM (
       |$rows
       |) ORDER BY channel""".stripMargin
  }

  /** The [[graft.functions.FnvBloom]] decontamination sketch replayed
    * end-to-end: h1 = mix64(fnv64(gram)), h2 = mix64(h1), probe_i =
    * (h1 + i·h2) mod 2⁶⁴ mod 2^bits (power of two — the engine's
    * mask IS this mod), benchmark bits the DISTINCT probe positions
    * of the %10==9 gram set, a gram flagged iff ALL k of its probe
    * bits are set. `allDocs` switches between the batch face
    * (train docs only, flagged rows only) and the streaming
    * admission face (every arriving doc, flagged or not). Hashes
    * are computed once per DISTINCT gram. */
  private def bloomOracleSql(allDocs: Boolean): String = {
    val m = operators.PipelineOps.BloomBits
    val k = operators.PipelineOps.BloomK
    val trainFilter = if (allDocs) "" else " WHERE g.doc_id % 10 <> 9"
    val flaggedFilter = if (allDocs) "" else " WHERE n_flagged > 0"
    s"""WITH toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_distinct([array_to_string(tk[i:i+3], ' ') for i in generate_series(1, len(tk)-3)])) AS ng
      |  FROM toks WHERE len(tk) >= 4),
      |dg AS (SELECT DISTINCT ng FROM g),
      |h1t AS (SELECT ng, ${mixSql(fnvSql("ng"))} AS h1 FROM dg),
      |h2t AS (SELECT ng, h1, ${mixSql("h1")} AS h2 FROM h1t),
      |ii AS (SELECT unnest(generate_series(0, ${k - 1})) AS i),
      |bbits AS (
      |  SELECT DISTINCT ((h.h1 + CAST(ii.i AS HUGEINT) * h.h2) % 18446744073709551616) % $m AS bit
      |  FROM h2t h JOIN (SELECT DISTINCT ng FROM g WHERE doc_id % 10 = 9) b USING (ng)
      |  CROSS JOIN ii),
      |gprobe AS (
      |  SELECT h.ng, ((h.h1 + CAST(ii.i AS HUGEINT) * h.h2) % 18446744073709551616) % $m AS bit
      |  FROM h2t h CROSS JOIN ii),
      |gflag AS (
      |  SELECT gp.ng, min(CASE WHEN bb.bit IS NULL THEN 0 ELSE 1 END) AS flagged
      |  FROM gprobe gp LEFT JOIN bbits bb ON gp.bit = bb.bit GROUP BY gp.ng),
      |agg AS (
      |  SELECT g.doc_id, count(*) AS n_grams, sum(f.flagged) AS n_flagged
      |  FROM g JOIN gflag f USING (ng)$trainFilter GROUP BY g.doc_id)
      |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
      |  CAST(n_flagged AS BIGINT) AS n_flagged
      |FROM agg$flaggedFilter ORDER BY doc_id""".stripMargin
  }

  private def fnvSql(strExpr: String): String =
    s"""list_reduce(
       |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |        list_transform(split($strExpr, ''), c -> CAST(unicode(c) AS HUGEINT))),
       |      (h, c) -> (xor(h, c) * 1099511628211) % 18446744073709551616)""".stripMargin

  /** Exact cosine between two DOUBLE-list SQL expressions with the
    * same three left-to-right accumulations as the native CosineSim
    * expression — bit-identical, unlike an engine-builtin whose
    * association order is unspecified. */
  private def cosSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      [$a[i] * $b[i] for i in generate_series(1, 64)]), (x, y) -> x + y)
       |    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        [$a[i] * $a[i] for i in generate_series(1, 64)]), (x, y) -> x + y))
       |       * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        [$b[i] * $b[i] for i in generate_series(1, 64)]), (x, y) -> x + y)))""".stripMargin

  /** The PQ INDEX replayed in SQL, through `hat` (reconstructed
    * corpus vectors) — including CODEBOOK TRAINING: the FNV
    * quarter-sample and hash-spread init, all three Lloyd rounds
    * (per-(vec,sub) argmin with left-to-right squared-distance sums
    * exactly like the encode UDF, decimal-exact centroid means, empty
    * codes keeping their previous centroid), corpus encode, and
    * reconstruction. The same determinism discipline as
    * `emb_kmeans`'s 3-iteration unroll, lifted to 16 independent
    * subspace quantizers. Shared by the flat-PQ, IVF-PQ, and
    * residual-IVF-PQ oracles: `extra` injects CTEs between `ne` and
    * the training chain, `vsrc` names the (vec_id, emb) CTE the
    * quantizer trains on/encodes (`ne` = normalized vectors for the
    * flat index, `res` = per-cell residuals for the residual one). */
  private def pqIndexCtes: String = pqIndexCtesOn("", "ne")

  private def pqIndexCtesOn(extra: String, vsrc: String): String = {
    val lloydRounds = (1 to 3).map { r =>
      val prev = s"c${r - 1}"
      s"""d$r AS (
         |  SELECT nv.vec_id, nv.sub, c.code,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list((nv.v - c.cv)*(nv.v - c.cv) ORDER BY nv.pos)), (a, b) -> a + b) AS d
         |  FROM nv JOIN samp USING (vec_id)
         |  JOIN $prev c ON c.sub = nv.sub AND c.pos = nv.pos
         |  GROUP BY nv.vec_id, nv.sub, c.code),
         |a$r AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT vec_id, sub, code,
         |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, code ASC) AS rn
         |    FROM d$r) WHERE rn = 1),
         |m$r AS (
         |  SELECT a.sub, a.code, nv.pos,
         |    CAST(sum(CAST(nv.v AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS mv
         |  FROM a$r a JOIN nv ON nv.vec_id = a.vec_id AND nv.sub = a.sub
         |  GROUP BY 1, 2, 3),
         |c$r AS (
         |  SELECT c.sub, c.code, c.pos, coalesce(m.mv, c.cv) AS cv
         |  FROM $prev c LEFT JOIN m$r m ON m.sub = c.sub AND m.code = c.code AND m.pos = c.pos)""".stripMargin
    }.mkString(",\n")
    s"""e0 AS (
       |  SELECT vec_id, label, [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)] AS raw
       |  FROM embeddings),
       |e1 AS (
       |  SELECT vec_id, raw,
       |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(raw, x -> x*x)), (a, b) -> a + b)) AS nrm
       |  FROM e0),
       |ne AS (SELECT vec_id, list_transform(raw, x -> x/nrm) AS emb FROM e1),$extra
       |nv AS (
       |  SELECT vec_id, CAST((i - 1) // 4 AS INT) AS sub, CAST((i - 1) % 4 AS INT) AS pos, emb[i] AS v
       |  FROM $vsrc, (SELECT unnest(generate_series(1, 64)) AS i) ii),
       |samp AS (SELECT vec_id FROM ne
       |  WHERE ${fnvSql("CAST(vec_id AS VARCHAR)")} % 4 = 0),
       |init AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY
       |    ${fnvSql("'i' || CAST(vec_id AS VARCHAR)")} % 1048576, vec_id) AS rn
       |  FROM samp),
       |c0 AS (
       |  SELECT nv.sub, CAST(init.rn - 1 AS INT) AS code, nv.pos, nv.v AS cv
       |  FROM nv JOIN init USING (vec_id) WHERE init.rn <= 16),
       |$lloydRounds,
       |de AS (
       |  SELECT nv.vec_id, nv.sub, c.code,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list((nv.v - c.cv)*(nv.v - c.cv) ORDER BY nv.pos)), (a, b) -> a + b) AS d
       |  FROM nv JOIN c3 c ON c.sub = nv.sub AND c.pos = nv.pos
       |  GROUP BY nv.vec_id, nv.sub, c.code),
       |ae AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT vec_id, sub, code,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, code ASC) AS rn
       |    FROM de) WHERE rn = 1),
       |hat AS (
       |  SELECT a.vec_id, list(c.cv ORDER BY a.sub * 4 + c.pos) AS h
       |  FROM ae a JOIN c3 c ON c.sub = a.sub AND c.code = a.code
       |  GROUP BY a.vec_id),
       |pr AS (SELECT vec_id AS pid, raw AS pe FROM e0 WHERE vec_id < ${operators.AnnOps.NumProbes})""".stripMargin
  }

  /** Shortlist → exact re-rank → final ranking, shared by both PQ
    * oracles (`cands` must provide (pid, nid, sim)). */
  private def pqServeTail: String =
    s"""short AS (
       |  SELECT pid, nid FROM (
       |    SELECT pid, nid, row_number() OVER (PARTITION BY pid
       |      ORDER BY floor(sim*1000000 + 0.5)/1000000 DESC, nid ASC) AS rn
       |    FROM cands) WHERE rn <= 50),
       |ex AS (
       |  SELECT s.pid, s.nid,
       |    ${cosSql("a.raw", "b.raw")} AS sim
       |  FROM short s JOIN e0 a ON a.vec_id = s.pid JOIN e0 b ON b.vec_id = s.nid),
       |rk AS (
       |  SELECT pid, nid, sim, row_number() OVER (PARTITION BY pid
       |    ORDER BY floor(sim*1000000 + 0.5)/1000000 DESC, nid ASC) AS rnk
       |  FROM ex)
       |SELECT pid, CAST(rnk AS BIGINT) AS rnk, nid, floor(sim*10000 + 0.5)/10000 AS sim
       |FROM rk WHERE rnk <= 5 ORDER BY pid, rnk""".stripMargin

  /** `ann_pq_topk`: the PQ index CTEs + full-corpus ADC scan +
    * shortlist/re-rank tail. */
  private def annPqOracle: String =
    s"""WITH $pqIndexCtes,
       |cands AS (
       |  SELECT pr.pid, t.vec_id AS nid,
       |    ${cosSql("pe", "h")} AS sim
       |  FROM pr JOIN hat t ON t.vec_id <> pr.pid),
       |$pqServeTail""".stripMargin

  /** `emb_pq_distortion`: the same replayed index (including
    * training), each vector against its own reconstruction. */
  private def pqDistortionOracle: String =
    s"""WITH $pqIndexCtes,
       |dist AS (
       |  SELECT t.vec_id, ${cosSql("a.raw", "t.h")} AS c
       |  FROM hat t JOIN e0 a ON a.vec_id = t.vec_id),
       |b AS (
       |  SELECT c,
       |    CASE WHEN c >= 0.9 THEN 'a_ge_090' WHEN c >= 0.8 THEN 'b_080_090'
       |         WHEN c >= 0.7 THEN 'c_070_080' ELSE 'd_lt_070' END AS band
       |  FROM dist)
       |SELECT band, count(*) AS n_vecs,
       |  floor((CAST(sum(CAST((c) AS DECIMAL(27,10))) AS DOUBLE)/count(*))*1000000 + 0.5)/1000000 AS mean_cos,
       |  floor(min(c)*1000000 + 0.5)/1000000 AS min_cos
       |FROM b GROUP BY band ORDER BY band""".stripMargin

  /** IVF coarse-quantizer CTEs shared by the IVF-PQ oracles:
    * decimal-exact cell centroids per label (the `ann_ivf_topk`
    * discipline), cell scores rounded to 1e-6 before the
    * argmax/top-6 exactly like the Spark `cellScores` expression.
    * Requires `e0` in scope. */
  private def ivfCellCtes: String =
    s"""cr AS (
       |  SELECT label, i, CAST(sum(CAST(raw[i] AS DECIMAL(27,10))) AS DOUBLE)/count(*) AS m
       |  FROM e0, (SELECT unnest(generate_series(1, 64)) AS i) ii
       |  GROUP BY 1, 2),
       |cent AS (SELECT CAST(label AS INTEGER) AS cell, list(m ORDER BY i) AS centroid FROM cr GROUP BY label),
       |cdist AS (
       |  SELECT e0.vec_id, ct.cell,
       |    floor((${cosSql("e0.raw", "ct.centroid")})*1000000 + 0.5)/1000000 AS sim
       |  FROM e0 CROSS JOIN cent ct),
       |assigned AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
       |    FROM cdist) t WHERE rn = 1)""".stripMargin

  private def ivfProbeCellsCte: String =
    s"""pcells AS (
       |  SELECT vec_id AS pid, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
       |    FROM cdist WHERE vec_id < ${operators.AnnOps.NumProbes}) t WHERE rn <= ${operators.AnnOps.IvfProbeCells})""".stripMargin

  /** `ann_ivfpq_topk`: the PQ index CTEs, with the ADC scan
    * restricted to each probe's top-6 IVF cells. */
  private def annIvfPqOracle: String =
    s"""WITH $pqIndexCtes,
       |$ivfCellCtes,
       |$ivfProbeCellsCte,
       |cands AS (
       |  SELECT DISTINCT p.pid, a.vec_id AS nid,
       |    ${cosSql("pr.pe", "h.h")} AS sim
       |  FROM pcells p
       |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.pid
       |  JOIN pr ON pr.pid = p.pid
       |  JOIN hat h ON h.vec_id = a.vec_id),
       |$pqServeTail""".stripMargin

  /** `ann_ivfpq_residual_topk`: the residual index replayed end to
    * end — cell directions (normalized centroids), per-vector
    * residuals, codebook TRAINING on the residuals (the same
    * `pqIndexCtesOn` chain pointed at `res`), encode, reconstruction
    * as cell direction + decoded residual, probed-cell ADC scan,
    * shortlist and exact re-rank. */
  private def annIvfPqResidualOracle: String = {
    val extra =
      s"""
         |$ivfCellCtes,
         |cnl AS (
         |  SELECT cell, list_transform(centroid, x -> x / sqrt(list_reduce(
         |    list_prepend(CAST(0.0 AS DOUBLE), list_transform(centroid, y -> y*y)),
         |    (a, b) -> a + b))) AS cn
         |  FROM cent),
         |res AS (
         |  SELECT ne.vec_id, [ne.emb[i] - cnl.cn[i] for i in generate_series(1, 64)] AS emb
         |  FROM ne JOIN assigned USING (vec_id) JOIN cnl ON cnl.cell = assigned.cell),""".stripMargin
    s"""WITH ${pqIndexCtesOn(extra, "res")},
       |$ivfProbeCellsCte,
       |xh AS (
       |  SELECT h.vec_id, [h.h[i] + cnl.cn[i] for i in generate_series(1, 64)] AS h
       |  FROM hat h JOIN assigned USING (vec_id) JOIN cnl ON cnl.cell = assigned.cell),
       |cands AS (
       |  SELECT DISTINCT p.pid, a.vec_id AS nid,
       |    ${cosSql("pr.pe", "h.h")} AS sim
       |  FROM pcells p
       |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.pid
       |  JOIN pr ON pr.pid = p.pid
       |  JOIN xh h ON h.vec_id = a.vec_id),
       |$pqServeTail""".stripMargin
  }

  /** `dedup_embedding` replayed the same way: 16 literal planes, two
    * 8-bit bands, canonical (a < b) candidate pairs, exact cosine,
    * global top-N by (rounded cos, pair). */
  private def dedupEmbeddingOracle: String = {
    s"""WITH pl AS (SELECT ${planesLiteral(operators.DedupOps.EmbPlanes)} AS w),
       |e AS (SELECT vec_id, embedding FROM embeddings),
       |d AS (
       |  SELECT vec_id, p,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      [CAST(embedding[i] AS DOUBLE) * w[p][i] for i in generate_series(1, 64)]),
       |      (a, b) -> a + b) AS dot
       |  FROM e, pl, (SELECT unnest(generate_series(1, ${operators.DedupOps.EmbPlanes})) AS p)),
       |bv AS (
       |  SELECT vec_id, (p - 1) // ${operators.DedupOps.EmbBandBits} AS b,
       |    sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << ((p - 1) % ${operators.DedupOps.EmbBandBits})) ELSE 0 END) AS val
       |  FROM d GROUP BY 1, 2),
       |bsq AS (
       |  SELECT vec_id, b, val, row_number() OVER (PARTITION BY b, val ORDER BY vec_id) AS i
       |  FROM bv),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
       |  FROM bsq a JOIN bsq c ON a.b = c.b AND a.val = c.val AND a.vec_id < c.vec_id
       |  WHERE a.i <= ${DedupOps.BandCap}),
       |cos AS (
       |  SELECT cand.vec_a, cand.vec_b,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      [CAST(a.embedding[i] AS DOUBLE) * CAST(bb.embedding[i] AS DOUBLE) for i in generate_series(1, 64)]),
       |      (x, y) -> x + y)
       |    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        [CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE) for i in generate_series(1, 64)]),
       |        (x, y) -> x + y))
       |       * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        [CAST(bb.embedding[i] AS DOUBLE) * CAST(bb.embedding[i] AS DOUBLE) for i in generate_series(1, 64)]),
       |        (x, y) -> x + y))) AS cos_raw
       |  FROM cand JOIN e a ON a.vec_id = cand.vec_a JOIN e bb ON bb.vec_id = cand.vec_b)
       |SELECT vec_a, vec_b, floor(cos_raw*10000 + 0.5)/10000 AS cos
       |FROM cos
       |ORDER BY floor(cos_raw*1000000 + 0.5)/1000000 DESC, vec_a, vec_b
       |LIMIT ${operators.DedupOps.EmbTopN}""".stripMargin
  }

  /** The minhash index chain shared by [[minhashLshOracle]] and the
    * calibration oracle: shingles → FNV hashes → salted murmur
    * finalizer → 64-perm signatures → band keys → candidate pairs →
    * exact pair Jaccard (UNfiltered — the LSH oracle thresholds it,
    * the calibration oracle keeps false positives on purpose). */
  private def minhashCoreCtes: String =
    s"""toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
       |  FROM documents),
       |$minhashChainFromToks""".stripMargin

  /** The chain from a `toks(doc_id, tk)` CTE down — split out (r13)
    * so the decontamination oracle can splice a PLANTED token source
    * (documents ∪ token-dropout paraphrases) above the identical
    * shingle/signature/banding replay. */
  private def minhashChainFromToks: String = {
    val salts = graft.functions.Hashes.minhashParams(DedupOps.NumPerms)
      .zipWithIndex
      .map { case (s, p) => s"($p, CAST(${java.lang.Long.toUnsignedString(s)} AS HUGEINT))" }
      .mkString(", ")
    def mulSplit(z: String, c: Long): String = {
      val hi = c >>> 32
      val lo = c & 0xffffffffL
      s"(($z % 4294967296) * $lo + ((($z % 4294967296) * $hi + ($z // 4294967296) * $lo) % 4294967296) * 4294967296) % 18446744073709551616"
    }
    val c1 = java.lang.Long.parseUnsignedLong("ff51afd7ed558ccd", 16)
    val c2 = java.lang.Long.parseUnsignedLong("c4ceb9fe1a85ec53", 16)
    s"""sh AS (
       |  SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ') for i in generate_series(1, len(tk)-2)]) AS shs
       |  FROM toks WHERE len(tk) >= 3),
       |hh AS (
       |  SELECT doc_id, list_reduce(
       |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |        list_transform(split(u.s, ''), c -> CAST(unicode(c) AS HUGEINT))),
       |      (h, c) -> (xor(h, c) * 1099511628211) % 18446744073709551616) AS hu
       |  FROM (SELECT doc_id, unnest(shs) AS s FROM sh) u),
       |salts(p, salt) AS (VALUES $salts),
       |mx AS (
       |  SELECT doc_id, p,
       |    xor(hu, salt) AS z0,
       |    xor(z0, z0 >> 33) AS z1,
       |    ${mulSplit("z1", c1)} AS z2,
       |    xor(z2, z2 >> 33) AS z3,
       |    ${mulSplit("z3", c2)} AS z4,
       |    xor(z4, z4 >> 33) AS z5
       |  FROM hh CROSS JOIN salts),
       |sig AS (
       |  SELECT doc_id, p, min(CAST(CASE WHEN z5 >= CAST(9223372036854775808 AS HUGEINT)
       |      THEN z5 - CAST(18446744073709551616 AS HUGEINT) ELSE z5 END AS BIGINT)) AS sv
       |  FROM mx GROUP BY doc_id, p),
       |bandk AS (
       |  SELECT doc_id, p // 4 AS b, array_to_string(list(CAST(sv AS VARCHAR) ORDER BY p), '_') AS bk
       |  FROM sig GROUP BY doc_id, p // 4),
       |bseq AS (
       |  SELECT doc_id, b, bk, row_number() OVER (PARTITION BY b, bk ORDER BY doc_id) AS i
       |  FROM bandk),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bseq a JOIN bseq b ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id
       |  WHERE a.i <= ${DedupOps.BandCap}),
       |j AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
       |      / len(list_distinct(list_concat(sa.shs, sb.shs))) AS jac
       |  FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b)""".stripMargin
  }

  /** `text_minhash_decontaminate`: the shared minhash index chain,
    * replayed CROSS-SET — training docs (doc_id%10≠9) against the
    * benchmark mark (doc_id%10=9), per-(band,key) rank cap applied
    * PER SIDE (the bipartite form of the anchor discipline), exact
    * Jaccard on candidates, flagged at NearContamTau, folded to the
    * per-train-doc contamination report. r13: the token source is
    * documents ∪ the deterministic token-dropout PLANTS (every 50th
    * benchmark doc re-entering the train side at 10⁶ + 10·doc_id
    * with every m-th token dropped, m from {10,12,16,20,30} by
    * (doc_id//50)%5 — DuckDB's 1-based lambda index matches the
    * engine's (i+1) on its 0-based one), spliced above the shared
    * chain so the whole signature/banding replay runs over the
    * identical planted corpus. */
  private def minhashDecontamOracle: String =
    s"""WITH toks0 AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
       |  FROM documents),
       |ptoks AS (
       |  SELECT 1000000 + doc_id * 10 AS doc_id,
       |    list_filter(tk, (t, i) -> i % m <> 0) AS tk
       |  FROM (
       |    SELECT doc_id, tk,
       |      CASE ((doc_id // 50) % 5) WHEN 0 THEN 10 WHEN 1 THEN 12
       |        WHEN 2 THEN 16 WHEN 3 THEN 20 ELSE 30 END AS m
       |    FROM toks0 WHERE doc_id % 50 = 9)),
       |toks AS (SELECT doc_id, tk FROM toks0
       |  UNION ALL SELECT doc_id, tk FROM ptoks),
       |$minhashChainFromToks,
       |bseqx AS (
       |  SELECT doc_id, b, bk, (doc_id % 10 = 9) AS mark,
       |    row_number() OVER (PARTITION BY b, bk, (doc_id % 10 = 9) ORDER BY doc_id) AS i
       |  FROM bandk),
       |candx AS (
       |  SELECT DISTINCT t.doc_id AS doc_id, bb.doc_id AS bench_id
       |  FROM bseqx t JOIN bseqx bb ON t.b = bb.b AND t.bk = bb.bk
       |  WHERE NOT t.mark AND bb.mark
       |    AND t.i <= ${DedupOps.BandCap} AND bb.i <= ${DedupOps.BandCap}),
       |jx AS (
       |  SELECT candx.doc_id, candx.bench_id,
       |    CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
       |      / (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs))) AS jac
       |  FROM candx JOIN sh sa ON sa.doc_id = candx.doc_id
       |             JOIN sh sb ON sb.doc_id = candx.bench_id)
       |SELECT doc_id, count(*) AS n_bench_matches,
       |  max(floor(jac*10000 + 0.5)/10000) AS max_jaccard
       |FROM jx WHERE jac >= ${operators.PipelineOps.NearContamTau}
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private def minhashLshOracle: String =
    s"""WITH $minhashCoreCtes
       |SELECT doc_a, doc_b, floor(jac*10000 + 0.5)/10000 AS jaccard
       |FROM j WHERE jac >= 0.5 ORDER BY doc_a, doc_b""".stripMargin

  /** `dedup_minhash_calibration`: the same index chain, but instead
    * of thresholding, every LSH candidate (false positives included —
    * they're the interesting calibration region) gets its signature
    * agreement fraction next to its exact Jaccard. */
  private def minhashCalibrationOracle: String = {
    val np = DedupOps.NumPerms
    s"""WITH $minhashCoreCtes,
       |sigl AS (SELECT doc_id, list(sv ORDER BY p) AS sg FROM sig GROUP BY doc_id),
       |est AS (
       |  SELECT j.doc_a, j.doc_b, j.jac,
       |    CAST(len([i for i in generate_series(1, $np) if sa.sg[i] = sb.sg[i]]) AS DOUBLE)/$np AS es
       |  FROM j JOIN sigl sa ON sa.doc_id = j.doc_a JOIN sigl sb ON sb.doc_id = j.doc_b)
       |SELECT doc_a, doc_b,
       |  floor(es*10000 + 0.5)/10000 AS est_jaccard,
       |  floor(jac*10000 + 0.5)/10000 AS exact_jaccard,
       |  floor(abs(es - jac)*10000 + 0.5)/10000 AS abs_err
       |FROM est ORDER BY doc_a, doc_b""".stripMargin
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.GraftFunctions
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §2 + §7.
  *
  * Every implemented operator from the SURVEY §2 inventory registers one
  * query here; `oracleSql` carries the DuckDB-equivalent SQL for the
  * hash-matched correctness gate. Queries whose semantics are not
  * SQL-expressible (approx sketches, LSH recall paths) are registered
  * without an oracle and covered by ScalaTest oracles instead.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    GraftFunctions.register(spark)
    RelationalQueries.q1Agg(spark, "/root/testdata/sf0.001")
  }

  /** Each query first attaches the engine surface
    * ([[GraftFunctions.register]], a no-op on a graft session): the
    * driver may hand in a session of its own. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map { case (name, q) =>
      name -> ((s: SparkSession, d: String) => {
        GraftFunctions.register(s)
        q(s, d)
      })
    }

  private def gates: Map[String, (SparkSession, String) => DataFrame] = Map(
    // scans / json (E1, E3)
    "q_scan_count" -> RelationalQueries.scanCount,
    "q_json_extract" -> RelationalQueries.jsonExtract,
    "q_json_build" -> RelationalQueries.jsonBuild,
    "q_null_funcs" -> RelationalQueries.nullFuncs,
    "q_kmv_distinct" -> RelationalQueries.kmvDistinct,
    // projection / filter (E5, E6)
    "q_filter_pred" -> RelationalQueries.filterPred,
    "q_filter_like" -> RelationalQueries.filterLike,
    "q_agg_having" -> RelationalQueries.aggHaving,
    "q_proj_compute" -> RelationalQueries.projCompute,
    // joins (E7–E12)
    "q_join_inner" -> RelationalQueries.joinInner,
    "q_join_broadcast" -> RelationalQueries.joinBroadcast,
    "q_join_skew_salted" -> RelationalQueries.joinSkewSalted,
    "q_join_left" -> RelationalQueries.joinLeft,
    "q_join_full" -> RelationalQueries.joinFull,
    "q_join_semi" -> RelationalQueries.joinSemi,
    "q_join_anti" -> RelationalQueries.joinAnti,
    "q_join_range" -> RelationalQueries.joinRange,
    "q_asof_join" -> RelationalQueries.asofJoin,
    "q_asof_forward" -> RelationalQueries.asofForward,
    "q_asof_multikey" -> RelationalQueries.asofMultiKey,
    // aggregation (E13–E17)
    "q1_agg" -> RelationalQueries.q1Agg,
    "q3_shipping" -> RelationalQueries.q3Shipping,
    "q5_local_supplier" -> RelationalQueries.q5LocalSupplier,
    "q_agg_distinct" -> RelationalQueries.aggDistinct,
    "q_agg_approx_distinct" -> RelationalQueries.aggApproxDistinct,
    "q_agg_rollup" -> RelationalQueries.aggRollup,
    "q_agg_cube" -> RelationalQueries.aggCube,
    "q_agg_grouping_sets" -> RelationalQueries.aggGroupingSets,
    "q_subqueries" -> RelationalQueries.subqueries,
    "q_pivot" -> RelationalQueries.pivot,
    "q_unpivot" -> RelationalQueries.unpivot,
    "q_agg_stats" -> RelationalQueries.aggStats,
    "q_agg_collect" -> RelationalQueries.aggCollect,
    // window functions (E18–E20)
    "q_window_rank" -> RelationalQueries.windowRank,
    "q_window_lag" -> RelationalQueries.windowLag,
    "q_window_frame" -> RelationalQueries.windowFrame,
    "q_window_analytics" -> RelationalQueries.windowAnalytics,
    "q_window_range_frame" -> RelationalQueries.windowRangeFrame,
    // sort / limit / top-k (E21, E22)
    "q_topk_orders" -> RelationalQueries.topkOrders,
    "q_topk_parts" -> RelationalQueries.topkParts,
    "q_topk_per_group" -> RelationalQueries.topkPerGroup,
    // set ops (E23)
    "q_set_union" -> RelationalQueries.setUnion,
    "q_set_union_all" -> RelationalQueries.setUnionAll,
    "q_set_intersect" -> RelationalQueries.setIntersect,
    "q_set_except" -> RelationalQueries.setExcept,
    // scalar functions (E24–E27)
    "q_string_funcs" -> RelationalQueries.stringFuncs,
    "q_date_funcs" -> RelationalQueries.dateFuncs,
    "q_date_diff" -> RelationalQueries.dateDiff,
    "q_math_funcs" -> RelationalQueries.mathFuncs,
    "q_array_funcs" -> RelationalQueries.arrayFuncs,
    // text / LLM-pipeline (E34, E35, E39, E40)
    "q_dedup_exact" -> TextQueries.dedupExact,
    "q_dedup_stats" -> TextQueries.dedupStats,
    "q_text_tokens" -> TextQueries.textTokens,
    "q_text_topterms" -> TextQueries.textTopTerms,
    "q_text_quality" -> TextQueries.textQuality,
    "q_text_fingerprint" -> TextQueries.textFingerprint,
    "q_text_token_regex" -> TextQueries.tokenRegex,
    "q_tfidf" -> TextQueries.tfidf,
    "q_vocab_stats" -> TextQueries.vocabStats,
    "q_text_rollhash" -> TextQueries.rollingHash,
    "q_winnow_fingerprints" -> TextQueries.winnowFingerprints,
    "q_decile_norm" -> PipelineQueries.decileNorm,
    "q_text_lang_markers" -> TextQueries.textLangMarkers,
    // r14: the same text screens re-gated on the realistic generated
    // corpus (TextQueries.richDocs) next to their word-soup twins
    "q_script_mix_rich" -> TextQueries.scriptMixRich,
    "q_pii_rich" -> TextQueries.piiRich,
    "q_blocklist_rich" -> TextQueries.blocklistRich,
    "q_code_fences_rich" -> TextQueries.codeFencesRich,
    "q_lang_markers_rich" -> TextQueries.langMarkersRich,
    "q_neardup_rich" -> TextQueries.neardupRich,
    "q_lang_id" -> TextQueries.langId,
    "q_text_bigrams" -> TextQueries.textBigrams,
    "q_ngram_jaccard" -> TextQueries.ngramJaccard,
    "q_corpus_build" -> TextQueries.corpusBuild,
    "q_minhash_dedup" -> ((s: org.apache.spark.sql.SparkSession, d: String) =>
      graft.operators.Dedup.minhashDedup(
        graft.sources.Tables.documents(s, d), "doc_id", "text",
        numHashes = DedupQueries.MinhashNumHashes,
        bands = DedupQueries.MinhashBands,
        threshold = DedupQueries.MinhashDedupThreshold)
        .groupBy("source")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_survivors"))),
    "q_multimodal_meta" -> TextQueries.multimodalMeta,
    // file sources beyond parquet (E4)
    "q_csv_roundtrip" -> SourceQueries.csvRoundtrip,
    "q_orc_roundtrip" -> SourceQueries.orcRoundtrip,
    "q_json_roundtrip" -> SourceQueries.jsonRoundtrip,
    // UDF/UDAF surface (E41)
    "q_udf_scalar" -> UdfQueries.udfScalar,
    "q_udaf_geomean" -> UdfQueries.udafGeoMean,
    // near-dup dedup / ANN / multimodal (E35, E38, E40)
    "q_minhash_neardup" -> DedupQueries.minhashNearDup,
    "q_minhash_dedup_planted" -> DedupQueries.minhashDedupPlanted,
    "q_minhash_keep_best_planted" -> DedupQueries.minhashKeepBestPlanted,
    "q_minhash_transitive_planted" -> DedupQueries.minhashTransitivePlanted,
    "q_simhash_neardup" -> DedupQueries.simhashNearDup,
    "q_embed_neardup" -> DedupQueries.embedNearDup,
    "q_semantic_dedup" -> DedupQueries.semanticDedup,
    "q_ann_lsh" -> DedupQueries.annLsh,
    "q_ann_ivf" -> DedupQueries.annIvf,
    "q_multimodal_decode" -> DedupQueries.multimodalDecode,
    "q_media_headers" -> DedupQueries.mediaHeaders,
    // structured streaming replay (E29–E33)
    "q_stream_window_agg" -> ((s, d) => streaming.StreamOps.tumblingAgg(s, d)),
    "q_stream_quantiles" -> ((s, d) => streaming.StreamOps.quantileAgg(s, d)),
    "q_stream_stream_semi" ->
      ((s, d) => streaming.StreamOps.streamStreamSemiJoin(s, d)),
    "q_stream_running_totals" ->
      ((s, d) => streaming.RunningTotals.replay(s, d)),
    "q_stream_sliding" -> ((s, d) => streaming.StreamOps.slidingAgg(s, d)),
    "q_stream_session" -> ((s, d) => streaming.StreamOps.sessionAgg(s, d)),
    "q_stream_dedup" -> ((s, d) => streaming.StreamOps.streamDedup(s, d)),
    "q_stream_stream_join" ->
      ((s, d) => streaming.StreamOps.streamStreamJoin(s, d)),
    "q_stream_stream_left" ->
      ((s, d) => streaming.StreamOps.streamStreamLeftJoin(s, d)),
    "q_stream_stream_full" ->
      ((s, d) => streaming.StreamOps.streamStreamFullJoin(s, d)),
    "q_stream_static_join" ->
      ((s, d) => streaming.StreamOps.streamStaticJoin(s, d)),
    "q_stream_stateful" -> ((s, d) => streaming.StreamOps.statefulPerUser(s, d)),
    "q_stream_decontam" -> ((s, d) => streaming.StreamOps.streamDecontam(s, d)),
    "q_stream_blocklist" -> ((s, d) => streaming.StreamOps.streamBlocklist(s, d)),
    // riff parity (R2/R6, E28, E40)
    "q_riff_roundtrip" -> RiffQueries.riffRoundtrip,
    "q_map_funcs" -> RiffQueries.mapFuncs,
    // vectors / similarity (E36, E37)
    "q_vector_cosine" -> VectorQueries.vectorCosine,
    "q_similarity_topk" -> VectorQueries.similarityTopK,
    "q_hard_negatives" -> VectorQueries.hardNegatives,
    "q_embed_norms" -> VectorQueries.embedNorms,
    "q_l2_nearest" -> VectorQueries.l2Nearest,
    // pipeline extensions (round 2): compaction, sampling, scrubbing,
    // retrieval, decontamination, quality-aware dedup
    "q_latest_per_key" -> PipelineQueries.latestPerKey,
    "q_sample_hash" -> PipelineQueries.sampleHash,
    "q_sample_stratified" -> PipelineQueries.sampleStratified,
    "q_pii_scrub" -> PipelineQueries.piiScrub,
    "q_bm25_search" -> PipelineQueries.bm25Search,
    "q_decontam" -> PipelineQueries.decontam,
    "q_minhash_keep_best" -> PipelineQueries.minhashKeepBest,
    "q_pq_topk" -> PipelineQueries.pqTopK,
    "q_ivfpq_topk" -> PipelineQueries.ivfPqTopK,
    "q_ivfpq_append_planted" -> PipelineQueries.ivfPqAppendPlanted,
    // rows-only + RecallBench-measured (r15): real day-2 append —
    // the 13th member of the approx/LSH/sketch exception set, carrying
    // the same per-round quality artifact as the other ANN gates
    "q_ann_append" -> PipelineQueries.annAppend,
    "q_ann_retrain" -> PipelineQueries.annRetrain,
    "q_ivfpq_retract_planted" -> PipelineQueries.ivfPqRetractPlanted,
    "q_ivfpq_update_planted" -> PipelineQueries.ivfPqUpdatePlanted,
    "q_pipeline_e2e" -> PipelineQueries.pipelineE2e,
    "q_corpus_end2end" -> PipelineQueries.corpusEnd2End,
    "q_corpus_incremental" -> PipelineQueries.corpusIncremental,
    "q_corpus_retract" -> PipelineQueries.corpusRetract,
    "q_corpus_amend" -> PipelineQueries.corpusAmend,
    "q_amend_ledger" -> PipelineQueries.corpusAmendLedger,
    "q_corpus_day3" -> PipelineQueries.corpusDay3,
    "q_retract_ledger" -> PipelineQueries.corpusRetractLedger,
    "q_corpus_lifecycle" -> PipelineQueries.corpusLifecycle,
    "q_drop_ledger" -> PipelineQueries.corpusDropLedger,
    "q_minhash_transitive" -> PipelineQueries.minhashTransitive,
    "q_profile" -> PipelineQueries.profileLineitem,
    "q_multimodal_transform" -> PipelineQueries.multimodalTransform,
    // pipeline extensions (round 3): repetition quality filters,
    // corpus-level dup-span fraction, domain mixing, sequence packing
    "q_quality_repetition" -> PipelineQueries.qualityRepetition,
    "q_dup_spans" -> PipelineQueries.dupSpans,
    "q_dup_span_removal" -> PipelineQueries.dupSpanRemoval,
    "q_split_assign" -> PipelineQueries.splitAssign,
    "q_domain_mix" -> PipelineQueries.domainMix,
    "q_temperature_mix" -> PipelineQueries.temperatureMix,
    "q_seq_pack" -> PipelineQueries.seqPack,
    // pipeline extensions (round 4): tokenizer-faithful packing,
    // deterministic training-shard shuffle
    "q_seq_pack_tokens" -> PipelineQueries.seqPackTokens,
    "q_shuffle_shards" -> PipelineQueries.shuffleShards,
    // round 4: planted/exact-regime hash gates for formerly rows-only
    // approximate operators
    "q_simhash_planted" -> DedupQueries.simhashPlanted,
    "q_simhash_dedup_planted" -> DedupQueries.simhashDedupPlanted,
    "q_semantic_dedup_planted" -> DedupQueries.semanticDedupPlanted,
    "q_ann_lsh_planted" -> DedupQueries.annLshPlanted,
    "q_ann_ivf_planted" -> DedupQueries.annIvfPlanted,
    "q_kmv_exact" -> RelationalQueries.kmvExact,
    "q_hist_quantiles" -> RelationalQueries.histQuantiles,
    "q_embed_quant" -> VectorQueries.embedQuant,
    "q_quant_topk" -> VectorQueries.quantTopK,
    "q_unigram_surprisal" -> PipelineQueries.unigramSurprisal,
    "q_tokenize_ids" -> PipelineQueries.tokenizeIds,
    // round 4 cont.: line-level dedup, JL random projection, and the two
    // storage-layout disciplines (partition pruning, bucketed join)
    "q_line_dedup" -> PipelineQueries.lineDedup,
    "q_rand_project" -> VectorQueries.randProject,
    "q_embed_centroids" -> VectorQueries.embedCentroids,
    "q_partition_prune" -> SourceQueries.partitionPrune,
    "q_bucketed_join" -> SourceQueries.bucketedJoin,
    "q_zorder_key" -> SourceQueries.zorderKey,
    "q_split_leakage" -> PipelineQueries.splitLeakage,
    "q_curriculum" -> PipelineQueries.curriculumBuckets,
    "q_doc_chunks" -> PipelineQueries.docChunks,
    "q_sentence_chunks" -> PipelineQueries.sentenceChunks,
    "q_token_mix" -> PipelineQueries.tokenMix,
    "q_stream_chunks" -> ((s, d) => streaming.StreamOps.streamChunks(s, d)),
    "q_merge_schema" -> SourceQueries.mergeSchema,
    "q_profile_cat" -> PipelineQueries.profileCategorical,
    "q_cluster_planted" -> VectorQueries.clusterPlanted,
    "q_sessionize" -> PipelineQueries.sessionize,
    "q_funnel" -> PipelineQueries.funnel,
    "q_bpe_merges" -> PipelineQueries.bpeMerges,
    "q_ema_features" -> PipelineQueries.emaFeatures,
    "q_corpus_diff" -> PipelineQueries.corpusDiff,
    "q_editdist_neardup" -> PipelineQueries.editDistNearDup,
    "q_cms_freq" -> PipelineQueries.cmsFreq,
    "q_bigram_surprisal" -> PipelineQueries.bigramSurprisal,
    "q_pmi_collocations" -> PipelineQueries.pmiCollocations,
    "q_cohort_retention" -> PipelineQueries.cohortRetention,
    "q_resample_ffill" -> PipelineQueries.resampleFfill,
    "q_resample_interp" -> PipelineQueries.resampleInterp,
    "q_scd2_history" -> PipelineQueries.scd2History,
    "q_graph_degrees" -> PipelineQueries.graphDegrees,
    "q_skew_report" -> PipelineQueries.skewReport,
    "q_pagerank_planted" -> PipelineQueries.pagerankPlanted,
    "q_components_planted" -> PipelineQueries.componentsPlanted,
    "q_bfs_hops" -> PipelineQueries.bfsHops,
    "q_bitmap_distinct" -> RelationalQueries.bitmapDistinct,
    "q_interval_merge" -> RelationalQueries.intervalMerge,
    "q_share_of_parent" -> RelationalQueries.shareOfParent,
    "q_bitmap_overlap" -> RelationalQueries.bitmapOverlap,
    "q_sssp_weighted" -> PipelineQueries.ssspWeighted,
    "q_spatial_radius" -> PipelineQueries.spatialRadius,
    "q_mann_whitney" -> PipelineQueries.mannWhitneyPrices,
    "q_attribution" -> PipelineQueries.attribution,
    "q_rfm_segments" -> PipelineQueries.rfmSegments,
    "q_clamped_cumsum" -> PipelineQueries.clampedInventory,
    "q_nb_train" -> PipelineQueries.nbTrain,
    "q_skyline" -> PipelineQueries.skylineParts,
    "q_nb_classify" -> PipelineQueries.nbClassify,
    "q_quality_classifier" -> PipelineQueries.qualityClassifier,
    "q_hashing_tf" -> TextQueries.hashingTf,
    "q_bloom_decontam" -> PipelineQueries.bloomDecontam,
    "q_semantic_decontam" -> PipelineQueries.semanticDecontam,
    "q_utf8_normalize" -> TextQueries.utf8Normalize,
    "q_strip_markup" -> TextQueries.stripMarkup,
    "q_blocklist_hits" -> TextQueries.blocklistHits,
    "q_url_parse" -> TextQueries.urlParse,
    "q_compress_quality_planted" -> PipelineQueries.compressQuality,
    "q_incr_dedup_planted" -> DedupQueries.incrementalDedupPlanted,
    "q_stream_neardup" -> ((s, d) => streaming.StreamOps.streamNearDup(s, d)),
    "q_stream_neardup_screen" ->
      ((s, d) => streaming.StreamOps.streamNearDupScreen(s, d)),
    "q7_volume" -> RelationalQueries.q7Volume,
    "q10_returned" -> RelationalQueries.q10Returned,
    "q18_large_orders" -> RelationalQueries.q18LargeOrders,
    "q_window_distribution" -> RelationalQueries.windowDistribution,
    "q_jsonl_quarantine" -> SourceQueries.jsonlQuarantine,
    "q_corpus_merge" -> PipelineQueries.corpusMerge,
    // round 6: lakehouse merge, graph triangles, exact-sum regression
    "q_cdc_apply" -> PipelineQueries.cdcApply,
    "q_triangle_counts" -> PipelineQueries.triangleCounts,
    "q_clustering_coeff" -> PipelineQueries.clusteringCoeff,
    "q_linreg_group" -> RelationalQueries.linregGroup,
    "q_kanon_audit" -> PipelineQueries.kanonAudit,
    "q_ldiv_audit" -> PipelineQueries.ldivAudit,
    "q_tclose_audit" -> PipelineQueries.tcloseAudit,
    "q_source_entropy" -> PipelineQueries.sourceEntropy,
    "q_robust_scale" -> PipelineQueries.robustScaleLen,
    "q_sample_weighted" -> PipelineQueries.sampleWeighted,
    "q_token_entropy" -> TextQueries.tokenEntropy,
    "q_lateral_topk" -> RelationalQueries.lateralTopK,
    // round 7: exact set-similarity join (prefix filtering), global
    // sequence assignment, robust outliers, rolling median
    "q_setsim_join" -> DedupQueries.setsimJoin,
    "q_global_seq" -> PipelineQueries.globalSeq,
    "q_length_outliers" -> PipelineQueries.lengthOutliers,
    "q_rolling_median" -> RelationalQueries.rollingMedian,
    "q_heavy_hitters" -> RelationalQueries.heavyHitters,
    "q_interval_overlap" -> PipelineQueries.intervalOverlap,
    "q_stream_heavy_hitters" ->
      ((s, d) => streaming.StreamOps.heavyHittersAgg(s, d)),
    "q_setsim_dedup" -> DedupQueries.setsimDedup,
    "q_group_split" -> PipelineQueries.groupSplit,
    "q_winsorize" -> PipelineQueries.winsorizeLengths,
    "q_corpus_drift" -> PipelineQueries.corpusDrift,
    "q_ohlc_bars" -> PipelineQueries.ohlcBars,
    "q_interval_mixed" -> PipelineQueries.intervalMixed,
    "q_manifest" -> PipelineQueries.manifestDigest,
    "q_manifest_diff" -> PipelineQueries.manifestDiff,
    "q_incremental_agg" -> PipelineQueries.incrementalAgg,
    "q_incremental_minmax" -> PipelineQueries.incrementalMinmax,
    // round 8: point-in-time joins, runtime-filtered joins, data-quality
    // audits, phrase search, retrieval metrics
    "q_temporal_join" -> PipelineQueries.temporalJoin,
    "q_bloom_join" -> RelationalQueries.bloomJoin,
    "q_validate" -> PipelineQueries.validateAudit,
    "q_phrase_search" -> TextQueries.phraseSearch,
    "q_ir_metrics" -> PipelineQueries.irMetrics,
    "q_kcore_planted" -> PipelineQueries.kcorePlanted,
    "q_event_pattern" -> PipelineQueries.eventPattern,
    "q_stream_upsert" -> ((s, d) => streaming.StreamOps.streamUpsert(s, d)),
    "q_stream_retract" ->
      ((s, d) => streaming.StreamOps.streamRetract(s, d)),
    "q_stream_amend" ->
      ((s, d) => streaming.StreamOps.streamAmend(s, d)),
    "q_stream_amend_compact" ->
      ((s, d) => streaming.StreamOps.streamAmendCompact(s, d)),
    "q_stream_retract_full" ->
      ((s, d) => streaming.StreamOps.streamRetractFull(s, d)),
    "q_stream_amend_full" ->
      ((s, d) => streaming.StreamOps.streamAmendFull(s, d)),
    "q_zonemap_prune" -> SourceQueries.zonemapPrune,
    "q_setsim_linkage" -> DedupQueries.setsimLinkage,
    "q_join_card_est" -> RelationalQueries.joinCardEst,
    "q_incremental_join" -> PipelineQueries.incrementalJoin,
    "q_feature_bins" -> PipelineQueries.featureBins,
    "q_target_encode" -> PipelineQueries.targetEncode,
    "q_corr_matrix" -> PipelineQueries.corrMatrix,
    "q_cat_dependence" -> PipelineQueries.catDependence,
    "q8_market_share" -> RelationalQueries.q8MarketShare,
    "q_event_transitions" -> RelationalQueries.eventTransitions,
    "q_time_split" -> PipelineQueries.timeSplit,
    "q_stream_temporal" ->
      ((s, d) => streaming.StreamOps.streamTemporal(s, d)),
    "q_rolling_zscore" -> PipelineQueries.rollingZscore,
    "q_copurchase_lift" -> RelationalQueries.copurchaseLift,
    "q_autocorr" -> PipelineQueries.autocorr,
    "q_fightin_words" -> PipelineQueries.fightinWords,
    "q_stream_distinct" ->
      ((s, d) => streaming.StreamOps.streamDistinct(s, d)),
    // round 9: the three classic decorrelation shapes (correlated
    // scalar min, EXISTS semi, nested IN chain with scalar threshold)
    "q2_min_cost" -> RelationalQueries.q2MinCost,
    "q4_priority_exists" -> RelationalQueries.q4PriorityExists,
    "q20_semi_chain" -> RelationalQueries.q20SemiChain,
    "q17_small_qty" -> RelationalQueries.q17SmallQty,
    "q13_order_histogram" -> RelationalQueries.q13OrderHistogram,
    "q19_disjunctive" -> RelationalQueries.q19Disjunctive,
    "q22_idle_customers" -> RelationalQueries.q22IdleCustomers,
    "q_window_fill" -> RelationalQueries.windowFill,
    "q_string_agg" -> RelationalQueries.stringAgg,
    "q_pii_detect" -> PipelineQueries.piiDetect,
    "q_pii_redact" -> PipelineQueries.piiRedact,
    "q_pii_luhn" -> PipelineQueries.piiLuhn,
    "q_dsir_weights" -> PipelineQueries.dsirWeights,
    "q21_waiting" -> RelationalQueries.q21Waiting,
    "q15_top_supplier" -> RelationalQueries.q15TopSupplier,
    "q_kmv_setops" -> RelationalQueries.kmvSetops,
    "q_mv_rewrite" -> PipelineQueries.mvRewrite,
    "q_incremental_distinct" -> PipelineQueries.incrementalDistinct,
    // round 9 (cont.): the remaining TPC-H shapes — the spine now
    // covers all 22 queries (adapted to the testdata schema)
    "q6_forecast" -> RelationalQueries.q6Forecast,
    "q9_profit" -> RelationalQueries.q9Profit,
    "q11_important_parts" -> RelationalQueries.q11ImportantParts,
    "q12_priority_class" -> RelationalQueries.q12PriorityClass,
    "q14_promo" -> RelationalQueries.q14Promo,
    "q16_supplier_cnt" -> RelationalQueries.q16SupplierCnt,
    "q_recursive_chain" -> RelationalQueries.recursiveChain,
    "q_set_intersect_all" -> RelationalQueries.setIntersectAll,
    "q_set_except_all" -> RelationalQueries.setExceptAll,
    "q_retrieve_rerank" -> PipelineQueries.retrieveRerank,
    "q_ks_drift" -> PipelineQueries.ksDrift,
    "q_stream_drift" ->
      ((s, d) => streaming.StreamOps.streamDrift(s, d)),
    "q_seasonal_decompose" -> PipelineQueries.seasonalDecompose,
    "q_lpa_planted" -> PipelineQueries.lpaPlanted,
    "q_modularity_planted" -> PipelineQueries.modularityPlanted,
    "q_jaro_winkler" -> PipelineQueries.jaroWinklerPairs,
    "q_damerau" -> PipelineQueries.damerauPairs,
    "q_cusum_shift" -> PipelineQueries.cusumShift,
    "q_calibration" -> PipelineQueries.calibrationReport,
    "q_bloom_prune" -> SourceQueries.bloomPrune,
    "q_agg_filter" -> RelationalQueries.aggFilter,
    "q_stream_ivm" ->
      ((s, d) => streaming.StreamOps.streamIvm(s, d)),
    "q_time_travel" ->
      ((s, d) => streaming.StreamOps.timeTravel(s, d)),
    "q_entity_resolution" -> PipelineQueries.entityResolution,
    "q_pagerank_weighted_planted" ->
      PipelineQueries.pagerankWeightedPlanted,
    "q_containment_join" -> DedupQueries.containmentJoin,
    "q_exact_quantiles" -> PipelineQueries.exactQuantiles,
    "q_weighted_quantiles" -> PipelineQueries.weightedQuantilesQ,
    "q_benford_audit" -> PipelineQueries.benfordAudit,
    "q_roc_auc" -> PipelineQueries.rocAucReport,
    "q_avg_precision" -> PipelineQueries.avgPrecisionReport,
    "q_adamic_adar" -> PipelineQueries.adamicAdarTopk,
    "q_kn_surprisal" -> PipelineQueries.knSurprisal,
    "q_rrf_fusion" -> PipelineQueries.rrfFusion,
    "q_components_chain_planted" -> PipelineQueries.componentsChainPlanted,
    "q_welch_ttest" -> PipelineQueries.welchTtest,
    "q_confusion_f1" -> PipelineQueries.confusionF1,
    "q_gini_revenue" -> PipelineQueries.giniRevenue,
    "q_top_share" -> PipelineQueries.revenueTopShare,
    "q_hll_registers" -> PipelineQueries.hllRegisters,
    "q_hll_estimate" -> PipelineQueries.hllEstimate,
    "q_grouped_quantiles" -> PipelineQueries.groupedQuantilesQ,
    "q_holt_forecast" -> PipelineQueries.holtDaily,
    "q_rouge2_pairs" -> PipelineQueries.rouge2Pairs,
    "q_stream_hll" -> ((s, d) => streaming.StreamOps.streamHll(s, d)),
    "q_hits_planted" -> PipelineQueries.hitsPlanted,
    "q_bleu_pairs" -> PipelineQueries.bleuPairs,
    "q_cohen_kappa" -> PipelineQueries.cohenKappaQ,
    "q_assortativity" -> PipelineQueries.assortativityQ,
    "q_trimmed_mean" -> PipelineQueries.trimmedMeanQ,
    "q_hll_agg_groups" -> PipelineQueries.hllByGroup,
    "q_welch_sweep" -> PipelineQueries.welchSweep,
    // round 11: rank correlation, multi-rater agreement, proportions
    "q_spearman" -> PipelineQueries.spearmanQtyPrice,
    "q_kendall_tau" -> PipelineQueries.kendallQtyDisc,
    "q_fleiss_kappa" -> PipelineQueries.fleissLangAgreement,
    "q_krippendorff" -> PipelineQueries.krippendorffLang,
    "q_prop_ztest" -> PipelineQueries.propZDiscount,
    "q_kruskal" -> PipelineQueries.kruskalPrices,
    "q_anova_f" -> PipelineQueries.anovaShipmode,
    "q_levene_bf" -> PipelineQueries.leveneReturnflag,
    "q_jonckheere" -> PipelineQueries.jtPriority,
    "q_kaplan_meier" -> PipelineQueries.kaplanMeierRetention,
    "q_nelson_aalen" -> PipelineQueries.nelsonAalenHazard,
    "q_silhouette" -> VectorQueries.silhouetteLabels,
    "q_log_rank" -> PipelineQueries.logRankCohorts,
    "q_cliffs_delta" -> PipelineQueries.cliffsDeltaPrices,
    "q_mann_kendall" -> PipelineQueries.mannKendallOrders,
    "q_llr_keyness" -> PipelineQueries.llrKeynessLangs,
    "q_mcc" -> PipelineQueries.mccLangId,
    "q_cross_corr" -> PipelineQueries.crossCorrClicks,
    "q_jsd_langs" -> PipelineQueries.jsdLangs,
    "q_mcnemar" -> PipelineQueries.mcnemarLangId,
    "q_cochran_q" -> PipelineQueries.cochranJudges,
    "q_cochran_armitage" -> PipelineQueries.caPriority,
    "q_mantel_haenszel" -> PipelineQueries.mhPriority,
    "q_cronbach_alpha" -> PipelineQueries.cronbachCohorts,
    "q_cramers_v" -> PipelineQueries.cramersVEvents,
    "q_wilcoxon" -> PipelineQueries.wilcoxonSpend,
    // round 12: the k-paired member completing the test matrix
    "q_friedman" -> PipelineQueries.friedmanPriority,
    "q_page_trend" -> PipelineQueries.pageTrendPriority,
    "q_kendall_w" -> PipelineQueries.kendallWPriority,
    "q_conformal_quantile" -> PipelineQueries.conformalPrice,
    "q_stream_conformal" -> ((s: org.apache.spark.sql.SparkSession,
      d: String) => graft.streaming.StreamOps.streamConformal(s, d)),
    "q_hampel" -> PipelineQueries.hampelEvents,
    "q_durbin_watson" -> PipelineQueries.durbinWatsonUsers,
    "q_key_profile" -> PipelineQueries.keyProfileOrders,
    "q_fd_violations" -> PipelineQueries.fdCustPriority,
    "q_embed_cov" -> VectorQueries.embedCov,
    "q_embed_pc" -> VectorQueries.embedPc,
    "q_fdr_flags" -> PipelineQueries.fdrFlags,
    "q_fdr_grouped" -> PipelineQueries.fdrGrouped,
    "q_zipf_fit" -> PipelineQueries.zipfFit,
    "q_heaps_fit" -> PipelineQueries.heapsFit,
    "q_script_mix" -> PipelineQueries.scriptMixQ,
    "q_code_fences" -> PipelineQueries.codeFencesQ,
    "q_bpe_encode_planted" -> PipelineQueries.bpeEncodePlanted,
    "q_holt_winters" -> PipelineQueries.holtWintersDaily,
    "q_twap" -> PipelineQueries.twapUser,
    "q_burstiness" -> PipelineQueries.burstinessUser,
  )

  /** Shared oracle head for the classifier-eval family (q_roc_auc,
    * q_avg_precision): replays [[graft.operators.Classifier.linearScore]]
    * — hashed tf, fixed-point hash weights, exact int64 dot — and emits
    * `sc(doc_id, score, label)` with score = the RAW logit (one IEEE
    * division of exact integers) and label = (lang = 'en'). Ends
    * mid-WITH so callers append their own CTEs. */
  private val classifierScoreSql = """
      WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        FROM documents),
      cells AS (
        SELECT doc_id,
               ('0x' || substr(md5('tf_' || tok), 1, 8))::BIGINT % 64
                 AS cell,
               count(*)::BIGINT AS c
        FROM toks WHERE tok <> '' GROUP BY 1, 2),
      m AS (
        SELECT doc_id,
               map_from_entries(list(struct_pack(k := cell, v := c))) AS mp
        FROM cells GROUP BY doc_id),
      tf AS (
        SELECT doc_id,
               list_transform(range(0, 64),
                 i -> coalesce(map_extract(mp, i)[1], 0)::BIGINT) AS v
        FROM m),
      w AS (
        SELECT list_transform(range(0, 64),
          i -> (i * 2654435761) % 1000 - 500) AS wv),
      scored AS (
        SELECT doc_id,
               list_sum(v)::BIGINT AS n_tokens,
               list_sum(list_transform(range(1, 65),
                 i -> v[i] * wv[i]))::BIGINT AS dot
        FROM tf CROSS JOIN w),
      sc AS (
        SELECT s.doc_id,
               dot::DOUBLE / (1000.0 * n_tokens) AS score,
               (d.lang = 'en') AS label
        FROM scored s JOIN documents d USING (doc_id)
        WHERE n_tokens > 0),"""

  private val docChunksSql = """
      WITH base AS (
        -- empty-token filter mirrors the operator (see q_line_dedup)
        SELECT doc_id, tk, len(tk) AS n FROM (
          SELECT doc_id,
                 list_filter(string_split(lower(text), ' '),
                   t -> t <> '') AS tk
          FROM documents)
        WHERE len(tk) > 0)
      SELECT doc_id, i::INT AS chunk_id, (i * 48)::INT AS start_pos,
             least(64, n - i * 48)::INT AS n_chunk_tokens,
             array_to_string(tk[i*48+1 : i*48+64], ' ') AS chunk_text
      FROM base,
           unnest(range(0, CAST(ceil(n / 48.0) AS BIGINT))) AS r(i)"""

  /** The from-scratch corpus-chain replay — shared verbatim by
    * q_corpus_end2end AND q_corpus_incremental: the incremental
    * path must reproduce the batch manifest exactly (the
    * cross-stage IVM contract, r13 verdict #4), so the two gates
    * hash against ONE oracle. */
  /** The S1–S4 survivor chain of the corpus oracle, emitted once per
    * (CTE-name suffix, base table): the batch / incremental / day-3 /
    * retract replays and the retract ledger's TWO side-by-side chains
    * all share this ONE definition, so no replay can drift on a chain
    * rule. Ends at the `s4$sfx` CTE (pre-mixing — the membership
    * frontier the ledger diffs). */
  private def corpusS4ChainSql(sfx: String, base: String): String =
    s"""q$sfx AS (
        SELECT doc_id, lang, text,
               len(string_split(text, ' '))::INT AS n_tokens
        FROM $base
        WHERE lang IN ('en', 'de', 'fr')
          AND len(string_split(text, ' ')) BETWEEN 20 AND 1000
          AND length(text)::DOUBLE / len(string_split(text, ' ')) < 12),
      keep$sfx AS (SELECT min(doc_id) AS doc_id FROM q$sfx GROUP BY text),
      s2$sfx AS (SELECT q$sfx.* FROM q$sfx JOIN keep$sfx USING (doc_id)),
      w$sfx AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '),
                 t -> t <> '') AS w
        FROM s2$sfx),
      shing$sfx AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tk
        FROM w$sfx),
      tok$sfx AS (
        SELECT doc_id, len(tk)::INT AS n, unnest(tk) AS tok
        FROM shing$sfx WHERE len(tk) > 0),
      ov$sfx AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               a.n AS n1, b.n AS n2, count(*) AS overlap
        FROM tok$sfx a JOIN tok$sfx b
          ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4),
      neardup$sfx AS (
        SELECT DISTINCT id2 AS doc_id FROM ov$sfx
        WHERE overlap * 1.0 / (n1 + n2 - overlap) >= 0.6),
      s3$sfx AS (SELECT * FROM s2$sfx
             WHERE doc_id NOT IN (SELECT doc_id FROM neardup$sfx)),
      toked$sfx AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM $base),
      ngr$sfx AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t) - 3),
                 i -> array_to_string(t[i:i+4], ' '))) AS ng
        FROM toked$sfx WHERE len(t) >= 5),
      bench$sfx AS (SELECT DISTINCT ng FROM ngr$sfx WHERE doc_id < 5),
      contaminated$sfx AS (
        SELECT DISTINCT c.doc_id
        FROM (SELECT doc_id, ng FROM ngr$sfx WHERE doc_id >= 5) c
        JOIN bench$sfx USING (ng)),
      s4$sfx AS (
        SELECT * FROM s3$sfx
        WHERE doc_id >= 5
          AND doc_id NOT IN (SELECT doc_id FROM contaminated$sfx))"""

  private val CorpusEnd2EndOracle: String = s"""
      WITH ${corpusS4ChainSql("", "documents")},
      mixed AS (
        SELECT doc_id, lang, n_tokens FROM (
          SELECT doc_id, lang, n_tokens,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC) AS rn
          FROM s4) r
        WHERE rn <= CASE lang WHEN 'en' THEN 60 ELSE 30 END),
      packed AS (
        SELECT doc_id, lang, n_tokens,
               (sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT
                 AS start_off
        FROM mixed),
      chunked AS (
        SELECT doc_id, lang, n_tokens,
               (start_off // 256)::BIGINT AS chunk_id
        FROM packed),
      sharded AS (
        SELECT *,
               (('0x' || substr(md5('graft_' || doc_id::VARCHAR), 1, 8))
                  ::BIGINT % 8)::INT AS shard
        FROM chunked)
      SELECT doc_id % 16 AS bucket, count(*) AS n_rows,
             bit_xor(('0x' || substr(md5(
               doc_id::VARCHAR
                 || chr(1) || chr(3) || lang
                 || chr(1) || chr(3) || n_tokens::VARCHAR
                 || chr(1) || chr(3) || chunk_id::VARCHAR
                 || chr(1) || chr(3) || shard::VARCHAR),
               1, 15))::BIGINT) AS digest
      FROM sharded GROUP BY 1"""

  /** [[CorpusEnd2EndOracle]] replayed from scratch on corpus MINUS the
    * registered retraction set (ids ≥ 5, id ≡ 7 mod 17) — what the
    * delta-sized q_corpus_retract must hash-equal. Derived
    * mechanically from the shared oracle string so the two replays
    * can never drift on a chain rule. */
  private val CorpusRetractOracle: String =
    CorpusEnd2EndOracle.replace("FROM documents", "FROM documents_kept")
      .replaceFirst("WITH q AS", """WITH documents_kept AS (
        SELECT * FROM documents
        WHERE NOT (doc_id >= 5 AND doc_id % 17 = 7)),
      q AS""")

  /** [[CorpusEnd2EndOracle]] replayed from scratch on the AMENDED
    * corpus — the registered re-crawl
    * ([[graft.queries.PipelineQueries.registeredAmendment]]: ids ≥ 5,
    * id ≡ 11 mod 23; stub / donor-copy / donor-near-dup by id mod 3)
    * applied to the documents table before the chain runs. What the
    * delta-sized q_corpus_amend must hash-equal; derived mechanically
    * from the shared oracle string so the replays cannot drift. */
  /** The registered amendment + amended-corpus CTEs, shared by the
    * amend manifest and amend ledger oracles (ONE definition, so the
    * two replays cannot drift on the amendment recipe). */
  private val AmendmentsCteSql: String = """amendments AS (
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 4 = 0 THEN 'amended takedown stub'
                    WHEN d.doc_id % 4 = 3 THEN array_to_string(
                      list_transform(range(1, 25), i -> 'am' ||
                        substr(md5(d.doc_id::VARCHAR || '_'
                          || i::VARCHAR), 1, 6)), ' ')
                    WHEN d.doc_id % 4 = 1
                      THEN coalesce(don.text, 'amended takedown stub')
                    ELSE coalesce(don.text || ' zq amendment tail',
                                  'amended takedown stub')
               END AS new_text
        FROM documents d LEFT JOIN documents don
          ON don.doc_id = d.doc_id + 8
        WHERE d.doc_id >= 5 AND d.doc_id % 23 = 11),
      documents_amended AS (
        SELECT d.doc_id, d.lang, coalesce(a.new_text, d.text) AS text
        FROM documents d LEFT JOIN amendments a USING (doc_id))"""

  private val CorpusAmendOracle: String =
    CorpusEnd2EndOracle.replace("FROM documents", "FROM documents_amended")
      .replaceFirst("WITH q AS",
        java.util.regex.Matcher.quoteReplacement(
          s"WITH $AmendmentsCteSql,\n      q AS"))

  /** The amendment CHANGE ledger's replay: BOTH S1–S4 chains side by
    * side (original `_a`, amended `_m`), diffed at the S4 frontier
    * with the one-event-per-amendment reason classification. */
  private val CorpusAmendLedgerOracle: String = s"""
      WITH $AmendmentsCteSql,
      ${corpusS4ChainSql("_a", "documents")},
      ${corpusS4ChainSql("_m", "documents_amended")}
      SELECT doc_id, 'amended_in_corpus' AS reason FROM s4_m
      WHERE doc_id IN (SELECT doc_id FROM amendments)
      UNION ALL
      SELECT doc_id, 'removed_amended' AS reason FROM s4_a
      WHERE doc_id IN (SELECT doc_id FROM amendments)
        AND doc_id NOT IN (SELECT doc_id FROM s4_m)
      UNION ALL
      SELECT doc_id, 'removed_displaced' AS reason FROM s4_a
      WHERE doc_id NOT IN (SELECT doc_id FROM amendments)
        AND doc_id NOT IN (SELECT doc_id FROM s4_m)
      UNION ALL
      SELECT doc_id,
             CASE WHEN doc_id IN (SELECT doc_id FROM s2_a)
               THEN 'resurrected_neardup_victim'
               ELSE 'resurrected_exact_twin' END AS reason
      FROM s4_m
      WHERE doc_id NOT IN (SELECT doc_id FROM s4_a)
        AND doc_id NOT IN (SELECT doc_id FROM amendments)"""

  /** [[CorpusEnd2EndOracle]] on corpus MINUS the streaming takedown
    * set (ids ≥ 5, id ≡ 4 mod 13): N takedown micro-batches replayed
    * through the streaming retraction consumer must land on ONE batch
    * retraction of the union — which is this from-scratch replay. */
  private val StreamRetractOracle: String =
    CorpusEnd2EndOracle.replace("FROM documents", "FROM documents_kept")
      .replaceFirst("WITH q AS", """WITH documents_kept AS (
        SELECT * FROM documents
        WHERE NOT (doc_id >= 5 AND doc_id % 13 = 4)),
      q AS""")

  /** The retraction CHANGE ledger's replay: BOTH S1–S4 chains side by
    * side (full corpus `_a`, kept corpus `_k`) from the shared chain
    * definition, diffed at the S4 membership frontier with the reason
    * classification the Spark ledger emits. */
  private val CorpusRetractLedgerOracle: String = s"""
      WITH documents_kept AS (
        SELECT * FROM documents
        WHERE NOT (doc_id >= 5 AND doc_id % 17 = 7)),
      ${corpusS4ChainSql("_a", "documents")},
      ${corpusS4ChainSql("_k", "documents_kept")},
      r AS (SELECT doc_id FROM documents
            WHERE doc_id >= 5 AND doc_id % 17 = 7)
      SELECT doc_id, 'removed_retracted' AS reason
      FROM s4_a WHERE doc_id IN (SELECT doc_id FROM r)
      UNION ALL
      SELECT doc_id, 'removed_doomed' AS reason
      FROM s4_a
      WHERE doc_id NOT IN (SELECT doc_id FROM r)
        AND doc_id NOT IN (SELECT doc_id FROM s4_k)
      UNION ALL
      SELECT doc_id,
             CASE WHEN doc_id IN (SELECT doc_id FROM s2_a)
               THEN 'resurrected_neardup_victim'
               ELSE 'resurrected_exact_twin' END AS reason
      FROM s4_k
      WHERE doc_id NOT IN (SELECT doc_id FROM s4_a)"""

  /** The DuckDB replay of [[graft.queries.TextQueries.richDocs]] —
    * the realistic generated corpus (r14): literals + md5 words +
    * id arithmetic only, byte-identical across engines. Ends
    * mid-WITH so the *_rich oracles append their operator CTEs. */
  private val RichDocsSql: String = """      WITH rich0 AS (
        SELECT doc_id,
          CASE doc_id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'de'
            ELSE 'fr' END AS lang,
          'Dr. ' || CASE doc_id % 4 WHEN 0 THEN 'Alice Smith'
              WHEN 1 THEN 'Bob Jones' WHEN 2 THEN 'Carol White'
              ELSE 'Dan Brown' END
          || ' wrote about ' || substr(md5(doc_id::VARCHAR || '_w1'), 1, 6)
          || ' on 2024-03-' || (doc_id % 28 + 1)
          || '. The order #' || doc_id
          || ' cost $' || (doc_id * 7 % 90 + 10)
          || '.' || lpad((doc_id % 100)::VARCHAR, 2, '0')
          || ' in ' || CASE doc_id % 3 WHEN 0 THEN 'Berlin'
              WHEN 1 THEN 'Paris' ELSE 'London' END
          || '! Contact user' || doc_id
          || '@example.com or call +1-202-555-'
          || lpad((doc_id % 10000)::VARCHAR, 4, '0')
          || '. The size of ' || substr(md5(doc_id::VARCHAR || '_w2'), 1, 6)
          || ' and the rest of it. '
          || CASE WHEN doc_id % 3 = 1
               THEN 'Die Daten und der Bericht. ' ELSE '' END
          || CASE WHEN doc_id % 3 = 2
               THEN 'Le chat et la maison. ' ELSE '' END
          || CASE WHEN doc_id % 7 = 0
               THEN 'да pаypal да. ' ELSE '' END
          || CASE WHEN doc_id % 11 = 0
               THEN 'βήτα αlpha. ' ELSE '' END
          || CASE WHEN doc_id % 5 = 0
               THEN 'Never drop table in prod; a slow scan hurts. '
               ELSE '' END
          || CASE WHEN doc_id % 4 = 0
               THEN chr(10) || '```python' || chr(10)
                    || substr(md5(doc_id::VARCHAR || '_w1'), 1, 6)
                    || ' = 42' || chr(10) || '```'
               ELSE '' END AS text
        FROM documents),
      rich AS (
        SELECT * FROM rich0
        UNION ALL
        SELECT doc_id + 10000000, lang, text || ' Regards team.'
        FROM rich0 WHERE doc_id % 13 = 0)"""

  def oracleSql: Map[String, String] = Map(
    "q_scan_count" ->
      "SELECT count(*) AS cnt FROM lineitem",

    "q_json_extract" -> """
      SELECT event_type, count(*) AS n,
             sum(json_extract_string(props,'$.k')::BIGINT)::BIGINT AS sum_k,
             max(json_extract_string(props,'$.k')::BIGINT) AS max_k
      FROM events GROUP BY event_type""",

    "q_json_build" -> """
      SELECT doc_id, lang AS j_lang, source AS j_source,
             n_chars AS j_chars
      FROM documents""",

    "q_null_funcs" -> """
      SELECT c_custkey,
             nullif(c_mktsegment, 'BUILDING') AS seg_nb,
             coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER')
               AS seg_or_other,
             CASE WHEN nullif(c_mktsegment, 'BUILDING') IS NOT NULL
                  THEN 'present' ELSE 'was_null' END AS seg_flag,
             coalesce(nullif(c_acctbal, 0), -1) AS bal_nz
      FROM customer""",

    "q_filter_pred" -> """
      SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
      FROM lineitem
      WHERE l_shipdate BETWEEN '1995-01-01' AND '1996-12-31'
        AND l_quantity IN (10,20,30,40) AND l_returnflag = 'R'""",

    "q_filter_like" -> """
      SELECT p_partkey, p_name, p_type FROM part
      WHERE p_name LIKE '%widget%' AND p_type NOT LIKE 'PRO%'
        AND regexp_matches(p_name, '^[a-z]+ ')""",

    "q_agg_having" -> """
      SELECT l_orderkey, sum(l_quantity) AS total_qty, count(*) AS n_lines
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 150""",

    "q_orc_roundtrip" -> """
      SELECT p_brand, count(*) AS n,
             CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total,
             max(p_size) AS max_size
      FROM part GROUP BY p_brand""",

    "q_proj_compute" -> """
      SELECT l_orderkey, l_linenumber,
             round(l_extendedprice*(1-l_discount),6) AS revenue,
             CASE WHEN l_quantity >= 30 THEN 'bulk'
                  WHEN l_quantity >= 10 THEN 'mid'
                  ELSE 'small' END AS qty_class
      FROM lineitem""",

    "q_join_inner" -> """
      SELECT c_mktsegment, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment""",

    "q_join_broadcast" -> """
      SELECT r_name, count(*) AS n_nations,
             array_to_string(list_sort(list(n_name)),',') AS nations
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name""",

    // salting is result-invisible: the oracle is the PLAIN equi join
    "q_join_skew_salted" -> """
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
               AS DOUBLE) AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1""",

    "q_join_left" -> """
      SELECT c_custkey, count(o_orderkey) AS n_orders,
             coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
               AS DOUBLE), 0) AS total
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey""",

    "q_join_full" -> """
      SELECT count(*) AS n_keys,
             sum(coalesce(has_cust,0))::BIGINT AS n_cust,
             sum(coalesce(has_ord,0))::BIGINT AS n_ord
      FROM (SELECT c_custkey AS k, 1 AS has_cust FROM customer) c
      FULL JOIN (SELECT DISTINCT o_custkey AS k, 1 AS has_ord FROM orders) o
      USING (k)""",

    "q_join_semi" -> """
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",

    "q_join_anti" -> """
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",

    "q_join_range" -> """
      SELECT e1.user_id AS user_id, count(*) AS n_pairs
      FROM events e1 JOIN events e2
        ON e1.user_id = e2.user_id
       AND e2.ts >= e1.ts AND e2.ts <= e1.ts + INTERVAL 1 HOUR
      WHERE e1.event_type = 'error' AND e2.event_type = 'purchase'
      GROUP BY 1""",

    "q_asof_join" -> """
      SELECT p.event_id, p.user_id, v.ts AS asof_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        ON p.user_id = v.user_id AND p.ts >= v.ts""",

    "q_asof_forward" -> """
      SELECT p.event_id, p.user_id, v.ts AS asof_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        ON p.user_id = v.user_id AND p.ts <= v.ts""",

    "q_asof_multikey" -> """
      SELECT p.event_id, p.user_id, p.day, v.ts AS asof_ts
      FROM (SELECT event_id, user_id, ts, CAST(ts AS DATE) AS day
            FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT user_id, ts, CAST(ts AS DATE) AS day
            FROM events WHERE event_type = 'view') v
        ON p.user_id = v.user_id AND p.day = v.day AND p.ts >= v.ts""",

    "q1_agg" -> """
      SELECT l_returnflag, l_linestatus,
             sum(l_quantity) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_base_price,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
               AS sum_disc_price,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * (1.00 - CAST(l_discount AS DECIMAL(4,2)))
               * (1.00 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)
               AS sum_charge,
             avg(l_quantity) AS avg_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               / count(l_extendedprice) AS avg_price,
             CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
               / count(l_discount) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= '1998-09-02'
      GROUP BY l_returnflag, l_linestatus""",

    "q3_shipping" -> """
      SELECT l_orderkey, revenue, o_orderdate, o_orderpriority FROM (
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                 AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < '1995-03-15' AND l_shipdate > '1995-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority) t
      ORDER BY revenue DESC, l_orderkey LIMIT 10""",

    "q5_local_supplier" -> """
      SELECT n_name,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
               AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY n_name""",

    "q_text_token_regex" -> """
      SELECT lang, count(*) AS n_docs,
             sum(len(regexp_extract_all(lower(text),
               '[a-z]+|[0-9]+|[^a-z0-9 ]+')))::BIGINT AS n_tokens,
             round(avg(len(regexp_extract_all(lower(text),
               '[a-z]+|[0-9]+|[^a-z0-9 ]+'))),6) AS avg_tokens
      FROM documents GROUP BY lang""",

    "q_vocab_stats" -> """
      SELECT source, count(*) AS vocab,
             sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::BIGINT AS hapax,
             sum(n)::BIGINT AS tokens
      FROM (
        SELECT source, tok, count(*) AS n FROM (
          SELECT source, unnest(string_split(lower(text),' ')) AS tok
          FROM documents) t
        WHERE tok <> '' GROUP BY source, tok) c
      GROUP BY source""",

    "q_tfidf" -> """
      WITH terms AS (
        SELECT doc_id, unnest(string_split(lower(text),' ')) AS term
        FROM documents),
      t2 AS (SELECT * FROM terms WHERE term <> ''),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM t2 GROUP BY 1, 2),
      df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t2 GROUP BY 1),
      n AS (SELECT count(*)::DOUBLE AS nd FROM documents)
      SELECT doc_id, term AS top_term, score FROM (
        SELECT tf.doc_id, tf.term,
               round(tf * ln((nd+1)/(df+1)), 6) AS score,
               row_number() OVER (PARTITION BY tf.doc_id
                 ORDER BY round(tf * ln((nd+1)/(df+1)), 6) DESC, tf.term)
                 AS rn
        FROM tf JOIN df USING(term) CROSS JOIN n) t
      WHERE rn = 1""",

    "q_text_rollhash" -> """
      SELECT doc_id,
             list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(string_split(text, ''), c -> ord(c)::BIGINT)),
               (acc, c) -> (acc * 31 + c) % 1000000007) AS rollhash
      FROM documents""",

    // MOSS winnowing: k=5 char-gram hashes (the rollhash polynomial),
    // window w=4 min over the packed hash*1e6+pos (lexicographic
    // (hash, pos) min — leftmost tie), distinct selections
    "q_winnow_fingerprints" -> """
      WITH d AS (
        SELECT doc_id, text, strlen(text) - 5 + 1 AS ng
        FROM documents WHERE strlen(text) >= 8),
      g AS (
        SELECT doc_id, ng, i AS pos,
               list_reduce(
                 list_prepend(0::BIGINT,
                   list_transform(string_split(substr(text, i::INT, 5), ''),
                     c -> ord(c)::BIGINT)),
                 (acc, c) -> (acc * 31 + c) % 1000000007) AS gh
        FROM d, unnest(range(1, ng + 1)) AS r(i)),
      sel AS (
        SELECT doc_id, pos, ng,
               min(gh * 1000000 + pos) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s
        FROM g)
      SELECT DISTINCT doc_id, s // 1000000 AS fp_hash,
             s % 1000000 AS fp_pos
      FROM sel WHERE pos <= ng - 3""",

    "q_decile_norm" -> """
      SELECT doc_id, source, n_chars,
             ntile(10) OVER (PARTITION BY source
               ORDER BY n_chars, doc_id)::INT AS decile
      FROM documents""",

    "q_agg_distinct" -> """
      SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust,
             count(*) AS n_orders
      FROM orders GROUP BY o_orderpriority""",

    "q_agg_rollup" -> """
      SELECT r_name, n_name, count(*) AS n_cust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name)""",

    "q_agg_cube" -> """
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""",

    "q_agg_grouping_sets" -> """
      SELECT o_orderstatus, o_orderpriority, count(1) AS n
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",

    "q_subqueries" -> """
      SELECT o_orderkey, o_totalprice
      FROM orders
      WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.8 FROM orders)
        AND EXISTS (SELECT 1 FROM orders o2
                    WHERE o2.o_custkey = orders.o_custkey
                      AND o2.o_orderkey <> orders.o_orderkey)""",

    "q_pivot" -> """
      SELECT l_returnflag,
             CAST(sum(CASE WHEN l_linestatus = 'F'
               THEN CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1.00 - CAST(l_discount AS DECIMAL(4,2))) END)
               AS DOUBLE) AS rev_f,
             CAST(sum(CASE WHEN l_linestatus = 'O'
               THEN CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1.00 - CAST(l_discount AS DECIMAL(4,2))) END)
               AS DOUBLE) AS rev_o
      FROM lineitem GROUP BY l_returnflag""",

    "q_unpivot" -> """
      WITH w AS (
        SELECT l_returnflag,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                 AS sum_disc_price
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, metric, amount
      FROM w UNPIVOT (amount FOR metric IN
        (sum_qty, sum_price, sum_disc_price))""",

    "q_stream_stream_join" -> """
      SELECT e.event_id AS err_id, p.event_id AS buy_id,
             e.user_id AS user_id
      FROM events e JOIN events p
        ON e.user_id = p.user_id
       AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL 1 HOUR
      WHERE e.event_type = 'error' AND p.event_type = 'purchase'""",

    // full-outer replay: the left-outer margin cut applied to BOTH
    // sides (a purchase resolves when the watermark passes its own ts)
    "q_stream_stream_full" -> """
      WITH err AS (
        SELECT event_id AS err_id, user_id, ts FROM events
        WHERE event_type = 'error'),
      buy AS (
        SELECT event_id AS buy_id, user_id, ts FROM events
        WHERE event_type = 'purchase'),
      wm AS (
        SELECT least((SELECT max(ts) FROM err),
                     (SELECT max(ts) FROM buy))
               - INTERVAL 1 HOUR - INTERVAL 1 MINUTE AS cut)
      SELECT e.err_id, b.buy_id,
             coalesce(e.user_id, b.user_id) AS user_id
      FROM err e FULL JOIN buy b
        ON e.user_id = b.user_id
       AND b.ts >= e.ts AND b.ts <= e.ts + INTERVAL 1 HOUR
      WHERE (e.err_id IS NOT NULL AND b.buy_id IS NOT NULL)
         OR (b.buy_id IS NULL
             AND e.ts + INTERVAL 1 HOUR <= (SELECT cut FROM wm))
         OR (e.err_id IS NULL AND b.ts <= (SELECT cut FROM wm))""",

    // left-outer replay: unmatched errors kept only when the window
    // closed >= 1 min before the final watermark (min of the two
    // sides' max ts, minus the 1 h delay) — the identical cut the
    // engine-side query applies, so emission boundaries never flake
    "q_stream_stream_left" -> """
      WITH err AS (
        SELECT event_id AS err_id, user_id, ts FROM events
        WHERE event_type = 'error'),
      buy AS (
        SELECT event_id AS buy_id, user_id, ts FROM events
        WHERE event_type = 'purchase'),
      wm AS (
        SELECT least((SELECT max(ts) FROM err),
                     (SELECT max(ts) FROM buy))
               - INTERVAL 1 HOUR - INTERVAL 1 MINUTE AS cut)
      SELECT e.err_id, b.buy_id, e.user_id
      FROM err e LEFT JOIN buy b
        ON e.user_id = b.user_id
       AND b.ts >= e.ts AND b.ts <= e.ts + INTERVAL 1 HOUR
      WHERE b.buy_id IS NOT NULL
         OR e.ts + INTERVAL 1 HOUR <= (SELECT cut FROM wm)""",

    "q_agg_stats" -> """
      SELECT l_returnflag,
             min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
             round(avg(l_quantity),6) AS avg_qty,
             round(stddev_samp(l_quantity),6) AS sd_qty,
             round(quantile_cont(l_quantity, 0.5),6) AS median_qty,
             round(quantile_cont(l_quantity, 0.9),6) AS p90_qty
      FROM lineitem GROUP BY l_returnflag""",

    "q_agg_collect" -> """
      SELECT l_returnflag,
             array_to_string(list_sort(list(DISTINCT l_linestatus)),',')
               AS statuses
      FROM lineitem GROUP BY l_returnflag""",

    "q_window_rank" -> """
      SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) t WHERE rn = 1""",

    "q_window_lag" -> """
      SELECT event_id, user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events""",

    "q_window_frame" -> """
      SELECT o_custkey, o_orderkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running
      FROM orders""",

    "q_window_analytics" -> """
      SELECT o_orderkey, o_orderpriority, drank, quartile, next_key,
             top_key, pr, cd
      FROM (
        SELECT o_orderkey, o_orderpriority,
               CAST(dense_rank() OVER w AS INT) AS drank,
               CAST(ntile(4) OVER w AS INT) AS quartile,
               lead(o_orderkey, 1) OVER w AS next_key,
               first_value(o_orderkey) OVER w AS top_key,
               round(percent_rank() OVER w, 6) AS pr,
               round(cume_dist() OVER w, 6) AS cd
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice DESC, o_orderkey)) t
      WHERE drank <= 20""",

    "q_window_range_frame" -> """
      SELECT o_custkey, o_orderkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
               RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS trailing_30d
      FROM orders""",

    "q_topk_orders" -> """
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""",

    "q_topk_parts" -> """
      SELECT l_partkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
               AS revenue
      FROM lineitem GROUP BY l_partkey
      ORDER BY revenue DESC, l_partkey LIMIT 10""",

    "q_topk_per_group" -> """
      SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) t WHERE rn <= 3""",

    "q_set_union" -> """
      SELECT c_custkey AS k FROM customer
      UNION SELECT o_custkey FROM orders""",

    "q_set_union_all" -> """
      SELECT k, count(*) AS n FROM (
        SELECT c_custkey AS k FROM customer
        UNION ALL SELECT o_custkey FROM orders) t GROUP BY k""",

    "q_set_intersect" -> """
      SELECT c_custkey AS k FROM customer
      INTERSECT SELECT o_custkey FROM orders""",

    "q_set_except" -> """
      SELECT c_custkey AS k FROM customer
      EXCEPT SELECT o_custkey FROM orders""",

    "q_string_funcs" -> """
      SELECT p_partkey,
             upper(p_brand) AS brand_u,
             lower(p_type) AS type_l,
             substring(p_name, 1, 8) AS name8,
             p_brand || '#' || p_type AS bt,
             length(p_name)::INT AS name_len,
             trim(p_name) AS name_trim,
             regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel,
             lpad(p_brand, 12, '_') AS brand_pad,
             string_split(p_type, ' ')[1] AS type_head
      FROM part""",

    "q_date_funcs" -> """
      SELECT month, n, total, year(month)::INT AS yr, month(month)::INT AS mth
      FROM (
        SELECT date_trunc('month', o_orderdate) AS month, count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM orders GROUP BY 1) t""",

    "q_date_diff" -> """
      SELECT o_orderkey, l_linenumber,
             date_diff('day', o_orderdate::DATE, l_shipdate::DATE)::INT
               AS ship_days,
             o_orderdate + INTERVAL 30 DAY AS due_date,
             last_day(o_orderdate::DATE)::TIMESTAMP AS month_end,
             (dayofweek(o_orderdate::DATE) + 1)::INT AS dow
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey""",

    "q_math_funcs" -> """
      SELECT l_orderkey, l_linenumber,
             round(l_extendedprice*(1+l_tax),6) AS gross,
             ceil(l_extendedprice)::BIGINT AS price_ceil,
             floor(l_discount*100)::BIGINT AS disc_pct,
             round(sqrt(l_quantity),6) AS qty_sqrt,
             round(pow(l_quantity, 2.0),6) AS qty_sq,
             abs(l_quantity - 25) AS qty_dev
      FROM lineitem""",

    "q_array_funcs" -> """
      SELECT vec_id, len(embedding)::INT AS dim,
             round(embedding[1]::DOUBLE, 6) AS e1,
             round(list_sum((embedding::DOUBLE[])[1:8]), 6) AS head_sum,
             len(list_filter(embedding, x -> x > 0))::INT AS n_pos,
             round(list_sort(embedding::DOUBLE[])[1], 6) AS min_elem
      FROM embeddings""",

    "q_dedup_exact" -> """
      SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
             count(*) AS n_copies
      FROM documents GROUP BY 1""",

    "q_dedup_stats" -> """
      SELECT source, count(*) AS n_docs,
             count(DISTINCT sha256(text)) AS n_unique
      FROM documents GROUP BY source""",

    "q_text_tokens" -> """
      SELECT lang, count(*) AS n_docs,
             sum(len(string_split(text,' ')))::BIGINT AS total_tokens,
             round(avg(len(string_split(text,' '))),6) AS avg_tokens,
             sum(n_chars)::BIGINT AS total_chars
      FROM documents GROUP BY lang""",

    "q_text_topterms" -> """
      SELECT tok, count(*) AS n FROM (
        SELECT unnest(string_split(lower(text),' ')) AS tok FROM documents) t
      WHERE tok <> '' GROUP BY tok ORDER BY n DESC, tok LIMIT 30""",

    "q_text_quality" -> """
      SELECT doc_id, lang,
             length(text)::INT AS len_chars,
             len(string_split(text,' '))::INT AS n_tokens,
             round(length(text)::DOUBLE / len(string_split(text,' ')),6)
               AS chars_per_tok,
             (length(text) - length(translate(text,'.,!?;:','')))::INT
               AS n_punct,
             round((len(list_filter(string_split(lower(text),' '),
                                    t -> t='the'))
                  + len(list_filter(string_split(lower(text),' '),
                                    t -> t='a'))
                  + len(list_filter(string_split(lower(text),' '),
                                    t -> t='of'))
                  + len(list_filter(string_split(lower(text),' '),
                                    t -> t='and'))
                  + len(list_filter(string_split(lower(text),' '),
                                    t -> t='to')))::DOUBLE
                  / len(string_split(text,' ')),6) AS stopword_ratio
      FROM documents""",

    "q_text_fingerprint" -> """
      SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
      FROM documents""",


    "q_script_mix_rich" -> (RichDocsSql + """,
      toks AS (
        SELECT doc_id, list_filter(
          regexp_split_to_array(lower(text), '\s+'),
          t -> t <> '') AS tk
        FROM rich)
      SELECT doc_id, len(tk)::BIGINT AS n_tokens,
             len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]')
               AND regexp_matches(t, '[Ѐ-ӿ]')))::BIGINT
               AS n_latin_cyrillic,
             len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]')
               AND regexp_matches(t, '[Ͱ-Ͽ]')))::BIGINT
               AS n_latin_greek
      FROM toks"""),

    "q_pii_rich" -> (RichDocsSql + """
      SELECT doc_id,
        len(regexp_extract_all(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
          AS n_email,
        len(regexp_extract_all(text,
          '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b'))::BIGINT AS n_card,
        len(regexp_extract_all(text,
          '\b\d{3}-\d{2}-\d{4}\b'))::BIGINT AS n_ssn,
        len(regexp_extract_all(text,
          '\b\+?\d{3}[- ]\d{3}[- ]\d{4}\b'))::BIGINT AS n_phone,
        len(regexp_extract_all(text,
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ipv4,
        (len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
         + len(regexp_extract_all(text,
           '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b'))
         + len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b'))
         + len(regexp_extract_all(text,
           '\b\+?\d{3}[- ]\d{3}[- ]\d{4}\b'))
         + len(regexp_extract_all(text,
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')))::BIGINT AS n_pii
      FROM rich"""),

    "q_blocklist_rich" -> (RichDocsSql + s""",
      t AS (SELECT doc_id, lower(coalesce(text, '')) AS txt FROM rich),
      h AS (SELECT doc_id,
              list_filter(${graft.functions.GraftFunctions.blockTermsSqlList},
                p -> contains(txt, p)) AS hl
            FROM t)
      SELECT doc_id, coalesce(array_to_string(hl, '|'), '') AS hits,
             len(hl)::BIGINT AS n_hits
      FROM h"""),

    "q_code_fences_rich" -> (RichDocsSql + """,
      m AS (SELECT doc_id,
              regexp_extract_all(text,
                '(?s)```([a-z0-9_+]*)\n(.*?)```', 1) AS langs,
              regexp_extract_all(text,
                '(?s)```([a-z0-9_+]*)\n(.*?)```', 2) AS bodies
            FROM rich)
      SELECT doc_id, len(bodies)::BIGINT AS n_fences,
             COALESCE(list_sum(list_transform(bodies,
               b -> length(b))), 0)::BIGINT AS n_fence_chars,
             COALESCE(array_to_string(langs, ','), '') AS langs
      FROM m"""),

    "q_lang_markers_rich" -> (RichDocsSql + """
      SELECT lang,
        sum(len(list_filter(toks, t -> t='the')) +
            len(list_filter(toks, t -> t='and')) +
            len(list_filter(toks, t -> t='of')))::BIGINT AS en_score,
        sum(len(list_filter(toks, t -> t='der')) +
            len(list_filter(toks, t -> t='und')) +
            len(list_filter(toks, t -> t='die')))::BIGINT AS de_score,
        sum(len(list_filter(toks, t -> t='le')) +
            len(list_filter(toks, t -> t='la')) +
            len(list_filter(toks, t -> t='et')))::BIGINT AS fr_score
      FROM (SELECT lang, string_split(lower(text),' ') AS toks
            FROM rich) t
      GROUP BY lang"""),

    "q_neardup_rich" -> (RichDocsSql + """,
      w AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '),
                 t -> t <> '') AS w
        FROM rich),
      shing AS (
        SELECT doc_id,
               CASE WHEN len(w) < 3 THEN []::VARCHAR[]
               ELSE list_distinct(list_transform(range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS tk
        FROM w),
      tok AS (
        SELECT doc_id, len(tk)::INT AS n, unnest(tk) AS tok
        FROM shing WHERE len(tk) > 0),
      ov AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               a.n AS n1, b.n AS n2, count(*) AS overlap
        FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4)
      SELECT id1, id2, n1, n2, overlap::INT AS overlap,
             overlap * 1.0 / (n1 + n2 - overlap) AS jaccard
      FROM ov
      WHERE overlap * 1.0 / (n1 + n2 - overlap) >= 0.7"""),

    "q_text_lang_markers" -> """
      SELECT lang,
        sum(len(list_filter(toks, t -> t='the')) +
            len(list_filter(toks, t -> t='and')) +
            len(list_filter(toks, t -> t='of')))::BIGINT AS en_score,
        sum(len(list_filter(toks, t -> t='der')) +
            len(list_filter(toks, t -> t='und')) +
            len(list_filter(toks, t -> t='die')))::BIGINT AS de_score,
        sum(len(list_filter(toks, t -> t='le')) +
            len(list_filter(toks, t -> t='la')) +
            len(list_filter(toks, t -> t='et')))::BIGINT AS fr_score
      FROM (SELECT lang, string_split(lower(text),' ') AS toks
            FROM documents) t
      GROUP BY lang""",

    "q_text_bigrams" -> """
      SELECT bigram, count(*) AS n FROM (
        SELECT unnest(list_transform(generate_series(1, len(toks)-1),
                 i -> toks[i] || ' ' || toks[i+1])) AS bigram
        FROM (SELECT string_split(lower(text),' ') AS toks
              FROM documents) d) t
      WHERE bigram LIKE '% %'
      GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""",

    "q_ngram_jaccard" -> """
      WITH toks AS (
        SELECT doc_id, lang,
               unnest(list_distinct(string_split(lower(text),' '))) AS tok
        FROM documents),
      toks2 AS (SELECT * FROM toks WHERE tok <> ''),
      sizes AS (SELECT doc_id, count(*) AS sz FROM toks2 GROUP BY 1),
      inter AS (
        SELECT p.doc_id AS a, c.doc_id AS b, count(*) AS inter
        FROM toks2 p JOIN toks2 c
          ON p.tok = c.tok AND p.lang = c.lang AND p.doc_id < c.doc_id
        WHERE p.doc_id < 10
        GROUP BY 1, 2)
      SELECT a, b, jaccard FROM (
        SELECT a, b,
               round(inter::DOUBLE / (sa.sz + sb.sz - inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = a
        JOIN sizes sb ON sb.doc_id = b) t
      WHERE jaccard >= 0.05""",

    "q_corpus_build" -> """
      SELECT doc_id, lang, source, n_tokens FROM (
        SELECT doc_id, lang, source, n_tokens,
               row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM (
          SELECT doc_id, lang, source,
                 len(string_split(text,' '))::INT AS n_tokens,
                 length(text)::DOUBLE / len(string_split(text,' '))
                   AS chars_per_tok,
                 md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
          FROM documents
          WHERE lang IN ('en','de','fr')) t
        WHERE n_tokens BETWEEN 20 AND 1000 AND chars_per_tok < 12) r
      WHERE rn = 1""",

    "q_multimodal_meta" -> """
      SELECT doc_id, strlen(text)::INT AS n_bytes, md5(text) AS digest,
             source AS modality_source
      FROM documents""",

    "q_csv_roundtrip" -> """
      SELECT n_regionkey, count(*) AS n,
             array_to_string(list_sort(list(n_name)),',') AS names
      FROM nation GROUP BY n_regionkey""",

    "q_json_roundtrip" -> """
      SELECT count(*) AS n,
             CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               AS total_bal,
             max(s_suppkey) AS max_key
      FROM supplier""",

    "q_udf_scalar" -> """
      SELECT o_orderkey,
             floor(o_totalprice/1000 + 0.5)::BIGINT * 1000
               + CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END AS band
      FROM orders""",

    "q_udaf_geomean" -> """
      SELECT o_orderpriority,
             round(exp(avg(ln(o_totalprice))), 4) AS gm_price,
             count(*) AS n
      FROM orders GROUP BY o_orderpriority""",

    "q_embed_neardup" -> """
      SELECT a.vec_id AS a, b.vec_id AS b,
             round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 6) AS cos
      FROM embeddings a, embeddings b
      WHERE a.vec_id < 100 AND a.vec_id < b.vec_id
        AND round(list_cosine_similarity(a.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[]), 6) >= 0.35""",

    "q_multimodal_decode" -> """
      SELECT doc_id AS media_id,
             CASE doc_id % 3 WHEN 0 THEN 'image'
                             WHEN 1 THEN 'audio'
                             ELSE 'video' END AS modality,
             strlen(text)::INT AS n_bytes,
             (strlen(text) % 640)::INT AS width,
             (strlen(text) % 480)::INT AS height,
             (CASE WHEN doc_id % 3 = 2 THEN strlen(text) % 30
                   ELSE 1 END)::INT AS n_frames,
             round(list_sum(list_transform(
               generate_series(1, strlen(text)::INT, 8),
               i -> ord(substr(text, i, 1))))::DOUBLE, 2) AS f0
      FROM documents""",

    // planted-fixture twin of the REAL header codec: the payload bytes
    // are constructed from doc_id by fixed arithmetic (MediaCodec
    // .syntheticPayload), so the oracle predicts every parsed field
    // without parsing — order of CASEs mirrors the corrupt-first rule
    "q_media_headers" -> """
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 17 = 0 THEN 'riff'
                  WHEN doc_id % 5 = 0 THEN 'bmp'
                  WHEN doc_id % 5 = 1 THEN 'wav'
                  WHEN doc_id % 5 = 2 THEN 'gif'
                  WHEN doc_id % 5 = 3 THEN 'png'
                  ELSE 'jpeg' END AS format,
             (CASE WHEN doc_id % 17 = 0 THEN 4
                   WHEN doc_id % 5 = 0 THEN 54
                   WHEN doc_id % 5 = 1
                     THEN 44 + (doc_id % 100 + 1) * (doc_id % 2 + 1) * 2
                   WHEN doc_id % 5 = 2 THEN 13
                   WHEN doc_id % 5 = 3 THEN 33
                   ELSE 41 END)::INT AS n_bytes,
             (CASE WHEN doc_id % 17 = 0 THEN 0
                   WHEN doc_id % 5 = 0 THEN doc_id % 640 + 1
                   WHEN doc_id % 5 = 1 THEN 0
                   WHEN doc_id % 5 = 2 THEN doc_id % 1000 + 1
                   WHEN doc_id % 5 = 3 THEN doc_id % 1024 + 1
                   ELSE doc_id % 2000 + 1 END)::INT AS width,
             (CASE WHEN doc_id % 17 = 0 THEN 0
                   WHEN doc_id % 5 = 0 THEN doc_id % 480 + 1
                   WHEN doc_id % 5 = 1 THEN 0
                   WHEN doc_id % 5 = 2 THEN doc_id % 800 + 1
                   WHEN doc_id % 5 = 3 THEN doc_id % 768 + 1
                   ELSE doc_id % 1500 + 1 END)::INT AS height,
             (CASE WHEN doc_id % 17 = 0 THEN 0
                   WHEN doc_id % 5 = 0 THEN 24
                   WHEN doc_id % 5 = 1 THEN 16
                   WHEN doc_id % 5 = 2 THEN 0
                   ELSE 8 END)::INT AS bit_depth,
             (CASE WHEN doc_id % 17 <> 0 AND doc_id % 5 = 1
                   THEN 8000 + (doc_id % 8) * 4000 ELSE 0 END)::INT
               AS sample_rate,
             (CASE WHEN doc_id % 17 = 0 THEN 0
                   WHEN doc_id % 5 = 1 THEN doc_id % 2 + 1
                   WHEN doc_id % 5 = 3
                     THEN CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END
                   WHEN doc_id % 5 = 4 THEN 3
                   ELSE 0 END)::INT AS channels,
             (CASE WHEN doc_id % 17 = 0 THEN 0
                   WHEN doc_id % 5 = 1 THEN doc_id % 100 + 1
                   ELSE 1 END)::INT AS n_frames,
             CASE WHEN doc_id % 17 = 0 THEN 'truncated' ELSE '' END AS err
      FROM documents""",

    "q_stream_window_agg" -> """
      SELECT date_trunc('hour', ts) AS wstart, event_type,
             count(*) AS n, round(sum(value),6) AS total
      FROM events GROUP BY 1, 2""",

    // batch twin of the streaming windowed LogHist sketch (same integer
    // bucket recipe as q_hist_quantiles, grouped by hour × event_type)
    "q_stream_quantiles" -> """
      WITH c AS (
        SELECT date_trunc('hour', ts) AS wstart, event_type,
               round(value * 100)::BIGINT AS v
        FROM events),
      b AS (
        SELECT wstart, event_type,
               CASE WHEN v < 64 THEN v
                    ELSE ((length(printf('%b', v)) - 6) * 64)::BIGINT
                         + ((v >> (length(printf('%b', v)) - 7)) & 63)
               END AS id,
               count(*) AS n
        FROM c GROUP BY 1, 2, 3),
      t AS (
        SELECT wstart, event_type, sum(n)::BIGINT AS total
        FROM b GROUP BY 1, 2),
      cum AS (
        SELECT wstart, event_type, id,
               sum(n) OVER (PARTITION BY wstart, event_type ORDER BY id
                 ROWS UNBOUNDED PRECEDING) AS cm
        FROM b),
      est AS (
        SELECT cum.wstart, cum.event_type, p.q, min(id) AS qid
        FROM cum JOIN t USING (wstart, event_type)
        CROSS JOIN (SELECT unnest([0.5, 0.9]) AS q) p
        WHERE cm >= greatest(1, ceil(p.q * total))
        GROUP BY 1, 2, 3),
      lb AS (
        SELECT wstart, event_type, q,
               CASE WHEN qid < 64 THEN qid
                    ELSE (64 + (qid & 63)) << ((qid >> 6) - 1)
               END AS e
        FROM est)
      SELECT l.wstart, l.event_type, t.total AS n,
             max(CASE WHEN q = 0.5 THEN e END)::BIGINT AS p50_cents,
             max(CASE WHEN q = 0.9 THEN e END)::BIGINT AS p90_cents
      FROM lb l JOIN t ON l.wstart = t.wstart
                      AND l.event_type = t.event_type
      GROUP BY 1, 2, 3""",

    // integer-cents running totals ⇒ order-independent arithmetic: the
    // batch twin is a plain cumulative window over (ts, event_id)
    "q_stream_running_totals" -> """
      SELECT user_id, event_id, ts,
             count(*) OVER w AS n_so_far,
             (sum(round(value * 100)::BIGINT) OVER w)::BIGINT
               AS cents_so_far
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING)""",

    "q_stream_stream_semi" -> """
      SELECT e.event_id AS err_id, e.user_id, e.ts AS t1
      FROM events e
      WHERE e.event_type = 'error' AND EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
          AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL 1 HOUR)""",

    "q_stream_sliding" -> """
      SELECT wstart, count(*) AS n, round(sum(value),6) AS total FROM (
        SELECT time_bucket(INTERVAL '30 minutes', ts) AS wstart, value
        FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE
                 AS wstart, value
        FROM events) t
      GROUP BY wstart""",

    "q_stream_session" -> """
      WITH o AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      g AS (
        SELECT user_id, ts, value,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM o)
      SELECT min(ts) AS session_start, user_id,
             count(*) AS n, round(sum(value),6) AS total
      FROM g GROUP BY user_id, sid""",

    "q_stream_static_join" -> """
      SELECT c_mktsegment, event_type, count(*) AS n,
             round(sum(value),6) AS total
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment, event_type""",

    "q_stream_dedup" -> """
      SELECT DISTINCT user_id, event_type FROM events""",

    "q_stream_stateful" -> """
      SELECT user_id, count(*) AS n_events, round(sum(value),6) AS total_value
      FROM events GROUP BY user_id""",

    "q_riff_roundtrip" -> """
      SELECT doc_id, text AS payload_text, lang AS h_lang, source AS h_source
      FROM documents""",

    "q_map_funcs" -> """
      SELECT doc_id, 'lang,source' AS header_names, 2 AS n_headers,
             true AS has_lang, source AS src
      FROM documents""",

    "q_vector_cosine" -> """
      SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
             round(list_cosine_similarity(p.embedding::DOUBLE[],
                                          c.embedding::DOUBLE[]), 6) AS cos
      FROM embeddings p, embeddings c
      WHERE p.vec_id < 5""",

    "q_similarity_topk" -> """
      SELECT probe_id, cand_id, cos, "rank" FROM (
        SELECT probe_id, cand_id, cos,
               CAST(row_number() OVER (PARTITION BY probe_id
                 ORDER BY cos DESC, cand_id) AS INT) AS "rank"
        FROM (
          SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
                 round(list_cosine_similarity(p.embedding::DOUBLE[],
                                              c.embedding::DOUBLE[]), 6) AS cos
          FROM embeddings p, embeddings c
          WHERE p.vec_id < 5 AND p.vec_id <> c.vec_id) pairs) ranked
      WHERE "rank" <= 5""",

    "q_hard_negatives" -> """
      SELECT anchor_id, cand_id, anchor_label, cand_label, cos, "rank"
      FROM (
        SELECT anchor_id, cand_id, anchor_label, cand_label, cos,
               CAST(row_number() OVER (PARTITION BY anchor_id
                 ORDER BY cos DESC, cand_id) AS INT) AS "rank"
        FROM (
          SELECT a.vec_id AS anchor_id, c.vec_id AS cand_id,
                 a.label AS anchor_label, c.label AS cand_label,
                 round(list_cosine_similarity(a.embedding::DOUBLE[],
                                              c.embedding::DOUBLE[]), 6)
                   AS cos
          FROM embeddings a, embeddings c
          WHERE a.vec_id < 5 AND a.vec_id <> c.vec_id
            AND a.label <> c.label) pairs) ranked
      WHERE "rank" <= 5""",

    "q_embed_norms" -> """
      SELECT label, count(*) AS n,
             round(avg(norm),4) AS avg_norm,
             round(min(norm),4) AS min_norm,
             round(max(norm),4) AS max_norm
      FROM (SELECT label,
                   sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                                x -> x*x))) AS norm
            FROM embeddings) t
      GROUP BY label""",

    "q_l2_nearest" -> """
      SELECT probe_id, cand_id, l2, "rank" FROM (
        SELECT probe_id, cand_id, l2,
               CAST(row_number() OVER (PARTITION BY probe_id
                 ORDER BY l2 ASC, cand_id) AS INT) AS "rank"
        FROM (
          SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
                 round(list_distance(p.embedding::DOUBLE[],
                                     c.embedding::DOUBLE[]), 6) AS l2
          FROM embeddings p, embeddings c
          WHERE p.vec_id < 5 AND p.vec_id <> c.vec_id) pairs) ranked
      WHERE "rank" <= 3""",

    "q_latest_per_key" -> """
      SELECT user_id, event_id AS last_event_id,
             event_type AS last_event_type, value AS last_value,
             ts AS last_ts
      FROM (SELECT *, row_number() OVER (
              PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
      WHERE rn = 1""",

    "q_sample_hash" -> """
      SELECT doc_id, lang FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'""",

    "q_sample_stratified" -> """
      SELECT lang, doc_id, rk FROM (
        SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS rk,
               row_number() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        FROM documents)
      WHERE rn <= 50""",

    "q_pii_scrub" -> """
      SELECT doc_id,
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g'),
               '[0-9]{3,}', '<NUM>', 'g') AS clean
      FROM documents""",

    "q_bm25_search" -> """
      WITH d AS (
        SELECT doc_id, len(string_split(lower(text), ' '))::DOUBLE AS dl,
               string_split(lower(text), ' ') AS toks
        FROM documents),
      stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM d),
      tf AS (
        SELECT doc_id, dl, tok, count(*)::DOUBLE AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d)
        WHERE tok IN ('scan', 'join') GROUP BY 1, 2, 3),
      dfreq AS (SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY 1)
      SELECT doc_id,
             round(sum(idf * tf * 2.2 /
               (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS bm25
      FROM (SELECT t.doc_id, t.dl, t.tf, s.avgdl,
                   ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1) AS idf
            FROM tf t JOIN dfreq f USING (tok) CROSS JOIN stats s)
      GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""",

    "q_decontam" -> """
      WITH toked AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      ngr AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t) - 3),
                 i -> array_to_string(t[i:i+4], ' '))) AS ng
        FROM toked WHERE len(t) >= 5),
      bench AS (SELECT DISTINCT ng FROM ngr WHERE doc_id < 5)
      SELECT c.doc_id, count(*) AS n_overlap
      FROM (SELECT doc_id, ng FROM ngr WHERE doc_id >= 5) c
      JOIN bench b ON c.ng = b.ng
      GROUP BY 1""",

    // streaming blocklist: stateless map-only replay — output must be
    // row-identical to the batch q_blocklist_hits oracle
    "q_stream_blocklist" -> s"""
      WITH t AS (SELECT doc_id, lower(coalesce(text, '')) AS txt
                 FROM documents),
      h AS (SELECT doc_id,
              list_filter(${graft.functions.GraftFunctions.blockTermsSqlList},
                p -> contains(txt, p)) AS hl
            FROM t)
      SELECT doc_id, coalesce(array_to_string(hl, '|'), '') AS hits,
             len(hl)::BIGINT AS n_hits
      FROM h""",

    "q_stream_decontam" -> """
      WITH toked AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      ngr AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t) - 3),
                 i -> array_to_string(t[i:i+4], ' '))) AS ng
        FROM toked WHERE len(t) >= 5),
      bench AS (SELECT DISTINCT ng FROM ngr WHERE doc_id < 5)
      SELECT c.doc_id, count(*) AS n_overlap
      FROM (SELECT doc_id, ng FROM ngr WHERE doc_id >= 5) c
      JOIN bench b ON c.ng = b.ng
      GROUP BY 1""",

    // the full chain replayed stage by stage; the compare hashes the
    // FINAL manifest, so any cross-stage drift flips a digest. Quotas
    // 60/30/30 are the exact ⌊w·120⌋ for dyadic weights .5/.25/.25;
    // shard/key/digest arithmetic is the q_shuffle_shards/q_manifest
    // recipe (md5 hex → BIGINT via the 0x cast)
    // drop-provenance ledger: the same S1–S5 CTE chain as
    // q_corpus_end2end, emitting one row per dropped doc at its FIRST
    // dropping stage with the displacing culprit where one exists
    "q_drop_ledger" -> """
      WITH q AS (
        SELECT doc_id, lang, text,
               len(string_split(text, ' '))::INT AS n_tokens
        FROM documents
        WHERE lang IN ('en', 'de', 'fr')
          AND len(string_split(text, ' ')) BETWEEN 20 AND 1000
          AND length(text)::DOUBLE / len(string_split(text, ' ')) < 12),
      keep AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY text),
      s2 AS (SELECT q.* FROM q JOIN keep USING (doc_id)),
      w AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '),
                 t -> t <> '') AS w
        FROM s2),
      shing AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tk
        FROM w),
      tok AS (
        SELECT doc_id, len(tk)::INT AS n, unnest(tk) AS tok
        FROM shing WHERE len(tk) > 0),
      ov AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               a.n AS n1, b.n AS n2, count(*) AS overlap
        FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4),
      neardup AS (
        SELECT id2 AS doc_id, min(id1)::BIGINT AS culprit
        FROM ov
        WHERE overlap * 1.0 / (n1 + n2 - overlap) >= 0.6
        GROUP BY id2),
      s3 AS (SELECT * FROM s2
             WHERE doc_id NOT IN (SELECT doc_id FROM neardup)),
      toked AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t
        FROM documents),
      ngr AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t) - 3),
                 i -> array_to_string(t[i:i+4], ' '))) AS ng
        FROM toked WHERE len(t) >= 5),
      bench AS (SELECT DISTINCT ng FROM ngr WHERE doc_id < 5),
      contaminated AS (
        SELECT DISTINCT c.doc_id
        FROM (SELECT doc_id, ng FROM ngr WHERE doc_id >= 5) c
        JOIN bench USING (ng)),
      s4 AS (
        SELECT * FROM s3
        WHERE doc_id >= 5
          AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
      mixed AS (
        SELECT doc_id FROM (
          SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC) AS rn
          FROM s4) r
        WHERE rn <= CASE lang WHEN 'en' THEN 60 ELSE 30 END),
      s1d AS (
        SELECT doc_id, 's1_quality' AS stage,
               CASE WHEN NOT coalesce(lang IN ('en', 'de', 'fr'), FALSE)
                      THEN 'lang_filtered'
                    WHEN NOT coalesce(len(string_split(text, ' '))
                      BETWEEN 20 AND 1000, FALSE) THEN 'token_count'
                    ELSE 'chars_per_token' END AS reason,
               NULL::BIGINT AS culprit_id
        FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM q)),
      s2d AS (
        SELECT q.doc_id, 's2_exact_dup' AS stage,
               'exact_duplicate' AS reason, k.keep_id AS culprit_id
        FROM q JOIN (SELECT text, min(doc_id) AS keep_id
                     FROM q GROUP BY text) k USING (text)
        WHERE q.doc_id <> k.keep_id),
      s3d AS (
        SELECT doc_id, 's3_near_dup' AS stage,
               'jaccard_near_duplicate' AS reason, culprit AS culprit_id
        FROM neardup),
      s4b AS (
        SELECT doc_id, 's4_decontam' AS stage, 'benchmark_doc' AS reason,
               NULL::BIGINT AS culprit_id
        FROM s3 WHERE doc_id < 5),
      s4c AS (
        SELECT doc_id, 's4_decontam' AS stage, 'contaminated' AS reason,
               NULL::BIGINT AS culprit_id
        FROM s3 WHERE doc_id >= 5
          AND doc_id IN (SELECT doc_id FROM contaminated)),
      s5d AS (
        SELECT doc_id, 's5_mix_quota' AS stage, 'quota_cut' AS reason,
               NULL::BIGINT AS culprit_id
        FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM mixed))
      SELECT * FROM s1d UNION ALL SELECT * FROM s2d
      UNION ALL SELECT * FROM s3d UNION ALL SELECT * FROM s4b
      UNION ALL SELECT * FROM s4c UNION ALL SELECT * FROM s5d""",

    "q_corpus_end2end" -> CorpusEnd2EndOracle,
    "q_corpus_incremental" -> CorpusEnd2EndOracle,
    // the retraction gate hashes against the SAME chain replayed
    // from scratch on corpus MINUS the registered takedown set — the
    // delete-side IVM contract (the delta path must resurrect
    // re-elected keepers and un-doomed near-dup victims exactly)
    "q_corpus_retract" -> CorpusRetractOracle,
    "q_corpus_amend" -> CorpusAmendOracle,
    "q_amend_ledger" -> CorpusAmendLedgerOracle,
    "q_stream_retract" -> StreamRetractOracle,
    // disjoint-id amendments commute, so the streamed form must land
    // exactly on q_corpus_amend's from-scratch replay
    "q_stream_amend" -> CorpusAmendOracle,
    // the mid-stream overlay FOLD is a physical re-layout (touched
    // doc-store partitions + the pair view), never a semantic step —
    // the folded stream must land on the identical from-scratch chain
    "q_stream_amend_compact" -> CorpusAmendOracle,
    // cross-artifact takedown closure: every claim is a closed-form
    // boolean by construction (streamed frames vs the one-shot batch
    // delta; per-probe byte-equality vs the never-appended index)
    "q_stream_retract_full" -> """
      SELECT 'corpus_manifest_matches_one_shot' AS check, true AS ok
      UNION ALL SELECT 'probe_0_index_identical', true
      UNION ALL SELECT 'probe_1_index_identical', true
      UNION ALL SELECT 'probe_2_index_identical', true
      UNION ALL SELECT 'probe_3_index_identical', true
      UNION ALL SELECT 'probe_4_index_identical', true""",
    // the amend twin: corpus manifest == one-shot atomic amendment,
    // final index == one-shot IvfPq.update of the union, and the new
    // content is findable at minimal ADC for every probe
    "q_stream_amend_full" -> """
      SELECT 'corpus_manifest_matches_one_shot' AS check, true AS ok
      UNION ALL SELECT 'index_matches_one_shot_update', true
      UNION ALL SELECT 'probe_0_new_content_min_adc', true
      UNION ALL SELECT 'probe_1_new_content_min_adc', true
      UNION ALL SELECT 'probe_2_new_content_min_adc', true
      UNION ALL SELECT 'probe_3_new_content_min_adc', true
      UNION ALL SELECT 'probe_4_new_content_min_adc', true""",
    // closed-form trigger verdicts (the drift computation is k-means
    // territory DuckDB can't replay, but the REGISTERED POLICY's two
    // outcomes are exact booleans by construction: the planted alien
    // cluster drives the weighted drift far below 0.90, a fresh
    // rebuild restores it far above)
    "q_ann_retrain" -> """
      SELECT 'after_alien_append' AS phase, true AS retrain_needed
      UNION ALL
      SELECT 'after_retrain' AS phase, false AS retrain_needed""",
    // day-3 probes the COMPACTED day-1+2 artifacts; compaction must
    // be semantically invisible, so it hashes against the same
    // from-scratch replay as the batch and two-day gates
    "q_corpus_day3" -> CorpusEnd2EndOracle,
    "q_retract_ledger" -> CorpusRetractLedgerOracle,
    // append -> compact -> retract (with artifact rewrite) -> append:
    // the state machine must close on the same corpus the batch chain
    // builds from what remains, so it shares the retract oracle
    "q_corpus_lifecycle" -> CorpusRetractOracle,

    "q_pipeline_e2e" -> """
      WITH q AS (
        SELECT * FROM documents
        WHERE n_chars >= 50 AND len(string_split(text, ' ')) >= 5),
      keep AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY sha256(text)),
      surv AS (SELECT q.* FROM q JOIN keep USING (doc_id)),
      toked AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      ngr AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t) - 3),
                 i -> array_to_string(t[i:i+4], ' '))) AS ng
        FROM toked WHERE len(t) >= 5),
      bench AS (SELECT DISTINCT ng FROM ngr WHERE doc_id < 5),
      contaminated AS (
        SELECT DISTINCT c.doc_id
        FROM (SELECT doc_id, ng FROM ngr WHERE doc_id >= 5) c
        JOIN bench USING (ng)),
      clean AS (
        SELECT * FROM surv
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
      sampled AS (
        SELECT * FROM clean
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4')
      SELECT lang, source, count(*) AS n_docs,
             sum(n_chars)::BIGINT AS total_chars
      FROM sampled GROUP BY lang, source""",

    "q_profile" -> """
      SELECT 'l_orderkey' AS "column", count(*) AS n_rows,
             count(*) - count(l_orderkey) AS n_nulls,
             count(DISTINCT l_orderkey) AS n_distinct,
             CAST(min(l_orderkey) AS DOUBLE) AS min_v,
             CAST(max(l_orderkey) AS DOUBLE) AS max_v
      FROM lineitem
      UNION ALL
      SELECT 'l_quantity', count(*), count(*) - count(l_quantity),
             count(DISTINCT l_quantity),
             CAST(min(l_quantity) AS DOUBLE), CAST(max(l_quantity) AS DOUBLE)
      FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
             count(DISTINCT l_extendedprice),
             CAST(min(l_extendedprice) AS DOUBLE),
             CAST(max(l_extendedprice) AS DOUBLE)
      FROM lineitem
      UNION ALL
      SELECT 'l_discount', count(*), count(*) - count(l_discount),
             count(DISTINCT l_discount),
             CAST(min(l_discount) AS DOUBLE), CAST(max(l_discount) AS DOUBLE)
      FROM lineitem""",

    "q_lang_id" -> """
      WITH s AS (
        SELECT doc_id, lang,
               len(list_filter(toks, t -> t='the'))::INT
                 + len(list_filter(toks, t -> t='and'))::INT
                 + len(list_filter(toks, t -> t='of'))::INT AS en_score,
               len(list_filter(toks, t -> t='der'))::INT
                 + len(list_filter(toks, t -> t='und'))::INT
                 + len(list_filter(toks, t -> t='die'))::INT AS de_score,
               len(list_filter(toks, t -> t='le'))::INT
                 + len(list_filter(toks, t -> t='la'))::INT
                 + len(list_filter(toks, t -> t='et'))::INT AS fr_score
        FROM (SELECT doc_id, lang,
                     string_split(lower(coalesce(text, '')), ' ') AS toks
              FROM documents) t),
      p AS (
        SELECT *,
               CASE WHEN en_score + de_score + fr_score = 0 THEN 'unknown'
                    WHEN en_score >= de_score AND en_score >= fr_score
                      THEN 'en'
                    WHEN de_score >= fr_score THEN 'de'
                    ELSE 'fr' END AS predicted
        FROM s)
      SELECT doc_id, lang, en_score::INT AS en_score,
             de_score::INT AS de_score, fr_score::INT AS fr_score,
             predicted,
             CASE WHEN predicted = 'unknown' THEN 0.0
                  ELSE round(greatest(en_score, de_score, fr_score)::DOUBLE
                    / (en_score + de_score + fr_score), 6) END AS confidence,
             (predicted = lang) AS hit
      FROM p""",

    "q_quality_repetition" -> """
      WITH t AS (
        SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      g AS (
        SELECT doc_id,
               CASE WHEN len(tk) >= 2 THEN list_transform(
                 range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
                 ELSE [] END AS g2,
               CASE WHEN len(tk) >= 3 THEN list_transform(
                 range(1, len(tk) - 1),
                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                 ELSE [] END AS g3
        FROM t),
      inrow AS (
        SELECT doc_id,
               CASE WHEN len(g2) > 0 THEN
                 round(1 - len(list_distinct(g2))::DOUBLE / len(g2), 6)
                 ELSE 0.0 END AS dup_bigram_frac,
               CASE WHEN len(g3) > 0 THEN
                 round(1 - len(list_distinct(g3))::DOUBLE / len(g3), 6)
                 ELSE 0.0 END AS dup_trigram_frac
        FROM g),
      top AS (
        SELECT doc_id, round(max(c)::DOUBLE / sum(c), 6) AS top_bigram_frac
        FROM (SELECT doc_id, bg, count(*) AS c
              FROM (SELECT doc_id, unnest(g2) AS bg FROM g) x
              GROUP BY 1, 2) y
        GROUP BY doc_id)
      SELECT i.doc_id, dup_bigram_frac, dup_trigram_frac,
             coalesce(top_bigram_frac, 0.0) AS top_bigram_frac,
             (dup_bigram_frac <= 0.3
               AND coalesce(top_bigram_frac, 0.0) <= 0.2) AS keep
      FROM inrow i LEFT JOIN top USING (doc_id)""",

    "q_dup_spans" -> """
      WITH t AS (
        SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      ngr AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(tk) - 6),
                 i -> array_to_string(tk[i:i+7], ' '))) AS ng
        FROM t WHERE len(tk) >= 8),
      dc AS (SELECT ng, count(*) AS nd FROM ngr GROUP BY 1)
      SELECT doc_id, count(*) AS n_spans,
             sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_spans,
             round(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::DOUBLE
               / count(*), 6) AS dup_span_frac
      FROM ngr JOIN dc USING (ng)
      GROUP BY doc_id""",

    "q_dup_span_removal" -> """
      WITH base AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS tk
        FROM documents),
      spans AS (
        SELECT doc_id, i AS p, md5(array_to_string(tk[i+1:i+8], ' ')) AS h
        FROM base, unnest(range(0, len(tk) - 7)) AS r(i)
        WHERE len(tk) >= 8),
      dup AS (
        SELECT h, min(doc_id) AS keeper
        FROM (SELECT DISTINCT doc_id, h FROM spans)
        GROUP BY h HAVING count(*) > 1),
      rem AS (
        SELECT DISTINCT s.doc_id, u.rp
        FROM spans s JOIN dup d USING (h),
             unnest(range(s.p, s.p + 8)) AS u(rp)
        WHERE s.doc_id <> d.keeper),
      toks AS (
        SELECT doc_id, tk[i+1] AS tok, i::BIGINT AS p
        FROM base, unnest(range(0, len(tk))) AS r(i)),
      kept AS (
        SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.p) AS clean_text
        FROM toks t ANTI JOIN rem r
          ON t.doc_id = r.doc_id AND t.p = r.rp
        GROUP BY t.doc_id)
      SELECT b.doc_id, coalesce(k.clean_text, '') AS clean_text,
             len(b.tk)::INT AS n_tokens,
             coalesce(rc.n_removed, 0)::INT AS n_removed
      FROM base b
      LEFT JOIN kept k USING (doc_id)
      LEFT JOIN (SELECT doc_id, count(*) AS n_removed FROM rem
                 GROUP BY doc_id) rc USING (doc_id)""",

    "q_split_assign" -> """
      WITH b AS (
        SELECT source, n_chars,
               ('0x' || substr(md5('graft_' || doc_id::VARCHAR), 1, 8))
                 ::BIGINT % 10000 AS bk
        FROM documents)
      SELECT CASE WHEN bk < 9000 THEN 'train'
                  WHEN bk < 9500 THEN 'valid' ELSE 'test' END AS split,
             source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
      FROM b GROUP BY 1, 2""",

    "q_domain_mix" -> """
      SELECT source, doc_id FROM (
        SELECT source, doc_id,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC) AS rn
        FROM documents) t
      WHERE rn <= CASE WHEN source IN ('src0','src1','src2','src3','src4')
                       THEN 35 ELSE 5 END""",

    // quotas are closed-form: counts 4/9/25/36 → sqrt 2/3/5/6, Z=16,
    // ⌊(sqrt/16)·10⌋ = 1/1/3/3 exactly (binary fractions — no boundary)
    "q_temperature_mix" -> """
      WITH f AS (
        SELECT CASE WHEN doc_id < 4 THEN 'g4'
                    WHEN doc_id < 13 THEN 'g9'
                    WHEN doc_id < 38 THEN 'g25'
                    ELSE 'g36' END AS grp, doc_id
        FROM documents WHERE doc_id < 74),
      r AS (
        SELECT grp, doc_id,
               row_number() OVER (PARTITION BY grp
                 ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC) AS rn
        FROM f)
      SELECT grp, doc_id FROM r
      WHERE rn <= CASE grp WHEN 'g25' THEN 3 WHEN 'g36' THEN 3
                           ELSE 1 END""",

    "q_seq_pack" -> """
      SELECT doc_id, lang, n_tokens::INT AS n_tokens,
             (cum - n_tokens)::BIGINT AS start_off,
             ((cum - n_tokens) // 128)::BIGINT AS chunk_id,
             ((cum - n_tokens) % 128 + n_tokens > 128) AS straddles
      FROM (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
               sum(len(string_split(text, ' '))) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM documents) t""",

    "q_seq_pack_tokens" -> """
      SELECT doc_id, lang, n_tokens::INT AS n_tokens,
             (cum - n_tokens)::BIGINT AS start_off,
             ((cum - n_tokens) // 128)::BIGINT AS chunk_id,
             ((cum - n_tokens) % 128 + n_tokens > 128) AS straddles
      FROM (
        SELECT doc_id, lang,
               len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_tokens,
               sum(len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM documents) t""",

    "q_shuffle_shards" -> """
      WITH s AS (
        SELECT doc_id, md5('graft_' || doc_id::VARCHAR) AS sk,
               (('0x' || substr(md5('graft_' || doc_id::VARCHAR), 1, 8))
                 ::BIGINT % 8)::INT AS shard
        FROM documents)
      SELECT shard, count(*) AS n_docs,
             arg_min(doc_id, sk) AS first_id,
             arg_max(doc_id, sk) AS last_id
      FROM s GROUP BY shard""",

    "q_simhash_planted" -> """
      WITH s AS (SELECT doc_id FROM documents WHERE doc_id < 12)
      SELECT doc_id*10 AS a, doc_id*10+1 AS b, 0::INT AS hamming FROM s
      UNION ALL
      SELECT doc_id*10, doc_id*10+2, 0::INT FROM s
      UNION ALL
      SELECT doc_id*10+1, doc_id*10+2, 0::INT FROM s""",

    // simhash greedy dedup on the clone triples: doomed = the greater
    // id of every hamming-0 pair, so survivors are the min-id of each
    // triple plus every singleton — the fixture text replayed closed
    // form like q_minhash_dedup_planted
    "q_simhash_dedup_planted" -> """
      WITH gen AS (
        SELECT doc_id AS b,
               array_to_string(list_transform(range(0, 30),
                 j -> substr(md5(doc_id::VARCHAR || '_' || j::VARCHAR),
                   1, 8)), ' ') AS t0
        FROM documents),
      fix AS (
        SELECT b*10 AS doc_id, t0 AS text FROM gen WHERE b < 12
        UNION ALL
        SELECT b*10+1, t0 FROM gen WHERE b < 12
        UNION ALL
        SELECT b*10+2, t0 FROM gen WHERE b < 12
        UNION ALL
        SELECT b*10, t0 FROM gen WHERE b >= 100 AND b < 120)
      SELECT doc_id, text FROM fix WHERE doc_id % 10 = 0""",

    "q_semantic_dedup_planted" -> """
      SELECT vec_id FROM embeddings WHERE vec_id < 20""",

    "q_ann_lsh_planted" -> """
      SELECT vec_id AS probe_id,
             vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS cand_id,
             1.0 AS cos, 1::INT AS rank
      FROM embeddings WHERE vec_id < 5""",

    "q_ann_ivf_planted" -> """
      SELECT vec_id AS probe_id,
             vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS cand_id,
             1.0 AS cos, 1::INT AS rank
      FROM embeddings WHERE vec_id < 5""",

    "q_ivfpq_append_planted" -> """
      SELECT vec_id AS probe_id,
             vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS cand_id,
             true AS is_min_adc
      FROM embeddings WHERE vec_id < 5""",

    // append-then-retract must restore the EXACT per-probe (candidate,
    // ADC) sets of the never-appended index — the closure verdict is
    // closed-form
    "q_ivfpq_retract_planted" -> """
      SELECT vec_id AS probe_id, true AS identical
      FROM embeddings WHERE vec_id < 5""",

    "q_ivfpq_update_planted" -> """
      SELECT vec_id AS probe_id, true AS twin_is_min_adc,
             true AS restore_identical
      FROM embeddings WHERE vec_id < 5""",

    "q_kmv_exact" -> """
      SELECT l_returnflag,
             count(DISTINCT l_linenumber)::BIGINT AS n_linenumbers
      FROM lineitem GROUP BY 1""",

    // rebuilds the LogHist sketch cell-for-cell: bucket id from binary
    // bit length + shifts (exact region < 64, else pow2-exponent block +
    // top-6 mantissa bits), then bucket lower bound at ranks ceil(q*N)
    "q_hist_quantiles" -> """
      WITH c AS (
        SELECT l_returnflag, round(l_extendedprice * 100)::BIGINT AS v
        FROM lineitem),
      b AS (
        SELECT l_returnflag,
               CASE WHEN v < 64 THEN v
                    ELSE ((length(printf('%b', v)) - 6) * 64)::BIGINT
                         + ((v >> (length(printf('%b', v)) - 7)) & 63)
               END AS id,
               count(*) AS n
        FROM c GROUP BY 1, 2),
      t AS (SELECT l_returnflag, sum(n)::BIGINT AS total FROM b GROUP BY 1),
      cum AS (
        SELECT l_returnflag, id,
               sum(n) OVER (PARTITION BY l_returnflag ORDER BY id
                 ROWS UNBOUNDED PRECEDING) AS cm
        FROM b),
      est AS (
        SELECT cum.l_returnflag, p.q, min(id) AS qid
        FROM cum JOIN t USING (l_returnflag)
        CROSS JOIN (SELECT unnest([0.5, 0.9, 0.99]) AS q) p
        WHERE cm >= greatest(1, ceil(p.q * total))
        GROUP BY 1, 2),
      lb AS (
        SELECT l_returnflag, q,
               CASE WHEN qid < 64 THEN qid
                    ELSE (64 + (qid & 63)) << ((qid >> 6) - 1)
               END AS e
        FROM est)
      SELECT l.l_returnflag, t.total AS n,
             max(CASE WHEN q = 0.5 THEN e END)::BIGINT AS q50_cents,
             max(CASE WHEN q = 0.9 THEN e END)::BIGINT AS q90_cents,
             max(CASE WHEN q = 0.99 THEN e END)::BIGINT AS q99_cents
      FROM lb l JOIN t ON l.l_returnflag = t.l_returnflag
      GROUP BY 1, 2""",

    "q_embed_quant" -> """
      WITH q AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               list_max(list_transform(embedding::DOUBLE[],
                 x -> abs(x))) / 127 AS s
        FROM embeddings),
      c AS (
        SELECT vec_id, v, s,
               list_transform(v, x -> CASE WHEN s = 0 THEN 0
                 ELSE floor(x / s + 0.5)::INT END) AS codes
        FROM q)
      SELECT vec_id, round(s, 6) AS sq_scale,
             list_sum(codes)::BIGINT AS sum_codes,
             round(list_max(list_transform(range(1, len(v) + 1),
               i -> abs(v[i] - codes[i] * s))), 6) AS max_err
      FROM c""",

    "q_unigram_surprisal" -> """
      WITH t AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        FROM documents),
      tf AS (SELECT doc_id, tok FROM t WHERE tok <> ''),
      c AS (SELECT tok, count(*) AS c FROM tf GROUP BY tok),
      g AS (SELECT sum(c)::DOUBLE AS total, count(*)::DOUBLE AS v FROM c)
      SELECT doc_id, count(*)::BIGINT AS n_tokens,
             round(avg(-ln((c + 0.5) / (total + 0.5 * v))), 6)
               AS avg_surprisal
      FROM tf JOIN c USING (tok) CROSS JOIN g
      GROUP BY doc_id""",

    "q_tokenize_ids" -> """
      WITH t AS (
        SELECT doc_id, tk[i+1] AS tok, i AS p
        FROM (SELECT doc_id,
                regexp_split_to_array(lower(text), '\s+') AS tk
              FROM documents) x,
             unnest(range(0, len(tk))) AS r(i)
        WHERE tk[i+1] <> ''),
      c AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
      v AS (SELECT tok,
                   (row_number() OVER (ORDER BY c DESC, tok) - 1)::INT
                     AS token_id
            FROM c ORDER BY c DESC, tok LIMIT 4096),
      e AS (SELECT t.doc_id, t.p, coalesce(v.token_id, 4096) AS id
            FROM t LEFT JOIN v USING (tok))
      SELECT doc_id, count(*)::BIGINT AS n_tokens,
             sum(CASE WHEN id = 4096 THEN 1 ELSE 0 END)::BIGINT AS n_oov,
             string_agg(id::VARCHAR, ' ' ORDER BY p) AS ids
      FROM e GROUP BY doc_id""",

    "q_quant_topk" -> """
      WITH q AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               list_max(list_transform(embedding::DOUBLE[],
                 x -> abs(x))) / 127 AS s
        FROM embeddings),
      d AS (
        SELECT vec_id,
               CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
                    ELSE list_transform(v, x -> floor(x / s + 0.5)::INT * s)
               END AS dv
        FROM q),
      sc AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               round(list_cosine_similarity(p.dv, c.dv), 6) AS cos
        FROM d p, d c
        WHERE p.vec_id < 5 AND c.vec_id <> p.vec_id)
      SELECT probe_id, cand_id, cos, "rank" FROM (
        SELECT probe_id, cand_id, cos,
               CAST(row_number() OVER (PARTITION BY probe_id
                 ORDER BY cos DESC, cand_id) AS INT) AS "rank"
        FROM sc) t
      WHERE "rank" <= 3""",

    // Planted-fixture oracles: DuckDB regenerates the identical
    // md5-derived fixture, then selects the survivors the construction
    // guarantees — the Spark side must reach that exact set through the
    // real LSH machinery.
    "q_minhash_dedup_planted" -> """
      WITH gen AS (
        SELECT doc_id AS b,
               array_to_string(list_transform(range(0, 30),
                 j -> substr(md5(doc_id::VARCHAR || '_' || j::VARCHAR),
                   1, 8)), ' ') AS t0,
               substr(md5(doc_id::VARCHAR || '_xa'), 1, 8) AS xa,
               substr(md5(doc_id::VARCHAR || '_xb'), 1, 8) AS xb
        FROM documents),
      fix AS (
        SELECT b*10 AS doc_id, t0 AS text FROM gen WHERE b < 12
        UNION ALL
        SELECT b*10+1, t0 || ' ' || xa FROM gen WHERE b < 12
        UNION ALL
        SELECT b*10+2, t0 || ' ' || xa || ' ' || xb FROM gen WHERE b < 12
        UNION ALL
        SELECT b*10, t0 FROM gen WHERE b >= 100 AND b < 120)
      SELECT doc_id, text, length(text)::INT AS n_chars FROM fix
      WHERE doc_id % 10 = 0""",

    "q_minhash_keep_best_planted" -> """
      WITH gen AS (
        SELECT doc_id AS b,
               array_to_string(list_transform(range(0, 30),
                 j -> substr(md5(doc_id::VARCHAR || '_' || j::VARCHAR),
                   1, 8)), ' ') AS t0,
               substr(md5(doc_id::VARCHAR || '_xa'), 1, 8) AS xa,
               substr(md5(doc_id::VARCHAR || '_xb'), 1, 8) AS xb
        FROM documents),
      fix AS (
        SELECT b*10 AS doc_id, t0 AS text FROM gen WHERE b < 12
        UNION ALL
        SELECT b*10+1, t0 || ' ' || xa FROM gen WHERE b < 12
        UNION ALL
        SELECT b*10+2, t0 || ' ' || xa || ' ' || xb FROM gen WHERE b < 12
        UNION ALL
        SELECT b*10, t0 FROM gen WHERE b >= 100 AND b < 120)
      SELECT doc_id, text, length(text)::INT AS n_chars FROM fix
      WHERE doc_id >= 1000 OR doc_id % 10 = 2""",

    "q_minhash_transitive_planted" -> """
      WITH gen AS (
        SELECT doc_id AS b,
               array_to_string(list_transform(range(0, 60),
                 j -> substr(md5(doc_id::VARCHAR || '_' || j::VARCHAR),
                   1, 8)), ' ') AS s1,
               array_to_string(list_transform(range(30, 90),
                 j -> substr(md5(doc_id::VARCHAR || '_' || j::VARCHAR),
                   1, 8)), ' ') AS s2,
               array_to_string(list_transform(range(0, 90),
                 j -> substr(md5(doc_id::VARCHAR || '_' || j::VARCHAR),
                   1, 8)), ' ') AS hub,
               array_to_string(list_transform(range(0, 30),
                 j -> substr(md5(doc_id::VARCHAR || '_' || j::VARCHAR),
                   1, 8)), ' ') AS lone
        FROM documents),
      fix AS (
        SELECT b*10 AS doc_id, s1 AS text FROM gen WHERE b < 12
        UNION ALL
        SELECT b*10+1, s2 FROM gen WHERE b < 12
        UNION ALL
        SELECT b*10+2, hub FROM gen WHERE b < 12
        UNION ALL
        SELECT b*10, lone FROM gen WHERE b >= 100 AND b < 120)
      SELECT doc_id, text, length(text)::INT AS n_chars FROM fix
      WHERE doc_id % 10 = 0""",

    "q_multimodal_transform" -> """
      WITH m AS (
        SELECT doc_id AS media_id,
               CASE doc_id % 3 WHEN 2 THEN 'video' WHEN 0 THEN 'image'
                 ELSE 'audio' END AS modality,
               strlen(text)::BIGINT AS n
        FROM documents),
      calc AS (
        SELECT media_id, modality, n,
               greatest(1, (n * 320 * 240) // 307200) AS resized_bytes,
               (n + 63) // 64 AS f
        FROM m)
      SELECT media_id, modality, resized_bytes,
             CASE WHEN modality <> 'video' THEN n
                  WHEN n = 0 THEN 0
                  WHEN (f - 1) % 2 = 0
                    THEN ((f + 1) // 2 - 1) * 64 + (n - 64 * (f - 1))
                  ELSE ((f + 1) // 2) * 64 END AS sampled_bytes
      FROM calc""",

    // round 4 cont.: line dedup / random projection / layout gates
    "q_line_dedup" -> """
      WITH base AS (
        -- list_filter mirrors segmentByTokens' empty-token drop: an
        -- empty or multi-space doc must segment to ZERO lines, exactly
        -- as the Spark side does (string_split('') is [''], not [])
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '),
                 t -> t <> '') AS tk
        FROM documents),
      seg AS (
        SELECT doc_id, i AS p,
               array_to_string(tk[i*10+1 : i*10+10], ' ') AS line
        FROM base,
             unnest(range(0, CAST(ceil(len(tk)/10.0) AS BIGINT))) AS r(i)),
      dup AS (
        SELECT md5(line) AS h, min(doc_id) AS keeper
        FROM (SELECT DISTINCT doc_id, line FROM seg)
        GROUP BY 1 HAVING count(*) >= 2),
      rem AS (
        SELECT s.doc_id, s.p
        FROM seg s JOIN dup d ON md5(s.line) = d.h
        WHERE s.doc_id <> d.keeper),
      kept AS (
        SELECT s.doc_id, string_agg(s.line, chr(10) ORDER BY s.p)
                 AS clean_text
        FROM seg s ANTI JOIN rem r ON s.doc_id = r.doc_id AND s.p = r.p
        GROUP BY s.doc_id)
      SELECT b.doc_id, coalesce(k.clean_text, '') AS clean_text,
             CAST(ceil(len(b.tk)/10.0) AS INT) AS n_lines,
             coalesce(rc.n, 0)::INT AS n_removed
      FROM base b
      LEFT JOIN kept k USING (doc_id)
      LEFT JOIN (SELECT doc_id, count(*) AS n FROM rem GROUP BY doc_id) rc
        USING (doc_id)""",

    "q_rand_project" -> """
      WITH sgn AS (
        SELECT j, list_transform(range(0, 64), i ->
          CASE WHEN substr(md5('graft_' || i::VARCHAR || '_'
                     || j::VARCHAR), 1, 1) < '8'
               THEN 1.0 ELSE -1.0 END) AS sv
        FROM unnest(range(0, 16)) AS t(j)),
      b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      SELECT b.vec_id, sgn.j::INT AS j,
             round(list_reduce(list_prepend(0.0,
               list_transform(range(0, 64),
                 i -> b.v[i+1] * sgn.sv[i+1])),
               (a, x) -> a + x) / sqrt(16), 6) AS v
      FROM b, sgn""",

    // centroid silhouette: components snap to the 1/128 dyadic grid so
    // the centroid means are order-free EXACT; the distance fold is
    // dimension-ordered in both engines; per-point silhouettes
    // quantize to exact 1e-6 longs before the cluster mean
    "q_silhouette" -> """
      WITH q AS (
        SELECT vec_id, label,
               list_transform(embedding,
                 x -> floor(x::DOUBLE * 128.0) / 128.0) AS v
        FROM embeddings WHERE label IS NOT NULL),
      pts AS (SELECT vec_id, label, r.i AS pos, v[r.i + 1] AS x
              FROM q CROSS JOIN range(0, 64) AS r(i)),
      cent AS (SELECT label AS cl, pos, sum(x) / count(*) AS m
               FROM pts GROUP BY label, pos),
      d AS (SELECT p.vec_id AS vec_id, p.label AS label, c.cl AS cl,
              sqrt(list_reduce(list_prepend(0.0,
                list((p.x - c.m) * (p.x - c.m) ORDER BY p.pos)),
                (a, b) -> a + b)) AS dist
            FROM pts p JOIN cent c ON p.pos = c.pos
            GROUP BY p.vec_id, p.label, c.cl),
      sil AS (SELECT vec_id, label,
                max(CASE WHEN cl = label THEN dist END) AS a,
                min(CASE WHEN cl <> label THEN dist END) AS b
              FROM d GROUP BY vec_id, label),
      sq AS (SELECT label,
               CASE WHEN greatest(a, b) = 0 THEN 0
                    ELSE floor((b - a) / greatest(a, b) * 1000000.0) END
                 ::BIGINT AS s6
             FROM sil)
      SELECT label, count(*)::BIGINT AS n,
             sum(s6)::DOUBLE / count(*)::DOUBLE / 1000000.0 AS mean_s
      FROM sq GROUP BY label""",

    "q_embed_centroids" -> """
      SELECT label, i::INT AS pos, count(*) AS n,
             round(avg(embedding[i+1]::DOUBLE), 6) AS v
      FROM embeddings, unnest(range(0, 64)) AS r(i)
      GROUP BY label, i""",

    "q_partition_prune" -> """
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
             count(DISTINCT user_id) AS n_users
      FROM events
      WHERE CAST(ts AS DATE)
        BETWEEN DATE '2024-01-10' AND DATE '2024-01-16'
      GROUP BY event_type""",

    "q_bucketed_join" -> """
      SELECT c_mktsegment, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total,
             count(DISTINCT c_custkey) AS n_customers
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment""",

    "q_zorder_key" -> """
      SELECT l_orderkey, l_linenumber, zkey FROM (
        SELECT l_orderkey, l_linenumber,
               list_reduce(list_prepend(0::BIGINT,
                 list_transform(range(0, 10), b ->
                   ((((l_partkey::BIGINT % 1024) >> b) & 1) << (2*b)) +
                   ((((l_suppkey::BIGINT % 1024) >> b) & 1) << (2*b+1)))),
                 (a, x) -> a + x) AS zkey
        FROM lineitem) t
      ORDER BY zkey, l_orderkey, l_linenumber
      LIMIT 100""",

    "q_split_leakage" -> """
      WITH b AS (
        SELECT doc_id, md5(text) AS h,
               CASE WHEN bk < 9000 THEN 'train'
                    WHEN bk < 9500 THEN 'valid' ELSE 'test' END AS split
        FROM (SELECT doc_id, text,
                ('0x' || substr(md5('graft_' || doc_id::VARCHAR), 1, 8))
                  ::BIGINT % 10000 AS bk
              FROM documents)),
      s AS (SELECT h, count(DISTINCT split) AS n_splits FROM b GROUP BY h)
      SELECT split, count(*) AS n_docs,
             sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END)::BIGINT
               AS n_leaked
      FROM b JOIN s USING (h)
      GROUP BY split""",

    "q_curriculum" -> """
      WITH t AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        FROM documents),
      tf AS (SELECT doc_id, tok FROM t WHERE tok <> ''),
      c AS (SELECT tok, count(*) AS c FROM tf GROUP BY tok),
      g AS (SELECT sum(c)::DOUBLE AS total, count(*)::DOUBLE AS v FROM c),
      score AS (
        SELECT doc_id, round(avg(-ln((c + 0.5) / (total + 0.5 * v))), 6)
                 AS avg_surprisal
        FROM tf JOIN c USING (tok) CROSS JOIN g
        GROUP BY doc_id),
      ranked AS (
        SELECT d.lang, s.doc_id, s.avg_surprisal,
               ntile(4) OVER (PARTITION BY d.lang
                 ORDER BY s.avg_surprisal, s.doc_id)::INT AS bucket
        FROM score s JOIN documents d USING (doc_id))
      SELECT lang, bucket, count(*) AS n_docs,
             round(avg(avg_surprisal), 6) AS mean_score,
             min(doc_id) AS first_doc
      FROM ranked
      GROUP BY lang, bucket""",

    "q_doc_chunks" -> docChunksSql,

    // greedy no-straddle sentence chunking: the sequential merge is a
    // recursive CTE walking sentences in order per doc (oracle-side
    // cost only — the engine's fold runs inside the row)
    "q_sentence_chunks" -> """
      WITH RECURSIVE
      base AS (
        SELECT doc_id,
               list_filter(
                 string_split(
                   regexp_replace(replace(text, 'merge', 'merge.'),
                     '([.!?]+) ', '\1' || chr(1), 'g'), chr(1)),
                 x -> len(x) > 0) AS sents
        FROM documents),
      s AS (
        SELECT doc_id, generate_subscripts(sents, 1)::INT AS sent_id,
               unnest(sents) AS sentence
        FROM base WHERE len(sents) > 0),
      sc AS (
        SELECT doc_id, sent_id, sentence,
               len(list_filter(string_split(sentence, ' '),
                 t -> len(t) > 0))::INT AS n_tokens
        FROM s),
      g AS (
        SELECT doc_id, sent_id, sentence, n_tokens,
               1::INT AS chunk_id, n_tokens AS acc
        FROM sc WHERE sent_id = 1
        UNION ALL
        SELECT sc.doc_id, sc.sent_id, sc.sentence, sc.n_tokens,
               (CASE WHEN g.acc + sc.n_tokens > 24
                     THEN g.chunk_id + 1 ELSE g.chunk_id END)::INT,
               CASE WHEN g.acc + sc.n_tokens > 24
                    THEN sc.n_tokens ELSE g.acc + sc.n_tokens END
        FROM g JOIN sc ON sc.doc_id = g.doc_id
                      AND sc.sent_id = g.sent_id + 1)
      SELECT doc_id, sent_id, chunk_id, n_tokens, sentence FROM g""",
    // the streaming replay chunks the SAME corpus with the SAME operator
    // — one oracle, two execution modes
    "q_stream_chunks" -> docChunksSql,

    "q_token_mix" -> """
      WITH t AS (
        SELECT source, doc_id,
               len(string_split(text, ' '))::INT AS n_tokens,
               md5(doc_id::VARCHAR) AS rk,
               CASE WHEN source IN ('src0','src1','src2','src3','src4')
                    THEN 4200 ELSE 600 END AS quota
        FROM documents),
      c AS (
        SELECT source, doc_id, n_tokens, quota,
               sum(n_tokens) OVER (PARTITION BY source
                 ORDER BY rk, doc_id
                 ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
        FROM t)
      SELECT source, doc_id, n_tokens, cum_tokens
      FROM c WHERE cum_tokens <= quota""",

    "q_merge_schema" -> """
      SELECT CASE WHEN o_orderkey % 2 = 1 THEN upper(o_orderpriority)
                  ELSE '<pre-evolution>' END AS prio,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
      FROM orders
      GROUP BY 1""",

    "q_cluster_planted" -> """
      SELECT vec_id AS g, 4::BIGINT AS n_members, 1::BIGINT AS n_clusters
      FROM embeddings WHERE vec_id < 10""",

    "q_profile_cat" -> """
      WITH long AS (
        SELECT 'lang' AS "column", lang AS value FROM documents
        UNION ALL
        SELECT 'source', source FROM documents),
      c AS (
        SELECT "column", value, count(*) AS cnt
        FROM long WHERE value IS NOT NULL
        GROUP BY 1, 2)
      SELECT "column", value, cnt, rank FROM (
        SELECT "column", value, cnt,
               row_number() OVER (PARTITION BY "column"
                 ORDER BY cnt DESC, value)::INT AS rank
        FROM c) t
      WHERE rank <= 3""",

    // the EMA recurrence walks the identical (ts, event_id) order and
    // op sequence in both engines — exact on raw doubles
    "q_ema_features" -> """
      WITH RECURSIVE e AS (
        SELECT user_id, event_id, ts, value::DOUBLE AS v,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS rn
        FROM events),
      r AS (
        SELECT user_id, event_id, ts, v, rn,
               NULL::DOUBLE AS prev_value, NULL::DOUBLE AS delta,
               v AS ema
        FROM e WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.event_id, e.ts, e.v, e.rn,
               r.v, e.v - r.v, e.v * 0.5 + r.ema * 0.5
        FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
      SELECT user_id, event_id, ts, v AS value, prev_value, delta, ema
      FROM r""",

    // the fixture's merge sequence is closed-form (freqs 8/6/5/4):
    // hand-computed pair counts with lexicographic tie-breaks — see
    // PipelineQueries.bpeMerges and BpeTrainSpec's reference oracle
    "q_bpe_merges" -> """
      SELECT * FROM (VALUES
        (1, 'l',   'o',    14::BIGINT),
        (2, 'lo',  'w',    14::BIGINT),
        (3, 'e',   's',     9::BIGINT),
        (4, 'es',  't',     9::BIGINT),
        (5, 'est', '</w>',  9::BIGINT),
        (6, 'low', '</w>',  8::BIGINT),
        (7, 'e',   'r',     6::BIGINT),
        (8, 'er',  '</w>',  6::BIGINT))
        AS t("rank", "left", "right", freq)""",

    // BPE encode: rank-order application of the pinned merge table —
    // each word's segmentation is closed form (incl. the OOV words
    // "lowest"/"wider", which reuse learned subwords)
    "q_bpe_encode_planted" -> """
      SELECT * FROM (VALUES
        ('low',    'low</w>'),
        ('lower',  'low er</w>'),
        ('newest', 'n e w est</w>'),
        ('widest', 'w i d est</w>'),
        ('lowest', 'low est</w>'),
        ('wider',  'w i d er</w>'))
        AS t(word, syms)""",

    "q_funnel" -> """
      WITH s1 AS (
        SELECT user_id, min(ts) AS signup_ts FROM events
        WHERE event_type = 'signup' GROUP BY 1),
      s2 AS (
        SELECT e.user_id, min(e.ts) AS click_ts
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts >= s1.signup_ts
        GROUP BY 1),
      s3 AS (
        SELECT e.user_id, min(e.ts) AS purchase_ts
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= s2.click_ts
        GROUP BY 1)
      SELECT s1.user_id, s1.signup_ts, s2.click_ts, s3.purchase_ts,
             s2.user_id IS NOT NULL AS reached_click,
             s3.user_id IS NOT NULL AS converted
      FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
              LEFT JOIN s3 ON s1.user_id = s3.user_id""",

    "q_sessionize" -> """
      WITH e AS (
        SELECT user_id, ts, event_id, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS prev_us
        FROM events),
      f AS (
        SELECT user_id, ts, event_id,
               CASE WHEN prev_us IS NULL
                      OR us - prev_us > 1800 * 1000000 THEN 1
                    ELSE 0 END AS st
        FROM e),
      g AS (
        SELECT user_id, ts,
               sum(st) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING)::BIGINT AS session_seq
        FROM f)
      SELECT user_id, session_seq, count(*) AS n_events,
             min(ts) AS session_start, max(ts) AS session_end,
             ((epoch_us(max(ts)) - epoch_us(min(ts)))
               // 1000000)::BIGINT AS duration_sec
      FROM g GROUP BY user_id, session_seq""",

    "q_corpus_diff" -> """
      WITH v1 AS (SELECT doc_id, text FROM documents),
      v2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                    ELSE text END AS text
        FROM v1 WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id + 100000000, text FROM v1 WHERE doc_id < 10),
      o AS (SELECT doc_id, md5(text) AS ho FROM v1),
      n AS (SELECT doc_id, md5(text) AS hn FROM v2),
      d AS (
        SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN ho = hn THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM o FULL JOIN n ON o.doc_id = n.doc_id)
      SELECT status, count(*) AS n,
             bit_xor(doc_id)::BIGINT AS id_checksum
      FROM d GROUP BY status""",

    "q_editdist_neardup" -> """
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000000, text || ' zq x'
        FROM documents WHERE doc_id < 10),
      keyed AS (
        SELECT doc_id AS id, substring(text, 1, 16) AS pfx,
               length(text) AS len
        FROM corpus),
      buckets AS (
        SELECT pfx FROM keyed GROUP BY pfx
        HAVING count(*) BETWEEN 2 AND 300),
      pruned AS (SELECT k.* FROM keyed k JOIN buckets USING (pfx)),
      pairs AS (
        SELECT x.id AS a, y.id AS b
        FROM pruned x JOIN pruned y USING (pfx)
        WHERE x.id < y.id AND abs(x.len - y.len) <= 6)
      SELECT a, b, levenshtein(ca.text, cb.text)::INT AS edit_dist
      FROM pairs
      JOIN corpus ca ON ca.doc_id = a
      JOIN corpus cb ON cb.doc_id = b
      WHERE levenshtein(ca.text, cb.text) <= 6""",

    "q_cms_freq" -> """
      WITH toks AS (
        SELECT lang,
               unnest(list_filter(string_split(lower(text), ' '),
                 t -> t <> '')) AS tok
        FROM documents),
      cells AS (
        SELECT lang, r,
               ('0x' || substr(md5('cms' || r::VARCHAR || '_' || tok),
                 1, 8))::BIGINT % 1024 AS cell,
               count(*) AS c
        FROM toks CROSS JOIN range(4) t(r)
        GROUP BY 1, 2, 3),
      probes(word) AS (
        VALUES ('join'), ('scan'), ('filter'), ('qzxunseen')),
      pc AS (
        SELECT word, r,
               ('0x' || substr(md5('cms' || r::VARCHAR || '_' || word),
                 1, 8))::BIGINT % 1024 AS cell
        FROM probes CROSS JOIN range(4) t(r)),
      langs AS (SELECT DISTINCT lang FROM documents)
      SELECT l.lang, pc.word, min(coalesce(c.c, 0))::BIGINT AS est
      FROM langs l
      CROSS JOIN pc
      LEFT JOIN cells c
        ON c.lang = l.lang AND c.r = pc.r AND c.cell = pc.cell
      GROUP BY l.lang, pc.word""",

    // Kneser–Ney bigram surprisal: absolute discount D=0.75 +
    // continuation backoff, replayed count-for-count; the per-bigram P
    // is the identical IEEE chain in both engines (exact-long inputs),
    // only the per-doc average is order-summed (6dp)
    "q_kn_surprisal" -> """
      WITH base AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\s+'),
                 t -> t <> '') AS tk
        FROM documents),
      bi AS (
        SELECT doc_id, tk[i - 1] AS prev, tk[i] AS cur
        FROM base, unnest(range(2, len(tk) + 1)) r(i)
        WHERE len(tk) >= 2),
      big AS (
        SELECT prev, cur, count(*)::BIGINT AS cb FROM bi GROUP BY 1, 2),
      ctx AS (
        SELECT prev, sum(cb)::BIGINT AS cv, count(*)::BIGINT AS n1v
        FROM big GROUP BY prev),
      cont AS (SELECT cur, count(*)::BIGINT AS n1w FROM big GROUP BY cur),
      types AS (SELECT count(*)::BIGINT AS n1t FROM big)
      SELECT bi.doc_id, count(*)::BIGINT AS n_bigrams,
             round(avg(-ln(
               greatest(cb - 0.75, 0.0) / cv +
               0.75 * n1v / cv * (n1w / n1t))), 6) AS avg_kn_surprisal
      FROM bi JOIN big USING (prev, cur)
              JOIN ctx USING (prev)
              JOIN cont USING (cur)
              CROSS JOIN types
      GROUP BY bi.doc_id""",

    "q_bigram_surprisal" -> """
      WITH base AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\s+'),
                 t -> t <> '') AS tk
        FROM documents),
      bi AS (
        SELECT doc_id, tk[i - 1] AS prev, tk[i] AS cur
        FROM base, unnest(range(2, len(tk) + 1)) r(i)
        WHERE len(tk) >= 2),
      tf AS (
        SELECT doc_id, tok FROM (
          SELECT doc_id,
                 unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
          FROM documents)
        WHERE tok <> ''),
      uni AS (SELECT tok, count(*) AS cu FROM tf GROUP BY tok),
      big AS (SELECT prev, cur, count(*) AS cb FROM bi GROUP BY prev, cur),
      g AS (SELECT sum(cu)::DOUBLE AS total, count(*)::DOUBLE AS v FROM uni)
      SELECT bi.doc_id, count(*) AS n_bigrams,
             -- parens around each division: Spark computes lambda * (p),
             -- and float mul/div is not associative
             round(avg(-ln(0.75 * ((cb + 0.5) / (up.cu + 0.5 * v))
                         + 0.25 * ((uc.cu + 0.5) / (total + 0.5 * v)))), 6)
               AS avg_bigram_surprisal
      FROM bi
      JOIN big USING (prev, cur)
      JOIN uni up ON up.tok = bi.prev
      JOIN uni uc ON uc.tok = bi.cur
      CROSS JOIN g
      GROUP BY bi.doc_id""",

    "q_skew_report" -> """
      WITH counts AS (
        SELECT l_suppkey AS k, count(*)::BIGINT AS n
        FROM lineitem GROUP BY 1),
      b AS (
        SELECT CASE WHEN n < 64 THEN n
                    ELSE ((length(printf('%b', n)) - 6) * 64)::BIGINT
                         + ((n >> (length(printf('%b', n)) - 7)) & 63)
               END AS id,
               count(*) AS c
        FROM counts GROUP BY 1),
      t AS (
        SELECT count(*)::BIGINT AS n_groups, sum(n)::BIGINT AS n_rows,
               max(n)::BIGINT AS max_group
        FROM counts),
      cum AS (
        SELECT id, sum(c) OVER (ORDER BY id ROWS UNBOUNDED PRECEDING)
                 AS cm
        FROM b),
      est AS (
        SELECT p.q, min(id) AS qid
        FROM cum CROSS JOIN t
        CROSS JOIN (SELECT unnest([0.5, 0.9, 0.99]) AS q) p
        WHERE cm >= greatest(1, ceil(p.q * t.n_groups))
        GROUP BY 1),
      lb AS (
        SELECT q, CASE WHEN qid < 64 THEN qid
                       ELSE (64 + (qid & 63)) << ((qid >> 6) - 1)
                  END AS e
        FROM est),
      qs AS (
        SELECT max(CASE WHEN q = 0.5 THEN e END)::BIGINT AS p50_group,
               max(CASE WHEN q = 0.9 THEN e END)::BIGINT AS p90_group,
               max(CASE WHEN q = 0.99 THEN e END)::BIGINT AS p99_group
        FROM lb),
      top AS (
        SELECT string_agg(k, ',' ORDER BY n DESC, k) AS top_keys FROM (
          SELECT k::VARCHAR AS k, n FROM counts
          ORDER BY n DESC, k::VARCHAR LIMIT 10) s)
      SELECT t.n_groups, t.n_rows, t.max_group,
             qs.p50_group, qs.p90_group, qs.p99_group, top.top_keys
      FROM t, qs, top""",

    "q_graph_degrees" -> """
      WITH e AS (
        SELECT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      o AS (
        SELECT src AS node, count(DISTINCT dst)::BIGINT AS out_deg,
               count(*)::BIGINT AS out_edges
        FROM e GROUP BY src),
      i AS (
        SELECT dst AS node, count(DISTINCT src)::BIGINT AS in_deg,
               count(*)::BIGINT AS in_edges
        FROM e GROUP BY dst)
      SELECT coalesce(o.node, i.node) AS node,
             coalesce(out_deg, 0)::BIGINT AS out_deg,
             coalesce(in_deg, 0)::BIGINT AS in_deg,
             coalesce(out_edges, 0)::BIGINT AS out_edges,
             coalesce(in_edges, 0)::BIGINT AS in_edges
      FROM o FULL JOIN i ON o.node = i.node""",

    // two chains + an isolated pair ⇒ every node labels with its
    // component's minimum id (closed form; diameter 4 forces real
    // multi-round propagation)
    "q_components_planted" -> """
      SELECT * FROM (VALUES
        (0::BIGINT, 0::BIGINT), (1::BIGINT, 0::BIGINT),
        (2::BIGINT, 0::BIGINT), (3::BIGINT, 0::BIGINT),
        (4::BIGINT, 0::BIGINT),
        (10::BIGINT, 10::BIGINT), (11::BIGINT, 10::BIGINT),
        (12::BIGINT, 10::BIGINT),
        (20::BIGINT, 20::BIGINT), (21::BIGINT, 20::BIGINT))
        AS t(node, component)""",

    // 100-node chain blocks over doc ids: every label is the block
    // minimum over the nodes PRESENT (robust to the id range; node set
    // = edge endpoints, mirrored from the query's edge rule)
    "q_components_chain_planted" -> """
      WITH e AS (
        SELECT doc_id AS src, doc_id + 1 AS dst
        FROM documents WHERE doc_id % 100 <> 99),
      n AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e)
      SELECT node,
             min(node) OVER (PARTITION BY node // 100) AS component
      FROM n""",

    // dominance by NOT EXISTS — the quadratic form the two-phase
    // skyline exists to avoid
    "q_skyline" -> """
      SELECT p_partkey, p_size, p_retailprice FROM part a
      WHERE NOT EXISTS (SELECT 1 FROM part b
        WHERE b.p_size >= a.p_size
          AND b.p_retailprice <= a.p_retailprice
          AND (b.p_size > a.p_size
               OR b.p_retailprice < a.p_retailprice))""",

    // NB model: exact counts, one ln of one division per row
    "q_nb_train" -> """
      WITH t AS (SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
                 FROM documents),
      tf0 AS (SELECT doc_id, tok FROM t WHERE tok <> ''),
      lt AS (SELECT d.lang AS label, tf0.tok
             FROM tf0 JOIN documents d USING (doc_id)),
      tf AS (SELECT label, tok, count(*)::BIGINT AS tf
             FROM lt GROUP BY 1, 2),
      nl AS (SELECT label, count(*) AS nl FROM lt GROUP BY 1),
      v AS (SELECT count(DISTINCT tok) AS v FROM lt)
      SELECT label, tok, tf,
             round(ln((tf + 1)::DOUBLE / (nl + v)::DOUBLE), 6) AS log_prob
      FROM tf JOIN nl USING (label) CROSS JOIN v""",

    // NB scoring: prior + summed token log-probs (unseen floor per
    // class), per-doc argmax with (score desc, label asc) tie order
    "q_nb_classify" -> """
      WITH t AS (SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
                 FROM documents),
      tf0 AS (SELECT doc_id, tok FROM t WHERE tok <> ''),
      lt AS (SELECT d.lang AS label, tf0.tok
             FROM tf0 JOIN documents d USING (doc_id)),
      tf AS (SELECT label, tok, count(*) AS tf FROM lt GROUP BY 1, 2),
      nl AS (SELECT label, count(*) AS nl FROM lt GROUP BY 1),
      v AS (SELECT count(DISTINCT tok) AS v FROM lt),
      model AS (SELECT label, tok,
                  ln((tf + 1)::DOUBLE / (nl + v)::DOUBLE) AS lp
                FROM tf JOIN nl USING (label) CROSS JOIN v),
      stats AS (SELECT nd.label,
                  ln(nd.n::DOUBLE / tot.n::DOUBLE) AS log_prior,
                  ln(1.0 / (nl.nl + v.v)::DOUBLE) AS log_unseen
                FROM (SELECT lang AS label, count(*) AS n
                      FROM documents GROUP BY 1) nd
                JOIN nl ON nl.label = nd.label
                CROSS JOIN (SELECT count(*) AS n FROM documents) tot
                CROSS JOIN v),
      scored AS (SELECT tf0.doc_id, s.label,
                   s.log_prior + sum(COALESCE(m.lp, s.log_unseen))
                     AS score
                 FROM tf0 CROSS JOIN stats s
                 LEFT JOIN model m ON m.label = s.label
                                  AND m.tok = tf0.tok
                 GROUP BY tf0.doc_id, s.label, s.log_prior)
      SELECT doc_id, label AS predicted, round(score, 6) AS score
      FROM (SELECT doc_id, label, score,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, label ASC) AS rn
            FROM scored)
      WHERE rn = 1""",

    // recursive-CTE replay of the clamp recurrence in (s, v) fold order
    "q_clamped_cumsum" -> """
      WITH RECURSIVE ev AS (
        SELECT l_suppkey AS k, l_shipdate AS s,
               CASE WHEN l_returnflag = 'R'
                    THEN CAST(l_quantity AS BIGINT)
                    ELSE -CAST(l_quantity AS BIGINT) END AS v
        FROM lineitem),
      r AS (SELECT k, s, v,
              row_number() OVER (PARTITION BY k ORDER BY s, v) AS rn
            FROM ev),
      walk (k, rn, s, v, bal) AS (
        SELECT k, rn, s, v,
               GREATEST(0, LEAST(200, 100 + v)) AS bal
        FROM r WHERE rn = 1
        UNION ALL
        SELECT r.k, r.rn, r.s, r.v,
               GREATEST(0, LEAST(200, w.bal + r.v))
        FROM walk w JOIN r ON r.k = w.k AND r.rn = w.rn + 1)
      SELECT k AS l_suppkey, s AS ship_ts, v AS delta,
             bal::BIGINT AS balance
      FROM walk""",

    // position counts replayed with the same (ts, id) total order
    "q_attribution" -> """
      WITH conv AS (SELECT user_id AS u, event_id AS conv_id, ts AS cts
                    FROM events WHERE event_type = 'purchase'),
      touch AS (SELECT user_id AS u, event_type AS channel,
                       event_id AS tid, ts AS tts
                FROM events
                WHERE event_type IN ('click', 'view', 'signup')),
      pairs AS (SELECT conv_id, channel, tid, tts
                FROM conv JOIN touch USING (u)
                WHERE tts < cts AND tts >= cts - INTERVAL 3 DAY),
      ranked AS (SELECT channel, conv_id,
                   row_number() OVER (PARTITION BY conv_id
                     ORDER BY tts ASC, tid ASC) AS rn_first,
                   row_number() OVER (PARTITION BY conv_id
                     ORDER BY tts DESC, tid DESC) AS rn_last
                 FROM pairs)
      SELECT channel,
             sum(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END)::BIGINT
               AS first_touch,
             sum(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END)::BIGINT
               AS last_touch,
             count(*)::BIGINT AS assists,
             count(DISTINCT conv_id)::BIGINT AS conversions
      FROM ranked GROUP BY channel""",

    // quintiles with custkey tie-breaks ⇒ a total order both engines
    // ntile identically; monetary decimal-exact then one double cast
    "q_rfm_segments" -> """
      WITH maxd AS (SELECT max(o_orderdate) AS md FROM orders),
      base AS (SELECT o_custkey,
                 date_diff('day', max(o_orderdate), (SELECT md FROM maxd))
                   ::INT AS recency_days,
                 count(*)::BIGINT AS frequency,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS monetary
               FROM orders GROUP BY o_custkey)
      SELECT o_custkey, recency_days, frequency, monetary,
             ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC)
               ::INT AS r_score,
             ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC)
               ::INT AS f_score,
             ntile(5) OVER (ORDER BY monetary DESC, o_custkey ASC)
               ::INT AS m_score
      FROM base""",

    // doubled-rank integer algebra; HUGEINT keeps every sum exact, one
    // IEEE halving/division sequence mirrored op-for-op from the engine
    "q_mann_whitney" -> """
      WITH sa AS (SELECT l_extendedprice AS v, count(*) AS cnt_a
                  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
      sb AS (SELECT l_extendedprice AS v, count(*) AS cnt_b
             FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1),
      m AS (SELECT COALESCE(sa.v, sb.v) AS v,
                   COALESCE(cnt_a, 0) AS ca, COALESCE(cnt_b, 0) AS cb,
                   COALESCE(cnt_a, 0) + COALESCE(cnt_b, 0) AS mm
            FROM sa FULL JOIN sb ON sa.v = sb.v),
      r AS (SELECT ca, cb, mm,
              2 * COALESCE(sum(mm) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + mm + 1 AS rank2
            FROM m),
      agg AS (SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
                sum(ca::HUGEINT * rank2) AS ra2,
                sum(mm::HUGEINT * mm * mm - mm) AS tie
              FROM r)
      SELECT n_a, n_b,
             CAST(ra2 AS DOUBLE) / 2 AS r_a,
             CAST(ra2 - n_a::HUGEINT * (n_a + 1) AS DOUBLE) / 2 AS u_a,
             CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
               - CAST(ra2 - n_a::HUGEINT * (n_a + 1) AS DOUBLE) / 2 AS u_b,
             CAST(tie AS DOUBLE) AS tie_sum,
             round((CAST(ra2 - n_a::HUGEINT * (n_a + 1) AS DOUBLE) / 2
                    - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2)
               / sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12)
                 * ((CAST(n_a + n_b AS DOUBLE) + 1)
                   - CAST(tie AS DOUBLE)
                     / (CAST(n_a + n_b AS DOUBLE)
                        * (CAST(n_a + n_b AS DOUBLE) - 1)))), 9) AS z
      FROM agg""",

    // Spearman's rho: doubled average ranks per distinct value on each
    // axis (the mann_whitney rank2 recipe), exact HUGEINT moments, one
    // IEEE chain — VARCHAR-roundtrip casts keep >2^53 intermediates
    // correctly rounded (the HUGEINT cast hazard)
    "q_spearman" -> """
      WITH base AS (
        SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
      xm AS (SELECT x, count(*)::BIGINT AS m FROM base GROUP BY x),
      xr AS (SELECT x, 2 * COALESCE(sum(m) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + m + 1 AS r2x FROM xm),
      ym AS (SELECT y, count(*)::BIGINT AS m FROM base GROUP BY y),
      yr AS (SELECT y, 2 * COALESCE(sum(m) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + m + 1 AS r2y FROM ym),
      j AS (SELECT xr.r2x, yr.r2y FROM base b
            JOIN xr ON b.x = xr.x JOIN yr ON b.y = yr.y),
      agg AS (SELECT count(*)::BIGINT AS n,
                sum(r2x::HUGEINT) AS sx, sum(r2y::HUGEINT) AS sy,
                sum(r2x::HUGEINT * r2x) AS sxx,
                sum(r2y::HUGEINT * r2y) AS syy,
                sum(r2x::HUGEINT * r2y) AS sxy
              FROM j)
      SELECT n,
             round(CAST(CAST(n::HUGEINT * sxy - sx * sy AS VARCHAR)
                 AS DOUBLE)
               / (sqrt(CAST(CAST(n::HUGEINT * sxx - sx * sx AS VARCHAR)
                    AS DOUBLE))
                  * sqrt(CAST(CAST(n::HUGEINT * syy - sy * sy AS VARCHAR)
                      AS DOUBLE))), 9) AS rho
      FROM agg""",

    // Kendall tau-b: exact concordant/discordant pair counts off the
    // distinct-cell self-join (cells are bounded: 50 quantities x 11
    // discount cents), tie terms off the marginals
    "q_kendall_tau" -> """
      WITH base AS (
        SELECT l_quantity AS x,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS y
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL),
      cells AS (SELECT x, y, count(*)::BIGINT AS m FROM base GROUP BY x, y),
      pairs AS (SELECT a.m AS m1, b.m AS m2, a.x AS x1, a.y AS y1,
                       b.x AS x2, b.y AS y2
                FROM cells a JOIN cells b ON (a.x, a.y) < (b.x, b.y)),
      cd AS (SELECT
          COALESCE(sum(CASE WHEN (x1 < x2 AND y1 < y2)
                              OR (x1 > x2 AND y1 > y2)
            THEN m1::HUGEINT * m2 ELSE 0::HUGEINT END), 0) AS c,
          COALESCE(sum(CASE WHEN (x1 < x2 AND y1 > y2)
                              OR (x1 > x2 AND y1 < y2)
            THEN m1::HUGEINT * m2 ELSE 0::HUGEINT END), 0) AS d
        FROM pairs),
      nn AS (SELECT sum(m)::BIGINT AS n FROM cells),
      tx AS (SELECT COALESCE(sum(t::HUGEINT * (t - 1)), 0) AS t2x
             FROM (SELECT sum(m)::BIGINT AS t FROM cells GROUP BY x)),
      ty AS (SELECT COALESCE(sum(t::HUGEINT * (t - 1)), 0) AS t2y
             FROM (SELECT sum(m)::BIGINT AS t FROM cells GROUP BY y))
      SELECT n, c::BIGINT AS concordant, d::BIGINT AS discordant,
             round(2.0 * CAST(CAST(c - d AS VARCHAR) AS DOUBLE) /
               (sqrt(CAST(CAST(n::HUGEINT * (n - 1) - t2x AS VARCHAR)
                   AS DOUBLE))
                * sqrt(CAST(CAST(n::HUGEINT * (n - 1) - t2y AS VARCHAR)
                    AS DOUBLE))), 9) AS tau
      FROM nn CROSS JOIN cd CROSS JOIN tx CROSS JOIN ty""",

    // Fleiss kappa over complete 5-doc blocks: kappa =
    // (A*D^2 - B*C) / (B*(D^2 - C)) with A = sum n_ic^2 - N*r,
    // B = N*r*(r-1), D = N*r, C = sum of squared category totals
    "q_fleiss_kappa" -> """
      WITH r AS (SELECT doc_id // 5 AS item, doc_id % 5 AS rater,
                        lang AS cat FROM documents),
      complete AS (SELECT item FROM r GROUP BY item HAVING count(*) = 5),
      rr AS (SELECT r.* FROM r JOIN complete USING (item)),
      cells AS (SELECT item, cat, count(*)::BIGINT AS cnt
                FROM rr GROUP BY item, cat),
      base AS (SELECT count(DISTINCT item)::BIGINT AS n_items,
                      COALESCE(sum(cnt::HUGEINT * cnt), 0) AS sumsq
               FROM cells),
      catt AS (SELECT COALESCE(sum(tc::HUGEINT * tc), 0) AS sumcat
               FROM (SELECT sum(cnt)::BIGINT AS tc
                     FROM cells GROUP BY cat))
      SELECT n_items, 5::BIGINT AS n_raters,
             round(CAST(CAST(
                 (sumsq - n_items::HUGEINT * 5)
                   * (n_items::HUGEINT * 5 * n_items * 5)
                 - (n_items::HUGEINT * 5 * 4) * sumcat AS VARCHAR)
                 AS DOUBLE)
               / CAST(CAST((n_items::HUGEINT * 5 * 4)
                   * ((n_items::HUGEINT * 5 * n_items * 5) - sumcat)
                 AS VARCHAR) AS DOUBLE), 9) AS kappa
      FROM base CROSS JOIN catt""",

    // two-proportion pooled z: four exact longs -> one IEEE chain
    "q_prop_ztest" -> """
      WITH m AS (SELECT
          sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT
            AS n_a,
          sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)::BIGINT
            AS n_b,
          sum(CASE WHEN l_returnflag = 'R' AND l_discount >= 0.05
            THEN 1 ELSE 0 END)::BIGINT AS s_a,
          sum(CASE WHEN l_returnflag = 'N' AND l_discount >= 0.05
            THEN 1 ELSE 0 END)::BIGINT AS s_b
        FROM lineitem
        WHERE l_discount IS NOT NULL AND l_returnflag IN ('R', 'N'))
      SELECT n_a, n_b, s_a, s_b,
             CAST(s_a AS DOUBLE) / n_a AS p_a,
             CAST(s_b AS DOUBLE) / n_b AS p_b,
             round((CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
               / sqrt(CAST(s_a + s_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
                 * (1.0 - CAST(s_a + s_b AS DOUBLE)
                     / CAST(n_a + n_b AS DOUBLE))
                 * (1.0 / n_a + 1.0 / n_b)), 9) AS z
      FROM m""",

    // Kruskal-Wallis H: doubled ranks off the distinct-value collapse,
    // per-group rank sums exact HUGEINT, the cross-group sum a
    // list_reduce sequential fold in group order (= the Spark
    // sort_array + aggregate fold, bit-identical), H raw (pure
    // rational chain). VARCHAR roundtrips guard the >2^53 casts.
    "q_kruskal" -> """
      WITH cells AS (
        SELECT l_returnflag::VARCHAR AS g, l_extendedprice AS v,
               count(*)::BIGINT AS c
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
        GROUP BY 1, 2),
      vals AS (SELECT v, sum(c)::BIGINT AS m FROM cells GROUP BY v),
      r AS (SELECT v,
              2 * COALESCE(sum(m) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + m + 1 AS rank2
            FROM vals),
      perg AS (SELECT g, sum(c)::BIGINT AS ng,
                 sum(c::HUGEINT * r.rank2) AS r2g
               FROM cells JOIN r USING (v) GROUP BY g),
      tie AS (SELECT COALESCE(sum(m::HUGEINT * m * m - m), 0::HUGEINT)
                AS tie
              FROM vals),
      fold AS (SELECT count(*)::BIGINT AS k, sum(ng)::BIGINT AS n,
                 list_reduce(list_prepend(0.0,
                   list(CAST(CAST(r2g AS VARCHAR) AS DOUBLE)
                        * CAST(CAST(r2g AS VARCHAR) AS DOUBLE) / ng
                        ORDER BY g)),
                   (a, x) -> a + x) AS s
               FROM perg),
      res AS (SELECT n, k,
             (3.0 * s / (n::DOUBLE * (n::DOUBLE + 1.0))
                - 3.0 * (n::DOUBLE + 1.0))
             / (1.0 - CAST(CAST(tie AS VARCHAR) AS DOUBLE)
                  / (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE)) AS h
      FROM fold CROSS JOIN tie)
      SELECT n, k, h,
             (h - k::DOUBLE + 1.0) / (n::DOUBLE - k::DOUBLE) AS eta2_h
      FROM res""",

    // one-way ANOVA F: exact per-group integer-cents moments off ONE
    // grouped scan, the same sorted list_reduce fold for sum(S^2/n),
    // SS terms and F raw fixed IEEE chains
    "q_anova_f" -> """
      WITH b AS (
        SELECT lpad(month(l_shipdate)::VARCHAR, 2, '0') AS g,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL
          AND lpad(month(l_shipdate)::VARCHAR, 2, '0') IS NOT NULL),
      perg AS (SELECT g, count(*)::BIGINT AS ng,
                 sum(cents::HUGEINT) AS sg,
                 sum(cents::HUGEINT * cents) AS qg
               FROM b GROUP BY g),
      fold AS (SELECT count(*)::BIGINT AS k, sum(ng)::BIGINT AS n,
                 sum(sg) AS s, sum(qg) AS q,
                 list_reduce(list_prepend(0.0,
                   list(CAST(CAST(sg AS VARCHAR) AS DOUBLE)
                        * CAST(CAST(sg AS VARCHAR) AS DOUBLE) / ng
                        ORDER BY g)),
                   (a, x) -> a + x) AS t
               FROM perg),
      res AS (SELECT n, k,
             (t - CAST(CAST(s AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(s AS VARCHAR) AS DOUBLE) / n::DOUBLE)
               / 10000.0 AS ss_between,
             (CAST(CAST(q AS VARCHAR) AS DOUBLE) - t) / 10000.0
               AS ss_within,
             ((t - CAST(CAST(s AS VARCHAR) AS DOUBLE)
                     * CAST(CAST(s AS VARCHAR) AS DOUBLE) / n::DOUBLE)
                / (k::DOUBLE - 1.0))
             / ((CAST(CAST(q AS VARCHAR) AS DOUBLE) - t)
                / (n::DOUBLE - k::DOUBLE)) AS f
      FROM fold)
      SELECT n, k, ss_between, ss_within, f,
             ss_between / (ss_between + ss_within) AS eta2
      FROM res""",

    // Kaplan–Meier: per-user day spans with explicit censoring, suffix
    // -sum risk sets over the bounded day grid, survival =
    // exp(time-ordered ln cumsum) × the current exact factor (the
    // d = n exhausted-risk-set row pins its term to 0.0 — ln(0) is
    // NULL in Spark and raises in DuckDB), 6dp
    "q_kaplan_meier" -> """
      WITH span AS (
        SELECT user_id, min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS tl
        FROM events WHERE ts IS NOT NULL GROUP BY user_id),
      conv AS (
        SELECT user_id, min(epoch_us(ts)) AS tp
        FROM events
        WHERE ts IS NOT NULL AND event_type = 'purchase'
          AND value >= 90
        GROUP BY user_id),
      subj AS (SELECT CASE WHEN tp IS NOT NULL
                 THEN (tp - t0) // 86400000000
                 ELSE (tl - t0) // 86400000000 END AS dur,
               (tp IS NOT NULL) AS ev
               FROM span LEFT JOIN conv USING (user_id)),
      g AS (SELECT dur AS t,
              sum(CASE WHEN ev THEN 1 ELSE 0 END)::BIGINT AS d,
              sum(CASE WHEN ev THEN 0 ELSE 1 END)::BIGINT AS c
            FROM subj GROUP BY dur),
      r AS (SELECT t, d, c,
              sum(d + c) OVER (ORDER BY t DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                ::BIGINT AS n
            FROM g),
      e AS (SELECT t, n, d, c,
              CASE WHEN d = n THEN 0.0
                   ELSE ln(1.0 - d::DOUBLE / n::DOUBLE) END AS lnterm
            FROM r WHERE d > 0),
      sfin AS (SELECT t, n, d, c,
                 coalesce(sum(lnterm) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0.0) AS cum
               FROM e)
      SELECT t, n AS n_risk, d, c,
             round(exp(cum) * (1.0 - d::DOUBLE / n::DOUBLE), 6) AS s
      FROM sfin""",

    // Nelson–Aalen: the KM grid with a time-ordered cumulative of
    // rational d/n terms, shipped raw
    "q_nelson_aalen" -> """
      WITH span AS (
        SELECT user_id, min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS tl
        FROM events WHERE ts IS NOT NULL GROUP BY user_id),
      conv AS (
        SELECT user_id, min(epoch_us(ts)) AS tp
        FROM events
        WHERE ts IS NOT NULL AND event_type = 'purchase'
          AND value >= 90
        GROUP BY user_id),
      subj AS (SELECT CASE WHEN tp IS NOT NULL
                 THEN (tp - t0) // 86400000000
                 ELSE (tl - t0) // 86400000000 END AS dur,
               (tp IS NOT NULL) AS ev
               FROM span LEFT JOIN conv USING (user_id)),
      g AS (SELECT dur AS t,
              sum(CASE WHEN ev THEN 1 ELSE 0 END)::BIGINT AS d,
              sum(CASE WHEN ev THEN 0 ELSE 1 END)::BIGINT AS c
            FROM subj GROUP BY dur),
      r AS (SELECT t, d,
              sum(d + c) OVER (ORDER BY t DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                ::BIGINT AS n
            FROM g)
      SELECT t, n AS n_risk, d,
             sum(d::DOUBLE / n::DOUBLE) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h
      FROM r WHERE d > 0""",

    // log-rank: pooled risk sets per parity cohort, hypergeometric E/V
    // terms folded in time order, chi2 one raw chain
    "q_log_rank" -> """
      WITH span AS (
        SELECT user_id, min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS tl
        FROM events WHERE ts IS NOT NULL GROUP BY user_id),
      conv AS (
        SELECT user_id, min(epoch_us(ts)) AS tp
        FROM events
        WHERE ts IS NOT NULL AND event_type = 'purchase'
          AND value >= 90
        GROUP BY user_id),
      subj AS (SELECT user_id % 2 AS grp,
                 CASE WHEN tp IS NOT NULL
                   THEN (tp - t0) // 86400000000
                   ELSE (tl - t0) // 86400000000 END AS dur,
                 (tp IS NOT NULL) AS ev
               FROM span LEFT JOIN conv USING (user_id)),
      cells AS (SELECT dur AS t,
          sum(CASE WHEN ev AND grp = 0 THEN 1 ELSE 0 END)::BIGINT AS da,
          sum(CASE WHEN ev AND grp <> 0 THEN 1 ELSE 0 END)::BIGINT AS db,
          sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END)::BIGINT AS ta,
          sum(CASE WHEN grp <> 0 THEN 1 ELSE 0 END)::BIGINT AS tb
        FROM subj GROUP BY dur),
      risk AS (SELECT t, da, db,
          sum(ta) OVER (ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ::BIGINT AS na,
          sum(tb) OVER (ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ::BIGINT AS nb
        FROM cells),
      evr AS (SELECT t, da, db, na, nb FROM risk WHERE da + db > 0),
      terms AS (SELECT t,
          (da + db)::DOUBLE * na::DOUBLE / (na + nb)::DOUBLE AS e,
          CASE WHEN na + nb = 1 THEN 0.0
               ELSE (da + db)::DOUBLE
                    * (na::DOUBLE / (na + nb)::DOUBLE)
                    * (1.0 - na::DOUBLE / (na + nb)::DOUBLE)
                    * ((na + nb)::DOUBLE - (da + db)::DOUBLE)
                    / ((na + nb)::DOUBLE - 1.0) END AS v
        FROM evr),
      f AS (SELECT
          list_reduce(list_prepend(0.0, list(e ORDER BY t)),
            (a, b) -> a + b) AS ea,
          list_reduce(list_prepend(0.0, list(v ORDER BY t)),
            (a, b) -> a + b) AS vs
        FROM terms),
      oa AS (SELECT coalesce(sum(da), 0)::BIGINT AS o FROM evr),
      ns AS (SELECT sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END)::BIGINT
                      AS n_a,
                    sum(CASE WHEN grp <> 0 THEN 1 ELSE 0 END)::BIGINT
                      AS n_b
             FROM subj)
      SELECT n_a, n_b, o::DOUBLE AS o_a, ea AS e_a,
             (o::DOUBLE - ea) * (o::DOUBLE - ea) / vs AS chi2
      FROM ns, oa, f""",

    // Jonckheere–Terpstra: union-value × k grid, per-group cumulative
    // below-counts (plain windows — the operator's bucket two-phase is
    // bucket-independent), 2J and all moments exact HUGEINT, z one
    // VARCHAR-roundtripped ×4-scaled chain
    "q_jonckheere" -> """
      WITH cells AS (
        SELECT o_orderpriority AS g, o_totalprice AS v,
               count(*)::BIGINT AS c
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
        GROUP BY 1, 2),
      gidx AS (SELECT * FROM (VALUES ('1-URGENT', 0), ('2-HIGH', 1),
        ('3-MEDIUM', 2), ('4-NOT SPECIFIED', 3), ('5-LOW', 4))
        AS t(og, gi)),
      ci AS (SELECT v, c, gi FROM cells JOIN gidx ON cells.g = gidx.og),
      vals AS (SELECT DISTINCT v FROM ci),
      grid AS (SELECT vals.v AS v, gidx.gi AS gi,
                 coalesce(ci.c, 0)::BIGINT AS c
               FROM vals CROSS JOIN gidx
               LEFT JOIN ci ON ci.v = vals.v AND ci.gi = gidx.gi),
      filled AS (SELECT v, gi, c,
                   coalesce(sum(c) OVER (PARTITION BY gi ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS below
                 FROM grid),
      low AS (SELECT v, gi, c,
                coalesce(sum(below) OVER (PARTITION BY v ORDER BY gi
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS lowless,
                coalesce(sum(c) OVER (PARTITION BY v ORDER BY gi
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS lowties
              FROM filled),
      j2t AS (SELECT coalesce(sum(c::HUGEINT * (2 * lowless + lowties)),
                0::HUGEINT) AS j2
              FROM low WHERE c > 0),
      pg AS (SELECT gi, sum(c)::BIGINT AS n FROM ci GROUP BY gi),
      ga AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS n,
               sum(n::HUGEINT * n) AS sn2,
               sum(n::HUGEINT * (n - 1) * (2 * n + 5)) AS sn25,
               sum(n::HUGEINT * (n - 1) * (n - 2)) AS sn12,
               sum(n::HUGEINT * (n - 1)) AS sn1
             FROM pg),
      tv AS (SELECT v, sum(c)::BIGINT AS m FROM ci GROUP BY v),
      ta AS (SELECT sum(m::HUGEINT * (m - 1) * (2 * m + 5)) AS st25,
               sum(m::HUGEINT * (m - 1) * (m - 2)) AS st12,
               sum(m::HUGEINT * (m - 1)) AS st1
             FROM tv)
      SELECT ga.n AS n, ga.k AS k,
             CAST(CAST(j2 AS VARCHAR) AS DOUBLE) / 2.0 AS j,
             CAST(CAST(2::HUGEINT * j2 - (ga.n::HUGEINT * ga.n - sn2)
                  AS VARCHAR) AS DOUBLE)
             / sqrt(4.0 * (
                 CAST(CAST(ga.n::HUGEINT * (ga.n - 1) * (2 * ga.n + 5)
                      - sn25 - st25 AS VARCHAR) AS DOUBLE) / 18.0
               + CAST(CAST(sn12 * st12 AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(9::HUGEINT * ga.n * (ga.n - 1) * (ga.n - 2)
                      AS VARCHAR) AS DOUBLE)
               + CAST(CAST(sn1 * st1 AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(2::HUGEINT * ga.n * (ga.n - 1) AS VARCHAR)
                      AS DOUBLE))) AS z
      FROM j2t, ga, ta""",

    // Brown–Forsythe W: per-group doubled medians off the distinct-
    // value cum table (bucket-independent, so the oracle's plain
    // per-group window replays the two-phase exactly), half-cent
    // deviations weighted by cell counts, the anovaF moment fold, W
    // one raw IEEE chain off the emitted SS columns
    "q_levene_bf" -> """
      WITH b AS (
        SELECT l_returnflag AS g,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
      cells AS (SELECT g, v, count(*)::BIGINT AS c FROM b GROUP BY 1, 2),
      cum AS (SELECT g, v, c,
                sum(c) OVER (PARTITION BY g ORDER BY v) AS cum
              FROM cells),
      ng AS (SELECT g, max(cum)::BIGINT AS n FROM cum GROUP BY g),
      rk AS (SELECT g, (n + 1) // 2 AS p1, n // 2 + 1 AS p2 FROM ng),
      med AS (SELECT rk.g AS g,
                min(CASE WHEN cum >= p1 THEN v END)
              + min(CASE WHEN cum >= p2 THEN v END) AS med2
              FROM rk JOIN cum ON cum.g = rk.g
              GROUP BY rk.g),
      z AS (SELECT cells.g AS g, c, abs(2 * v - med2) AS z
            FROM cells JOIN med ON cells.g = med.g),
      perg AS (SELECT g, sum(c)::BIGINT AS ng,
                 sum(c::HUGEINT * z) AS sg,
                 sum(c::HUGEINT * z * z) AS qg
               FROM z GROUP BY g),
      fold AS (SELECT count(*)::BIGINT AS k, sum(ng)::BIGINT AS n,
                 sum(sg) AS s, sum(qg) AS q,
                 list_reduce(list_prepend(0.0,
                   list(CAST(CAST(sg AS VARCHAR) AS DOUBLE)
                        * CAST(CAST(sg AS VARCHAR) AS DOUBLE) / ng
                        ORDER BY g)),
                   (a, x) -> a + x) AS t
               FROM perg),
      res AS (SELECT n, k,
                (t - CAST(CAST(s AS VARCHAR) AS DOUBLE)
                       * CAST(CAST(s AS VARCHAR) AS DOUBLE) / n::DOUBLE)
                  / 40000.0 AS ss_between,
                (CAST(CAST(q AS VARCHAR) AS DOUBLE) - t) / 40000.0
                  AS ss_within
              FROM fold)
      SELECT n, k, ss_between, ss_within,
             (ss_between / (k::DOUBLE - 1.0))
               / (ss_within / (n::DOUBLE - k::DOUBLE)) AS w
      FROM res""",

    // Cliff's delta: the mann_whitney distinct-value collapse with a
    // B-side running count; 2*U_a exact HUGEINT, delta one raw
    // division of VARCHAR-roundtripped exact integers
    "q_cliffs_delta" -> """
      WITH sa AS (SELECT l_extendedprice AS v, count(*) AS ca
                  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
      sb AS (SELECT l_extendedprice AS v, count(*) AS cb
             FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1),
      m AS (SELECT COALESCE(sa.v, sb.v) AS v,
                   COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
            FROM sa FULL JOIN sb ON sa.v = sb.v),
      r AS (SELECT ca, cb,
              COALESCE(sum(cb) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS bbefore
            FROM m),
      agg AS (SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
                COALESCE(sum(ca::HUGEINT * (2 * bbefore + cb)),
                  0::HUGEINT) AS u2
              FROM r)
      SELECT n_a, n_b,
             CAST(CAST(u2 AS VARCHAR) AS DOUBLE) / 2.0 AS u_a,
             CAST(CAST(u2 - n_a::HUGEINT * n_b AS VARCHAR) AS DOUBLE)
               / CAST(CAST(n_a::HUGEINT * n_b AS VARCHAR) AS DOUBLE)
               AS delta
      FROM agg""",

    // Mann-Kendall + Theil-Sen over the day-grid series: S and ties
    // exact integers off the grid^2 pair table, var_s one
    // VARCHAR-roundtripped cast / 18, z raw (sqrt is IEEE-exact), the
    // Sen slope SELECTED by exact pair ranks (each slope one long-diff
    // division — bit-identical), middles averaged
    "q_mann_kendall" -> """
      WITH daily AS (
        SELECT epoch(o_orderdate)::BIGINT // 86400 AS t,
               count(*)::BIGINT AS v
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
      p AS (SELECT a.v AS v1, b.v AS v2, a.t AS t1, b.t AS t2
            FROM daily a JOIN daily b ON b.t > a.t),
      sagg AS (SELECT COALESCE(sum(CASE WHEN v2 > v1 THEN 1
                 WHEN v2 < v1 THEN -1 ELSE 0 END), 0)::BIGINT AS s,
                 count(*)::BIGINT AS n_pairs
               FROM p),
      nn AS (SELECT count(*)::BIGINT AS n FROM daily),
      tie AS (SELECT COALESCE(sum(m::HUGEINT * (m - 1) * (2 * m + 5)),
                0::HUGEINT) AS tie
              FROM (SELECT count(*)::BIGINT AS m FROM daily GROUP BY v)),
      sl AS (SELECT CAST(v2 - v1 AS DOUBLE) / CAST(t2 - t1 AS DOUBLE)
               AS sl, count(*)::BIGINT AS c
             FROM p GROUP BY 1),
      rk AS (SELECT sl,
               sum(c) OVER (ORDER BY sl ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS hi,
               sum(c) OVER (ORDER BY sl ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) - c + 1 AS lo
             FROM sl),
      med AS (SELECT
                min(CASE WHEN lo <= m1 AND m1 <= hi THEN sl END) AS s1,
                min(CASE WHEN lo <= m2 AND m2 <= hi THEN sl END) AS s2
              FROM rk CROSS JOIN (SELECT (n_pairs + 1) // 2 AS m1,
                (n_pairs + 2) // 2 AS m2 FROM sagg)),
      v AS (SELECT n, n_pairs, s,
              CAST(CAST(n::HUGEINT * (n - 1) * (2 * n + 5) - tie
                AS VARCHAR) AS DOUBLE) / 18.0 AS var_s
            FROM nn CROSS JOIN sagg CROSS JOIN tie)
      SELECT n, n_pairs, s, var_s,
             CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / sqrt(var_s)
                  WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt(var_s)
                  ELSE 0.0 END AS z,
             (s1 + s2) / 2.0 AS sen_slope
      FROM v CROSS JOIN med""",

    // Dunning G^2 keyness: exact per-slice term counts, expectations
    // and the two x*ln(x/E) terms per row (zero-count sides contribute
    // an exact 0.0), llr rounded 6dp (transcendental), direction by
    // exact integer cross-products, top-50 on the ROUNDED value with a
    // term tie-break
    "q_llr_keyness" -> """
      WITH toks AS (
        SELECT lang AS s,
               unnest(list_filter(
                 regexp_split_to_array(lower(text), '\s+'),
                 t -> t <> '')) AS w
        FROM documents WHERE lang IN ('en', 'de')),
      c AS (
        SELECT w AS term,
               count(*) FILTER (WHERE s = 'en')::BIGINT AS y_a,
               count(*) FILTER (WHERE s = 'de')::BIGINT AS y_b
        FROM toks GROUP BY 1),
      t AS (SELECT sum(y_a)::BIGINT AS ta, sum(y_b)::BIGINT AS tb FROM c),
      f AS (
        SELECT term, y_a, y_b,
               2.0 * (CASE WHEN y_a > 0 THEN y_a::DOUBLE
                   * ln(y_a::DOUBLE / (ta::DOUBLE * (y_a + y_b)::DOUBLE
                     / (ta::DOUBLE + tb::DOUBLE))) ELSE 0.0 END
                 + CASE WHEN y_b > 0 THEN y_b::DOUBLE
                   * ln(y_b::DOUBLE / (tb::DOUBLE * (y_a + y_b)::DOUBLE
                     / (ta::DOUBLE + tb::DOUBLE))) ELSE 0.0 END) AS llr,
               CAST(CASE WHEN y_a::HUGEINT * tb >= y_b::HUGEINT * ta
                 THEN 1 ELSE -1 END AS INT) AS dir
        FROM c CROSS JOIN t
        WHERE y_a + y_b >= 5)
      SELECT term, y_a, y_b, round(llr, 6) AS llr, dir
      FROM f ORDER BY round(llr, 6) DESC, term LIMIT 50""",

    // multiclass MCC (Gorodkin R_K) off the lang-id confusion table:
    // trace/total/marginal sums exact HUGEINT, R_K one raw IEEE chain
    // over VARCHAR-roundtripped casts
    "q_mcc" -> """
      WITH s AS (
        SELECT doc_id, lang,
               len(list_filter(toks, t -> t='the'))::INT
                 + len(list_filter(toks, t -> t='and'))::INT
                 + len(list_filter(toks, t -> t='of'))::INT AS en_score,
               len(list_filter(toks, t -> t='der'))::INT
                 + len(list_filter(toks, t -> t='und'))::INT
                 + len(list_filter(toks, t -> t='die'))::INT AS de_score,
               len(list_filter(toks, t -> t='le'))::INT
                 + len(list_filter(toks, t -> t='la'))::INT
                 + len(list_filter(toks, t -> t='et'))::INT AS fr_score
        FROM (SELECT doc_id, lang,
                     string_split(lower(coalesce(text, '')), ' ') AS toks
              FROM documents) t),
      p AS (
        SELECT lang AS a,
               CASE WHEN en_score + de_score + fr_score = 0 THEN 'unknown'
                    WHEN en_score >= de_score AND en_score >= fr_score
                      THEN 'en'
                    WHEN de_score >= fr_score THEN 'de'
                    ELSE 'fr' END AS pr
        FROM s),
      pairs AS (SELECT a, pr, count(*)::BIGINT AS n FROM p GROUP BY 1, 2),
      act AS (SELECT a AS cls, sum(n)::BIGINT AS ta FROM pairs GROUP BY 1),
      prd AS (SELECT pr AS cls, sum(n)::BIGINT AS tp FROM pairs GROUP BY 1),
      marg AS (SELECT
          COALESCE(sum(COALESCE(tp, 0)::HUGEINT * COALESCE(ta, 0)),
            0::HUGEINT) AS pt,
          COALESCE(sum(COALESCE(tp, 0)::HUGEINT * COALESCE(tp, 0)),
            0::HUGEINT) AS pp,
          COALESCE(sum(COALESCE(ta, 0)::HUGEINT * COALESCE(ta, 0)),
            0::HUGEINT) AS tt
        FROM act FULL JOIN prd ON act.cls = prd.cls),
      tot AS (SELECT sum(n)::BIGINT AS n,
                COALESCE(sum(CASE WHEN a = pr THEN n ELSE 0 END), 0)
                  ::BIGINT AS trace
              FROM pairs)
      SELECT n, trace,
             CAST(CAST(trace::HUGEINT * n - pt AS VARCHAR) AS DOUBLE)
             / (sqrt(CAST(CAST(n::HUGEINT * n - pp AS VARCHAR)
                  AS DOUBLE))
                * sqrt(CAST(CAST(n::HUGEINT * n - tt AS VARCHAR)
                    AS DOUBLE))) AS mcc
      FROM tot CROSS JOIN marg""",

    // lagged cross-correlation over the day grid: one shifted-slot
    // equi-join, exact HUGEINT moments per lag, r raw; zero-variance
    // lags are NULL, sub-2-point lags dropped
    "q_cross_corr" -> """
      WITH daily AS (
        SELECT epoch(ts)::BIGINT // 86400 AS slot,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 ::BIGINT AS x,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 ::BIGINT AS y
        FROM events WHERE ts IS NOT NULL GROUP BY 1),
      l AS (SELECT d.slot, d.x, u.lag::INT AS lag
            FROM daily d, unnest(range(0, 8)) AS u(lag)),
      j AS (SELECT l.lag, l.x, r.y
            FROM l JOIN daily r ON l.slot + l.lag = r.slot),
      m AS (SELECT lag, count(*)::BIGINT AS n,
              sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
              sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy,
              sum(x::HUGEINT * y) AS sxy
            FROM j GROUP BY lag HAVING count(*) >= 2)
      SELECT lag, n,
             CASE WHEN n::HUGEINT * sxx - sx * sx <= 0
                    OR n::HUGEINT * syy - sy * sy <= 0 THEN NULL
                  ELSE CAST(CAST(n::HUGEINT * sxy - sx * sy AS VARCHAR)
                         AS DOUBLE)
                    / (sqrt(CAST(CAST(n::HUGEINT * sxx - sx * sx
                         AS VARCHAR) AS DOUBLE))
                       * sqrt(CAST(CAST(n::HUGEINT * syy - sy * sy
                           AS VARCHAR) AS DOUBLE))) END AS r
      FROM m""",

    // bucketed JSD: md5-bucketed unigram distributions (the hashing_tf
    // hash pair), per-bucket transcendental terms folded in bucket
    // order via list_reduce (= the Spark sort_array+aggregate fold),
    // rounded 6dp
    "q_jsd_langs" -> """
      WITH ta AS (
        SELECT ('0x' || substr(md5('jsd_' || w), 1, 8))::BIGINT % 1024
                 AS bk, count(*)::BIGINT AS ca
        FROM (SELECT unnest(list_filter(
                regexp_split_to_array(lower(text), '\s+'),
                t -> t <> '')) AS w
              FROM documents WHERE lang = 'en')
        GROUP BY 1),
      tb AS (
        SELECT ('0x' || substr(md5('jsd_' || w), 1, 8))::BIGINT % 1024
                 AS bk, count(*)::BIGINT AS cb
        FROM (SELECT unnest(list_filter(
                regexp_split_to_array(lower(text), '\s+'),
                t -> t <> '')) AS w
              FROM documents WHERE lang = 'de')
        GROUP BY 1),
      m AS (SELECT COALESCE(ta.bk, tb.bk) AS bk,
                   COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
            FROM ta FULL JOIN tb ON ta.bk = tb.bk),
      t AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb FROM m),
      terms AS (SELECT bk,
          (CASE WHEN ca > 0 THEN ca::DOUBLE / na::DOUBLE / 2.0
               * ln((ca::DOUBLE / na::DOUBLE)
                 / ((ca::DOUBLE / na::DOUBLE + cb::DOUBLE / nb::DOUBLE)
                   / 2.0)) ELSE 0.0 END
           + CASE WHEN cb > 0 THEN cb::DOUBLE / nb::DOUBLE / 2.0
               * ln((cb::DOUBLE / nb::DOUBLE)
                 / ((ca::DOUBLE / na::DOUBLE + cb::DOUBLE / nb::DOUBLE)
                   / 2.0)) ELSE 0.0 END) AS t
        FROM m CROSS JOIN t),
      fold AS (SELECT count(*)::BIGINT AS n_buckets,
                 round(list_reduce(list_prepend(0.0,
                   list(t ORDER BY bk)), (a, x) -> a + x), 6) AS jsd
               FROM terms)
      SELECT na AS n_a, nb AS n_b, n_buckets, jsd
      FROM t CROSS JOIN fold""",

    // McNemar continuity-corrected: discordant counts exact longs,
    // (|b-c|-1)^2 an exact integer, chi2 ONE raw division
    // Cochran's Q: three judge columns unpivoted to (item, judge,
    // success) cells, per-judge and per-item exact HUGEINT totals, Q
    // one raw division of VARCHAR-roundtripped exact integer chains

    // Cochran-Armitage: exact-integer z off the N-scaled trend form
    "q_cochran_armitage" -> """
      WITH cells AS (
        SELECT o_orderpriority AS g, count(*)::HUGEINT AS n,
               sum(CASE WHEN o_totalprice > 150000.0 THEN 1
                 ELSE 0 END)::HUGEINT AS r
        FROM orders
        WHERE o_orderpriority IS NOT NULL
        GROUP BY 1),
      gidx AS (SELECT * FROM (VALUES ('1-URGENT', 0::HUGEINT),
        ('2-HIGH', 1), ('3-MEDIUM', 2), ('4-NOT SPECIFIED', 3),
        ('5-LOW', 4)) AS t(og, sc)),
      ci AS (SELECT n, r, sc FROM cells JOIN gidx ON cells.g = gidx.og),
      g AS (SELECT count(*)::BIGINT AS k, sum(n) AS nn, sum(r) AS rr,
              sum(sc * n) AS s1, sum(sc * sc * n) AS s2,
              sum(sc * r) AS t1
            FROM ci)
      SELECT nn::BIGINT AS n, k, rr::BIGINT AS n_success,
             (nn * t1 - rr * s1)::DOUBLE * sqrt(nn::DOUBLE) /
               sqrt((rr * (nn - rr) * (nn * s2 - s1 * s1))::DOUBLE)
               AS z
      FROM g""",

    // Mantel-Haenszel: per-stratum 2x2 cells exact, rational terms
    // sum as doubles -> 6dp tier
    "q_mantel_haenszel" -> """
      WITH cells AS (
        SELECT o_orderpriority AS h,
               sum(CASE WHEN o_custkey % 2 = 0
                 AND o_totalprice > 150000.0 THEN 1 ELSE 0 END)::BIGINT
                 AS a,
               sum(CASE WHEN o_custkey % 2 = 0
                 AND NOT o_totalprice > 150000.0 THEN 1 ELSE 0 END)
                 ::BIGINT AS b,
               sum(CASE WHEN o_custkey % 2 <> 0
                 AND o_totalprice > 150000.0 THEN 1 ELSE 0 END)::BIGINT
                 AS c,
               sum(CASE WHEN o_custkey % 2 <> 0
                 AND NOT o_totalprice > 150000.0 THEN 1 ELSE 0 END)
                 ::BIGINT AS d
        FROM orders
        WHERE o_orderpriority IS NOT NULL AND o_custkey IS NOT NULL
          AND o_totalprice IS NOT NULL
        GROUP BY 1),
      g AS (SELECT count(*)::BIGINT AS k,
              sum(a + b + c + d)::BIGINT AS n,
              sum(a)::BIGINT AS sum_a,
              sum(a::DOUBLE * d / (a + b + c + d)) AS ad,
              sum(b::DOUBLE * c / (a + b + c + d)) AS bc,
              sum((a + b)::DOUBLE * (a + c) / (a + b + c + d)) AS e,
              sum((a + b)::DOUBLE * (c + d) * (a + c) * (b + d) /
                ((a + b + c + d)::DOUBLE * (a + b + c + d) *
                 (a + b + c + d - 1))) AS v
            FROM cells)
      SELECT k, n, sum_a, round(ad / bc, 6) AS or_mh,
             round((sum_a - e) * (sum_a - e) / v, 6) AS chi2
      FROM g""",

    // Cronbach's alpha: complete-by-construction item matrix, exact
    // n^2-cleared variance sums, alpha one raw IEEE chain
    "q_cronbach_alpha" -> """
      WITH per AS (
        SELECT o_custkey % 120 AS subj, count(*)::BIGINT AS cnt,
               sum(CASE WHEN o_totalprice > 150000.0 THEN 1
                 ELSE 0 END)::BIGINT AS hi,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 1 ELSE 0 END)::BIGINT AS urg
        FROM orders GROUP BY 1),
      items AS (
        SELECT subj, 'cnt' AS item, cnt AS score FROM per
        UNION ALL SELECT subj, 'hi', hi FROM per
        UNION ALL SELECT subj, 'urg', urg FROM per),
      peritem AS (
        SELECT item, count(*)::HUGEINT AS n, sum(score)::HUGEINT AS sx,
               sum(score::HUGEINT * score)::HUGEINT AS sxx
        FROM items GROUP BY 1),
      persubj AS (
        SELECT subj, sum(score)::HUGEINT AS t FROM items GROUP BY 1),
      ia AS (SELECT count(*)::BIGINT AS k,
               sum(n * sxx - sx * sx) AS sum_var_num
             FROM peritem),
      sa AS (SELECT count(*)::HUGEINT AS ns, sum(t) AS st,
               sum(t * t) AS stt
             FROM persubj)
      SELECT sa.ns::BIGINT AS n_subjects, ia.k AS k_items,
             ia.k::DOUBLE / (ia.k - 1) *
               (1.0 - sum_var_num::DOUBLE /
                 (sa.ns * sa.stt - sa.st * sa.st)::DOUBLE) AS alpha
      FROM ia, sa""",

    "q_cochran_q" -> """
      WITH cells AS (
        SELECT doc_id AS i, j.judge AS t, j.ok AS s
        FROM (SELECT doc_id, coalesce(text, '') AS txt FROM documents
              WHERE doc_id IS NOT NULL) d,
        LATERAL (VALUES
          ('spark', contains(txt, 'spark')),
          ('customer', contains(txt, 'customer')),
          ('vector', contains(txt, 'vector'))) AS j(judge, ok)),
      pert AS (SELECT t, sum(CASE WHEN s THEN 1 ELSE 0 END)::HUGEINT AS c
               FROM cells GROUP BY t),
      tagg AS (SELECT count(*)::BIGINT AS k, sum(c) AS tot,
                 sum(c * c) AS c2
               FROM pert),
      peri AS (SELECT i, sum(CASE WHEN s THEN 1 ELSE 0 END)::HUGEINT AS r
               FROM cells GROUP BY i),
      iagg AS (SELECT count(*)::BIGINT AS b, sum(r * r) AS r2 FROM peri)
      SELECT b, k,
             CAST(CAST((k::HUGEINT - 1) * (k::HUGEINT * c2 - tot * tot)
                  AS VARCHAR) AS DOUBLE)
             / CAST(CAST(k::HUGEINT * tot - r2 AS VARCHAR) AS DOUBLE)
               AS q
      FROM iagg, tagg""",

    "q_mcnemar" -> """
      WITH s AS (
        SELECT doc_id, lang,
               len(list_filter(toks, t -> t='the'))::INT
                 + len(list_filter(toks, t -> t='and'))::INT
                 + len(list_filter(toks, t -> t='of'))::INT AS en_score,
               len(list_filter(toks, t -> t='der'))::INT
                 + len(list_filter(toks, t -> t='und'))::INT
                 + len(list_filter(toks, t -> t='die'))::INT AS de_score,
               len(list_filter(toks, t -> t='le'))::INT
                 + len(list_filter(toks, t -> t='la'))::INT
                 + len(list_filter(toks, t -> t='et'))::INT AS fr_score
        FROM (SELECT doc_id, lang,
                     string_split(lower(coalesce(text, '')), ' ') AS toks
              FROM documents) t),
      p AS (
        SELECT lang,
               CASE WHEN en_score + de_score + fr_score = 0 THEN 'unknown'
                    WHEN en_score >= de_score AND en_score >= fr_score
                      THEN 'en'
                    WHEN de_score >= fr_score THEN 'de'
                    ELSE 'fr' END AS pr
        FROM s),
      fl AS (SELECT (pr = lang) AS ac, (lang = 'en') AS bc FROM p),
      m AS (SELECT count(*)::BIGINT AS n,
              sum(CASE WHEN ac AND bc THEN 1 ELSE 0 END)::BIGINT
                AS n_both_right,
              sum(CASE WHEN ac AND NOT bc THEN 1 ELSE 0 END)::BIGINT
                AS b,
              sum(CASE WHEN NOT ac AND bc THEN 1 ELSE 0 END)::BIGINT
                AS c
            FROM fl)
      SELECT n, n_both_right, b, c,
             CAST(CAST((abs(b - c) - 1)::HUGEINT * (abs(b - c) - 1)
                 AS VARCHAR) AS DOUBLE)
               / CAST(b + c AS DOUBLE) AS chi2
      FROM m""",

    // Cramer's V: chi2 = n*(sum o^2/(rt*ct)) - n with every product an
    // exact integer; the cross-cell sum folds in (a, b) order via
    // list_reduce (= the Spark sort_array+aggregate fold); V raw
    "q_cramers_v" -> """
      WITH base AS (
        SELECT event_type::VARCHAR AS a,
               ((dayofweek(ts) + 1)::INT)::VARCHAR AS b
        FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
      cells AS (SELECT a, b, count(*)::BIGINT AS o
                FROM base GROUP BY 1, 2),
      rt AS (SELECT a, sum(o)::BIGINT AS rt FROM cells GROUP BY 1),
      ct AS (SELECT b, sum(o)::BIGINT AS ct FROM cells GROUP BY 1),
      j AS (SELECT cells.a, cells.b, o, rt.rt, ct.ct
            FROM cells JOIN rt USING (a) JOIN ct USING (b)),
      fold AS (SELECT count(*)::BIGINT AS n_cells,
                 sum(o)::BIGINT AS n,
                 count(DISTINCT a)::BIGINT AS n_rows,
                 count(DISTINCT b)::BIGINT AS n_cols,
                 list_reduce(list_prepend(0.0,
                   list(CAST(CAST(o::HUGEINT * o AS VARCHAR) AS DOUBLE)
                        / CAST(CAST(rt::HUGEINT * ct AS VARCHAR)
                            AS DOUBLE)
                        ORDER BY a, b)),
                   (acc, x) -> acc + x) AS s
               FROM j)
      SELECT n, n_rows, n_cols,
             sqrt(greatest(0.0, n::DOUBLE * s - n::DOUBLE)
               / (n::DOUBLE
                  * CAST(least(n_rows, n_cols) - 1 AS DOUBLE))) AS v
      FROM fold""",

    // Wilcoxon signed-rank on paired per-customer yearly spend:
    // decimal-exact sums -> exact cents diffs, (|d|, sign) cell
    // collapse + doubled ranks, 2*W+ exact HUGEINT, z one raw chain
    // over VARCHAR-roundtripped casts
    "q_wilcoxon" -> """
      WITH rev AS (
        SELECT o_custkey,
               CAST(sum(CASE WHEN year(o_orderdate) = 1996
                 THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                 AS DOUBLE) AS rev94,
               CAST(sum(CASE WHEN year(o_orderdate) = 1997
                 THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                 AS DOUBLE) AS rev95
        FROM orders
        WHERE o_orderdate IS NOT NULL
          AND year(o_orderdate) IN (1996, 1997)
        GROUP BY 1
        HAVING sum(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END)
                 > 0
           AND sum(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END)
                 > 0),
      d AS (SELECT CAST(floor(rev94 * 100 + 0.5) AS BIGINT)
                 - CAST(floor(rev95 * 100 + 0.5) AS BIGINT) AS d
            FROM rev),
      nz AS (SELECT sum(CASE WHEN d = 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_zero FROM d),
      cells AS (SELECT abs(d) AS a, count(*)::BIGINT AS m,
                  sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)::BIGINT AS mp
                FROM d WHERE d <> 0 GROUP BY 1),
      r AS (SELECT m, mp,
              2 * COALESCE(sum(m) OVER (ORDER BY a
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + m + 1 AS rank2
            FROM cells),
      agg AS (SELECT sum(m)::BIGINT AS n,
                COALESCE(sum(mp::HUGEINT * rank2), 0::HUGEINT) AS w2,
                COALESCE(sum(m::HUGEINT * m * m - m), 0::HUGEINT) AS tie
              FROM r),
      res AS (SELECT n, n_zero,
             CAST(CAST(w2 AS VARCHAR) AS DOUBLE) / 2.0 AS w_plus,
             (CAST(CAST(w2 AS VARCHAR) AS DOUBLE) / 2.0
               - CAST(CAST(n::HUGEINT * (n + 1) AS VARCHAR) AS DOUBLE)
                 / 4.0)
             / sqrt(CAST(CAST(n::HUGEINT * (n + 1) * (n * 2 + 1)
                      AS VARCHAR) AS DOUBLE) / 24.0
                    - CAST(CAST(tie AS VARCHAR) AS DOUBLE) / 48.0) AS z
      FROM agg CROSS JOIN nz)
      SELECT n, n_zero, w_plus, z,
             (2.0 * w_plus
               - CAST(CAST(n::HUGEINT * (n + 1) AS VARCHAR) AS DOUBLE)
                 / 2.0)
             / (CAST(CAST(n::HUGEINT * (n + 1) AS VARCHAR) AS DOUBLE)
                 / 2.0) AS r_rb
      FROM res""",

    // Friedman chi2_F on monthly order volume by priority: per-block
    // (month) doubled tie-averaged ranks replayed by a block-local
    // k^2 self-join (no nested lambdas), rank sums exact HUGEINT,
    // chi2_F the identical fixed IEEE chain over exact integers, raw

    // Page's L: the friedman block-rank replay + ordered scores;
    // E[2L] = b*k(k+1)^2/2 exact, Var[2L] = b*k^2(k+1)^2(k-1)/36 with
    // the /36 in double on the exact numerator
    "q_page_trend" -> """
      WITH cells AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS b,
               o_orderpriority AS t, count(*)::BIGINT AS v
        FROM orders WHERE o_orderdate IS NOT NULL
        GROUP BY 1, 2),
      kept AS (
        SELECT * FROM cells
        WHERE b IN (SELECT b FROM cells GROUP BY b
                    HAVING count(*) = 5)),
      ranked AS (
        SELECT a.b, a.t,
               2 * sum(CASE WHEN c.v < a.v THEN 1 ELSE 0 END)
                 + sum(CASE WHEN c.v = a.v THEN 1 ELSE 0 END) + 1
                 AS r2
        FROM kept a JOIN kept c ON a.b = c.b
        GROUP BY a.b, a.t, a.v),
      sidx AS (SELECT * FROM (VALUES ('1-URGENT', 1::HUGEINT),
        ('2-HIGH', 2), ('3-MEDIUM', 3), ('4-NOT SPECIFIED', 4),
        ('5-LOW', 5)) AS t(ot, sc)),
      g AS (SELECT (count(*) / 5)::HUGEINT AS bb,
              sum(sc * r2::HUGEINT) AS l2
            FROM ranked JOIN sidx ON ranked.t = sidx.ot)
      SELECT bb::BIGINT AS n_blocks, 5::BIGINT AS k,
             l2::DOUBLE / 2.0 AS l,
             (l2 - bb * 5 * 36 / 2)::DOUBLE /
               sqrt((bb * 25 * 36 * 4)::DOUBLE / 36.0) AS z
      FROM g""",


    // Hampel: per-row window median/MAD via list() window + in-list
    // sorts; per-user summary of exact counts + med/mad picks
    "q_hampel" -> """
      WITH base AS (
        SELECT user_id, ts, event_id, value::DOUBLE AS v FROM events),
      win AS (
        SELECT user_id, v,
               list_sort(list(v) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS arr
        FROM base),
      m AS (
        SELECT user_id, v, arr,
               CASE WHEN len(arr) % 2 = 1
                 THEN arr[(len(arr) + 1) // 2]::DOUBLE
                 ELSE (arr[len(arr) // 2]::DOUBLE +
                       arr[len(arr) // 2 + 1]::DOUBLE) / 2.0 END AS med
        FROM win),
      mm AS (
        SELECT user_id, v, med,
               list_sort(list_transform(arr, x -> abs(x - med))) AS da
        FROM m),
      m2 AS (
        SELECT user_id, v, med,
               CASE WHEN len(da) % 2 = 1
                 THEN da[(len(da) + 1) // 2]::DOUBLE
                 ELSE (da[len(da) // 2]::DOUBLE +
                       da[len(da) // 2 + 1]::DOUBLE) / 2.0 END AS mad
        FROM mm)
      SELECT user_id, count(*)::BIGINT AS n,
             sum(CASE WHEN abs(v - med) > 3.0 * mad THEN 1
               ELSE 0 END)::BIGINT AS n_outliers,
             min(med) AS min_med, max(med) AS max_med,
             max(mad) AS max_mad
      FROM m2 GROUP BY user_id""",

    // Durbin-Watson: n*den-scaled residuals are exact integers (the
    // scale cancels in the ratio) -> dw is one division of exact
    // HUGEINT sums
    "q_durbin_watson" -> """
      WITH base AS (
        SELECT user_id,
               floor(value * 100 + 0.5)::HUGEINT AS y,
               (row_number() OVER (PARTITION BY user_id
                 ORDER BY ts, event_id))::HUGEINT AS x
        FROM events),
      sums AS (
        SELECT user_id, count(*)::HUGEINT AS n, sum(x) AS sx,
               sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy
        FROM base GROUP BY 1),
      r AS (
        SELECT b.user_id, b.x,
               (s.n * (s.n * s.sxx - s.sx * s.sx) * b.y
                - (s.n * s.sxx - s.sx * s.sx) * s.sy
                + (s.n * s.sxy - s.sx * s.sy) * s.sx
                - s.n * (s.n * s.sxy - s.sx * s.sy) * b.x) AS rr
        FROM base b JOIN sums s ON b.user_id = s.user_id),
      l AS (
        SELECT user_id, rr,
               lag(rr) OVER (PARTITION BY user_id ORDER BY x) AS rp
        FROM r)
      SELECT user_id, count(*)::BIGINT AS n,
             sum(CASE WHEN rp IS NOT NULL
               THEN (rr - rp) * (rr - rp) END)::DOUBLE /
               sum(rr * rr)::DOUBLE AS dw
      FROM l GROUP BY user_id""",


    // candidate-key profile: per-column exact counts over the
    // unpivoted (column, value-as-string) pairs
    "q_key_profile" -> """
      WITH pairs AS (
        SELECT 'o_orderkey' AS col, o_orderkey::VARCHAR AS v FROM orders
        UNION ALL
        SELECT 'o_custkey', o_custkey::VARCHAR FROM orders
        UNION ALL
        SELECT 'o_orderpriority', o_orderpriority::VARCHAR FROM orders
        UNION ALL
        SELECT 'o_totalprice', o_totalprice::VARCHAR FROM orders
        UNION ALL
        SELECT 'o_orderdate', o_orderdate::VARCHAR FROM orders)
      SELECT col AS "column", count(*)::BIGINT AS n_rows,
             count(v)::BIGINT AS n_nonnull,
             count(DISTINCT v)::BIGINT AS n_distinct,
             count(DISTINCT v)::DOUBLE / count(*) AS distinct_ratio,
             (count(DISTINCT v) = count(*)
               AND count(v) = count(*)) AS is_key
      FROM pairs GROUP BY col""",

    // approximate-FD g3 audit: violation mass = rows beyond each
    // determinant's majority dependent value
    "q_fd_violations" -> """
      WITH cells AS (
        SELECT o_custkey::VARCHAR AS det,
               o_orderpriority::VARCHAR AS dep, count(*)::BIGINT AS c
        FROM orders GROUP BY 1, 2),
      perdet AS (
        SELECT det, sum(c)::BIGINT AS n, max(c)::BIGINT AS maj
        FROM cells GROUP BY det)
      SELECT sum(n)::BIGINT AS n_rows,
             count(*)::BIGINT AS n_determinants,
             sum(CASE WHEN n > maj THEN 1 ELSE 0 END)::BIGINT
               AS n_violating_groups,
             sum(n - maj)::BIGINT AS n_violating_rows,
             sum(n - maj)::DOUBLE / sum(n) AS g3_rate
      FROM perdet""",


    // embedding covariance: exact integer moments over the
    // 1/128-snapped components, one division per entry
    "q_embed_cov" -> """
      WITH q AS (
        SELECT list_transform(embedding,
          x -> floor(x::DOUBLE * 128 + 0.5)::HUGEINT) AS v
        FROM embeddings),
      pairs AS (
        SELECT t1.i AS i, t2.j AS j, v[t1.i + 1] AS xi, v[t2.j + 1] AS xj
        FROM q, range(64) t1(i), range(64) t2(j)
        WHERE t2.j >= t1.i),
      cells AS (
        SELECT i, j, count(*)::BIGINT AS n, sum(xi) AS sx,
               sum(xj) AS sy, sum(xi * xj) AS sxy
        FROM pairs GROUP BY 1, 2)
      SELECT i::INT AS i, j::INT AS j, n,
             (n::HUGEINT * sxy - sx * sy)::DOUBLE /
               (n::DOUBLE * n * 128 * 128) AS cov
      FROM cells""",

    // top principal component: 20 unrolled power iterations, every
    // dot/norm an index-ordered list_reduce fold - the byte-exact
    // replay of the operator\'s left-fold chain
    "q_embed_pc" -> """
      WITH q AS (
        SELECT list_transform(embedding,
          x -> floor(x::DOUBLE * 128 + 0.5)::HUGEINT) AS v
        FROM embeddings),
      pairs AS (
        SELECT t1.i AS i, t2.j AS j, v[t1.i + 1] AS xi, v[t2.j + 1] AS xj
        FROM q, range(64) t1(i), range(64) t2(j)),
      cells AS (
        SELECT i, j, count(*)::BIGINT AS n, sum(xi) AS sx,
               sum(xj) AS sy, sum(xi * xj) AS sxy
        FROM pairs GROUP BY 1, 2),
      covf AS (
        SELECT i, j, max(n) OVER () AS n,
               (n::HUGEINT * sxy - sx * sy)::DOUBLE /
                 (n::DOUBLE * n * 128 * 128) AS cov
        FROM cells),
      crow AS (SELECT i, list(cov ORDER BY j) AS r FROM covf GROUP BY i),
      cm AS (SELECT list(r ORDER BY i) AS c, 0 AS k FROM crow),
      nn AS (SELECT max(n)::BIGINT AS n FROM covf),
      v0 AS (SELECT list_transform(range(64), x -> 0.125::DOUBLE) AS v),
      w1 AS (SELECT list_transform(range(64), i ->
          list_reduce(list_transform(range(64), j ->
            c[i + 1][j + 1] * v[j + 1]), (a, b) -> a + b)) AS w
        FROM cm, v0),
      n1 AS (SELECT list_transform(w, x -> x /
          sqrt(list_reduce(list_transform(w, y -> y * y),
            (a, b) -> a + b))) AS v
        FROM w1),
      w2 AS (SELECT list_transform(range(64), i ->
          list_reduce(list_transform(range(64), j ->
            c[i + 1][j + 1] * v[j + 1]), (a, b) -> a + b)) AS w
        FROM cm, n1),
      n2 AS (SELECT list_transform(w, x -> x /
          sqrt(list_reduce(list_transform(w, y -> y * y),
            (a, b) -> a + b))) AS v
        FROM w2),
      w3 AS (SELECT list_transform(range(64), i ->
          list_reduce(list_transform(range(64), j ->
            c[i + 1][j + 1] * v[j + 1]), (a, b) -> a + b)) AS w
        FROM cm, n2),
      n3 AS (SELECT list_transform(w, x -> x /
          sqrt(list_reduce(list_transform(w, y -> y * y),
            (a, b) -> a + b))) AS v
        FROM w3),
      w4 AS (SELECT list_transform(range(64), i ->
          list_reduce(list_transform(range(64), j ->
            c[i + 1][j + 1] * v[j + 1]), (a, b) -> a + b)) AS w
        FROM cm, n3),
      n4 AS (SELECT list_transform(w, x -> x /
          sqrt(list_reduce(list_transform(w, y -> y * y),
            (a, b) -> a + b))) AS v
        FROM w4),
      w5 AS (SELECT list_transform(range(64), i ->
          list_reduce(list_transform(range(64), j ->
            c[i + 1][j + 1] * v[j + 1]), (a, b) -> a + b)) AS w
        FROM cm, n4),
      n5 AS (SELECT list_transform(w, x -> x /
          sqrt(list_reduce(list_transform(w, y -> y * y),
            (a, b) -> a + b))) AS v
        FROM w5),
      w6 AS (SELECT list_transform(range(64), i ->
          list_reduce(list_transform(range(64), j ->
            c[i + 1][j + 1] * v[j + 1]), (a, b) -> a + b)) AS w
        FROM cm, n5),
      n6 AS (SELECT list_transform(w, x -> x /
          sqrt(list_reduce(list_transform(w, y -> y * y),
            (a, b) -> a + b))) AS v
        FROM w6),
      w7 AS (SELECT list_transform(range(64), i ->
          list_reduce(list_transform(range(64), j ->
            c[i + 1][j + 1] * v[j + 1]), (a, b) -> a + b)) AS w
        FROM cm, n6),
      n7 AS (SELECT list_transform(w, x -> x /
          sqrt(list_reduce(list_transform(w, y -> y * y),
            (a, b) -> a + b))) AS v
        FROM w7),
      w8 AS (SELECT list_transform(range(64), i ->
          list_reduce(list_transform(range(64), j ->
            c[i + 1][j + 1] * v[j + 1]), (a, b) -> a + b)) AS w
        FROM cm, n7),
      n8 AS (SELECT list_transform(w, x -> x /
          sqrt(list_reduce(list_transform(w, y -> y * y),
            (a, b) -> a + b))) AS v
        FROM w8),
      w9 AS (SELECT list_transform(range(64), i ->
          list_reduce(list_transform(range(64), j ->
            c[i + 1][j + 1] * v[j + 1]), (a, b) -> a + b)) AS w
        FROM cm, n8),
      n9 AS (SELECT list_transform(w, x -> x /
          sqrt(list_reduce(list_transform(w, y -> y * y),
            (a, b) -> a + b))) AS v
        FROM w9),
      w10 AS (SELECT list_transform(range(64), i ->
          list_reduce(list_transform(range(64), j ->
            c[i + 1][j + 1] * v[j + 1]), (a, b) -> a + b)) AS w
        FROM cm, n9),
      n10 AS (SELECT list_transform(w, x -> x /
          sqrt(list_reduce(list_transform(w, y -> y * y),
            (a, b) -> a + b))) AS v
        FROM w10),
      w11 AS (SELECT list_transform(range(64), i ->
          list_reduce(list_transform(range(64), j ->
            c[i + 1][j + 1] * v[j + 1]), (a, b) -> a + b)) AS w
        FROM cm, n10),
      n11 AS (SELECT list_transform(w, x -> x /
          sqrt(list_reduce(list_transform(w, y -> y * y),
            (a, b) -> a + b))) AS v
        FROM w11),
      w12 AS (SELECT list_transform(range(64), i ->
          list_reduce(list_transform(range(64), j ->
            c[i + 1][j + 1] * v[j + 1]), (a, b) -> a + b)) AS w
        FROM cm, n11),
      n12 AS (SELECT list_transform(w, x -> x /
          sqrt(list_reduce(list_transform(w, y -> y * y),
            (a, b) -> a + b))) AS v
        FROM w12),
      w13 AS (SELECT list_transform(range(64), i ->
          list_reduce(list_transform(range(64), j ->
            c[i + 1][j + 1] * v[j + 1]), (a, b) -> a + b)) AS w
        FROM cm, n12),
      n13 AS (SELECT list_transform(w, x -> x /
          sqrt(list_reduce(list_transform(w, y -> y * y),
            (a, b) -> a + b))) AS v
        FROM w13),
      w14 AS (SELECT list_transform(range(64), i ->
          list_reduce(list_transform(range(64), j ->
            c[i + 1][j + 1] * v[j + 1]), (a, b) -> a + b)) AS w
        FROM cm, n13),
      n14 AS (SELECT list_transform(w, x -> x /
          sqrt(list_reduce(list_transform(w, y -> y * y),
            (a, b) -> a + b))) AS v
        FROM w14),
      w15 AS (SELECT list_transform(range(64), i ->
          list_reduce(list_transform(range(64), j ->
            c[i + 1][j + 1] * v[j + 1]), (a, b) -> a + b)) AS w
        FROM cm, n14),
      n15 AS (SELECT list_transform(w, x -> x /
          sqrt(list_reduce(list_transform(w, y -> y * y),
            (a, b) -> a + b))) AS v
        FROM w15),
      w16 AS (SELECT list_transform(range(64), i ->
          list_reduce(list_transform(range(64), j ->
            c[i + 1][j + 1] * v[j + 1]), (a, b) -> a + b)) AS w
        FROM cm, n15),
      n16 AS (SELECT list_transform(w, x -> x /
          sqrt(list_reduce(list_transform(w, y -> y * y),
            (a, b) -> a + b))) AS v
        FROM w16),
      w17 AS (SELECT list_transform(range(64), i ->
          list_reduce(list_transform(range(64), j ->
            c[i + 1][j + 1] * v[j + 1]), (a, b) -> a + b)) AS w
        FROM cm, n16),
      n17 AS (SELECT list_transform(w, x -> x /
          sqrt(list_reduce(list_transform(w, y -> y * y),
            (a, b) -> a + b))) AS v
        FROM w17),
      w18 AS (SELECT list_transform(range(64), i ->
          list_reduce(list_transform(range(64), j ->
            c[i + 1][j + 1] * v[j + 1]), (a, b) -> a + b)) AS w
        FROM cm, n17),
      n18 AS (SELECT list_transform(w, x -> x /
          sqrt(list_reduce(list_transform(w, y -> y * y),
            (a, b) -> a + b))) AS v
        FROM w18),
      w19 AS (SELECT list_transform(range(64), i ->
          list_reduce(list_transform(range(64), j ->
            c[i + 1][j + 1] * v[j + 1]), (a, b) -> a + b)) AS w
        FROM cm, n18),
      n19 AS (SELECT list_transform(w, x -> x /
          sqrt(list_reduce(list_transform(w, y -> y * y),
            (a, b) -> a + b))) AS v
        FROM w19),
      w20 AS (SELECT list_transform(range(64), i ->
          list_reduce(list_transform(range(64), j ->
            c[i + 1][j + 1] * v[j + 1]), (a, b) -> a + b)) AS w
        FROM cm, n19),
      n20 AS (SELECT list_transform(w, x -> x /
          sqrt(list_reduce(list_transform(w, y -> y * y),
            (a, b) -> a + b))) AS v
        FROM w20),
      fin AS (
        SELECT v,
          list_reduce(list_transform(range(64), i -> v[i + 1] *
            list_reduce(list_transform(range(64), j ->
              c[i + 1][j + 1] * v[j + 1]), (a, b) -> a + b)),
            (a, b) -> a + b) AS lambda,
          list_reduce(list_transform(range(64), i -> c[i + 1][i + 1]),
            (a, b) -> a + b) AS trace
        FROM cm, n20)
      SELECT t.i::INT AS i, v[t.i + 1] AS loading, lambda AS eigenvalue,
             lambda / trace AS explained_share, nn.n AS n
      FROM fin, nn, range(64) t(i)""",


    // Kendall's W: the friedman block-rank replay folded to the
    // concordance effect size (doubled ranks: 12*S = 3*sum((R2-b(k+1))^2))
    "q_kendall_w" -> """
      WITH cells AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS b,
               o_orderpriority AS t, count(*)::BIGINT AS v
        FROM orders WHERE o_orderdate IS NOT NULL
        GROUP BY 1, 2),
      kept AS (
        SELECT * FROM cells
        WHERE b IN (SELECT b FROM cells GROUP BY b
                    HAVING count(*) = 5)),
      ranked AS (
        SELECT a.b, a.t,
               2 * sum(CASE WHEN c.v < a.v THEN 1 ELSE 0 END)
                 + sum(CASE WHEN c.v = a.v THEN 1 ELSE 0 END) + 1
                 AS r2,
               sum(CASE WHEN c.v = a.v THEN 1 ELSE 0 END) AS eq
        FROM kept a JOIN kept c ON a.b = c.b
        GROUP BY a.b, a.t, a.v),
      pert AS (SELECT t, count(*)::HUGEINT AS nb,
                 sum(r2::HUGEINT) AS r2s
               FROM ranked GROUP BY t),
      tie AS (SELECT COALESCE(sum(eq::HUGEINT * eq - 1), 0::HUGEINT)
                AS tie
              FROM ranked),
      g AS (SELECT max(nb) AS bb,
              sum((r2s - nb * 6) * (r2s - nb * 6)) AS s3x4
            FROM pert)
      SELECT bb::BIGINT AS n_blocks, 5::BIGINT AS k,
             3.0 * s3x4::DOUBLE /
               (bb * bb * 5 * 24 - bb * tie)::DOUBLE AS w
      FROM g CROSS JOIN tie""",

    // conformal quantile: exact ceil((n+1)*0.95)-th order statistic
    // per group (0.95 is DECIMAL in both engines - no FP boundary)
    "q_conformal_quantile" -> """
      WITH r AS (
        SELECT l_returnflag AS g, l_extendedprice AS v
        FROM lineitem WHERE l_extendedprice IS NOT NULL),
      n AS (SELECT g, count(*)::BIGINT AS n FROM r GROUP BY g),
      rk AS (SELECT g, n, ceil(0.95 * (n + 1))::BIGINT AS rank FROM n),
      o AS (SELECT g, v,
              row_number() OVER (PARTITION BY g ORDER BY v) AS rn
            FROM r)
      SELECT rk.g AS l_returnflag, rk.n, rk.rank, o.v AS qhat
      FROM rk JOIN o ON o.g = rk.g AND o.rn = rk.rank""",


    // streaming conformal screen: stateless replay - output must be
    // row-identical to the batch join against the same threshold table
    "q_stream_conformal" -> """
      WITH r AS (
        SELECT user_id % 10 AS c, value AS v FROM events
        WHERE value IS NOT NULL),
      n AS (SELECT c, count(*)::BIGINT AS n FROM r GROUP BY c),
      rk AS (SELECT c, n, ceil(0.95 * (n + 1))::BIGINT AS rank FROM n),
      o AS (SELECT c, v,
              row_number() OVER (PARTITION BY c ORDER BY v) AS rn
            FROM r),
      thr AS (SELECT rk.c, o.v AS qhat
              FROM rk JOIN o ON o.c = rk.c AND o.rn = rk.rank)
      SELECT e.event_id, e.user_id % 10 AS cohort, e.value, t.qhat,
             e.value > t.qhat AS is_anomaly
      FROM events e JOIN thr t ON e.user_id % 10 = t.c""",

    "q_friedman" -> """
      WITH cells AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS b,
               o_orderpriority AS t, count(*)::BIGINT AS v
        FROM orders WHERE o_orderdate IS NOT NULL
        GROUP BY 1, 2),
      kept AS (
        SELECT * FROM cells
        WHERE b IN (SELECT b FROM cells GROUP BY b
                    HAVING count(*) = 5)),
      ranked AS (
        SELECT a.b, a.t,
               2 * sum(CASE WHEN c.v < a.v THEN 1 ELSE 0 END)
                 + sum(CASE WHEN c.v = a.v THEN 1 ELSE 0 END) + 1
                 AS r2,
               sum(CASE WHEN c.v = a.v THEN 1 ELSE 0 END) AS eq
        FROM kept a JOIN kept c ON a.b = c.b
        GROUP BY a.b, a.t, a.v),
      pert AS (SELECT t, count(*)::BIGINT AS nb,
                 sum(r2::HUGEINT) AS r2s
               FROM ranked GROUP BY t),
      tie AS (SELECT COALESCE(sum(eq::HUGEINT * eq - 1), 0::HUGEINT)
                AS tie
              FROM ranked),
      fold AS (SELECT max(nb)::BIGINT AS n,
                 sum(r2s * r2s) AS r2sq
               FROM pert)
      SELECT n AS n_blocks, 5::BIGINT AS k,
             (3.0 * CAST(CAST(r2sq AS VARCHAR) AS DOUBLE)
                / (n::DOUBLE * 5.0 * (5.0 + 1.0))
              - 3.0 * n::DOUBLE * (5.0 + 1.0))
             / (1.0 - CAST(CAST(tie AS VARCHAR) AS DOUBLE)
                  / (n::DOUBLE * 5.0 * (5.0 * 5.0 - 1.0))) AS chi2_f
      FROM fold CROSS JOIN tie""",

    // Benjamini-Hochberg step-up replay: distinct-p collapse, the
    // inclusive cumulative = highest tied rank, one max() cutoff,
    // map-only flags — p-values are planted dyadics + (i+1)/1e4
    // signals, each ONE IEEE division of exact integers
    // Krippendorff alpha: per-item exact coincidence mass aggregated
    // by rating-count class (one /(m-1) per DISTINCT m, folded in
    // sorted-m order); marginals are plain value counts over the
    // contributing items; alpha one fixed chain, 9dp
    // TWAP: lead() durations per user, exact micros x cents products,
    // one raw division; the open last interval drops; single-obs keys
    // NULL. Ties on (user, ts) would raise - the events fixture has
    // none at this user slice (the gate proves it)
    "q_twap" -> """
      WITH r AS (
        SELECT user_id, epoch_us(ts) AS us,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        FROM events WHERE user_id < 200
          AND ts IS NOT NULL AND value IS NOT NULL),
      d AS (SELECT user_id, us, c,
              lead(us) OVER (PARTITION BY user_id ORDER BY us) - us
                AS dur
            FROM r)
      SELECT user_id, count(*)::BIGINT AS n_obs,
             COALESCE(sum(dur), 0)::BIGINT AS span_micros,
             CASE WHEN COALESCE(sum(dur), 0) = 0 THEN NULL
               ELSE CAST(CAST(sum(dur::HUGEINT * c) AS VARCHAR)
                      AS DOUBLE)
                    / (COALESCE(sum(dur), 0)::DOUBLE * 100.0) END
               AS twap
      FROM d GROUP BY user_id""",

    // burstiness: keyed lead gaps in exact millis, hi/lo-split exact
    // squares, population sigma, B raw (sqrt is IEEE-exact)
    "q_burstiness" -> """
      WITH r AS (
        SELECT user_id, epoch_us(ts) AS us
        FROM events WHERE user_id < 200 AND ts IS NOT NULL),
      d AS (SELECT user_id,
              (lead(us) OVER (PARTITION BY user_id ORDER BY us) - us)
                // 1000 AS g
            FROM r),
      a AS (SELECT user_id, count(g)::BIGINT AS n_gaps,
              COALESCE(sum(g), 0)::BIGINT AS s,
              COALESCE(sum(g::HUGEINT * g), 0::HUGEINT) AS q
            FROM d GROUP BY user_id)
      SELECT user_id, n_gaps,
             CASE WHEN n_gaps = 0 THEN NULL
               ELSE s::DOUBLE / n_gaps::DOUBLE END AS mean_gap_ms,
             CASE WHEN n_gaps < 2 THEN NULL
               ELSE (sqrt(CAST(CAST(n_gaps::HUGEINT * q - s::HUGEINT * s
                        AS VARCHAR) AS DOUBLE)
                      / (n_gaps::DOUBLE * n_gaps::DOUBLE))
                     - s::DOUBLE / n_gaps::DOUBLE)
                    / (sqrt(CAST(CAST(n_gaps::HUGEINT * q
                           - s::HUGEINT * s AS VARCHAR) AS DOUBLE)
                         / (n_gaps::DOUBLE * n_gaps::DOUBLE))
                       + s::DOUBLE / n_gaps::DOUBLE) END AS burstiness
      FROM a""",

    "q_krippendorff" -> """
      WITH r AS (
        SELECT doc_id // 5 AS item, doc_id % 5 AS rater, lang AS cat
        FROM documents
        WHERE NOT (doc_id % 5 = 4 AND (doc_id // 5) % 3 = 0)
          AND NOT (doc_id % 5 = 3 AND (doc_id // 5) % 7 = 0)),
      cells AS (SELECT item, cat, count(*)::BIGINT AS v FROM r
                GROUP BY 1, 2),
      items AS (SELECT item, sum(v)::BIGINT AS m,
                  sum(v::HUGEINT * v) AS sq
                FROM cells GROUP BY item HAVING sum(v) >= 2),
      perm AS (SELECT m, count(*)::BIGINT AS cnt,
                 sum(m::HUGEINT * m - sq) AS off
               FROM items GROUP BY m),
      fold AS (SELECT sum(cnt)::BIGINT AS n_items,
                 sum(m::HUGEINT * cnt) AS n,
                 list_reduce(list_prepend(0.0,
                   list(CAST(CAST(off AS VARCHAR) AS DOUBLE)
                        / (m - 1)::DOUBLE ORDER BY m)),
                   (a, x) -> a + x) AS doff
               FROM perm),
      nc AS (SELECT count(*)::BIGINT AS n_categories,
               COALESCE(sum(t::HUGEINT * t), 0::HUGEINT) AS sumnc2
             FROM (SELECT cat, sum(v)::BIGINT AS t
                   FROM cells JOIN items USING (item) GROUP BY cat) z)
      SELECT CAST(CAST(n AS VARCHAR) AS BIGINT) AS n, n_items,
             n_categories,
             round(1.0 - CAST(CAST(n - 1 AS VARCHAR) AS DOUBLE) * doff
               / CAST(CAST(n::HUGEINT * n - sumnc2 AS VARCHAR)
                   AS DOUBLE), 9) AS alpha
      FROM fold CROSS JOIN nc""",

    "q_fdr_flags" -> """
      WITH hyp AS (
        SELECT doc_id,
               CASE WHEN doc_id < 10
                 THEN (doc_id + 1)::DOUBLE / 10000.0
                 ELSE ('0x' || substr(md5('fdr_' || doc_id::VARCHAR),
                         1, 8))::BIGINT::DOUBLE / 4294967296.0
               END AS p
        FROM documents WHERE doc_id < 200),
      vals AS (SELECT p AS v, count(*)::BIGINT AS c FROM hyp
               GROUP BY 1),
      r AS (SELECT v, sum(c) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS rhi
            FROM vals),
      m AS (SELECT count(*)::BIGINT AS m FROM hyp),
      cut AS (SELECT max(v) AS cut FROM r CROSS JOIN m
              WHERE v <= rhi::DOUBLE * 0.05 / m::DOUBLE)
      SELECT doc_id, p, COALESCE(p <= cut, false) AS rejected
      FROM hyp CROSS JOIN cut""",

    // grouped BH: the identical step-up replay with every table keyed
    // by the language family — per-group m, rank, cutoff
    "q_fdr_grouped" -> """
      WITH hyp AS (
        SELECT doc_id, lang,
               CASE WHEN doc_id < 10
                 THEN (doc_id + 1)::DOUBLE / 10000.0
                 ELSE ('0x' || substr(md5('fdr_' || doc_id::VARCHAR),
                         1, 8))::BIGINT::DOUBLE / 4294967296.0
               END AS p
        FROM documents WHERE doc_id < 200),
      vals AS (SELECT lang, p AS v, count(*)::BIGINT AS c FROM hyp
               GROUP BY 1, 2),
      r AS (SELECT lang, v, sum(c) OVER (PARTITION BY lang ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS rhi
            FROM vals),
      m AS (SELECT lang, count(*)::BIGINT AS m FROM hyp GROUP BY 1),
      cut AS (SELECT r.lang, max(v) AS cut
              FROM r JOIN m ON r.lang = m.lang
              WHERE v <= rhi::DOUBLE * 0.05 / m::DOUBLE
              GROUP BY r.lang)
      SELECT doc_id, lang, p,
             COALESCE(p <= cut, false) AS rejected
      FROM hyp LEFT JOIN cut USING (lang)""",

    // Zipf fit: identical tokenization, top-1000 cut on (count desc,
    // term), OLS over ln pairs; slope/intercept 6dp (ln is the
    // transcendental tier)
    "q_zipf_fit" -> """
      WITH toks AS (
        SELECT unnest(list_filter(
          regexp_split_to_array(lower(text), '\s+'),
          t -> t <> '')) AS w
        FROM documents),
      counts AS (SELECT w, count(*)::BIGINT AS c FROM toks GROUP BY w
                 ORDER BY c DESC, w LIMIT 1000),
      ranked AS (SELECT c,
                   row_number() OVER (ORDER BY c DESC, w) AS r
                 FROM counts),
      xy AS (SELECT ln(r::DOUBLE) AS x, ln(c::DOUBLE) AS y FROM ranked),
      agg AS (SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
                sum(x * x) AS sxx, sum(x * y) AS sxy
              FROM xy)
      SELECT n AS n_terms,
             round((n::DOUBLE * sxy - sx * sy)
               / (n::DOUBLE * sxx - sx * sx), 6) AS slope,
             round((sy - (n::DOUBLE * sxy - sx * sy)
                 / (n::DOUBLE * sxx - sx * sx) * sx) / n::DOUBLE, 6)
               AS intercept
      FROM agg""",

    // Heaps-law fit: identical tokenization, per-type first doc_id by
    // min, exact-integer grid cuts on the doc_id range, conditional
    // checkpoint sums exact longs, the OLS a bounded fold over ≤16
    // ln-points ordered by checkpoint index, beta/intercept 6dp
    "q_heaps_fit" -> """
      WITH pd AS (
        SELECT doc_id AS o,
               len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                 t -> t <> ''))::BIGINT AS nt
        FROM documents WHERE doc_id IS NOT NULL),
      firsts AS (
        SELECT w, min(o) AS f FROM (
          SELECT doc_id AS o, unnest(list_filter(
            regexp_split_to_array(lower(text), '\s+'), t -> t <> '')) AS w
          FROM documents WHERE doc_id IS NOT NULL) GROUP BY w),
      bounds AS (SELECT min(o) AS lo, max(o) AS hi FROM pd),
      grid AS (SELECT g.i AS i, lo + ((hi - lo) * g.i) // 16 AS c
               FROM bounds, generate_series(1, 16) AS g(i)),
      natc AS (SELECT i, sum(CASE WHEN o <= c THEN nt ELSE 0 END)::BIGINT
                 AS n
               FROM pd, grid GROUP BY i),
      vatc AS (SELECT i, sum(CASE WHEN f <= c THEN 1 ELSE 0 END)::BIGINT
                 AS v
               FROM firsts, grid GROUP BY i),
      pts AS (SELECT natc.i AS i, n, v,
                ln(n::DOUBLE) AS x, ln(v::DOUBLE) AS y
              FROM natc JOIN vatc ON natc.i = vatc.i
              WHERE n > 0 AND v > 0),
      agg AS (SELECT count(*)::BIGINT AS np, max(n)::BIGINT AS n_tokens,
                max(v)::BIGINT AS n_types,
                list_reduce(list_prepend(0.0, list(x ORDER BY i)),
                  (a, b) -> a + b) AS sx,
                list_reduce(list_prepend(0.0, list(y ORDER BY i)),
                  (a, b) -> a + b) AS sy,
                list_reduce(list_prepend(0.0, list(x * x ORDER BY i)),
                  (a, b) -> a + b) AS sxx,
                list_reduce(list_prepend(0.0, list(x * y ORDER BY i)),
                  (a, b) -> a + b) AS sxy
              FROM pts)
      SELECT np AS n_points, n_tokens, n_types,
             round((np::DOUBLE * sxy - sx * sy)
               / (np::DOUBLE * sxx - sx * sx), 6) AS beta,
             round((sy - (np::DOUBLE * sxy - sx * sy)
                 / (np::DOUBLE * sxx - sx * sx) * sx) / np::DOUBLE, 6)
               AS intercept
      FROM agg""",

    // mixed-script confusables: identical tokenization + per-token
    // two-range membership; the spoof tokens are planted from code
    // points both engines write identically
    "q_script_mix" -> """
      WITH pd AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 7 = 0
                 THEN ' p\u0430ypal' ELSE '' END
                    || CASE WHEN doc_id % 11 = 0
                 THEN ' \u03b1lpha' ELSE '' END AS text
        FROM documents),
      toks AS (
        SELECT doc_id, list_filter(
          regexp_split_to_array(lower(text), '\s+'),
          t -> t <> '') AS tk
        FROM pd)
      SELECT doc_id, len(tk)::BIGINT AS n_tokens,
             len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]')
               AND regexp_matches(t, '[\u0400-\u04FF]')))::BIGINT
               AS n_latin_cyrillic,
             len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]')
               AND regexp_matches(t, '[\u0370-\u03FF]')))::BIGINT
               AS n_latin_greek
      FROM toks""",

    // code fences: the identical (?s) non-greedy RE2 pattern; the
    // planted fences build their newlines via chr(10) so both engines
    // hold byte-identical text
    "q_code_fences" -> """
      WITH pd AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 4 = 0
                 THEN chr(10) || '```python' || chr(10)
                      || substr(md5(doc_id::VARCHAR || '_code'), 1, 8)
                      || ' = 1' || chr(10) || '```'
                 ELSE '' END
                    || CASE WHEN doc_id % 6 = 0
                 THEN chr(10) || '```' || chr(10) || 'plain body'
                      || chr(10) || '```'
                 ELSE '' END AS text
        FROM documents),
      m AS (SELECT doc_id,
              regexp_extract_all(text,
                '(?s)```([a-z0-9_+]*)\n(.*?)```', 1) AS langs,
              regexp_extract_all(text,
                '(?s)```([a-z0-9_+]*)\n(.*?)```', 2) AS bodies
            FROM pd)
      SELECT doc_id, len(bodies)::BIGINT AS n_fences,
             COALESCE(list_sum(list_transform(bodies,
               b -> length(b))), 0)::BIGINT AS n_fence_chars,
             COALESCE(array_to_string(langs, ','), '') AS langs
      FROM m""",

    // ROUGE-2: clipped bigram overlap replayed per (pair, gram);
    // empty-side pairs re-anchor on the pair table (the operator's
    // explode_outer keeps them)
    "q_rouge2_pairs" -> """
      WITH pairs AS (
        SELECT c.doc_id AS pair_id, c.text AS cand, r.text AS ref
        FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1
        WHERE c.doc_id % 10 <> 9),
      tk AS (
        SELECT pair_id,
               list_filter(regexp_split_to_array(
                 lower(coalesce(cand, '')), '\s+'), t -> t <> '') AS ct,
               list_filter(regexp_split_to_array(
                 lower(coalesce(ref, '')), '\s+'), t -> t <> '') AS rt
        FROM pairs),
      cg AS (
        SELECT pair_id, unnest(CASE WHEN len(ct) >= 2
          THEN list_transform(range(1, len(ct)),
            i -> ct[i] || ' ' || ct[i + 1])
          ELSE [] END) AS g
        FROM tk),
      rg AS (
        SELECT pair_id, unnest(CASE WHEN len(rt) >= 2
          THEN list_transform(range(1, len(rt)),
            i -> rt[i] || ' ' || rt[i + 1])
          ELSE [] END) AS g
        FROM tk),
      cc AS (SELECT pair_id, g, count(*)::BIGINT AS c
             FROM cg GROUP BY 1, 2),
      rc AS (SELECT pair_id, g, count(*)::BIGINT AS r
             FROM rg GROUP BY 1, 2),
      m AS (
        SELECT COALESCE(cc.pair_id, rc.pair_id) AS pair_id,
               COALESCE(c, 0) AS c, COALESCE(r, 0) AS r
        FROM cc FULL JOIN rc
          ON cc.pair_id = rc.pair_id AND cc.g = rc.g),
      agg AS (
        SELECT pair_id, sum(c)::BIGINT AS cand_ngrams,
               sum(r)::BIGINT AS ref_ngrams,
               sum(least(c, r))::BIGINT AS overlap
        FROM m GROUP BY 1),
      f AS (
        SELECT p.pair_id,
               COALESCE(cand_ngrams, 0)::BIGINT AS cand_ngrams,
               COALESCE(ref_ngrams, 0)::BIGINT AS ref_ngrams,
               COALESCE(overlap, 0)::BIGINT AS overlap
        FROM pairs p LEFT JOIN agg ON p.pair_id = agg.pair_id),
      pr AS (
        SELECT *,
               CASE WHEN cand_ngrams = 0 THEN 0.0
                    ELSE overlap::DOUBLE / cand_ngrams END AS prec,
               CASE WHEN ref_ngrams = 0 THEN 0.0
                    ELSE overlap::DOUBLE / ref_ngrams END AS rec
        FROM f)
      SELECT pair_id, cand_ngrams, ref_ngrams, overlap,
             prec AS "precision", rec AS recall,
             CASE WHEN prec + rec = 0.0 THEN 0.0
                  ELSE 2.0 * prec * rec / (prec + rec) END AS f1
      FROM pr""",

    // Holt (level+trend) replayed step-for-step by a recursive CTE —
    // the EMA/CUSUM raw-chain gate class; α=0.5 / β=0.25 are exact
    // binary fractions so 1−α / 1−β are literal-identical here
    "q_holt_forecast" -> """
      WITH RECURSIVE daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               count(*)::BIGINT AS n
        FROM events GROUP BY 1, 2),
      idx AS (
        SELECT event_type, day, n,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY day) AS i,
               count(*) OVER (PARTITION BY event_type) AS ns
        FROM daily),
      walk AS (
        SELECT event_type, i, ns, n::DOUBLE AS l, 0.0::DOUBLE AS b
        FROM idx WHERE i = 1
        UNION ALL
        SELECT x.event_type, x.i, x.ns,
               x.n::DOUBLE * 0.5 + (w.l + w.b) * 0.5,
               ((x.n::DOUBLE * 0.5 + (w.l + w.b) * 0.5) - w.l) * 0.25
                 + w.b * 0.75
        FROM walk w JOIN idx x
          ON x.event_type = w.event_type AND x.i = w.i + 1)
      SELECT event_type, ns::BIGINT AS n_slots, l AS level, b AS trend,
             l + b AS fc_1, l + 7.0 * b AS fc_h
      FROM walk WHERE i = ns""",

    // Holt-Winters additive seasonal (m=7): the same recursive walk
    // carrying the rolling seasonal buffer as a LIST — burn-in l=x,
    // b=0, s=0 for the first m slots, then the textbook coupled
    // recurrences; forecasts add the buffered seasonal term
    // Holt-Winters additive seasonal (m=7): the q_holt_forecast
    // recursive walk carrying the rolling seasonal buffer as a LIST;
    // burn-in l=x, b=0, s=0 for the first m slots, then the textbook
    // coupled recurrences — the nested subqueries name each step's
    // intermediates once so both engines run the identical chain
    "q_holt_winters" -> """
      WITH RECURSIVE daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               count(*)::BIGINT AS n
        FROM events GROUP BY 1, 2),
      idx AS (
        SELECT event_type, day, n,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY day) AS i,
               count(*) OVER (PARTITION BY event_type) AS ns
        FROM daily),
      walk AS (
        SELECT event_type, i, ns, n::DOUBLE AS l, 0.0::DOUBLE AS b,
               [0.0]::DOUBLE[] AS buf
        FROM idx WHERE i = 1
        UNION ALL
        SELECT event_type, i, ns,
               lnew,
               CASE WHEN burn THEN 0.0
                    ELSE (lnew - l) * 0.25 + b * 0.75 END,
               list_append(trimmed,
                 CASE WHEN burn THEN 0.0
                      ELSE (xv - lnew) * 0.5 + sm * 0.5 END)
        FROM (
          SELECT *, CASE WHEN burn THEN xv
                         ELSE (xv - sm) * 0.5 + (l + b) * 0.5 END
                      AS lnew
          FROM (
            SELECT x.event_type AS event_type, x.i AS i, x.ns AS ns,
                   x.n::DOUBLE AS xv, w.l AS l, w.b AS b,
                   len(w.buf) < 7 AS burn,
                   CASE WHEN len(w.buf) < 7 THEN 0.0
                        ELSE w.buf[1] END AS sm,
                   CASE WHEN len(w.buf) = 7 THEN w.buf[2:]
                        ELSE w.buf END AS trimmed
            FROM walk w JOIN idx x
              ON x.event_type = w.event_type AND x.i = w.i + 1) t0)
          t1)
      SELECT event_type, ns::BIGINT AS n_slots, l AS level, b AS trend,
             l + b + buf[1] AS fc_1,
             l + 7.0 * b + buf[7] AS fc_h
      FROM walk WHERE i = ns""",

    // per-group percentile_disc — DuckDB's quantile_disc is the
    // element at 1-based rank ceil(q·n) (verified r7), the operator's
    // decimal-exact discRank
    "q_grouped_quantiles" -> """
      SELECT lang, 0.25::DOUBLE AS q, count(n_chars)::BIGINT AS n,
             quantile_disc(n_chars, 0.25) AS value
      FROM documents GROUP BY lang HAVING count(n_chars) > 0
      UNION ALL
      SELECT lang, 0.5::DOUBLE AS q, count(n_chars)::BIGINT AS n,
             quantile_disc(n_chars, 0.5) AS value
      FROM documents GROUP BY lang HAVING count(n_chars) > 0
      UNION ALL
      SELECT lang, 0.75::DOUBLE AS q, count(n_chars)::BIGINT AS n,
             quantile_disc(n_chars, 0.75) AS value
      FROM documents GROUP BY lang HAVING count(n_chars) > 0""",

    // the hll_distinct AGGREGATE per group — the oracle rebuilds the
    // identical sketch + estimator per event_type (the q_stream_hll
    // recipe, grouped)
    "q_hll_agg_groups" -> """
      WITH h AS (
        SELECT event_type,
               ('0x' || substr(md5('hll_' || user_id), 1, 8))::BIGINT
                 AS h
        FROM events WHERE user_id IS NOT NULL),
      b AS (SELECT event_type, h >> 24 AS bucket, h & 16777215 AS suffix
            FROM h),
      reg AS (
        SELECT event_type, bucket,
               max(CASE WHEN suffix = 0 THEN 25
                        ELSE 25 - length(printf('%b', suffix)) END) AS r
        FROM b GROUP BY 1, 2),
      agg AS (
        SELECT event_type, count(*)::BIGINT AS n_nonempty,
               coalesce(sum(1::BIGINT << (25 - r)), 0)::BIGINT AS s_occ
        FROM reg GROUP BY 1),
      s AS (
        SELECT event_type, n_nonempty,
               (256 - n_nonempty)::BIGINT AS v_zero,
               (s_occ + (256 - n_nonempty) * 33554432)::BIGINT
                 AS s_scaled
        FROM agg),
      r2 AS (
        SELECT *,
               (0.7213 / (1.0 + 1.079 / 256)) *
                 (256.0 * 256 * 33554432.0) / s_scaled::DOUBLE AS raw
        FROM s)
      SELECT event_type,
             round(CASE WHEN raw <= 2.5 * 256 AND v_zero > 0
                        THEN 256.0 * ln(256.0 / v_zero::DOUBLE)
                        WHEN raw > 4294967296.0 / 30.0
                        THEN -4294967296.0 *
                          ln(1.0 - raw / 4294967296.0)
                        ELSE raw END, 6) AS est_users
      FROM r2""",

    // Cohen's kappa over the lang-id pair table: exact counts and
    // HUGEINT row·col cross term, kappa the identical IEEE chain raw
    "q_cohen_kappa" -> """
      WITH s AS (
        SELECT doc_id, lang,
               len(list_filter(toks, t -> t='the'))::INT
                 + len(list_filter(toks, t -> t='and'))::INT
                 + len(list_filter(toks, t -> t='of'))::INT AS en_score,
               len(list_filter(toks, t -> t='der'))::INT
                 + len(list_filter(toks, t -> t='und'))::INT
                 + len(list_filter(toks, t -> t='die'))::INT AS de_score,
               len(list_filter(toks, t -> t='le'))::INT
                 + len(list_filter(toks, t -> t='la'))::INT
                 + len(list_filter(toks, t -> t='et'))::INT AS fr_score
        FROM (SELECT doc_id, lang,
                     string_split(lower(coalesce(text, '')), ' ') AS toks
              FROM documents) t),
      p AS (
        SELECT lang AS a,
               CASE WHEN en_score + de_score + fr_score = 0 THEN 'unknown'
                    WHEN en_score >= de_score AND en_score >= fr_score
                      THEN 'en'
                    WHEN de_score >= fr_score THEN 'de'
                    ELSE 'fr' END AS b
        FROM s),
      pairs AS (SELECT a, b, count(*)::BIGINT AS n FROM p GROUP BY 1, 2),
      at AS (SELECT a AS cls, sum(n)::BIGINT AS na FROM pairs GROUP BY 1),
      bt AS (SELECT b AS cls, sum(n)::BIGINT AS nb FROM pairs GROUP BY 1),
      cr AS (
        SELECT coalesce(sum(coalesce(na, 0)::HUGEINT
                 * coalesce(nb, 0)), 0) AS sumrc
        FROM at FULL JOIN bt ON at.cls = bt.cls),
      base AS (
        SELECT sum(n)::BIGINT AS n,
               coalesce(sum(CASE WHEN a = b THEN n ELSE 0 END), 0)::BIGINT
                 AS agree
        FROM pairs),
      v AS (
        SELECT n, agree,
               agree::DOUBLE / n AS po,
               CAST(sumrc AS DOUBLE)
                 / CAST(n::HUGEINT * n AS DOUBLE) AS pe
        FROM base CROSS JOIN cr)
      SELECT n, agree, po, pe, (po - pe) / (1.0 - pe) AS kappa
      FROM v""",

    // degree assortativity: symmetrized endpoint-degree Pearson over
    // exact HUGEINT moments, r the identical IEEE chain raw
    "q_assortativity" -> """
      WITH e AS (
        SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        FROM lineitem x JOIN lineitem y USING (l_orderkey)
        WHERE x.l_partkey < y.l_partkey
          AND x.l_partkey % 4 = 0 AND y.l_partkey % 4 = 0),
      sym AS (SELECT a AS u, b AS w FROM e
              UNION ALL SELECT b, a FROM e),
      deg AS (SELECT u AS node, count(*)::BIGINT AS d
              FROM sym GROUP BY 1),
      xy AS (
        SELECT dx.d AS x, dy.d AS y
        FROM sym JOIN deg dx ON sym.u = dx.node
                 JOIN deg dy ON sym.w = dy.node),
      m AS (
        SELECT count(*)::BIGINT AS cnt,
               sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
               sum(x::HUGEINT * y) AS sxy,
               sum(x::HUGEINT * x) AS sxx,
               sum(y::HUGEINT * y) AS syy
        FROM xy)
      SELECT (cnt // 2)::BIGINT AS n_edges,
             CAST(cnt::HUGEINT * sxy - sx * sy AS DOUBLE)
               / (sqrt(CAST(cnt::HUGEINT * sxx - sx * sx AS DOUBLE))
                 * sqrt(CAST(cnt::HUGEINT * syy - sy * sy AS DOUBLE)))
               AS r
      FROM m""",

    // exact 10% trimmed mean: rank-range kept sum replayed per row
    // (tie-invariant — tied rows carry equal cents), mean one raw
    // IEEE division
    "q_trimmed_mean" -> """
      WITH rev AS (
        SELECT o_custkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS r
        FROM orders GROUP BY 1),
      cents AS (SELECT CAST(floor(r * 100 + 0.5) AS BIGINT) AS v
                FROM rev),
      rk AS (SELECT v, row_number() OVER (ORDER BY v) AS i,
                    count(*) OVER () AS n
             FROM cents),
      cut AS (SELECT n, CAST(floor(0.1 * n) AS BIGINT) AS k
              FROM rk LIMIT 1),
      kept AS (
        SELECT max(rk.n)::BIGINT AS n,
               count(*)::BIGINT AS n_kept,
               sum(v::HUGEINT) AS s
        FROM rk CROSS JOIN cut
        WHERE i > cut.k AND i <= rk.n - cut.k)
      SELECT n, n_kept,
             CAST(CAST(s AS VARCHAR) AS DOUBLE)
               / (100.0 * n_kept) AS trimmed_mean
      FROM kept""",

    // BLEU: all four n-gram orders in one tagged replay; precisions
    // exact-int divisions (raw), bleu crosses exp/ln → 6dp
    "q_bleu_pairs" -> """
      WITH pairs AS (
        SELECT c.doc_id AS pair_id, c.text AS cand, r.text AS ref
        FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1
        WHERE c.doc_id % 10 <> 9),
      tk AS (
        SELECT pair_id,
               list_filter(regexp_split_to_array(
                 lower(coalesce(cand, '')), '\s+'), t -> t <> '') AS ct,
               list_filter(regexp_split_to_array(
                 lower(coalesce(ref, '')), '\s+'), t -> t <> '') AS rt
        FROM pairs),
      ns AS (SELECT unnest([1, 2, 3, 4]) AS n),
      cg AS (
        SELECT pair_id, n,
               unnest(list_transform(range(1, len(ct) - n + 2),
                 i -> array_to_string(ct[i:i+n-1], ' '))) AS g
        FROM tk CROSS JOIN ns),
      rg AS (
        SELECT pair_id, n,
               unnest(list_transform(range(1, len(rt) - n + 2),
                 i -> array_to_string(rt[i:i+n-1], ' '))) AS g
        FROM tk CROSS JOIN ns),
      cc AS (SELECT pair_id, n, g, count(*)::BIGINT AS c
             FROM cg GROUP BY 1, 2, 3),
      rc AS (SELECT pair_id, n, g, count(*)::BIGINT AS r
             FROM rg GROUP BY 1, 2, 3),
      m AS (
        SELECT COALESCE(cc.pair_id, rc.pair_id) AS pair_id,
               COALESCE(cc.n, rc.n) AS n,
               COALESCE(c, 0) AS c, COALESCE(r, 0) AS r
        FROM cc FULL JOIN rc
          ON cc.pair_id = rc.pair_id AND cc.n = rc.n AND cc.g = rc.g),
      pern AS (
        SELECT pair_id, n, sum(c)::BIGINT AS candn,
               sum(least(c, r))::BIGINT AS ov
        FROM m GROUP BY 1, 2),
      refn AS (
        SELECT pair_id, sum(r)::BIGINT AS ref_len
        FROM m WHERE n = 1 GROUP BY 1),
      piv AS (
        SELECT p.pair_id,
               COALESCE(max(CASE WHEN n = 1 THEN candn END), 0)::BIGINT
                 AS cand_len,
               COALESCE((SELECT ref_len FROM refn
                         WHERE refn.pair_id = p.pair_id), 0)::BIGINT
                 AS ref_len,
               COALESCE(max(CASE WHEN n = 1 THEN ov END), 0)::BIGINT
                 AS ov1,
               COALESCE(max(CASE WHEN n = 2 THEN ov END), 0)::BIGINT
                 AS ov2,
               COALESCE(max(CASE WHEN n = 3 THEN ov END), 0)::BIGINT
                 AS ov3,
               COALESCE(max(CASE WHEN n = 4 THEN ov END), 0)::BIGINT
                 AS ov4,
               COALESCE(max(CASE WHEN n = 2 THEN candn END), 0)::BIGINT
                 AS cn2,
               COALESCE(max(CASE WHEN n = 3 THEN candn END), 0)::BIGINT
                 AS cn3,
               COALESCE(max(CASE WHEN n = 4 THEN candn END), 0)::BIGINT
                 AS cn4
        FROM (SELECT DISTINCT pair_id FROM pairs) p
        LEFT JOIN pern ON pern.pair_id = p.pair_id
        GROUP BY p.pair_id),
      pv AS (
        SELECT pair_id, cand_len, ref_len,
               CASE WHEN cand_len = 0 THEN 0.0
                    ELSE ov1::DOUBLE / cand_len END AS p_1,
               CASE WHEN cn2 = 0 THEN 0.0
                    ELSE ov2::DOUBLE / cn2 END AS p_2,
               CASE WHEN cn3 = 0 THEN 0.0
                    ELSE ov3::DOUBLE / cn3 END AS p_3,
               CASE WHEN cn4 = 0 THEN 0.0
                    ELSE ov4::DOUBLE / cn4 END AS p_4
        FROM piv),
      withbp AS (
        SELECT *,
               CASE WHEN cand_len = 0 THEN 0.0
                    WHEN cand_len >= ref_len THEN 1.0
                    ELSE exp(1.0 - ref_len::DOUBLE / cand_len) END AS bp
        FROM pv)
      SELECT pair_id, cand_len, ref_len, p_1, p_2, p_3, p_4,
             round(bp, 6) AS bp,
             CASE WHEN cand_len = 0 OR p_1 = 0.0 OR p_2 = 0.0
                       OR p_3 = 0.0 OR p_4 = 0.0 THEN 0.0
                  ELSE round(bp * exp((ln(p_1) + ln(p_2) + ln(p_3)
                    + ln(p_4)) / 4.0), 6) END AS bleu
      FROM withbp""",

    // HITS replayed iteration-for-iteration (4 rounds, max-norm); the
    // planted maxima are powers of two so every score is dyadic-exact
    // and summation order cannot move it
    "q_hits_planted" -> """
      WITH m AS MATERIALIZED (SELECT doc_id, doc_id // 20 AS blk, doc_id % 20 AS r
                 FROM documents),
      hubs AS MATERIALIZED (SELECT blk, doc_id AS src FROM m
               WHERE (blk % 2 = 0 AND r < 4) OR (blk % 2 = 1 AND r < 2)),
      auths AS MATERIALIZED (SELECT blk, doc_id AS dst FROM m
                WHERE (blk % 2 = 0 AND r >= 4 AND r < 12)
                   OR (blk % 2 = 1 AND r >= 2 AND r < 10)),
      e AS MATERIALIZED (SELECT src, dst FROM hubs h JOIN auths a ON h.blk = a.blk),
      h0 AS MATERIALIZED (SELECT DISTINCT src, 1.0::DOUBLE AS h FROM e),
      ar1 AS MATERIALIZED (SELECT dst, sum(h) AS v FROM e JOIN h0 USING (src)
              GROUP BY dst),
      a1 AS MATERIALIZED (SELECT dst, v / (SELECT max(v) FROM ar1) AS a FROM ar1),
      hr1 AS MATERIALIZED (SELECT src, sum(a) AS v FROM e JOIN a1 USING (dst)
              GROUP BY src),
      h1 AS MATERIALIZED (SELECT src, v / (SELECT max(v) FROM hr1) AS h FROM hr1),
      ar2 AS MATERIALIZED (SELECT dst, sum(h) AS v FROM e JOIN h1 USING (src)
              GROUP BY dst),
      a2 AS MATERIALIZED (SELECT dst, v / (SELECT max(v) FROM ar2) AS a FROM ar2),
      hr2 AS MATERIALIZED (SELECT src, sum(a) AS v FROM e JOIN a2 USING (dst)
              GROUP BY src),
      h2 AS MATERIALIZED (SELECT src, v / (SELECT max(v) FROM hr2) AS h FROM hr2),
      ar3 AS MATERIALIZED (SELECT dst, sum(h) AS v FROM e JOIN h2 USING (src)
              GROUP BY dst),
      a3 AS MATERIALIZED (SELECT dst, v / (SELECT max(v) FROM ar3) AS a FROM ar3),
      hr3 AS MATERIALIZED (SELECT src, sum(a) AS v FROM e JOIN a3 USING (dst)
              GROUP BY src),
      h3 AS MATERIALIZED (SELECT src, v / (SELECT max(v) FROM hr3) AS h FROM hr3),
      ar4 AS MATERIALIZED (SELECT dst, sum(h) AS v FROM e JOIN h3 USING (src)
              GROUP BY dst),
      a4 AS MATERIALIZED (SELECT dst, v / (SELECT max(v) FROM ar4) AS a FROM ar4),
      hr4 AS MATERIALIZED (SELECT src, sum(a) AS v FROM e JOIN a4 USING (dst)
              GROUP BY src),
      h4 AS MATERIALIZED (SELECT src, v / (SELECT max(v) FROM hr4) AS h FROM hr4)
      SELECT src AS node, 'hub' AS kind, h AS score FROM h4
      UNION ALL
      SELECT dst AS node, 'auth' AS kind, a AS score FROM a4""",

    // streaming HLL: per-day windowed registers + the estimator read,
    // rebuilt per window by the same integer recipe as q_hll_estimate
    "q_stream_hll" -> """
      WITH h AS (
        SELECT date_trunc('day', ts) AS wstart,
               ('0x' || substr(md5('hll_' || user_id), 1, 8))::BIGINT
                 AS h
        FROM events WHERE user_id IS NOT NULL),
      b AS (SELECT wstart, h >> 24 AS bucket, h & 16777215 AS suffix
            FROM h),
      reg AS (
        SELECT wstart, bucket,
               max(CASE WHEN suffix = 0 THEN 25
                        ELSE 25 - length(printf('%b', suffix)) END) AS r
        FROM b GROUP BY 1, 2),
      agg AS (
        SELECT wstart, count(*)::BIGINT AS n_nonempty,
               coalesce(sum(1::BIGINT << (25 - r)), 0)::BIGINT AS s_occ
        FROM reg GROUP BY 1),
      s AS (
        SELECT wstart, 256::INT AS m, n_nonempty,
               (256 - n_nonempty)::BIGINT AS v_zero,
               (s_occ + (256 - n_nonempty) * 33554432)::BIGINT
                 AS s_scaled
        FROM agg),
      r2 AS (
        SELECT *,
               (0.7213 / (1.0 + 1.079 / 256)) *
                 (256.0 * 256 * 33554432.0) / s_scaled::DOUBLE AS raw
        FROM s)
      SELECT wstart, m, n_nonempty, v_zero, s_scaled,
             round(CASE WHEN raw <= 2.5 * 256 AND v_zero > 0
                        THEN 256.0 * ln(256.0 / v_zero::DOUBLE)
                        WHEN raw > 4294967296.0 / 30.0
                        THEN -4294967296.0 *
                          ln(1.0 - raw / 4294967296.0)
                        ELSE raw END, 6) AS est
      FROM r2""",

    // own-HLL sketch rebuilt CELL-FOR-CELL (the CMS/KMV/LogHist
    // sketch-gate recipe): bucket/rho are integer md5 functions, the
    // register is a max of integers
    "q_hll_registers" -> """
      WITH h AS (
        SELECT ('0x' || substr(md5('hll_' || o_custkey), 1, 8))::BIGINT
          AS h
        FROM orders WHERE o_custkey IS NOT NULL),
      b AS (SELECT h >> 24 AS bucket, h & 16777215 AS suffix FROM h)
      SELECT bucket,
             max(CASE WHEN suffix = 0 THEN 25
                      ELSE 25 - length(printf('%b', suffix)) END)::INT
               AS r
      FROM b GROUP BY bucket""",

    // the estimate: exact scaled-integer harmonic sum (empty registers
    // contribute 2^25), raw = α·m²·2^25/S one IEEE chain, linear
    // counting m·ln(m/V) on the small-range branch; 6dp (ln crosses
    // libm). DuckDB decimal literals divide to DOUBLE with identical
    // IEEE results (probed: the full α chain matches the JVM bit-exact)
    "q_hll_estimate" -> """
      WITH h AS (
        SELECT ('0x' || substr(md5('hll_' || o_custkey), 1, 8))::BIGINT
          AS h
        FROM orders WHERE o_custkey IS NOT NULL),
      b AS (SELECT h >> 24 AS bucket, h & 16777215 AS suffix FROM h),
      reg AS (
        SELECT bucket,
               max(CASE WHEN suffix = 0 THEN 25
                        ELSE 25 - length(printf('%b', suffix)) END) AS r
        FROM b GROUP BY bucket),
      agg AS (
        SELECT count(*)::BIGINT AS n_nonempty,
               coalesce(sum(1::BIGINT << (25 - r)), 0)::BIGINT AS s_occ
        FROM reg),
      s AS (
        SELECT 256::INT AS m, n_nonempty,
               (256 - n_nonempty)::BIGINT AS v_zero,
               (s_occ + (256 - n_nonempty) * 33554432)::BIGINT
                 AS s_scaled
        FROM agg),
      r2 AS (
        SELECT *,
               (0.7213 / (1.0 + 1.079 / 256)) *
                 (256.0 * 256 * 33554432.0) / s_scaled::DOUBLE AS raw
        FROM s)
      SELECT m, n_nonempty, v_zero, s_scaled,
             round(CASE WHEN raw <= 2.5 * 256 AND v_zero > 0
                        THEN 256.0 * ln(256.0 / v_zero::DOUBLE)
                        WHEN raw > 4294967296.0 / 30.0
                        THEN -4294967296.0 *
                          ln(1.0 - raw / 4294967296.0)
                        ELSE raw END, 6) AS est
      FROM r2""",

    // the per-segment Welch sweep: conditional moments per group in
    // HUGEINT, identical chains; degenerate cells dropped on BOTH sides
    "q_welch_sweep" -> """
      WITH c AS (
        SELECT year(l_shipdate)::INT AS g, l_returnflag AS arm,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
        FROM lineitem WHERE l_returnflag IN ('R', 'N')),
      m AS (
        SELECT g,
               sum(CASE WHEN arm = 'R' THEN 1 ELSE 0 END)::BIGINT AS n_a,
               sum(CASE WHEN arm = 'R' THEN c ELSE 0 END)::BIGINT AS s_a,
               sum(CASE WHEN arm = 'R' THEN c::HUGEINT * c
                        ELSE 0 END) AS q_a,
               sum(CASE WHEN arm = 'N' THEN 1 ELSE 0 END)::BIGINT AS n_b,
               sum(CASE WHEN arm = 'N' THEN c ELSE 0 END)::BIGINT AS s_b,
               sum(CASE WHEN arm = 'N' THEN c::HUGEINT * c
                        ELSE 0 END) AS q_b
        FROM c GROUP BY g
        HAVING n_a >= 2 AND n_b >= 2),
      v AS (
        SELECT g AS ship_year, n_a, n_b,
               s_a::DOUBLE / (100.0 * n_a) AS mean_a,
               s_b::DOUBLE / (100.0 * n_b) AS mean_b,
               CAST(CAST(n_a::HUGEINT * q_a
                 - s_a::HUGEINT * s_a AS VARCHAR) AS DOUBLE)
                 / (n_a::DOUBLE * (n_a - 1) * 10000.0) AS var_a,
               CAST(CAST(n_b::HUGEINT * q_b
                 - s_b::HUGEINT * s_b AS VARCHAR) AS DOUBLE)
                 / (n_b::DOUBLE * (n_b - 1) * 10000.0) AS var_b
        FROM m)
      SELECT ship_year, n_a, n_b, mean_a, mean_b, var_a, var_b,
             round((mean_a - mean_b)
               / sqrt(var_a / n_a + var_b / n_b), 9) AS t,
             round((var_a / n_a + var_b / n_b)
                 * (var_a / n_a + var_b / n_b)
               / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
                 + (var_b / n_b) * (var_b / n_b) / (n_b - 1)), 9) AS df
      FROM v WHERE var_a + var_b > 0.0""",

    // Welch moments replayed in HUGEINT (= the operator's hi/lo-split
    // exact integers); t/df are the identical IEEE chains rounded 9dp
    "q_welch_ttest" -> """
      WITH c AS (
        SELECT l_returnflag AS g,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
        FROM lineitem WHERE l_returnflag IN ('R', 'N')),
      ma AS (SELECT count(*)::BIGINT AS n_a, sum(c)::BIGINT AS s_a,
               sum(c::HUGEINT * c) AS q_a FROM c WHERE g = 'R'),
      mb AS (SELECT count(*)::BIGINT AS n_b, sum(c)::BIGINT AS s_b,
               sum(c::HUGEINT * c) AS q_b FROM c WHERE g = 'N'),
      v AS (SELECT n_a, n_b,
              s_a::DOUBLE / (100.0 * n_a) AS mean_a,
              s_b::DOUBLE / (100.0 * n_b) AS mean_b,
              CAST(CAST(n_a::HUGEINT * q_a
                 - s_a::HUGEINT * s_a AS VARCHAR) AS DOUBLE)
                / (n_a::DOUBLE * (n_a - 1) * 10000.0) AS var_a,
              CAST(CAST(n_b::HUGEINT * q_b
                 - s_b::HUGEINT * s_b AS VARCHAR) AS DOUBLE)
                / (n_b::DOUBLE * (n_b - 1) * 10000.0) AS var_b
            FROM ma CROSS JOIN mb)
      SELECT n_a, n_b, mean_a, mean_b, var_a, var_b,
             round((mean_a - mean_b)
               / sqrt(var_a / n_a + var_b / n_b), 9) AS t,
             round((var_a / n_a + var_b / n_b)
                 * (var_a / n_a + var_b / n_b)
               / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
                 + (var_b / n_b) * (var_b / n_b) / (n_b - 1)), 9) AS df
      FROM v""",

    // confusion stats over the q_lang_id predictor: pair counts exact,
    // P/R/F1 the identical IEEE chains with the zero-division-0 rule
    "q_confusion_f1" -> """
      WITH s AS (
        SELECT doc_id, lang,
               len(list_filter(toks, t -> t='the'))::INT
                 + len(list_filter(toks, t -> t='and'))::INT
                 + len(list_filter(toks, t -> t='of'))::INT AS en_score,
               len(list_filter(toks, t -> t='der'))::INT
                 + len(list_filter(toks, t -> t='und'))::INT
                 + len(list_filter(toks, t -> t='die'))::INT AS de_score,
               len(list_filter(toks, t -> t='le'))::INT
                 + len(list_filter(toks, t -> t='la'))::INT
                 + len(list_filter(toks, t -> t='et'))::INT AS fr_score
        FROM (SELECT doc_id, lang,
                     string_split(lower(coalesce(text, '')), ' ') AS toks
              FROM documents) t),
      p AS (
        SELECT lang AS a,
               CASE WHEN en_score + de_score + fr_score = 0 THEN 'unknown'
                    WHEN en_score >= de_score AND en_score >= fr_score
                      THEN 'en'
                    WHEN de_score >= fr_score THEN 'de'
                    ELSE 'fr' END AS pr
        FROM s),
      pairs AS (SELECT a, pr, count(*)::BIGINT AS n FROM p GROUP BY 1, 2),
      act AS (SELECT a AS cls, sum(n)::BIGINT AS na FROM pairs GROUP BY 1),
      prd AS (SELECT pr AS cls, sum(n)::BIGINT AS np FROM pairs GROUP BY 1),
      diag AS (SELECT a AS cls, n AS tp FROM pairs WHERE a = pr),
      base AS (
        SELECT COALESCE(act.cls, prd.cls) AS cls,
               COALESCE(na, 0)::BIGINT AS na, COALESCE(np, 0)::BIGINT AS np
        FROM act FULL JOIN prd ON act.cls = prd.cls),
      b2 AS (
        SELECT base.cls, COALESCE(tp, 0)::BIGINT AS tp, np, na
        FROM base LEFT JOIN diag ON base.cls = diag.cls),
      pr2 AS (
        SELECT cls, tp, (np - tp)::BIGINT AS fp, (na - tp)::BIGINT AS fn,
               CASE WHEN np = 0 THEN 0.0 ELSE tp::DOUBLE / np END AS prec,
               CASE WHEN na = 0 THEN 0.0 ELSE tp::DOUBLE / na END AS rec
        FROM b2)
      SELECT cls, tp, fp, fn, prec AS "precision", rec AS recall,
             CASE WHEN prec + rec = 0.0 THEN 0.0
                  ELSE 2.0 * prec * rec / (prec + rec) END AS f1
      FROM pr2""",

    // Gini over exact integer cents: the operator's closed-form block
    // rank sums equal the per-row Σ v·(2i−n−1) replayed here in HUGEINT
    "q_gini_revenue" -> """
      WITH rev AS (
        SELECT o_custkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS r
        FROM orders GROUP BY 1),
      cents AS (SELECT CAST(floor(r * 100 + 0.5) AS BIGINT) AS v FROM rev),
      rk AS (SELECT v, row_number() OVER (ORDER BY v) AS i,
                    count(*) OVER () AS n
             FROM cents),
      agg AS (SELECT max(n)::BIGINT AS n, sum(v)::HUGEINT AS sv,
                     sum(v::HUGEINT * (2 * i - n - 1)) AS num
              FROM rk)
      SELECT n, CAST(CAST(sv AS VARCHAR) AS DOUBLE) / 100.0 AS total,
             CAST(CAST(num AS VARCHAR) AS DOUBLE)
               / CAST(CAST(n::HUGEINT * sv AS VARCHAR) AS DOUBLE) AS gini
      FROM agg""",

    // Lorenz top-share cuts: decimal-exact rank ceiling, tie-invariant
    // top sums (tied rows carry equal v), one IEEE division per p
    "q_top_share" -> """
      WITH rev AS (
        SELECT o_custkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS r
        FROM orders GROUP BY 1),
      cents AS (SELECT CAST(floor(r * 100 + 0.5) AS BIGINT) AS v FROM rev),
      tot AS (SELECT count(*)::BIGINT AS n, sum(v)::HUGEINT AS sv
              FROM cents),
      ps AS (SELECT * FROM (VALUES (0.01, 0.99), (0.1, 0.9), (0.5, 0.5))
             t(p, q)),
      cut AS (SELECT p::DOUBLE AS p,
                     (n - greatest(1, CAST(ceil(
                       CAST(q AS DECIMAL(38,18)) * n) AS BIGINT)))::BIGINT
                       AS cut_rows,
                     n, sv
              FROM ps CROSS JOIN tot),
      rk AS (SELECT v, row_number() OVER (ORDER BY v DESC) AS i
             FROM cents)
      SELECT p, cut_rows,
             CAST(CAST(sum(CASE WHEN i <= cut_rows THEN v::HUGEINT
                           ELSE 0::HUGEINT END) AS VARCHAR) AS DOUBLE)
               / CAST(CAST(max(sv) AS VARCHAR) AS DOUBLE) AS share
      FROM cut CROSS JOIN rk
      GROUP BY p, cut_rows""",

    // brute-force twin of the grid join — integer-exact, no epsilon;
    // coordinates from the shared md5 recipe (uniform scatter)
    "q_spatial_radius" -> """
      WITH p AS (SELECT c_custkey AS id,
                   ('0x' || substr(md5('px_' || c_custkey), 1, 8))::BIGINT
                     % 10000 AS x,
                   ('0x' || substr(md5('py_' || c_custkey), 1, 8))::BIGINT
                     % 10000 AS y
                 FROM customer)
      SELECT a.id AS id_a, b.id AS id_b,
             ((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y))::BIGINT AS dist2
      FROM p a JOIN p b ON a.id < b.id
      WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 10000""",

    // the same flag + running-sum island recipe, replayed in SQL.
    // The rn tiebreaker makes the two windows' ROWS frames share ONE
    // total order: with duplicate (ship_s, ship_e) rows straddling a
    // gap boundary, DuckDB's flag pass and island pass may otherwise
    // sort ties differently and split an island inconsistently
    // (surfaced at sf0.1 — supplier 555's twin 07-21 intervals; the
    // merged RESULT is tie-order-invariant, but only when both
    // windows see the same order, which Spark guarantees by planning
    // both frames in one Window operator)
    "q_interval_merge" -> """
      WITH iv AS (SELECT l_suppkey, l_shipdate AS ship_s,
                         l_shipdate + INTERVAL 10 DAY AS ship_e,
                         row_number() OVER (PARTITION BY l_suppkey
                           ORDER BY l_shipdate) AS rn
                  FROM lineitem),
      f AS (SELECT l_suppkey, ship_s, ship_e, rn,
              CASE WHEN ship_s <= max(ship_e) OVER (
                     PARTITION BY l_suppkey ORDER BY ship_s, ship_e, rn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   THEN 0 ELSE 1 END AS flag
            FROM iv),
      g AS (SELECT l_suppkey, ship_s, ship_e,
              sum(flag) OVER (PARTITION BY l_suppkey
                ORDER BY ship_s, ship_e, rn ROWS UNBOUNDED PRECEDING)
                AS island
            FROM f)
      SELECT l_suppkey, min(ship_s) AS island_start,
             max(ship_e) AS island_end, count(*)::BIGINT AS n_intervals
      FROM g GROUP BY l_suppkey, island""",

    // decimal-exact nation/region revenue, one IEEE division for share
    "q_share_of_parent" -> """
      WITH rev AS (
        SELECT r_name, n_name,
               sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS rev
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name)
      SELECT r_name, n_name,
             CAST(rev AS DOUBLE) AS nation_rev,
             CAST(sum(rev) OVER (PARTITION BY r_name) AS DOUBLE)
               AS region_rev,
             CAST(rev AS DOUBLE) /
               CAST(sum(rev) OVER (PARTITION BY r_name) AS DOUBLE)
               AS share
      FROM rev""",

    // the bitmap aggregate's popcount must equal plain COUNT(DISTINCT)
    "q_bitmap_distinct" -> """
      SELECT o_orderpriority,
             COUNT(DISTINCT o_custkey)::BIGINT AS n_customers
      FROM orders GROUP BY o_orderpriority""",

    // the oracle pays the id-level self-join the bitmaps avoid; the
    // pair frame comes from the segment cross so zero-overlap pairs
    // still surface (Spark emits them with n_overlap = 0)
    "q_bitmap_overlap" -> """
      WITH du AS (SELECT DISTINCT event_type, user_id FROM events
                  WHERE user_id IS NOT NULL),
      o AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                   count(*)::BIGINT AS n_overlap
            FROM du a JOIN du b USING (user_id)
            WHERE a.event_type < b.event_type GROUP BY 1, 2),
      c AS (SELECT event_type, count(*)::BIGINT AS n FROM du GROUP BY 1)
      SELECT ca.event_type AS type_a, cb.event_type AS type_b,
             COALESCE(o.n_overlap, 0)::BIGINT AS n_overlap,
             (ca.n + cb.n - COALESCE(o.n_overlap, 0))::BIGINT AS n_union
      FROM c ca JOIN c cb ON ca.event_type < cb.event_type
      LEFT JOIN o ON o.type_a = ca.event_type
                 AND o.type_b = cb.event_type""",

    // hop-capped recursive walk; UNION dedups the (node, dist) frontier,
    // min(dist) = exact BFS level while eccentricity < the shared cap
    "q_bfs_hops" -> """
      WITH RECURSIVE
        e AS (SELECT DISTINCT o_custkey AS src,
                     l_suppkey + 10000000 AS dst
              FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        ue AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        walk (node, dist) AS (
          SELECT CAST(1 AS BIGINT) AS node, 0 AS dist
          UNION
          SELECT ue.dst, w.dist + 1
          FROM walk w JOIN ue ON ue.src = w.node
          WHERE w.dist < 8)
      SELECT node, MIN(dist)::INT AS dist FROM walk GROUP BY node""",

    // enumerate every walk with cumulative distance < 20 (superset of
    // all optimal paths on this fixture), then min — Bellman-Ford twin
    "q_sssp_weighted" -> """
      WITH RECURSIVE
        e0 AS (SELECT o_custkey AS src, l_suppkey + 10000000 AS dst,
                      1 + (l_suppkey % 2) AS w
               FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        em AS (SELECT src, dst, MIN(w) AS w FROM (
                 SELECT src, dst, w FROM e0
                 UNION ALL SELECT dst, src, w FROM e0)
               GROUP BY src, dst),
        walk (node, dist) AS (
          SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
          UNION
          SELECT em.dst, w.dist + em.w
          FROM walk w JOIN em ON em.src = w.node
          WHERE w.dist < 20)
      SELECT node, MIN(dist) AS dist FROM walk GROUP BY node""",

    // permutation graph ⇒ uniform 1/12 is the exact fixed point; the
    // engine runs the real 3-iteration distributed loop and must land on
    // it for every node (round 9dp absorbs last-bit recurrence drift)
    "q_pagerank_planted" -> """
      SELECT unnest([0,1,2,3,4,5,6,7,10,11,12,13])::BIGINT AS node,
             0.083333333::DOUBLE AS pr""",

    "q_scd2_history" -> """
      WITH v1 AS (SELECT doc_id, text FROM documents),
      v2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                    ELSE text END AS text
        FROM v1 WHERE doc_id % 7 <> 0),
      v3 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN text || ' v3'
                    ELSE text END AS text
        FROM v2 WHERE doc_id % 11 <> 0),
      h AS (
        SELECT doc_id, 1::BIGINT AS v, md5(text) AS content_hash FROM v1
        UNION ALL
        SELECT doc_id, 2::BIGINT, md5(text) FROM v2
        UNION ALL
        SELECT doc_id, 3::BIGINT, md5(text) FROM v3),
      s AS (
        SELECT *, lag(content_hash) OVER w AS ph, lag(v) OVER w AS pv
        FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY v)),
      f AS (
        SELECT *, CASE WHEN ph IS NULL OR ph <> content_hash
                         OR pv <> v - 1 THEN 1 ELSE 0 END AS st
        FROM s),
      g AS (
        SELECT *, sum(st) OVER (PARTITION BY doc_id ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS run
        FROM f),
      r AS (
        SELECT doc_id, content_hash, min(v) AS valid_from, max(v) AS vto
        FROM g GROUP BY doc_id, run, content_hash)
      SELECT doc_id, content_hash, valid_from,
             (CASE WHEN vto = 3 THEN NULL ELSE vto END)::BIGINT AS valid_to,
             vto = 3 AS is_current
      FROM r""",

    "q_resample_ffill" -> """
      WITH s AS (
        SELECT user_id, epoch_us(ts) // 21600000000 AS slot,
               ts, event_id, value
        FROM events),
      o AS (
        SELECT user_id, slot, value::DOUBLE AS obs, n_obs FROM (
          SELECT user_id, slot, value,
                 row_number() OVER (PARTITION BY user_id, slot
                   ORDER BY ts DESC, event_id DESC) AS rn,
                 count(*) OVER (PARTITION BY user_id, slot) AS n_obs
          FROM s) t WHERE rn = 1),
      g AS (
        SELECT user_id, unnest(range(mn, mx + 1)) AS slot
        FROM (SELECT user_id, min(slot) AS mn, max(slot) AS mx
              FROM o GROUP BY 1) sp),
      j AS (
        SELECT g.user_id, g.slot, o.obs,
               coalesce(o.n_obs, 0)::BIGINT AS n_obs
        FROM g LEFT JOIN o ON g.user_id = o.user_id AND g.slot = o.slot)
      SELECT user_id, make_timestamp(slot * 21600000000) AS slot_ts,
             n_obs, obs IS NULL AS is_gap,
             last_value(obs IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY slot
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
      FROM j""",

    // the ffill oracle plus bracketing prev/next windows; gap value =
    // pv + (nv - pv) * ((slot - ps) / (ns - ps)), op order mirrored
    "q_resample_interp" -> """
      WITH s AS (
        SELECT user_id, epoch_us(ts) // 21600000000 AS slot,
               ts, event_id, value
        FROM events),
      o AS (
        SELECT user_id, slot, value::DOUBLE AS obs, n_obs FROM (
          SELECT user_id, slot, value,
                 row_number() OVER (PARTITION BY user_id, slot
                   ORDER BY ts DESC, event_id DESC) AS rn,
                 count(*) OVER (PARTITION BY user_id, slot) AS n_obs
          FROM s) t WHERE rn = 1),
      g AS (
        SELECT user_id, unnest(range(mn, mx + 1)) AS slot
        FROM (SELECT user_id, min(slot) AS mn, max(slot) AS mx
              FROM o GROUP BY 1) sp),
      j AS (
        SELECT g.user_id, g.slot, o.obs,
               coalesce(o.n_obs, 0)::BIGINT AS n_obs
        FROM g LEFT JOIN o ON g.user_id = o.user_id AND g.slot = o.slot),
      k AS (
        SELECT user_id, slot, obs, n_obs,
               last_value(obs IGNORE NULLS) OVER wp AS pv,
               last_value(CASE WHEN obs IS NOT NULL THEN slot END
                 IGNORE NULLS) OVER wp AS ps,
               first_value(obs IGNORE NULLS) OVER wn AS nv,
               first_value(CASE WHEN obs IS NOT NULL THEN slot END
                 IGNORE NULLS) OVER wn AS ns
        FROM j
        WINDOW wp AS (PARTITION BY user_id ORDER BY slot
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY user_id ORDER BY slot
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      SELECT user_id, make_timestamp(slot * 21600000000) AS slot_ts,
             n_obs, obs IS NULL AS is_gap,
             CASE WHEN obs IS NOT NULL THEN obs
                  ELSE pv + (nv - pv) *
                    ((slot - ps)::DOUBLE / (ns - ps)::DOUBLE) END
               AS value
      FROM k""",

    "q_cohort_retention" -> """
      WITH f AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        FROM events GROUP BY 1),
      a AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week
        FROM events),
      s AS (
        SELECT cohort_week, count(*) AS cohort_size FROM f GROUP BY 1),
      r AS (
        SELECT f.cohort_week,
               (date_diff('day', f.cohort_week, a.activity_week) // 7)::INT
                 AS week_offset,
               count(DISTINCT a.user_id) AS n_active
        FROM a JOIN f USING (user_id) GROUP BY 1, 2)
      SELECT r.cohort_week, r.week_offset, r.n_active, s.cohort_size,
             round(r.n_active::DOUBLE / s.cohort_size, 6) AS retention
      FROM r JOIN s USING (cohort_week)""",

    "q_pmi_collocations" -> """
      WITH base AS (
        SELECT list_filter(regexp_split_to_array(lower(text), '\s+'),
                 t -> t <> '') AS tk
        FROM documents),
      bi AS (
        SELECT tk[i - 1] AS prev, tk[i] AS cur
        FROM base, unnest(range(2, len(tk) + 1)) r(i)
        WHERE len(tk) >= 2),
      uni AS (
        SELECT tok, count(*) AS cu FROM (
          SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
          FROM documents)
        WHERE tok <> '' GROUP BY tok),
      pairs AS (
        SELECT prev, cur, count(*) AS c_pair FROM bi GROUP BY prev, cur),
      t AS (SELECT count(*)::DOUBLE AS t_bigrams FROM bi)
      SELECT prev, cur, c_pair, up.cu AS c_prev, uc.cu AS c_cur,
             round(ln((t_bigrams * c_pair)
               / (up.cu::DOUBLE * uc.cu::DOUBLE)), 6) AS pmi
      FROM pairs
      JOIN uni up ON up.tok = pairs.prev
      JOIN uni uc ON uc.tok = pairs.cur
      CROSS JOIN t
      WHERE c_pair >= 3""",

    // rebuilds the 64-dim hashed tf (the q_hashing_tf recipe), applies
    // the closed-form fixed-point weights: integer dot ⇒ exact, then one
    // division + exp per row (rounded)
    "q_quality_classifier" -> """
      WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        FROM documents),
      cells AS (
        SELECT doc_id,
               ('0x' || substr(md5('tf_' || tok), 1, 8))::BIGINT % 64
                 AS cell,
               count(*)::BIGINT AS c
        FROM toks WHERE tok <> '' GROUP BY 1, 2),
      m AS (
        SELECT doc_id,
               map_from_entries(list(struct_pack(k := cell, v := c))) AS mp
        FROM cells GROUP BY doc_id),
      tf AS (
        SELECT doc_id,
               list_transform(range(0, 64),
                 i -> coalesce(map_extract(mp, i)[1], 0)::BIGINT) AS v
        FROM m),
      w AS (
        SELECT list_transform(range(0, 64),
          i -> (i * 2654435761) % 1000 - 500) AS wv),
      scored AS (
        SELECT doc_id,
               list_sum(v)::BIGINT AS n_tokens,
               list_sum(list_transform(range(1, 65),
                 i -> v[i] * wv[i]))::BIGINT AS dot
        FROM tf CROSS JOIN w)
      SELECT doc_id, n_tokens,
             dot::DOUBLE / (1000.0 * n_tokens) AS logit,
             round(1.0 / (1.0 + exp(-(dot::DOUBLE / (1000.0 * n_tokens)))),
               6) AS score,
             1.0 / (1.0 + exp(-(dot::DOUBLE / (1000.0 * n_tokens)))) >= 0.5
               AS keep
      FROM scored WHERE n_tokens > 0""",

    "q_hashing_tf" -> """
      WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        FROM documents),
      cells AS (
        SELECT doc_id,
               ('0x' || substr(md5('tf_' || tok), 1, 8))::BIGINT % 64
                 AS cell,
               count(*)::BIGINT AS c
        FROM toks WHERE tok <> '' GROUP BY 1, 2),
      m AS (
        SELECT doc_id,
               map_from_entries(list(struct_pack(k := cell, v := c))) AS mp
        FROM cells GROUP BY doc_id)
      SELECT doc_id,
             array_to_string(list_transform(range(0, 64),
               i -> coalesce(map_extract(mp, i)[1], 0)::BIGINT), ',') AS tf
      FROM m""",

    "q_semantic_decontam" -> """
      SELECT vec_id, vec_id < 10 AS contaminated FROM embeddings""",

    "q_bloom_decontam" -> """
      WITH toked AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      ngr AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t) - 3),
                 i -> array_to_string(t[i:i+4], ' '))) AS ng
        FROM toked WHERE len(t) >= 5),
      setbits AS (
        SELECT DISTINCT
               ('0x' || substr(md5('bf' || j::VARCHAR || '_' || ng), 1, 8))
                 ::BIGINT % 16384 AS p
        FROM (SELECT DISTINCT ng FROM ngr WHERE doc_id < 5), range(0, 3) r(j)),
      probe AS (
        SELECT doc_id, ng,
               bool_and(('0x' || substr(md5('bf' || j::VARCHAR || '_' || ng),
                 1, 8))::BIGINT % 16384 IN (SELECT p FROM setbits)) AS hit
        FROM (SELECT doc_id, ng FROM ngr WHERE doc_id >= 5), range(0, 3) r(j)
        GROUP BY doc_id, ng)
      SELECT doc_id, count(*)::BIGINT AS n_ngrams,
             sum(CASE WHEN hit THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
             (sum(CASE WHEN hit THEN 1 ELSE 0 END) > 0) AS contaminated
      FROM probe GROUP BY doc_id""",

    "q_utf8_normalize" -> """
      WITH raw AS (
        SELECT doc_id,
               'Cafe' || chr(769) || ' nai' || chr(776) || 've A' ||
               chr(778) || 'ngstro' || chr(776) || 'm ' || text AS s
        FROM documents)
      SELECT doc_id,
             md5(nfc_normalize(s)) AS nfc_digest,
             md5(strip_accents(nfc_normalize(s))) AS folded_digest,
             length(s)::INT AS n_chars_raw,
             length(nfc_normalize(s))::INT AS n_chars_nfc
      FROM raw""",

    // blocklist screen: the oracle is the definitional per-term
    // contains() filter over the same literal list (same order) — the
    // automaton must agree with it term-for-term
    "q_blocklist_hits" -> s"""
      WITH t AS (SELECT doc_id, lower(coalesce(text, '')) AS txt
                 FROM documents),
      h AS (SELECT doc_id,
              list_filter(${graft.functions.GraftFunctions.blockTermsSqlList},
                p -> contains(txt, p)) AS hl
            FROM t)
      SELECT doc_id, coalesce(array_to_string(hl, '|'), '') AS hits,
             len(hl)::BIGINT AS n_hits
      FROM h""",

    "q_strip_markup" -> """
      WITH w AS (
        SELECT doc_id,
          '<html><head><title>T</title><style>p{color:red}</style>' ||
          '</head><body><!-- boilerplate --><p class="x">' || text ||
          ' &amp; more &lt;tags&gt;&nbsp;here</p>' ||
          '<script type="text/javascript">var x = "<p>nested</p>";' ||
          '</script></body></html>' AS s
        FROM documents),
      c AS (
        SELECT doc_id, s, trim(regexp_replace(
          replace(replace(replace(replace(replace(replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(s, '(?is)<script[^>]*>.*?</script>',
                    ' ', 'g'),
                '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
              '(?s)<!--.*?-->', ' ', 'g'),
            '(?s)<[^>]+>', ' ', 'g'),
          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
          '&nbsp;', ' '), '&amp;', '&'),
          '\s+', ' ', 'g')) AS clean
        FROM w)
      SELECT doc_id, md5(clean) AS clean_digest,
             length(clean)::INT AS n_chars_clean,
             length(s)::INT AS n_chars_raw
      FROM c""",

    "q_url_parse" -> """
      WITH u AS (
        SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN
            'HTTPS://User:Pw@WWW.' || source || '.Example.COM:443/Docs/' ||
            doc_id || '?utm_source=feed&id=' || doc_id ||
            '&utm_campaign=x#sec-' || lang
          WHEN doc_id % 3 = 1 THEN
            'http://cdn.' || source || '.example.org:8080/a/' || doc_id
          ELSE 'www.' || source || '.example.net/' || doc_id END AS s
        FROM documents),
      parts AS (
        SELECT doc_id, s,
          lower(regexp_extract(s, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
            AS scheme,
          lower(regexp_extract(s,
            '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)', 1))
            AS host,
          regexp_extract(s,
            '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?[^/?#:]*:([0-9]+)', 1)
            AS port,
          regexp_extract(s, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
            AS path,
          regexp_extract(s, '\?([^#]*)', 1) AS query_str
        FROM u),
      norm AS (
        SELECT doc_id, regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(
            regexp_replace(regexp_replace(
              regexp_replace(regexp_replace(
                regexp_replace(
                  CASE WHEN regexp_extract(s,
                      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) = '' THEN s
                  ELSE lower(regexp_extract(s,
                    '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)) ||
                  regexp_extract(s,
                    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) END,
                '^([a-z][a-z0-9+.-]*://)[^/?#@]*@', '\1'),
              '#.*$', ''),
            '^(https://[^/?#:]*):443($|[/?#].*)', '\1\2'),
          '^(http://[^/?#:]*):80($|[/?#].*)', '\1\2'),
              '([?&])utm_[^&#]*', '\1', 'g'),
            '\?&+', '?'), '&&+', '&', 'g'),
          '[?&]$', ''), '\?$', '') AS norm_url
        FROM u)
      SELECT p.doc_id, scheme, host, port, path, query_str,
             regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS reg_domain,
             norm_url
      FROM parts p JOIN norm USING (doc_id)""",

    "q_compress_quality_planted" -> """
      WITH p AS (
        SELECT (900000000 + i)::BIGINT AS doc_id,
               CASE WHEN i < 10 THEN repeat('spam ', 120)
               ELSE base64(unhex(md5(i::VARCHAR)) ||
                    unhex(md5((i+1000)::VARCHAR)) ||
                    unhex(md5((i+2000)::VARCHAR)) ||
                    unhex(md5((i+3000)::VARCHAR)) ||
                    unhex(md5((i+4000)::VARCHAR)) ||
                    unhex(md5((i+5000)::VARCHAR)) ||
                    unhex(md5((i+6000)::VARCHAR)) ||
                    unhex(md5((i+7000)::VARCHAR)))
               END AS text
        FROM range(0, 20) r(i))
      SELECT doc_id, octet_length(text::BLOB)::INT AS n_bytes,
             (doc_id < 900000010) AS too_repetitive,
             (doc_id >= 900000010) AS too_random
      FROM p""",

    "q_incr_dedup_planted" -> """
      WITH b AS (SELECT doc_id AS s FROM documents WHERE doc_id < 12),
      f AS (SELECT doc_id AS s FROM documents
            WHERE doc_id >= 110 AND doc_id < 120)
      SELECT s * 10 + 1 AS id, true AS dup_of_index,
             false AS dup_in_batch FROM b
      UNION ALL
      SELECT s * 10 + 2, true, true FROM b WHERE s < 6
      UNION ALL
      SELECT s * 10, false, false FROM f""",

    "q_stream_neardup" -> """
      WITH b AS (SELECT doc_id AS s FROM documents WHERE doc_id < 12),
      f AS (SELECT doc_id AS s FROM documents
            WHERE doc_id >= 110 AND doc_id < 120)
      SELECT s * 10 + 1 AS doc_id, true AS dup_of_index FROM b
      UNION ALL
      SELECT s * 10, false FROM f""",

    // the ingest screen replays exactly: day-2 quality arrivals vs
    // exact trigram Jaccard >= 0.6 against day-1 S2 (the signature
    // index's membership) — the est-tier/exact-tier agreement the
    // corpus-incremental gate already hash-proves on this corpus
    "q_stream_neardup_screen" -> """
      WITH q AS (
        SELECT doc_id, text FROM documents
        WHERE lang IN ('en', 'de', 'fr')
          AND len(string_split(text, ' ')) BETWEEN 20 AND 1000
          AND length(text)::DOUBLE / len(string_split(text, ' ')) < 12),
      q1 AS (SELECT * FROM q
             WHERE doc_id < (SELECT (max(doc_id)*2)//3 + 1 FROM documents)),
      keep1 AS (SELECT min(doc_id) AS doc_id FROM q1 GROUP BY text),
      s2_1 AS (SELECT q1.* FROM q1 JOIN keep1 USING (doc_id)),
      qd AS (SELECT * FROM q
             WHERE doc_id >= (SELECT (max(doc_id)*2)//3 + 1 FROM documents)),
      w1 AS (SELECT doc_id, list_filter(string_split(lower(text), ' '),
               t -> t <> '') AS w FROM s2_1),
      wd AS (SELECT doc_id, list_filter(string_split(lower(text), ' '),
               t -> t <> '') AS w FROM qd),
      sh1 AS (SELECT doc_id, list_distinct(list_transform(
                range(1, len(w) - 1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tk
              FROM w1),
      shd AS (SELECT doc_id, list_distinct(list_transform(
                range(1, len(w) - 1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tk
              FROM wd),
      t1 AS (SELECT doc_id, len(tk)::INT AS n, unnest(tk) AS tok
             FROM sh1 WHERE len(tk) > 0),
      td AS (SELECT doc_id, len(tk)::INT AS n, unnest(tk) AS tok
             FROM shd WHERE len(tk) > 0),
      ov AS (SELECT d.doc_id AS did, o.doc_id AS oid,
                    d.n AS nd, o.n AS no, count(*) AS ovl
             FROM td d JOIN t1 o ON d.tok = o.tok
             GROUP BY 1, 2, 3, 4),
      dup AS (SELECT DISTINCT did FROM ov
              WHERE ovl * 1.0 / (nd + no - ovl) >= 0.6)
      SELECT qd.doc_id, (dup.did IS NOT NULL) AS dup_of_index
      FROM qd LEFT JOIN dup ON qd.doc_id = dup.did""",

    "q7_volume" -> """
      SELECT supp_nation, cust_nation, l_year,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
               AS revenue
      FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate)::INT AS l_year,
               l_extendedprice, l_discount
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))) t
      GROUP BY 1, 2, 3""",

    "q10_returned" -> """
      SELECT c_custkey, c_name, n_name,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
               AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
      GROUP BY 1, 2, 3
      ORDER BY revenue DESC, c_custkey LIMIT 20""",

    "q18_large_orders" -> """
      WITH big AS (
        SELECT l_orderkey,
               sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        FROM lineitem GROUP BY 1
        HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 180)
      SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
             CAST(qty AS DOUBLE) AS total_qty
      FROM big
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",

    "q_window_distribution" -> """
      SELECT o_orderkey, o_orderpriority,
             ntile(8) OVER w::INT AS bucket8,
             percent_rank() OVER w AS pct_rank,
             cume_dist() OVER w AS cume
      FROM orders
      WHERE o_orderkey % 20 = 0
      WINDOW w AS (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey)""",

    "q_jsonl_quarantine" -> """
      WITH feed AS (
        SELECT doc_id,
               '{"id":' || doc_id || ',"lang":"' || lang ||
               '","n_chars":' || n_chars || '}' AS line,
               (doc_id % 7 = 0) AS corrupt
        FROM documents)
      SELECT doc_id, NOT corrupt AS ok,
             CASE WHEN corrupt THEN substr(line, 1, 10) END AS raw_line,
             CASE WHEN NOT corrupt THEN doc_id END AS j_id,
             CASE WHEN NOT corrupt THEN
               json_extract_string(line, '$.lang') END AS j_lang,
             CASE WHEN NOT corrupt THEN
               json_extract_string(line, '$.n_chars')::BIGINT
             END AS j_n_chars
      FROM feed""",

    "q_corpus_merge" -> """
      WITH up AS (
        SELECT doc_id, text || ' v2' AS text FROM documents
        WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 100000000, text FROM documents WHERE doc_id < 10),
      del AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0),
      survivors AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM up)
          AND doc_id NOT IN (SELECT doc_id FROM del)),
      applied AS (
        SELECT doc_id, text FROM up
        WHERE doc_id NOT IN (SELECT doc_id FROM del))
      SELECT doc_id, md5(text) AS content_hash
      FROM (SELECT * FROM survivors UNION ALL SELECT * FROM applied)""",

    "q_cdc_apply" -> """
      WITH ch AS (
        SELECT user_id AS c_custkey, ts, event_id,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               value AS new_acctbal,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn
        FROM events),
      latest AS (SELECT * FROM ch WHERE rn = 1)
      SELECT c_custkey, c.c_name, c.c_nationkey,
             CASE WHEN l.op IS NOT NULL THEN l.new_acctbal
                  ELSE c.c_acctbal END AS c_acctbal,
             c.c_mktsegment,
             l.ts AS last_change_ts, l.event_id AS last_change_id
      FROM customer c FULL JOIN latest l USING (c_custkey)
      WHERE l.op IS NULL OR l.op <> 'D'""",

    "q_triangle_counts" -> """
      WITH e AS (
        SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        FROM lineitem x JOIN lineitem y USING (l_orderkey)
        WHERE x.l_partkey < y.l_partkey),
      tri AS (
        SELECT e1.a AS u, e1.b AS v, e2.b AS w
        FROM e e1 JOIN e e2 ON e1.b = e2.a
                  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      corners AS (
        SELECT u AS node FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri)
      SELECT node, count(*)::BIGINT AS triangles
      FROM corners GROUP BY node""",

    // same edge/triangle CTEs; cc = 2T/(d(d-1)) emitted as the RAW IEEE
    // division both engines compute identically on exact counts (the
    // q_window_distribution no-rounding precedent)
    "q_clustering_coeff" -> """
      WITH e AS (
        SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        FROM lineitem x JOIN lineitem y USING (l_orderkey)
        WHERE x.l_partkey < y.l_partkey
          AND x.l_partkey % 4 = 0 AND y.l_partkey % 4 = 0),
      deg AS (
        SELECT node, count(*)::BIGINT AS degree FROM (
          SELECT a AS node FROM e UNION ALL SELECT b FROM e) ends
        GROUP BY node),
      tri AS (
        SELECT e1.a AS u, e1.b AS v, e2.b AS w
        FROM e e1 JOIN e e2 ON e1.b = e2.a
                  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      corners AS (
        SELECT u AS node FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri),
      t AS (
        SELECT node, count(*)::BIGINT AS triangles
        FROM corners GROUP BY node)
      SELECT d.node, d.degree,
             coalesce(t.triangles, 0)::BIGINT AS triangles,
             CASE WHEN d.degree >= 2
                  THEN 2.0 * coalesce(t.triangles, 0)
                       / (d.degree * (d.degree - 1))
                  ELSE 0.0 END AS clustering
      FROM deg d LEFT JOIN t USING (node)""",

    // Adamic–Adar: same co-purchase slice; candidate pairs BY CENTER
    // (the hub cap is inert at this scale — max degree ≪ 100000), sum
    // of 1/ln(deg) rounded 6dp, existing edges anti-joined out, top-50
    // on the ROUNDED score with (u, v) tie-break
    "q_adamic_adar" -> """
      WITH e AS (
        SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        FROM lineitem x JOIN lineitem y USING (l_orderkey)
        WHERE x.l_partkey < y.l_partkey
          AND x.l_partkey % 4 = 0 AND y.l_partkey % 4 = 0),
      adj AS (
        SELECT a AS w, b AS n FROM e
        UNION ALL SELECT b AS w, a AS n FROM e),
      deg AS (SELECT w, count(*)::BIGINT AS d FROM adj GROUP BY w),
      c AS (
        SELECT adj.w, adj.n, deg.d
        FROM adj JOIN deg USING (w)
        WHERE deg.d >= 2 AND deg.d <= 100000),
      p AS (
        SELECT l.n AS u, r.n AS v, count(*)::BIGINT AS n_common,
               round(sum(1.0 / ln(l.d)), 6) AS aa_score
        FROM c l JOIN c r ON l.w = r.w AND l.n < r.n
        GROUP BY 1, 2)
      SELECT u, v, n_common, aa_score
      FROM p
      WHERE NOT EXISTS (
        SELECT 1 FROM e WHERE e.a = p.u AND e.b = p.v)
      ORDER BY aa_score DESC, u, v LIMIT 50""",

    "q_linreg_group" -> """
      WITH sums AS (
        SELECT l_returnflag, count(*)::BIGINT AS n,
               sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
               sum(CAST(l_quantity AS DECIMAL(18,2))
                   * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
               sum(CAST(l_quantity AS DECIMAL(18,2))
                   * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
        FROM lineitem GROUP BY l_returnflag),
      m AS (
        SELECT l_returnflag, n,
               n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE AS cov,
               n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE AS vx,
               n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE AS vy,
               sx::DOUBLE AS sxd, sy::DOUBLE AS syd
        FROM sums)
      SELECT l_returnflag, n,
             cov / vx AS slope,
             (syd - cov / vx * sxd) / n::DOUBLE AS intercept,
             cov * cov / (vx * vy) AS r2
      FROM m""",

    "q_kanon_audit" -> """
      SELECT lang, source,
             CAST(n_chars // 100 AS BIGINT) AS len_bucket,
             count(*)::BIGINT AS cnt,
             count(*) < 10 AS at_risk
      FROM documents
      GROUP BY lang, source, len_bucket""",

    // per-group categorical entropy: p*ln(p) terms folded in sorted
    // category order (NULLS FIRST matches Spark's sort_array), 6dp
    "q_source_entropy" -> """
      WITH cells AS (
        SELECT lang, source::VARCHAR AS c, count(*)::BIGINT AS cnt
        FROM documents GROUP BY 1, 2),
      withn AS (
        SELECT lang, c, cnt,
               sum(cnt) OVER (PARTITION BY lang)::BIGINT AS n
        FROM cells),
      g AS (SELECT lang, max(n)::BIGINT AS n,
              count(*)::BIGINT AS n_categories,
              list_reduce(list_prepend(0.0,
                list(cnt::DOUBLE / n::DOUBLE
                     * ln(cnt::DOUBLE / n::DOUBLE)
                     ORDER BY c NULLS FIRST)),
                (a, x) -> a + x) AS acc
            FROM withn GROUP BY lang)
      SELECT lang, n, n_categories,
             round(-acc, 6) AS entropy,
             CASE WHEN n_categories = 1 THEN NULL
               ELSE round(-acc / ln(n_categories::DOUBLE), 6) END
               AS norm_entropy
      FROM g""",

    // l-diversity: distinct sensitive (source) values per
    // quasi-identifier group; a homogeneous group is at risk even
    // when k-anonymous
    "q_ldiv_audit" -> """
      SELECT lang,
             CAST(n_chars // 100 AS BIGINT) AS len_bucket,
             count(*)::BIGINT AS cnt,
             count(DISTINCT source)::BIGINT AS n_sensitive,
             count(DISTINCT source) < 3 AS at_risk
      FROM documents
      GROUP BY lang, len_bucket""",

    // t-closeness: variational distance per combo vs the global source
    // mix via the closed form over OBSERVED cells only (absent values
    // fold into 1 − Σ_{v∈g} p(v)); numerators exact HUGEINT, t one
    // VARCHAR-roundtripped IEEE chain — hash-gate exact
    "q_tclose_audit" -> """
      WITH cells AS (
        SELECT lang, CAST(n_chars // 100 AS BIGINT) AS len_bucket,
               source AS v, count(*)::BIGINT AS c
        FROM documents GROUP BY 1, 2, 3),
      gdist AS (SELECT v, sum(c)::BIGINT AS cv FROM cells GROUP BY v),
      na AS (SELECT sum(cv)::BIGINT AS nn FROM gdist),
      pern AS (SELECT lang, len_bucket, sum(c)::BIGINT AS ng
               FROM cells GROUP BY 1, 2),
      j AS (SELECT cells.lang AS lang, cells.len_bucket AS len_bucket,
              c, cv, ng, nn
            FROM cells
            JOIN pern ON cells.lang IS NOT DISTINCT FROM pern.lang
              AND cells.len_bucket IS NOT DISTINCT FROM pern.len_bucket
            JOIN gdist ON cells.v = gdist.v
            CROSS JOIN na),
      perg AS (SELECT lang, len_bucket, max(ng)::BIGINT AS cnt,
                 max(nn)::BIGINT AS nx,
                 sum(abs(c::HUGEINT * nn - cv::HUGEINT * ng)) AS s,
                 sum(cv::HUGEINT) AS tg
               FROM j GROUP BY 1, 2),
      res AS (SELECT lang, len_bucket, cnt,
                (CAST(CAST(s AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(cnt::HUGEINT * nx AS VARCHAR) AS DOUBLE)
                 + 1.0 - CAST(CAST(tg AS VARCHAR) AS DOUBLE)
                   / nx::DOUBLE) / 2.0 AS t_dist
              FROM perg)
      SELECT lang, len_bucket, cnt, t_dist, t_dist > 0.2 AS at_risk
      FROM res""",

    // robust scaling: quantile_disc = the element at 1-based rank
    // ceil(q*n) (verified r7) replays the operator's exact discrete
    // quartiles; scaled is ONE IEEE division of exact integers (raw)
    "q_robust_scale" -> """
      WITH stats AS (
        SELECT lang, quantile_disc(n_chars, 0.25) AS q1,
               quantile_disc(n_chars, 0.5) AS med,
               quantile_disc(n_chars, 0.75) AS q3
        FROM documents GROUP BY lang)
      SELECT doc_id, d.lang AS lang, n_chars,
             CASE WHEN n_chars IS NULL OR q3 IS NULL OR q3 = q1
               THEN NULL
               ELSE (n_chars::DOUBLE - med::DOUBLE)
                    / (q3::DOUBLE - q1::DOUBLE) END AS scaled
      FROM documents d LEFT JOIN stats USING (lang)""",

    "q_sample_weighted" -> """
      WITH g AS (SELECT max(n_chars) AS wmax FROM documents)
      SELECT doc_id, lang, n_chars
      FROM documents CROSS JOIN g
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              * wmax
            < n_chars * 4294967296""",

    "q_token_entropy" -> """
      WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '),
                 t -> t <> '')) AS tok
        FROM documents),
      c AS (SELECT doc_id, tok, count(*) AS c
            FROM toks GROUP BY doc_id, tok)
      SELECT doc_id, sum(c)::BIGINT AS n_tokens,
             count(*)::BIGINT AS n_types,
             count(*)::DOUBLE / sum(c)::DOUBLE AS ttr,
             round(ln(sum(c)::DOUBLE)
               - sum(c::DOUBLE * ln(c::DOUBLE)) / sum(c)::DOUBLE, 6)
               AS entropy
      FROM c GROUP BY doc_id""",

    "q_lateral_topk" -> """
      SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      FROM customer c,
      LATERAL (SELECT o_orderkey, o_totalprice
               FROM orders
               WHERE o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey
               LIMIT 2) o""",

    // Exact Jaccard >= 0.6 pairs over word-trigram shingle sets:
    // brute-force shingle self-join oracle. One IEEE division per pair
    // on both engines — bit-identical, so the comparison and the output
    // double hash-match (NOTES.md FP taxonomy).
    "q_setsim_join" -> """
      WITH base AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '),
                 t -> t <> '') AS w
        FROM documents),
      sized AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tk
        FROM base WHERE len(w) >= 3),
      tok AS (
        SELECT doc_id, len(tk)::INT AS n, unnest(tk) AS tok
        FROM sized WHERE len(tk) > 0),
      ov AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               a.n AS n1, b.n AS n2, count(*)::INT AS overlap
        FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4)
      SELECT id1, id2, n1, n2, overlap,
             overlap * 1.0 / (n1 + n2 - overlap) AS jaccard
      FROM ov
      WHERE overlap * 1.0 / (n1 + n2 - overlap) >= 0.6""",

    // Cross-corpus linkage: brute-force R-S Jaccard over the corpus and
    // the derived re-crawl (same shingle recipe, no id1<id2 cut).
    "q_setsim_linkage" -> """
      WITH basel AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '),
                 t -> t <> '') AS w
        FROM documents),
      sizedl AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tk
        FROM basel WHERE len(w) >= 3),
      baser AS (
        SELECT doc_id + 700000000 AS doc_id,
               list_filter(string_split(lower(text || ' zz qq'), ' '),
                 t -> t <> '') AS w
        FROM documents WHERE doc_id % 17 = 0),
      sizedr AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tk
        FROM baser WHERE len(w) >= 3),
      tokl AS (
        SELECT doc_id, len(tk)::INT AS n, unnest(tk) AS tok
        FROM sizedl WHERE len(tk) > 0),
      tokr AS (
        SELECT doc_id, len(tk)::INT AS n, unnest(tk) AS tok
        FROM sizedr WHERE len(tk) > 0),
      ov AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               a.n AS n1, b.n AS n2, count(*)::INT AS overlap
        FROM tokl a JOIN tokr b ON a.tok = b.tok
        GROUP BY 1, 2, 3, 4)
      SELECT id1, id2, n1, n2, overlap,
             overlap * 1.0 / (n1 + n2 - overlap) AS jaccard
      FROM ov
      WHERE overlap * 1.0 / (n1 + n2 - overlap) >= 0.8""",

    // CMS inner-product join-size estimate: the oracle rebuilds both
    // sketches cell-for-cell (q_cms_freq recipe) and takes the min
    // per-row dot product — estimate hash-matches exactly.
    "q_join_card_est" -> """
      WITH ca AS (
        SELECT r, ('0x' || substr(md5('cms' || r::VARCHAR || '_' ||
                 o_custkey::VARCHAR), 1, 8))::BIGINT % 1024 AS cell,
               count(*) AS c
        FROM orders CROSS JOIN range(4) t(r) GROUP BY 1, 2),
      cb AS (
        SELECT r, ('0x' || substr(md5('cms' || r::VARCHAR || '_' ||
                 c_custkey::VARCHAR), 1, 8))::BIGINT % 1024 AS cell,
               count(*) AS c
        FROM customer CROSS JOIN range(4) t(r) GROUP BY 1, 2),
      dots AS (
        SELECT ca.r, sum(ca.c * cb.c)::BIGINT AS dot
        FROM ca JOIN cb ON ca.r = cb.r AND ca.cell = cb.cell
        GROUP BY 1),
      ex AS (
        SELECT count(*)::BIGINT AS exact_join_size
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
      SELECT (SELECT min(dot) FROM dots)::BIGINT AS est_join_size,
             exact_join_size
      FROM ex""",

    // Global 0-based sequence in (ts, event_id) order; per-day
    // min/max/sum of the contiguous range are closed-form, so a single
    // misplaced bucket offset breaks the hash.
    "q_global_seq" -> """
      WITH s AS (
        SELECT event_id, ts,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS seq
        FROM events)
      SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
             min(seq) AS min_seq, max(seq) AS max_seq,
             sum(seq)::BIGINT AS sum_seq,
             min_by(event_id, seq) AS first_event
      FROM s GROUP BY 1""",

    // Median/MAD token-length outliers per language. Integer token
    // counts keep medians and MADs dyadic-exact on both engines.
    "q_length_outliers" -> """
      WITH t AS (
        SELECT lang,
               len(list_filter(string_split(lower(text), ' '),
                 x -> x <> ''))::INT AS n_tokens
        FROM documents),
      m AS (SELECT lang, quantile_cont(n_tokens, 0.5) AS med
            FROM t GROUP BY 1),
      d2 AS (SELECT t.lang, abs(t.n_tokens - m.med) AS dev, m.med AS med
             FROM t JOIN m USING (lang)),
      md AS (SELECT lang, quantile_cont(dev, 0.5) AS mad
             FROM d2 GROUP BY 1)
      SELECT d2.lang, count(*) AS n,
             sum(CASE WHEN d2.dev > 3 * md.mad THEN 1 ELSE 0 END)::BIGINT
               AS n_outliers,
             min(d2.med) AS median, min(md.mad) AS mad
      FROM d2 JOIN md USING (lang) GROUP BY 1""",

    // Incremental rollup maintenance: the oracle recomputes the
    // post-CDC state from scratch — base ⊕ delta must equal it exactly
    // (decimal folds make the merge order-independent).
    "q_incremental_agg" -> """
      WITH post AS (
        SELECT o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey % 13 <> 0
        UNION ALL
        SELECT o_orderpriority, o_totalprice + 10
        FROM orders WHERE o_orderkey % 17 = 0)
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
      FROM post GROUP BY 1""",

    // Min/max IVM: deletes are each group's top-5 prices (displacing the
    // max — the non-self-maintainable case), inserts shift every 17th.
    // Oracle recomputes post-CDC from scratch; min/max pick actual
    // parquet elements so they match bit-for-bit, sum folds in decimal.
    "q_incremental_minmax" -> """
      WITH dels AS (
        SELECT o_orderkey FROM (
          SELECT o_orderkey, row_number() OVER (
            PARTITION BY o_orderpriority
            ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) r WHERE rn <= 5),
      post AS (
        SELECT o_orderpriority, o_totalprice FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM dels)
        UNION ALL
        SELECT o_orderpriority, o_totalprice + 10
        FROM orders WHERE o_orderkey % 17 = 0)
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total,
             min(o_totalprice) AS mn, max(o_totalprice) AS mx
      FROM post GROUP BY 1""",

    // Equi-depth bins: identical integer rank formula on both engines.
    "q_feature_bins" -> """
      SELECT doc_id, lang, n_chars,
             (((row_number() OVER (PARTITION BY lang
                  ORDER BY n_chars, doc_id) - 1) * 4)
               // (count(*) OVER (PARTITION BY lang)))::INT AS bin
      FROM documents""",

    // LOO target encoding: exact decimal sums, single division.
    "q_target_encode" -> """
      WITH s AS (
        SELECT o_orderpriority,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS ss,
               count(*) AS n
        FROM orders GROUP BY 1)
      SELECT o.o_orderkey, o.o_orderpriority,
             CASE WHEN s.n > 1 THEN
               CAST(ss - CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
                 / (s.n - 1)
             END AS target_enc
      FROM orders o JOIN s USING (o_orderpriority)""",

    // Pearson matrix on integer-cent moments (exact: DuckDB sums the
    // raw products in HUGEINT; Spark reassembles its hi/lo long sums
    // to the same integers). The closed form over identical doubles
    // (IEEE sqrt is correctly rounded) hashes raw.
    "q_corr_matrix" -> """
      WITH c AS (
        SELECT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS q,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS e,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
               CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS t
        FROM lineitem),
      -- ::VARCHAR::DOUBLE, not ::DOUBLE: DuckDB's direct
      -- HUGEINT->DOUBLE cast rounds by 64-bit halves and can land one
      -- ulp off the correctly-rounded value (sum(e*e) ~ 2.2e19 at
      -- sf0.1 — caught by the r15 sf0.1 STRICT sweep); the string
      -- round-trip is correctly rounded, matching Spark's
      -- DECIMAL(38)->DOUBLE
      m AS (
        SELECT count(*)::DOUBLE AS n,
          sum(q)::VARCHAR::DOUBLE AS s_q, sum(e)::VARCHAR::DOUBLE AS s_e,
          sum(d)::VARCHAR::DOUBLE AS s_d, sum(t)::VARCHAR::DOUBLE AS s_t,
          sum(q*q)::VARCHAR::DOUBLE AS ss_q,
          sum(e*e)::VARCHAR::DOUBLE AS ss_e,
          sum(d*d)::VARCHAR::DOUBLE AS ss_d,
          sum(t*t)::VARCHAR::DOUBLE AS ss_t,
          sum(q*e)::VARCHAR::DOUBLE AS sp_qe,
          sum(q*d)::VARCHAR::DOUBLE AS sp_qd,
          sum(q*t)::VARCHAR::DOUBLE AS sp_qt,
          sum(e*d)::VARCHAR::DOUBLE AS sp_ed,
          sum(e*t)::VARCHAR::DOUBLE AS sp_et,
          sum(d*t)::VARCHAR::DOUBLE AS sp_dt
        FROM c)
      SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
             (n*sp_qe - s_q*s_e) /
               (sqrt(n*ss_q - s_q*s_q) * sqrt(n*ss_e - s_e*s_e)) AS corr
      FROM m
      UNION ALL
      SELECT 'l_quantity', 'l_discount',
             (n*sp_qd - s_q*s_d) /
               (sqrt(n*ss_q - s_q*s_q) * sqrt(n*ss_d - s_d*s_d)) FROM m
      UNION ALL
      SELECT 'l_quantity', 'l_tax',
             (n*sp_qt - s_q*s_t) /
               (sqrt(n*ss_q - s_q*s_q) * sqrt(n*ss_t - s_t*s_t)) FROM m
      UNION ALL
      SELECT 'l_extendedprice', 'l_discount',
             (n*sp_ed - s_e*s_d) /
               (sqrt(n*ss_e - s_e*s_e) * sqrt(n*ss_d - s_d*s_d)) FROM m
      UNION ALL
      SELECT 'l_extendedprice', 'l_tax',
             (n*sp_et - s_e*s_t) /
               (sqrt(n*ss_e - s_e*s_e) * sqrt(n*ss_t - s_t*s_t)) FROM m
      UNION ALL
      SELECT 'l_discount', 'l_tax',
             (n*sp_dt - s_d*s_t) /
               (sqrt(n*ss_d - s_d*s_d) * sqrt(n*ss_t - s_t*s_t)) FROM m""",

    // Streaming temporal enrichment: the oracle rebuilds the closed-form
    // SCD2 dimension and the half-open containment join exactly.
    "q_stream_temporal" -> """
      WITH users AS (SELECT DISTINCT user_id FROM events),
      dim AS (
        SELECT user_id, 1704067200000000 AS valid_from,
               1704067200000000 +
                 (user_id % 3 + 1) * 86400000000 AS valid_to,
               md5(user_id::VARCHAR || '_v1') AS payload
        FROM users
        UNION ALL
        SELECT user_id,
               1704067200000000 + (user_id % 3 + 1) * 86400000000,
               1704067200000000 + (user_id % 3 + 1) * 86400000000 +
                 (user_id % 5 + 2) * 86400000000,
               md5(user_id::VARCHAR || '_v2')
        FROM users),
      f AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events)
      SELECT f.event_id, f.user_id,
             d.valid_from AS asof_valid_from,
             d.payload AS asof_payload
      FROM f LEFT JOIN dim d
        ON f.user_id = d.user_id AND d.valid_from <= f.t
       AND f.t < d.valid_to""",

    // Streaming distinct: KMV in its exact sub-k regime (k=256 > 150
    // users) riding windowed streaming state = the batch DISTINCT.
    "q_stream_distinct" -> """
      SELECT date_trunc('day', ts) AS wstart,
             count(DISTINCT user_id)::BIGINT AS n_distinct
      FROM events GROUP BY 1""",

    // Fightin' Words: exact slice counts; the delta/z op sequence is
    // mirrored term for term, rounded 6dp (transcendental).
    "q_fightin_words" -> """
      WITH toks AS (
        SELECT lang AS s,
               unnest(list_filter(
                 regexp_split_to_array(lower(text), '\s+'),
                 t -> t <> '')) AS w
        FROM documents WHERE lang IN ('en', 'de')),
      c AS (
        SELECT w AS term,
               count(*) FILTER (WHERE s = 'en')::BIGINT AS y_a,
               count(*) FILTER (WHERE s = 'de')::BIGINT AS y_b
        FROM toks GROUP BY 1),
      t AS (
        SELECT sum(y_a)::DOUBLE AS na, sum(y_b)::DOUBLE AS nb FROM c),
      e AS (
        SELECT term, y_a, y_b, na, nb,
               100.0 * ((y_a + y_b)::DOUBLE / (na + nb)) AS aw
        FROM c CROSS JOIN t
        WHERE y_a + y_b >= 5),
      f AS (
        SELECT term, y_a, y_b,
               ln((y_a + aw) / (na + 100.0 - y_a - aw)) -
                 ln((y_b + aw) / (nb + 100.0 - y_b - aw)) AS delta,
               1.0 / (y_a + aw) + 1.0 / (y_b + aw) AS variance
        FROM e)
      SELECT term, y_a, y_b, round(delta, 6) AS delta,
             round(delta / sqrt(variance), 6) AS z
      FROM f""",

    // Lag-1 autocorrelation: integer-cent moments per user (HUGEINT
    // sums land the identical integers), fixed IEEE closed form.
    "q_autocorr" -> """
      WITH l AS (
        SELECT user_id, value,
               lag(value) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS prev_value
        FROM events),
      c AS (
        SELECT user_id,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
               CAST(floor(prev_value * 100 + 0.5) AS BIGINT) AS y
        FROM l WHERE prev_value IS NOT NULL),
      m AS (
        SELECT user_id, count(*)::BIGINT AS n_pairs,
               sum(x)::DOUBLE AS sx, sum(y)::DOUBLE AS sy,
               sum(x*x)::DOUBLE AS sxx, sum(y*y)::DOUBLE AS syy,
               sum(x*y)::DOUBLE AS sxy,
               count(*)::DOUBLE AS n
        FROM c GROUP BY 1)
      SELECT user_id, n_pairs,
             CASE WHEN n_pairs >= 2
                    AND (n * sxx - sx * sx) > 0
                    AND (n * syy - sy * sy) > 0
               THEN (n * sxy - sx * sy) /
                 (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             END AS corr
      FROM m""",

    // Co-purchase lift: exact counts, one fixed IEEE ratio; the top-100
    // cut is a total order (support desc, keys).
    "q_copurchase_lift" -> """
      WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      p AS (
        SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
               count(*) AS n_ab
        FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
          AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2),
      i AS (SELECT l_partkey, count(*) AS n_item FROM li GROUP BY 1),
      o AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li)
      SELECT p.part_a, p.part_b, p.n_ab,
             ia.n_item AS n_a, ib.n_item AS n_b,
             (p.n_ab::DOUBLE * o.n_orders) /
               (ia.n_item::DOUBLE * ib.n_item) AS lift
      FROM p
      JOIN i ia ON p.part_a = ia.l_partkey
      JOIN i ib ON p.part_b = ib.l_partkey
      CROSS JOIN o
      ORDER BY n_ab DESC, part_a, part_b LIMIT 100""",

    // Rolling z-score: decimal-exact frame moments (identical on both
    // engines), then one fixed IEEE sequence — raw z hashes; the
    // variance guard runs BEFORE the sqrt on both sides.
    "q_rolling_zscore" -> """
      WITH t AS (
        SELECT event_id, user_id, value,
               count(*) OVER w AS n_frame,
               CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w
                 AS DOUBLE) AS sx,
               CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) *
                 CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))) OVER w
                 AS DOUBLE) AS sxx
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
      s AS (
        SELECT event_id, user_id, n_frame,
               CASE WHEN n_frame >= 5 AND
                 ((sxx - sx * sx / n_frame::DOUBLE) / n_frame::DOUBLE) > 0
                 THEN (value - sx / n_frame::DOUBLE) /
                   sqrt((sxx - sx * sx / n_frame::DOUBLE)
                     / n_frame::DOUBLE)
               END AS z
        FROM t)
      SELECT event_id, user_id, n_frame, z,
             coalesce(abs(z) > 3.0, false) AS is_anomaly
      FROM s""",

    // Embargoed time split: integer-µs boundary comparisons.
    "q_time_split" -> """
      WITH t AS (
        SELECT ts,
               CASE WHEN epoch_us(ts) >= 1705881600000000 THEN 'test'
                    WHEN epoch_us(ts) <
                      1705881600000000 - 172800000000 THEN 'train'
                    ELSE 'embargo' END AS split
        FROM events)
      SELECT split, count(*) AS n, min(ts) AS min_ts, max(ts) AS max_ts
      FROM t GROUP BY 1""",

    // TPC-H Q8: exact decimal volumes, one raw division per year.
    "q8_market_share" -> """
      WITH v AS (
        SELECT extract(year FROM o.o_orderdate) AS o_year,
               CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
                 (CAST(1 AS DECIMAL(3,2)) -
                  CAST(l.l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4))
                 AS vol,
               n2.n_name AS supp_nation
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
          AND p.p_type = 'PROMO'
        JOIN orders o ON l.l_orderkey = o.o_orderkey
          AND o.o_orderdate BETWEEN '1995-01-01' AND '1996-12-31'
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        JOIN region r ON n1.n_regionkey = r.r_regionkey
          AND r.r_name = 'AMERICA'
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n2 ON s.s_nationkey = n2.n_nationkey)
      SELECT o_year::INT AS o_year,
             CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN vol
                           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
               / CAST(sum(vol) AS DOUBLE) AS mkt_share,
             count(*) AS n_lines
      FROM v GROUP BY 1""",

    // Markov transition matrix: identical per-user lead order; the
    // probability is one integer-ratio division.
    "q_event_transitions" -> """
      WITH t AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS to_type
        FROM events),
      c AS (
        SELECT from_type, to_type, count(*) AS n
        FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2),
      rt AS (
        SELECT from_type, sum(n)::BIGINT AS row_total
        FROM c GROUP BY 1)
      SELECT c.from_type, c.to_type, c.n,
             c.n::DOUBLE / rt.row_total AS p
      FROM c JOIN rt USING (from_type)""",

    // Contingency screening: exact counts, identical per-cell IEEE op
    // sequences; Spark dayofweek is Sunday=1, DuckDB Sunday=0 → +1.
    "q_cat_dependence" -> """
      WITH base AS (
        SELECT event_type AS a, (dayofweek(ts) + 1)::INT AS b
        FROM events),
      cells AS (
        SELECT a, b, count(*) AS observed FROM base GROUP BY 1, 2),
      rt AS (
        SELECT a, sum(observed)::BIGINT AS row_total
        FROM cells GROUP BY 1),
      ct AS (
        SELECT b, sum(observed)::BIGINT AS col_total
        FROM cells GROUP BY 1),
      nn AS (SELECT sum(observed)::BIGINT AS n FROM cells),
      e AS (
        SELECT c.a, c.b, c.observed, rt.row_total, ct.col_total, nn.n,
               (rt.row_total::DOUBLE * ct.col_total) / nn.n AS expected
        FROM cells c JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN nn)
      SELECT a, b, observed, row_total, col_total, expected,
             (observed - expected) * (observed - expected) / expected
               AS chi2_term,
             round((observed::DOUBLE / n) *
               ln(observed::DOUBLE * n /
                 (row_total::DOUBLE * col_total)), 6) AS mi_term
      FROM e""",

    // Incremental join view: oracle recomputes the post-CDC join from
    // scratch; the engine side applies the signed delta algebra.
    "q_incremental_join" -> """
      WITH aNew AS (
        SELECT o_orderkey, o_custkey AS k, o_totalprice
        FROM orders WHERE o_orderkey % 13 <> 0
        UNION ALL
        SELECT o_orderkey + 500000000, o_custkey, o_totalprice + 10
        FROM orders WHERE o_orderkey % 17 = 0),
      bNew AS (
        SELECT c_custkey AS k, c_mktsegment, c_nationkey
        FROM customer WHERE c_nationkey <> 3
        UNION ALL
        SELECT c_custkey + 900000000, c_mktsegment, c_nationkey
        FROM customer WHERE c_nationkey = 7)
      SELECT a.k, a.o_orderkey, a.o_totalprice,
             b.c_mktsegment, b.c_nationkey
      FROM aNew a JOIN bNew b USING (k)""",

    // Point-in-time join: the q_scd2_history reconstruction + interval
    // containment (valid_from <= t <= valid_to, null = open); the
    // LEFT JOIN hits at most one run per fact because runs never overlap.
    "q_temporal_join" -> """
      WITH v1 AS (SELECT doc_id, text FROM documents),
      v2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                    ELSE text END AS text
        FROM v1 WHERE doc_id % 7 <> 0),
      v3 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN text || ' v3'
                    ELSE text END AS text
        FROM v2 WHERE doc_id % 11 <> 0),
      h AS (
        SELECT doc_id, 1::BIGINT AS v, md5(text) AS content_hash FROM v1
        UNION ALL
        SELECT doc_id, 2::BIGINT, md5(text) FROM v2
        UNION ALL
        SELECT doc_id, 3::BIGINT, md5(text) FROM v3),
      s AS (
        SELECT *, lag(content_hash) OVER w AS ph, lag(v) OVER w AS pv
        FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY v)),
      f AS (
        SELECT *, CASE WHEN ph IS NULL OR ph <> content_hash
                         OR pv <> v - 1 THEN 1 ELSE 0 END AS st
        FROM s),
      g AS (
        SELECT *, sum(st) OVER (PARTITION BY doc_id ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS run
        FROM f),
      scd AS (
        SELECT doc_id, content_hash, min(v) AS valid_from,
               (CASE WHEN max(v) = 3 THEN NULL ELSE max(v) END)::BIGINT
                 AS valid_to
        FROM g GROUP BY doc_id, run, content_hash),
      facts AS (SELECT doc_id, (doc_id % 4)::BIGINT AS t FROM documents)
      SELECT facts.doc_id, facts.t,
             scd.valid_from AS asof_valid_from,
             scd.valid_to AS asof_valid_to,
             scd.content_hash AS asof_content_hash
      FROM facts LEFT JOIN scd
        ON facts.doc_id = scd.doc_id AND scd.valid_from <= facts.t
       AND (scd.valid_to IS NULL OR facts.t <= scd.valid_to)""",

    // Bloom pre-filter is result-invisible → the oracle is the plain join.
    "q_bloom_join" -> """
      SELECT c.c_mktsegment, count(*) AS n_orders,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_nationkey = 1
      GROUP BY 1""",

    // Validation audit: oracle rebuilds the corrupted table and counts
    // each rule's violations directly — all integers, exact.
    "q_validate" -> """
      WITH bad1 AS (
        SELECT o_orderkey, NULL::BIGINT AS o_custkey,
               'X' AS o_orderstatus, (-5.0)::DOUBLE AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 100 = 0),
      bad2 AS (
        SELECT o_orderkey + 500000000 AS o_orderkey,
               o_custkey + 900000000 AS o_custkey, o_orderstatus,
               o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 173 = 0),
      a AS (SELECT * FROM orders UNION ALL SELECT * FROM bad1
            UNION ALL SELECT * FROM bad2),
      t AS (
        SELECT 0::INT AS rule_ord, 'custkey_not_null' AS rule_id,
               (SELECT count(*) FROM a WHERE o_custkey IS NULL)::BIGINT
                 AS violations
        UNION ALL
        SELECT 1::INT, 'price_range',
               (SELECT count(*) FROM a WHERE o_totalprice IS NOT NULL
                  AND (o_totalprice < 0 OR o_totalprice > 1000000))::BIGINT
        UNION ALL
        SELECT 2::INT, 'status_domain',
               (SELECT count(*) FROM a WHERE o_orderstatus IS NOT NULL
                  AND o_orderstatus NOT IN ('O','F','P'))::BIGINT
        UNION ALL
        SELECT 3::INT, 'priority_format',
               (SELECT count(*) FROM a WHERE o_orderpriority IS NOT NULL
                  AND NOT regexp_matches(o_orderpriority, '^[1-5]-'))::BIGINT
        UNION ALL
        SELECT 4::INT, 'orderkey_unique',
               coalesce((SELECT sum(c - 1) FROM (
                 SELECT count(*) AS c FROM a GROUP BY o_orderkey) g
                 WHERE c > 1), 0)::BIGINT
        UNION ALL
        SELECT 5::INT, 'custkey_fk',
               (SELECT count(*) FROM a WHERE o_custkey IS NOT NULL
                  AND o_custkey NOT IN
                    (SELECT c_custkey FROM customer))::BIGINT)
      SELECT rule_ord, rule_id, violations, violations = 0 AS pass
      FROM t""",

    // Phrase search: DuckDB replays the positional adjacency over the
    // same empty-token-filtered token list (1-based lists → pos-1).
    "q_phrase_search" -> """
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '),
                 x -> x <> '') AS tk
        FROM documents),
      p AS (SELECT doc_id, unnest(range(1, len(tk))) AS i, tk FROM t),
      m AS (SELECT doc_id, i FROM p
            WHERE tk[i] = 'table' AND tk[i+1] = 'hash')
      SELECT doc_id, count(*)::BIGINT AS n_occurrences,
             (min(i) - 1)::BIGINT AS first_pos
      FROM m GROUP BY 1""",

    // IR metrics: the DCG folds walk the identical rank/position order
    // on both engines (list_reduce with a prepended zero = the Spark
    // aggregate fold); zero-grade terms are exact 0.0 additions.
    "q_ir_metrics" -> """
      WITH run AS (
        SELECT lang, doc_id, rank FROM (
          SELECT lang, doc_id, row_number() OVER (
            PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rank
          FROM documents) r WHERE rank <= 20),
      qrels AS (
        SELECT lang, doc_id, 1 + doc_id % 3 AS grade
        FROM documents WHERE doc_id % 4 = 0),
      tg AS (
        SELECT lang, grade, row_number() OVER (
          PARTITION BY lang ORDER BY grade DESC, doc_id) AS i
        FROM qrels WHERE grade > 0),
      idcg AS (
        SELECT lang, list_reduce(list_prepend(0.0,
          list(grade::DOUBLE / log2(i + 1.0) ORDER BY i)),
          (a, b) -> a + b) AS idcg
        FROM tg WHERE i <= 10 GROUP BY lang),
      nrel AS (
        SELECT lang, count(*)::BIGINT AS n_rel
        FROM qrels WHERE grade > 0 GROUP BY lang),
      hits AS (
        SELECT r.lang, r.rank, coalesce(q.grade, 0)::BIGINT AS g
        FROM run r LEFT JOIN qrels q
          ON r.lang = q.lang AND r.doc_id = q.doc_id
        WHERE r.rank <= 10),
      agg AS (
        SELECT lang,
               count(*) FILTER (WHERE g > 0)::BIGINT AS rel_ret,
               min(rank) FILTER (WHERE g > 0) AS first_rel,
               list_reduce(list_prepend(0.0,
                 list(g::DOUBLE / log2(rank + 1.0) ORDER BY rank)),
                 (a, b) -> a + b) AS dcg
        FROM hits GROUP BY lang)
      SELECT qy.lang,
             coalesce(n.n_rel, 0)::BIGINT AS n_rel,
             coalesce(a.rel_ret, 0)::BIGINT AS rel_ret,
             coalesce(a.rel_ret, 0) / 10.0 AS precision_at_k,
             CASE WHEN n.n_rel > 0
               THEN coalesce(a.rel_ret, 0)::DOUBLE / n.n_rel
             END AS recall_at_k,
             coalesce(1.0 / a.first_rel, 0.0) AS mrr_at_k,
             CASE WHEN n.n_rel > 0
               THEN round(coalesce(a.dcg, 0.0) / i.idcg, 6)
             END AS ndcg_at_k
      FROM (SELECT DISTINCT lang FROM run) qy
      LEFT JOIN agg a USING (lang)
      LEFT JOIN nrel n USING (lang)
      LEFT JOIN idcg i USING (lang)""",

    // k-core planted fixture: the 2-core is closed-form (clique keeps
    // degree 5 after the pendant drops; the 4-cycle sits exactly at the
    // bound; the path erodes completely).
    "q_kcore_planted" -> """
      SELECT node::BIGINT AS node, core_degree::BIGINT AS core_degree
      FROM (VALUES (0, 5), (1, 5), (2, 5), (3, 5), (4, 5), (5, 5),
                   (20, 2), (21, 2), (22, 2), (23, 2))
        AS t(node, core_degree)""",

    // Sequential pattern match: the recursive CTE walks the identical
    // (ts, event_id)-ordered greedy recurrence as the in-row fold;
    // state arithmetic is integer µs only, so the gate hashes exactly.
    "q_event_pattern" -> """
      WITH RECURSIVE e AS (
        SELECT user_id, epoch_us(ts) AS ts, event_type,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts), event_id) AS rn
        FROM events),
      nn AS (SELECT user_id, count(*)::BIGINT AS n FROM e GROUP BY 1),
      r AS (
        SELECT user_id, 0::BIGINT AS rn, 0 AS step, 0::BIGINT AS m,
               NULL::BIGINT AS last_ts, NULL::BIGINT AS done
        FROM nn
        UNION ALL
        SELECT user_id, rn,
               CASE WHEN tk THEN CASE WHEN step = 2 THEN 0
                                      ELSE step + 1 END
                    ELSE step END,
               CASE WHEN tk AND step = 2 THEN m + 1 ELSE m END,
               CASE WHEN tk THEN CASE WHEN step = 2 THEN NULL
                                      ELSE ts END
                    ELSE last_ts END,
               CASE WHEN tk AND step = 2 THEN ts ELSE done END
        FROM (
          SELECT e.user_id, e.rn, e.ts, r.step, r.m, r.last_ts, r.done,
                 (e.event_type =
                    (['signup','click','purchase'])[r.step + 1]
                  AND (r.step = 0
                       OR e.ts - r.last_ts <= 604800000000))
                   AS tk
          FROM r JOIN e ON e.user_id = r.user_id
                       AND e.rn = r.rn + 1) q)
      SELECT r.user_id, r.m AS n_matches,
             make_timestamp(r.done) AS last_match_ts
      FROM r JOIN nn ON r.user_id = nn.user_id AND r.rn = nn.n""",

    // Streaming upsert: the oracle reconstructs the final snapshot
    // closed-form from the delta rules (delete-wins in-batch, later
    // upserts replace, a delete resurrects on re-upsert).
    "q_stream_upsert" -> """
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                    THEN 'd ' || md5(doc_id::VARCHAR) || ' u3'
                  WHEN doc_id % 5 = 0
                    THEN 'd ' || md5(doc_id::VARCHAR) || ' u2'
                  ELSE 'd ' || md5(doc_id::VARCHAR) END AS text
      FROM documents
      WHERE doc_id % 11 <> 0
        AND (doc_id % 7 <> 0 OR doc_id % 3 = 0)""",

    // Zone-map skipping is result-invisible → plain range-query oracle.
    "q_zonemap_prune" -> """
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
             count(DISTINCT user_id) AS n_users
      FROM events
      WHERE user_id BETWEEN 40 AND 59
      GROUP BY event_type""",

    // Manifest: same md5-prefix row hash, bit_xor on both engines —
    // order-independent by construction, so the digests hash-match.
    "q_manifest" -> """
      SELECT doc_id % 64 AS bucket, count(*) AS n_rows,
             bit_xor(('0x' || substr(md5(
               doc_id::VARCHAR || chr(1) || chr(3) || text || chr(1) || chr(3) || lang),
               1, 15))::BIGINT) AS digest
      FROM documents GROUP BY 1""",

    "q_manifest_diff" -> """
      WITH ma AS (
        SELECT doc_id % 64 AS bucket, count(*) AS n_rows_a,
               bit_xor(('0x' || substr(md5(
                 doc_id::VARCHAR || chr(1) || chr(3) || text || chr(1) || chr(3) || lang),
                 1, 15))::BIGINT) AS digest_a
        FROM documents GROUP BY 1),
      v2 AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 5 = 0 THEN ' v2' ELSE '' END
                 AS text, lang
        FROM documents WHERE doc_id % 7 <> 0),
      mb AS (
        SELECT doc_id % 64 AS bucket, count(*) AS n_rows_b,
               bit_xor(('0x' || substr(md5(
                 doc_id::VARCHAR || chr(1) || chr(3) || text || chr(1) || chr(3) || lang),
                 1, 15))::BIGINT) AS digest_b
        FROM v2 GROUP BY 1)
      SELECT bucket,
             coalesce(n_rows_a, 0) AS n_rows_a,
             coalesce(n_rows_b, 0) AS n_rows_b,
             coalesce(digest_a, 0) AS digest_a,
             coalesce(digest_b, 0) AS digest_b
      FROM ma FULL JOIN mb USING (bucket)
      WHERE coalesce(n_rows_a, 0) <> coalesce(n_rows_b, 0)
         OR coalesce(digest_a, 0) <> coalesce(digest_b, 0)""",

    // OHLC candles: ordered-aggregate oracle (first/last ORDER BY ts,
    // id); values ride untouched so raw doubles hash.
    "q_ohlc_bars" -> """
      WITH s AS (
        SELECT user_id,
               epoch_us(ts) // 21600000000 AS slot, ts, event_id, value
        FROM events)
      SELECT user_id, slot,
             first(value ORDER BY ts, event_id) AS open,
             max(value) AS high, min(value) AS low,
             last(value ORDER BY ts, event_id) AS close,
             count(*) AS n,
             make_timestamp(slot * 21600000000) AS slot_start
      FROM s GROUP BY 1, 2""",

    // Mixed-length interval join: the oracle stays the direct theta
    // join — the two-tier split must be output-invisible.
    "q_interval_mixed" -> """
      WITH e AS (
        SELECT event_id AS err_id, ts AS es,
               ts + INTERVAL 10 MINUTE AS ee
        FROM events WHERE event_type = 'error'),
      p AS (
        SELECT event_id AS pur_id, ts AS ps,
               CASE WHEN event_id % 20 = 0 THEN ts + INTERVAL 24 HOUR
                    ELSE ts + INTERVAL 10 MINUTE END AS pe
        FROM events WHERE event_type = 'purchase')
      SELECT err_id, pur_id,
             epoch_us(least(ee, pe)) - epoch_us(greatest(es, ps))
               AS overlap_us
      FROM e JOIN p ON es < pe AND ps < ee""",

    // PSI drift: exact bucket counts, per-bucket division+ln terms
    // (bit-identical), psi rounded 6dp (transcendental sum — no decimal
    // boundary population). Laplace +1 over the union bucket set.
    "q_corpus_drift" -> """
      WITH t1 AS (
        SELECT lang,
               len(list_filter(string_split(lower(text), ' '),
                 x -> x <> '')) // 5 AS bk
        FROM documents),
      t2 AS (
        SELECT lang,
               len(list_filter(string_split(lower(text ||
                 CASE WHEN doc_id % 5 = 0
                      THEN ' drift extra tokens appended here'
                      ELSE '' END), ' '), x -> x <> '')) // 5 AS bk
        FROM documents WHERE doc_id % 7 <> 0),
      ca AS (SELECT lang, bk, count(*) AS c FROM t1 GROUP BY 1, 2),
      cb AS (SELECT lang, bk, count(*) AS c FROM t2 GROUP BY 1, 2),
      j AS (
        SELECT coalesce(ca.lang, cb.lang) AS lang,
               coalesce(ca.bk, cb.bk) AS bk,
               coalesce(ca.c, 0) AS c_a, coalesce(cb.c, 0) AS c_b
        FROM ca FULL JOIN cb ON ca.lang = cb.lang AND ca.bk = cb.bk),
      tt AS (
        SELECT lang, count(*) AS nb, sum(c_a) AS na, sum(c_b) AS nbb
        FROM j GROUP BY 1)
      SELECT j.lang, min(nb)::BIGINT AS n_buckets,
             min(na)::BIGINT AS n_a, min(nbb)::BIGINT AS n_b,
             round(sum(
               ((c_a + 1.0) / (na + nb) - (c_b + 1.0) / (nbb + nb)) *
               ln(((c_a + 1.0) / (na + nb)) /
                  ((c_b + 1.0) / (nbb + nb)))), 6) AS psi
      FROM j JOIN tt USING (lang) GROUP BY 1""",

    // Exact transitive dedup: recursive-CTE transitive closure over the
    // same brute-force shingle pair graph, min reachable id as survivor;
    // docs outside every pair survive as themselves.
    "q_setsim_dedup" -> """
      WITH RECURSIVE base AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '),
                 t -> t <> '') AS w
        FROM documents),
      sized AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tk
        FROM base WHERE len(w) >= 3),
      tok AS (
        SELECT doc_id, len(tk)::INT AS n, unnest(tk) AS tok
        FROM sized WHERE len(tk) > 0),
      ov AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               a.n AS n1, b.n AS n2, count(*) AS overlap
        FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4),
      pairs AS (
        SELECT id1, id2 FROM ov
        WHERE overlap * 1.0 / (n1 + n2 - overlap) >= 0.6),
      und AS (
        SELECT id1 AS a, id2 AS b FROM pairs
        UNION SELECT id2, id1 FROM pairs),
      reach(a, b) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
      lbl AS (
        SELECT a AS node, least(a, min(b)) AS survivor
        FROM reach GROUP BY a)
      SELECT d.doc_id,
             coalesce(l.survivor, d.doc_id) AS survivor,
             coalesce(l.survivor, d.doc_id) <> d.doc_id AS is_dup
      FROM documents d LEFT JOIN lbl l ON d.doc_id = l.node""",

    // Group-atomic splits: bucket the md5 of the SOURCE (same salt/
    // bucket recipe as q_split_assign); n_splits = 1 per source is the
    // atomicity postcondition, recomputed not assumed.
    "q_group_split" -> """
      WITH b AS (
        SELECT doc_id, source,
               ('0x' || substr(md5('graft_' || source), 1, 8))
                 ::BIGINT % 10000 AS bk
        FROM documents)
      SELECT source,
             CASE WHEN bk < 9000 THEN 'train'
                  WHEN bk < 9500 THEN 'valid' ELSE 'test' END AS split,
             count(*) AS n_docs, 1::BIGINT AS n_splits
      FROM b GROUP BY 1, 2""",

    // Winsorize at discrete quantiles: quantile_disc picks the same
    // ceil(q*n)-rank element as the engine's window-rank bound pick.
    "q_winsorize" -> """
      WITH t AS (
        SELECT lang,
               len(list_filter(string_split(lower(text), ' '),
                 x -> x <> ''))::INT AS n_tokens
        FROM documents),
      b AS (
        SELECT lang, quantile_disc(n_tokens, 0.05) AS lo,
               quantile_disc(n_tokens, 0.95) AS hi
        FROM t GROUP BY 1)
      SELECT t.lang, count(*) AS n,
             sum(least(greatest(n_tokens, lo), hi))::BIGINT
               AS sum_winsorized,
             min(lo) AS lo, max(hi) AS hi
      FROM t JOIN b USING (lang) GROUP BY 1""",

    // Interval-overlap join: the oracle is the direct theta join (fine
    // at oracle scale); the engine's bucket decomposition must produce
    // exactly the same pairs with integer-µs overlaps.
    "q_interval_overlap" -> """
      WITH e AS (
        SELECT event_id AS err_id, ts AS es,
               ts + INTERVAL 10 MINUTE AS ee
        FROM events WHERE event_type = 'error'),
      p AS (
        SELECT event_id AS pur_id, ts AS ps,
               ts + INTERVAL 10 MINUTE AS pe
        FROM events WHERE event_type = 'purchase')
      SELECT err_id, pur_id,
             epoch_us(least(ee, pe)) - epoch_us(greatest(es, ps))
               AS overlap_us
      FROM e JOIN p ON es < pe AND ps < ee""",

    // Streaming MG: every 1-day window is in the exact regime (k=16 >
    // |event_type|), so the oracle is the batch per-window count with
    // the sketch's own (count desc, key) rank order.
    "q_stream_heavy_hitters" -> """
      WITH c AS (
        SELECT date_trunc('day', ts) AS wstart, event_type AS key,
               count(*) AS cnt
        FROM events GROUP BY 1, 2)
      SELECT wstart,
             (row_number() OVER (PARTITION BY wstart
                                 ORDER BY cnt DESC, key) - 1)::INT AS rank,
             key, cnt
      FROM c""",

    // Misra–Gries with k above the key cardinality = exact counts
    // (order-independent regime); rank via the same (count desc, key)
    // total order the sketch's eval emits.
    "q_heavy_hitters" -> """
      SELECT (row_number() OVER (ORDER BY count(*) DESC, event_type) - 1)::INT
               AS rank,
             event_type AS key, count(*) AS cnt
      FROM events GROUP BY event_type""",

    // Rolling 5-row exact median per supplier; quarter-exact medians
    // make the per-supplier sum order-independent. l_quantity rides the
    // sort key because (l_orderkey, l_linenumber) is not unique — ties
    // then hold equal quantities, so frames are tie-order-invariant.
    "q_rolling_median" -> """
      WITH r AS (
        SELECT l_suppkey,
               median(l_quantity) OVER (
                 PARTITION BY l_suppkey
                 ORDER BY l_orderkey, l_linenumber, l_quantity
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll_med
        FROM lineitem)
      SELECT l_suppkey, count(*) AS n, sum(roll_med) AS sum_med,
             max(roll_med) AS max_med
      FROM r GROUP BY 1""",

    // Q2 shape: correlated scalar min (DuckDB executes it as written;
    // Spark decorrelates to an aggregate+join — identical rows). The
    // ORDER covers every output column, so the LIMIT cut is a total
    // order even among min-price ties.
    "q2_min_cost" -> """
      SELECT s.s_name, s.s_acctbal, n.n_name, p.p_partkey, p.p_name,
             l.l_extendedprice AS best_price
      FROM part p, lineitem l, supplier s, nation n, region r
      WHERE p.p_partkey = l.l_partkey AND l.l_suppkey = s.s_suppkey
        AND s.s_nationkey = n.n_nationkey
        AND n.n_regionkey = r.r_regionkey
        AND r.r_name = 'EUROPE' AND p.p_size <= 15
        AND l.l_extendedprice = (SELECT min(l2.l_extendedprice)
                                 FROM lineitem l2
                                 WHERE l2.l_partkey = p.p_partkey)
      ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey,
               p.p_name, l.l_extendedprice
      LIMIT 100""",

    "q4_priority_exists" -> """
      SELECT o_orderpriority, count(*)::BIGINT AS order_count
      FROM orders o
      WHERE o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1996-07-01'
        AND EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_returnflag = 'R')
      GROUP BY o_orderpriority""",

    "q20_semi_chain" -> """
      WITH sq AS (
        SELECT l_suppkey, sum(l_quantity) AS qty
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'small%')
        GROUP BY l_suppkey)
      SELECT s.s_suppkey, s.s_name, n.n_name
      FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE s.s_suppkey IN (SELECT l_suppkey FROM sq
                            WHERE qty > (SELECT avg(qty) * 1.1 FROM sq))
      ORDER BY s.s_suppkey""",

    // Q17 shape: correlated AVG subquery; quantities are integers in
    // doubles so the threshold is exact in both engines.
    "q17_small_qty" -> """
      SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
               AS DOUBLE) / 7.0 AS avg_yearly,
             count(*)::BIGINT AS n_lines
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand = 'Brand#12' AND p.p_type = 'ECONOMY'
        AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                            FROM lineitem l2
                            WHERE l2.l_partkey = p.p_partkey)""",

    "q13_order_histogram" -> """
      SELECT c_count, count(*)::BIGINT AS custdist
      FROM (SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
            FROM customer c LEFT JOIN orders o
              ON c.c_custkey = o.o_custkey
             AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey) cc
      GROUP BY c_count""",

    "q19_disjunctive" -> """
      SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
               AS revenue,
             count(*)::BIGINT AS n_lines
      FROM lineitem JOIN part ON p_partkey = l_partkey AND (
        (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
          AND l_quantity BETWEEN 1 AND 11) OR
        (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
          AND l_quantity BETWEEN 10 AND 20) OR
        (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
          AND l_quantity BETWEEN 20 AND 30))""",

    // Q22 shape: scalar threshold as exact decimal sum / count (one
    // IEEE division — engine-agnostic), NOT EXISTS anti join.
    "q22_idle_customers" -> """
      SELECT c_nationkey, count(*)::BIGINT AS numcust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               AS totacctbal
      FROM customer c
      WHERE c.c_acctbal > (SELECT CAST(sum(CAST(c2.c_acctbal
                                 AS DECIMAL(18,2))) AS DOUBLE) / count(*)
                           FROM customer c2
                           WHERE c2.c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderpriority = '1-URGENT')
      GROUP BY c_nationkey""",

    // IGNORE NULLS analytic windows: forward fill + previous non-null,
    // values carried verbatim (raw-hashable).
    "q_window_fill" -> """
      SELECT user_id, event_id,
             last_value(pv IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_purchase,
             lag(pv IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_purchase
      FROM (SELECT user_id, event_id, ts,
                   CASE WHEN event_type = 'purchase' THEN value END AS pv
            FROM events) t""",

    "q_string_agg" -> """
      SELECT o_orderpriority,
             string_agg(DISTINCT strftime(o_orderdate, '%Y-%m'), ','
               ORDER BY strftime(o_orderdate, '%Y-%m')) AS months,
             string_agg(DISTINCT o_orderstatus, ','
               ORDER BY o_orderstatus) AS statuses,
             count(*)::BIGINT AS n
      FROM orders
      GROUP BY o_orderpriority""",

    // PII gates: planted text built identically in both engines; the
    // patterns are the shared Java/RE2 subset from operators/Pii.scala.
    // Luhn over card-shaped matches: the 4000-... plant sums to 44
    // (invalid), the 4111-... plant is valid — nested list lambdas
    // replay the identical integer checksum
    "q_pii_luhn" -> """
      WITH pd AS (
        SELECT doc_id,
               concat(substr(text, 1, 40), ' mail u', doc_id,
                      '@ex.com ip 10.0.', doc_id % 256,
                      '.7 call 555-123-4567',
                      CASE WHEN doc_id % 3 = 0
                        THEN ' ssn 123-45-6789' ELSE '' END,
                      CASE WHEN doc_id % 4 = 0
                        THEN ' card 4000-1111-2222-3333' ELSE '' END,
                      CASE WHEN doc_id % 2 = 0
                        THEN ' pay 4111-1111-1111-1111' ELSE '' END)
                 AS text
        FROM documents WHERE doc_id % 5 = 0),
      m AS (SELECT doc_id,
              regexp_extract_all(text,
                '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b') AS cards
            FROM pd)
      SELECT doc_id, len(cards)::BIGINT AS n_card_shaped,
             len(list_filter(cards, mm ->
               list_sum(list_transform(
                 string_split(regexp_replace(mm, '[^0-9]', '', 'g'),
                   ''),
                 (c, i) -> CASE WHEN (17 - i) % 2 = 0
                   THEN CASE WHEN c::INT >= 5 THEN c::INT * 2 - 9
                        ELSE c::INT * 2 END
                   ELSE c::INT END)) % 10 = 0))::BIGINT
               AS n_luhn_valid
      FROM m""",

    "q_pii_detect" -> """
      WITH pd AS (
        SELECT doc_id,
               concat(substr(text, 1, 40), ' mail u', doc_id,
                      '@ex.com ip 10.0.', doc_id % 256,
                      '.7 call 555-123-4567',
                      CASE WHEN doc_id % 3 = 0
                        THEN ' ssn 123-45-6789' ELSE '' END,
                      CASE WHEN doc_id % 4 = 0
                        THEN ' card 4000-1111-2222-3333' ELSE '' END)
                 AS text
        FROM documents WHERE doc_id % 5 = 0)
      SELECT doc_id,
        len(regexp_extract_all(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
          AS n_email,
        len(regexp_extract_all(text,
          '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b'))::BIGINT AS n_card,
        len(regexp_extract_all(text,
          '\b\d{3}-\d{2}-\d{4}\b'))::BIGINT AS n_ssn,
        len(regexp_extract_all(text,
          '\b\+?\d{3}[- ]\d{3}[- ]\d{4}\b'))::BIGINT AS n_phone,
        len(regexp_extract_all(text,
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ipv4,
        (len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
         + len(regexp_extract_all(text,
           '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b'))
         + len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b'))
         + len(regexp_extract_all(text,
           '\b\+?\d{3}[- ]\d{3}[- ]\d{4}\b'))
         + len(regexp_extract_all(text,
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')))::BIGINT AS n_pii
      FROM pd""",

    "q_pii_redact" -> """
      WITH pd AS (
        SELECT doc_id,
               concat(substr(text, 1, 40), ' mail u', doc_id,
                      '@ex.com ip 10.0.', doc_id % 256,
                      '.7 call 555-123-4567',
                      CASE WHEN doc_id % 3 = 0
                        THEN ' ssn 123-45-6789' ELSE '' END,
                      CASE WHEN doc_id % 4 = 0
                        THEN ' card 4000-1111-2222-3333' ELSE '' END)
                 AS text
        FROM documents WHERE doc_id % 5 = 0)
      SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
            '[EMAIL]', 'g'),
          '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b', '[CARD]', 'g'),
          '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
          '\b\+?\d{3}[- ]\d{3}[- ]\d{4}\b', '[PHONE]', 'g'),
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IPV4]', 'g')
          AS text_redacted,
        (len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
         + len(regexp_extract_all(text,
           '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b'))
         + len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b'))
         + len(regexp_extract_all(text,
           '\b\+?\d{3}[- ]\d{3}[- ]\d{4}\b'))
         + len(regexp_extract_all(text,
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')))::BIGINT AS n_pii
      FROM pd""",

    // DSIR: distinct-bigram doc frequencies, Laplace-smoothed log
    // ratio vs the English target, per-doc average rounded 6dp (ln is
    // transcendental; the avg fold order is sub-6dp at these
    // magnitudes — the surprisal recipe).
    "q_dsir_weights" -> """
      WITH toked AS (
        SELECT doc_id, lang, string_split(lower(text), ' ') AS t
        FROM documents),
      grams AS (
        SELECT DISTINCT doc_id, lang,
               unnest(list_transform(range(1, len(t)),
                 i -> array_to_string(t[i:i+1], ' '))) AS gram
        FROM toked WHERE len(t) >= 2),
      tc AS (SELECT gram, count(*) AS c_t FROM grams
             WHERE lang = 'en' GROUP BY 1),
      sc AS (SELECT gram, count(*) AS c_s FROM grams GROUP BY 1),
      nt AS (SELECT count(*) AS n FROM documents WHERE lang = 'en'),
      ns AS (SELECT count(*) AS n FROM documents)
      SELECT g.doc_id, count(*)::BIGINT AS n_grams,
             round(avg(ln((coalesce(tc.c_t, 0) + 1.0) / (nt.n + 2.0))
                     - ln((sc.c_s + 1.0) / (ns.n + 2.0))), 6) AS weight
      FROM grams g
      JOIN sc USING (gram)
      LEFT JOIN tc USING (gram), nt, ns
      GROUP BY g.doc_id""",

    // Q21 shape: dual correlated EXISTS / NOT EXISTS on the fact table.
    "q21_waiting" -> """
      SELECT s.s_name, count(*)::BIGINT AS numwait
      FROM supplier s
      JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      JOIN orders o ON o.o_orderkey = l1.l_orderkey
      WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
      GROUP BY s.s_name
      ORDER BY numwait DESC, s.s_name
      LIMIT 20""",

    // Q15 shape: scalar max over a shared revenue view; the equality
    // is safe because revenue is decimal-exact in both engines.
    "q15_top_supplier" -> """
      WITH rev AS (
        SELECT l_suppkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                 AS total_rev
        FROM lineitem
        WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        GROUP BY l_suppkey)
      SELECT s.s_suppkey, s.s_name, r.total_rev
      FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
      WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
      ORDER BY s.s_suppkey""",

    // KMV set algebra in the exact sub-k regime: the sketch holds every
    // hash, so union/intersection/Jaccard estimates ARE the exact
    // distinct counts (and the Jaccard division is the same int/int
    // IEEE op in both engines).
    "q_kmv_setops" -> """
      WITH seg AS (SELECT DISTINCT event_type, user_id FROM events),
      t AS (SELECT DISTINCT event_type FROM seg),
      pr AS (SELECT a.event_type AS ta, b.event_type AS tb
             FROM t a JOIN t b ON a.event_type < b.event_type),
      u AS (SELECT pr.ta, pr.tb, s.user_id, count(*) AS c
            FROM pr JOIN seg s
              ON s.event_type = pr.ta OR s.event_type = pr.tb
            GROUP BY pr.ta, pr.tb, s.user_id)
      SELECT ta AS type_a, tb AS type_b,
             count(*)::BIGINT AS n_union,
             (count(*) FILTER (WHERE c = 2))::BIGINT AS n_intersect,
             (count(*) FILTER (WHERE c = 2))::DOUBLE / count(*)
               AS jaccard
      FROM u GROUP BY ta, tb""",

    // Summary-rewrite gate: the oracle computes from the BASE table —
    // the rewrite must be value-invisible (SummaryRewriteSpec asserts
    // the plan actually reads the rollup).
    "q_mv_rewrite" -> """
      SELECT l_returnflag, count(*)::BIGINT AS n,
             sum(l_quantity) AS sum_qty,
             min(l_shipdate) AS first_ship,
             max(l_shipdate) AS last_ship
      FROM lineitem
      WHERE l_returnflag <> 'N'
      GROUP BY l_returnflag""",

    // COUNT(DISTINCT) IVM: the oracle rebuilds the post-delta order
    // multiset directly (delete %13 rows, insert %17 twins with
    // offset custkeys) and counts distinct customers per priority.
    "q_incremental_distinct" -> """
      WITH post AS (
        SELECT o_orderpriority, o_custkey
        FROM orders WHERE o_orderkey % 13 <> 0
        UNION ALL
        SELECT o_orderpriority, o_custkey + 900000000
        FROM orders WHERE o_orderkey % 17 = 0)
      SELECT o_orderpriority,
             count(DISTINCT o_custkey)::BIGINT AS n_distinct,
             count(*)::BIGINT AS n_rows
      FROM post GROUP BY o_orderpriority""",

    // Q6: the pure scan-side aggregate — decimal-exact revenue.
    "q6_forecast" -> """
      SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
             count(*)::BIGINT AS n_lines
      FROM lineitem
      WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",

    // Q9 shape: supply cost modeled as 60% of p_retailprice (no
    // partsupp in the testdata); whole profit expression in decimal.
    "q9_profit" -> """
      SELECT n.n_name AS nation, year(o.o_orderdate)::INT AS o_year,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                 * (1.00 - CAST(l.l_discount AS DECIMAL(4,2)))
               - CAST(p.p_retailprice AS DECIMAL(12,2))
                 * CAST(l.l_quantity AS DECIMAL(12,2)) * 0.60)
               AS DOUBLE) AS sum_profit
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE p.p_name LIKE '%gear%'
      GROUP BY n.n_name, year(o.o_orderdate)""",

    // Q11 shape: HAVING > scalar subquery; threshold compared in
    // DECIMAL on both sides (double cast only on output).
    "q11_important_parts" -> """
      WITH nl AS (
        SELECT l.l_partkey,
               CAST(l.l_extendedprice AS DECIMAL(12,2))
                 * CAST(l.l_quantity AS DECIMAL(12,2)) AS v
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name = 'NATION_12')
      SELECT l_partkey, CAST(sum(v) AS DOUBLE) AS part_value
      FROM nl
      GROUP BY l_partkey
      HAVING CAST(sum(v) AS DECIMAL(28,4))
               * CAST((SELECT count(DISTINCT l_partkey) FROM nl)
                      AS DECIMAL(9,0))
             > (SELECT CAST(sum(v) AS DECIMAL(36,4)) * 2 FROM nl)""",

    // Q12 shape: late-shipped lines (>60 days after ordering) bucketed
    // urgent/non-urgent per returnflag.
    "q12_priority_class" -> """
      SELECT l.l_returnflag,
             sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
             sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                 THEN 1 ELSE 0 END)::BIGINT AS low_line_count
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate >= '1996-01-01' AND l.l_shipdate < '1997-01-01'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      GROUP BY l.l_returnflag""",

    // Q14: promo share, fixed op order (100·promo)/total — one IEEE
    // multiply+divide over decimal-exact sums, shipped raw.
    "q14_promo" -> """
      WITH m AS (
        SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO'
                   THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                     * (1.00 - CAST(l.l_discount AS DECIMAL(4,2)))
                   ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                 AS promo_revenue,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                   * (1.00 - CAST(l.l_discount AS DECIMAL(4,2))))
                 AS DOUBLE) AS total_revenue
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_shipdate >= '1996-09-01' AND l.l_shipdate < '1996-10-01')
      SELECT promo_revenue, total_revenue,
             (100.0 * promo_revenue) / total_revenue AS promo_pct
      FROM m""",

    // Q16 shape: NOT IN blacklist (negative-balance suppliers) +
    // grouped count(DISTINCT).
    "q16_supplier_cnt" -> """
      SELECT p.p_brand, p.p_type, p.p_size,
             count(DISTINCT l.l_suppkey)::BIGINT AS supplier_cnt
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand <> 'Brand#21' AND p.p_type <> 'PROMO'
        AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal < 0.0)
      GROUP BY p.p_brand, p.p_type, p.p_size""",

    // Recursive CTE: binary-tree ancestor walk on dense s_suppkey;
    // path balances accumulate in DECIMAL (one exact addition per
    // step, identical order in both engines).
    "q_recursive_chain" -> """
      WITH RECURSIVE up (node, cur, depth, path_bal) AS (
        SELECT s_suppkey, s_suppkey, 0,
               CAST(s_acctbal AS DECIMAL(18,2))
        FROM supplier
        UNION ALL
        SELECT u.node, s.s_suppkey, u.depth + 1,
               CAST(u.path_bal + CAST(s.s_acctbal AS DECIMAL(18,2))
                    AS DECIMAL(18,2))
        FROM up u JOIN supplier s
          ON s.s_suppkey = (u.cur - 1) // 2
        WHERE u.cur > 0)
      SELECT node AS s_suppkey, depth::INT AS depth,
             CAST(path_bal AS DOUBLE) AS path_bal
      FROM up
      WHERE cur = 0""",

    // Multiset set ops: DuckDB runs INTERSECT ALL / EXCEPT ALL
    // natively; both engines count survivors per key.
    "q_set_intersect_all" -> """
      SELECT k, count(*)::BIGINT AS n FROM (
        SELECT l_suppkey AS k FROM lineitem
        INTERSECT ALL
        SELECT o_custkey AS k FROM orders WHERE o_custkey < 1000)
      GROUP BY k""",

    "q_set_except_all" -> """
      SELECT k, count(*)::BIGINT AS n FROM (
        SELECT o_custkey AS k FROM orders
        EXCEPT ALL
        SELECT l_suppkey AS k FROM lineitem WHERE l_suppkey < 1500)
      GROUP BY k""",

    // Two-stage retrieve-and-rerank: the BM25 CTE (same recipe as
    // q_bm25_search) feeds an exact cosine re-rank against vec_id 0's
    // embedding; top-10 on (rounded cos desc, doc_id).
    "q_retrieve_rerank" -> """
      WITH d AS (
        SELECT doc_id, len(string_split(lower(text), ' '))::DOUBLE AS dl,
               string_split(lower(text), ' ') AS toks
        FROM documents),
      stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM d),
      tf AS (
        SELECT doc_id, dl, tok, count(*)::DOUBLE AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d)
        WHERE tok IN ('scan', 'join') GROUP BY 1, 2, 3),
      dfreq AS (SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
      cands AS (
        SELECT doc_id,
               round(sum(idf * tf * 2.2 /
                 (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS bm25
        FROM (SELECT t.doc_id, t.dl, t.tf, s.avgdl,
                     ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1) AS idf
              FROM tf t JOIN dfreq f USING (tok) CROSS JOIN stats s)
        GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20),
      qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
      SELECT c.doc_id, c.bm25,
             round(list_cosine_similarity(qv.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[]), 6) AS cos
      FROM cands c
      JOIN embeddings e ON e.vec_id = c.doc_id
      CROSS JOIN qv
      ORDER BY cos DESC, c.doc_id LIMIT 10""",

    // RRF hybrid fusion: both runs re-ranked with the identical
    // deterministic (rounded score desc, doc_id) order; each 1/(60+r)
    // term is one IEEE division, two-run sums are order-free
    // (commutative addition), rrf rounded 6dp
    "q_rrf_fusion" -> """
      WITH d AS (
        SELECT doc_id, len(string_split(lower(text), ' '))::DOUBLE AS dl,
               string_split(lower(text), ' ') AS toks
        FROM documents),
      stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM d),
      tf AS (
        SELECT doc_id, dl, tok, count(*)::DOUBLE AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d)
        WHERE tok IN ('scan', 'join') GROUP BY 1, 2, 3),
      dfreq AS (SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
      cands AS (
        SELECT doc_id,
               round(sum(idf * tf * 2.2 /
                 (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS bm25
        FROM (SELECT t.doc_id, t.dl, t.tf, s.avgdl,
                     ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1) AS idf
              FROM tf t JOIN dfreq f USING (tok) CROSS JOIN stats s)
        GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20),
      r1 AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
        FROM cands),
      qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
      cos AS (
        SELECT e.vec_id AS doc_id,
               round(list_cosine_similarity(qv.embedding::DOUBLE[],
                 e.embedding::DOUBLE[]), 6) AS cos
        FROM embeddings e CROSS JOIN qv
        ORDER BY cos DESC, doc_id LIMIT 20),
      r2 AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY cos DESC, doc_id) AS rnk
        FROM cos),
      u AS (SELECT doc_id, rnk FROM r1
            UNION ALL SELECT doc_id, rnk FROM r2)
      SELECT doc_id, count(*)::BIGINT AS n_runs,
             round(sum(1.0 / (60 + rnk)), 6) AS rrf
      FROM u GROUP BY doc_id ORDER BY rrf DESC, doc_id LIMIT 10""",

    // Two-sample KS: pooled distinct-value running CDFs; D and its
    // argmax are exact (divisions of exact counts, max has no
    // summation order). The oracle's one-task window is oracle-side
    // only — the engine runs the bucketed two-phase form.
    "q_ks_drift" -> """
      WITH av AS (SELECT o_totalprice AS v FROM orders
                  WHERE o_orderdate < '1998-01-01'),
      bv AS (SELECT o_totalprice AS v FROM orders
             WHERE o_orderdate >= '1998-01-01'),
      ca AS (SELECT v, count(*)::BIGINT AS c FROM av GROUP BY 1),
      cb AS (SELECT v, count(*)::BIGINT AS c FROM bv GROUP BY 1),
      m AS (
        SELECT coalesce(ca.v, cb.v) AS v,
               coalesce(ca.c, 0) AS c_a, coalesce(cb.c, 0) AS c_b
        FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
      cum AS (
        SELECT v,
               sum(c_a) OVER (ORDER BY v)::BIGINT AS cna,
               sum(c_b) OVER (ORDER BY v)::BIGINT AS cnb
        FROM m),
      t AS (SELECT max(cna) AS n_a, max(cnb) AS n_b FROM cum),
      diffs AS (
        SELECT v, abs(cna::DOUBLE / t.n_a::DOUBLE
                    - cnb::DOUBLE / t.n_b::DOUBLE) AS diff
        FROM cum, t)
      SELECT t.n_a::BIGINT AS n_a, t.n_b::BIGINT AS n_b,
             (SELECT max(diff) FROM diffs) AS d_stat,
             (SELECT min(v) FROM diffs
              WHERE diff = (SELECT max(diff) FROM diffs)) AS d_value
      FROM t""",

    // Streaming drift: per-day bucket histograms vs the first day's,
    // PSI formula mirrored term for term (smoothing 1 over the union
    // bucket set per window), rounded 6dp (transcendental ln).
    "q_stream_drift" -> """
      WITH c AS (
        SELECT date_trunc('day', ts) AS wstart,
               floor(value / 50)::BIGINT AS bk, count(*)::BIGINT AS cnt
        FROM events GROUP BY 1, 2),
      base AS (SELECT bk, cnt FROM c
               WHERE wstart = (SELECT min(wstart) FROM c)),
      a AS (SELECT w.wstart, b.bk, b.cnt
            FROM (SELECT DISTINCT wstart FROM c) w CROSS JOIN base b),
      m AS (
        SELECT coalesce(a.wstart, c.wstart) AS wstart,
               coalesce(a.bk, c.bk) AS bk,
               coalesce(a.cnt, 0)::BIGINT AS ca,
               coalesce(c.cnt, 0)::BIGINT AS cb
        FROM a FULL OUTER JOIN c
          ON a.wstart = c.wstart AND a.bk = c.bk),
      t AS (SELECT wstart, count(*)::BIGINT AS nb,
                   sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS ncb
            FROM m GROUP BY 1)
      SELECT m.wstart, t.nb AS n_buckets, t.na AS n_a, t.ncb AS n_b,
             round(sum(((m.ca + 1.0) / (t.na + 1.0 * t.nb)
                      - (m.cb + 1.0) / (t.ncb + 1.0 * t.nb))
                 * ln(((m.ca + 1.0) / (t.na + 1.0 * t.nb))
                    / ((m.cb + 1.0) / (t.ncb + 1.0 * t.nb)))), 6) AS psi
      FROM m JOIN t USING (wstart)
      GROUP BY m.wstart, t.nb, t.na, t.ncb""",

    // Seasonal decomposition: trend raw (integer-frame sums under one
    // division), seasonal/residual rounded 6dp (small-denominator
    // rationals cannot land on a 6dp half-grid point).
    "q_seasonal_decompose" -> """
      WITH daily AS (
        SELECT event_type, date_trunc('day', ts)::DATE AS day,
               count(*)::DOUBLE AS v
        FROM events GROUP BY 1, 2),
      b AS (SELECT event_type, day, v,
                   (day - DATE '1970-01-01') AS di FROM daily),
      t AS (
        SELECT *, count(*) OVER w AS n,
               CASE WHEN count(*) OVER w = 7
                    THEN sum(v) OVER w / count(*) OVER w END AS trend,
               di % 7 AS phase
        FROM b
        WINDOW w AS (PARTITION BY event_type ORDER BY di
                     RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      sr AS (SELECT event_type, phase, avg(v - trend) AS sraw
             FROM t WHERE trend IS NOT NULL GROUP BY 1, 2),
      sc AS (SELECT s.event_type, s.phase, s.sraw - m.smean AS seas
             FROM sr s JOIN (SELECT event_type, avg(sraw) AS smean
                             FROM sr GROUP BY 1) m USING (event_type))
      SELECT t.event_type, t.day, t.v AS value, t.n::BIGINT AS n_frame,
             t.trend, round(sc.seas, 6) AS seasonal,
             round(t.v - t.trend - sc.seas, 6) AS residual
      FROM t LEFT JOIN sc
        ON sc.event_type = t.event_type AND sc.phase = t.phase""",

    // LPA planted: two triangles + one bridge + an isolated pair —
    // the bridge's single vote loses to each triangle's majority, so
    // the triangles keep separate labels (components would merge
    // 0..12); closed-form 3-round convergence, hand-derived.
    "q_lpa_planted" -> """
      SELECT * FROM (VALUES
        (0::BIGINT, 0::BIGINT), (1::BIGINT, 0::BIGINT),
        (2::BIGINT, 0::BIGINT),
        (10::BIGINT, 10::BIGINT), (11::BIGINT, 10::BIGINT),
        (12::BIGINT, 10::BIGINT),
        (20::BIGINT, 20::BIGINT), (21::BIGINT, 20::BIGINT))
        AS t(node, label)""",

    // modularity of the planted LPA communities: the oracle replays
    // L_c, d_c and the sorted per-community fold over the known label
    // assignment (not a pasted constant) — every term dyadic, Q raw
    "q_modularity_planted" -> """
      WITH e(a, b) AS (VALUES (0, 1), (0, 2), (1, 2), (10, 11),
        (10, 12), (11, 12), (2, 10), (20, 21)),
      lab AS (SELECT n,
                CASE WHEN n < 10 THEN 0 WHEN n < 20 THEN 10
                     ELSE 20 END AS l
              FROM (VALUES (0), (1), (2), (10), (11), (12), (20), (21))
                AS t(n)),
      tagged AS (SELECT e.a, e.b, la.l AS la, lb.l AS lb
                 FROM e JOIN lab la ON la.n = e.a
                        JOIN lab lb ON lb.n = e.b),
      m AS (SELECT count(*)::BIGINT AS m FROM tagged),
      intra AS (SELECT la AS c, count(*)::BIGINT AS lc
                FROM tagged WHERE la = lb GROUP BY la),
      degc AS (SELECT c, count(*)::BIGINT AS dc
               FROM (SELECT la AS c FROM tagged
                     UNION ALL SELECT lb FROM tagged) u
               GROUP BY c),
      perc AS (SELECT degc.c, COALESCE(lc, 0)::BIGINT AS lc, dc, m
               FROM degc LEFT JOIN intra ON degc.c = intra.c
               CROSS JOIN m),
      fold AS (SELECT max(m)::BIGINT AS m,
                 count(*)::BIGINT AS n_communities,
                 list_reduce(list_prepend(0.0,
                   list(lc::DOUBLE / m::DOUBLE
                        - (dc::DOUBLE / (2.0 * m::DOUBLE))
                          * (dc::DOUBLE / (2.0 * m::DOUBLE))
                        ORDER BY c::VARCHAR)),
                   (acc, x) -> acc + x) AS q
               FROM perc)
      SELECT m, n_communities, q FROM fold""",

    // Jaro-Winkler: the engine kernel's semantics are pinned to this
    // builtin (empty->0, window max/2-1, boost only past 0.7).
    "q_jaro_winkler" -> """
      WITH n AS (SELECT DISTINCT p_name FROM part)
      SELECT a.p_name AS name_a, b.p_name AS name_b,
             round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
      FROM n a JOIN n b ON a.p_name < b.p_name""",

    "q_damerau" -> """
      WITH n AS (SELECT DISTINCT p_name FROM part)
      SELECT a.p_name AS name_a, b.p_name AS name_b,
             damerau_levenshtein(a.p_name, b.p_name)::BIGINT AS dl
      FROM n a JOIN n b ON a.p_name < b.p_name""",

    // CUSUM: recursive-CTE replay of the identical chained
    // max(0, s + ((x - mu) - k)) recurrence — raw doubles hash.
    "q_cusum_shift" -> """
      WITH RECURSIVE daily AS (
        SELECT event_type, date_trunc('day', ts)::DATE AS day,
               count(*)::DOUBLE AS n
        FROM events GROUP BY 1, 2),
      base AS (
        SELECT event_type, sum(n) / 7.0 AS mu
        FROM daily WHERE day < DATE '2024-01-08' GROUP BY 1),
      idx AS (
        SELECT d.event_type, d.day, d.n, b.mu,
               row_number() OVER (PARTITION BY d.event_type
                                  ORDER BY d.day) AS i
        FROM daily d JOIN base b USING (event_type)),
      walk AS (
        SELECT event_type, day, n, mu, i,
               greatest(0.0, 0.0 + (n - mu - 2.0)) AS s_pos,
               greatest(0.0, 0.0 + (mu - n - 2.0)) AS s_neg
        FROM idx WHERE i = 1
        UNION ALL
        SELECT x.event_type, x.day, x.n, x.mu, x.i,
               greatest(0.0, w.s_pos + (x.n - x.mu - 2.0)),
               greatest(0.0, w.s_neg + (x.mu - x.n - 2.0))
        FROM walk w JOIN idx x
          ON x.event_type = w.event_type AND x.i = w.i + 1)
      SELECT event_type, day, n AS value, s_pos, s_neg,
             (s_pos > 25.0 OR s_neg > 25.0) AS alarm
      FROM walk""",

    // Calibration: same scoring chain as q_quality_classifier, then
    // equal-width bins on the ROUNDED score; conf sums in
    // DECIMAL(10,6) (exact rationals), conf/acc/gap raw.
    "q_calibration" -> """
      WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        FROM documents),
      cells AS (
        SELECT doc_id,
               ('0x' || substr(md5('tf_' || tok), 1, 8))::BIGINT % 64
                 AS cell,
               count(*)::BIGINT AS c
        FROM toks WHERE tok <> '' GROUP BY 1, 2),
      m AS (
        SELECT doc_id,
               map_from_entries(list(struct_pack(k := cell, v := c))) AS mp
        FROM cells GROUP BY doc_id),
      tf AS (
        SELECT doc_id,
               list_transform(range(0, 64),
                 i -> coalesce(map_extract(mp, i)[1], 0)::BIGINT) AS v
        FROM m),
      w AS (
        SELECT list_transform(range(0, 64),
          i -> (i * 2654435761) % 1000 - 500) AS wv),
      scored AS (
        SELECT doc_id,
               list_sum(v)::BIGINT AS n_tokens,
               list_sum(list_transform(range(1, 65),
                 i -> v[i] * wv[i]))::BIGINT AS dot
        FROM tf CROSS JOIN w),
      sc AS (
        SELECT s.doc_id,
               round(1.0 / (1.0 + exp(-(dot::DOUBLE
                 / (1000.0 * n_tokens)))), 6) AS score,
               (d.lang = 'en') AS is_en
        FROM scored s JOIN documents d USING (doc_id)
        WHERE n_tokens > 0)
      SELECT least(floor(score * 10), 9)::INT AS bin,
             count(*)::BIGINT AS n,
             sum(CASE WHEN is_en THEN 1 ELSE 0 END)::BIGINT AS n_pos,
             CAST(sum(CAST(score AS DECIMAL(10,6))) AS DOUBLE)
               / count(*) AS conf,
             sum(CASE WHEN is_en THEN 1 ELSE 0 END)::DOUBLE
               / count(*) AS acc,
             abs(CAST(sum(CAST(score AS DECIMAL(10,6))) AS DOUBLE)
                   / count(*)
                 - sum(CASE WHEN is_en THEN 1 ELSE 0 END)::DOUBLE
                   / count(*)) AS gap
      FROM sc GROUP BY 1""",

    // ROC AUC over the same classifier fixture: the oracle replays the
    // cumulative with a PLAIN window over distinct logits — the
    // operator's two-phase bucket-offset form must match bit-for-bit.
    // All pair counts exact; auc is one IEEE division of exact longs.
    "q_roc_auc" -> (classifierScoreSql + """
      g AS (
        SELECT score,
               sum(CASE WHEN label THEN 1 ELSE 0 END)::BIGINT AS p,
               sum(CASE WHEN label THEN 0 ELSE 1 END)::BIGINT AS q
        FROM sc GROUP BY score),
      c AS (
        SELECT p, q,
               coalesce(sum(q) OVER (ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0)::BIGINT AS negbelow
        FROM g)
      SELECT sum(p)::BIGINT AS n_pos, sum(q)::BIGINT AS n_neg,
             sum(p * negbelow)::BIGINT AS concordant,
             sum(p * q)::BIGINT AS tied,
             CAST(2 * sum(p * negbelow) + sum(p * q) AS DOUBLE)
               / CAST(2 * sum(p) * sum(q) AS DOUBLE) AS auc
      FROM c"""),

    // average precision: step-interpolated sum ΔR·P over distinct
    // thresholds descending — order-summed division chain, 6dp
    "q_avg_precision" -> (classifierScoreSql + """
      g AS (
        SELECT score,
               sum(CASE WHEN label THEN 1 ELSE 0 END)::BIGINT AS p,
               sum(CASE WHEN label THEN 0 ELSE 1 END)::BIGINT AS q
        FROM sc GROUP BY score),
      c AS (
        SELECT p, q,
               coalesce(sum(p) OVER (ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0)::BIGINT AS posbelow,
               coalesce(sum(q) OVER (ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0)::BIGINT AS negbelow
        FROM g),
      t AS (SELECT sum(p)::BIGINT AS n1, sum(q)::BIGINT AS n0 FROM g)
      SELECT n1 AS n_pos, n0 AS n_neg,
             round(sum(p::DOUBLE * (n1 - posbelow)
               / (n1 * (n1 + n0 - posbelow - negbelow))), 6) AS ap
      FROM c, t GROUP BY n1, n0"""),

    // Bloom skip is result-invisible (residual isin keeps exactness);
    // the oracle is the plain point-lookup.
    "q_bloom_prune" -> """
      SELECT event_id, user_id, event_type, value
      FROM events
      WHERE event_id IN (7, 999, 4242, 8888, 123456789)""",

    "q_agg_filter" -> """
      SELECT o_orderpriority,
             count(*)::BIGINT AS n,
             (count(*) FILTER (WHERE o_orderstatus = 'F'))::BIGINT
               AS n_finished,
             (count(DISTINCT o_custkey)
               FILTER (WHERE o_orderdate >= '1997-01-01'))::BIGINT
               AS n_recent_custs,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  FILTER (WHERE o_totalprice > 100000.0) AS DOUBLE)
               AS big_total
      FROM orders
      GROUP BY o_orderpriority""",

    // Streaming IVM: the q_incremental_distinct multiset on the %4
    // order subset, applied across three microbatches.
    "q_stream_ivm" -> """
      WITH post AS (
        SELECT o_orderpriority, o_custkey
        FROM orders WHERE o_orderkey % 4 = 0 AND o_orderkey % 13 <> 0
        UNION ALL
        SELECT o_orderpriority, o_custkey + 900000000
        FROM orders WHERE o_orderkey % 4 = 0 AND o_orderkey % 17 = 0)
      SELECT o_orderpriority,
             count(DISTINCT o_custkey)::BIGINT AS n_distinct,
             count(*)::BIGINT AS n_rows
      FROM post GROUP BY o_orderpriority""",

    // Time travel: each committed version's state rebuilt closed-form
    // (v0 all, v1 after %5 updates + %7 deletes, v2 the final state),
    // digested with the manifest recipe (order-independent bit_xor).
    "q_time_travel" -> """
      WITH v0 AS (
        SELECT doc_id, 'd ' || md5(doc_id::VARCHAR) AS text
        FROM documents),
      v1 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                      THEN 'd ' || md5(doc_id::VARCHAR) || ' u2'
                    ELSE 'd ' || md5(doc_id::VARCHAR) END AS text
        FROM documents WHERE doc_id % 7 <> 0),
      v2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                      THEN 'd ' || md5(doc_id::VARCHAR) || ' u3'
                    WHEN doc_id % 5 = 0
                      THEN 'd ' || md5(doc_id::VARCHAR) || ' u2'
                    ELSE 'd ' || md5(doc_id::VARCHAR) END AS text
        FROM documents
        WHERE doc_id % 11 <> 0 AND (doc_id % 7 <> 0 OR doc_id % 3 = 0))
      SELECT 0::BIGINT AS version, count(*)::BIGINT AS n_rows,
             bit_xor(('0x' || substr(md5(doc_id::VARCHAR || chr(1)
               || chr(3) || text), 1, 15))::BIGINT) AS digest
      FROM v0
      UNION ALL
      SELECT 1::BIGINT, count(*)::BIGINT,
             bit_xor(('0x' || substr(md5(doc_id::VARCHAR || chr(1)
               || chr(3) || text), 1, 15))::BIGINT)
      FROM v1
      UNION ALL
      SELECT 2::BIGINT, count(*)::BIGINT,
             bit_xor(('0x' || substr(md5(doc_id::VARCHAR || chr(1)
               || chr(3) || text), 1, 15))::BIGINT)
      FROM v2""",

    // Entity resolution: the oracle replays the full pipeline — JW
    // candidate scoring with the builtin, transitive closure as a
    // recursive CTE (UNION dedup bounds it), canonical = min reachable
    // name. Cluster labels are names, so no numeric ids appear.
    "q_entity_resolution" -> """
      WITH RECURSIVE n AS (SELECT DISTINCT p_name FROM part),
      e AS (
        SELECT a.p_name AS x, b.p_name AS y
        FROM n a JOIN n b ON a.p_name < b.p_name
        WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.93),
      ee AS (SELECT x, y FROM e UNION ALL SELECT y, x FROM e),
      reach (src, dst) AS (
        SELECT p_name, p_name FROM n
        UNION
        SELECT r.src, ee.y FROM reach r JOIN ee ON ee.x = r.dst),
      comp AS (
        SELECT src AS p_name, min(dst) AS canonical
        FROM reach GROUP BY 1)
      SELECT c.p_name, c.canonical, z.cluster_size
      FROM comp c
      JOIN (SELECT canonical, count(*)::BIGINT AS cluster_size
            FROM comp GROUP BY 1) z USING (canonical)""",

    // Weighted PageRank planted: doubly-stochastic weighted ring ⇒
    // uniform 1/12 exact fixed point, at 9dp.
    "q_pagerank_weighted_planted" -> """
      SELECT unnest([0,1,2,3,4,5,6,7,8,9,10,11])::BIGINT AS node,
             0.083333333::DOUBLE AS pr""",

    // Containment: fragments (first half of each %17 doc's words) vs
    // the full corpus; overlap/|A| >= 0.8, one division, raw.
    "q_containment_join" -> """
      WITH basef AS (
        SELECT doc_id + 800000000 AS doc_id,
               list_filter(string_split(lower(text), ' '),
                 t -> t <> '') AS w0
        FROM documents WHERE doc_id % 17 = 0),
      fragw AS (SELECT doc_id, w0[1 : len(w0) // 2] AS w FROM basef),
      sizedf AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tk
        FROM fragw WHERE len(w) >= 3),
      based AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '),
                 t -> t <> '') AS w
        FROM documents),
      sizedd AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tk
        FROM based WHERE len(w) >= 3),
      tokf AS (SELECT doc_id, len(tk)::INT AS n, unnest(tk) AS tok
               FROM sizedf WHERE len(tk) > 0),
      tokd AS (SELECT doc_id, len(tk)::INT AS n, unnest(tk) AS tok
               FROM sizedd WHERE len(tk) > 0),
      ov AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               a.n AS n1, b.n AS n2, count(*)::INT AS overlap
        FROM tokf a JOIN tokd b ON a.tok = b.tok
        GROUP BY 1, 2, 3, 4)
      SELECT id1, id2, n1, n2, overlap,
             overlap::DOUBLE / n1 AS containment
      FROM ov
      WHERE overlap::DOUBLE / n1 >= 0.8""",

    // Exact discrete quantiles: DuckDB quantile_disc = the element at
    // 1-based rank ceil(q*n) (the round-7 verified semantics).
    "q_exact_quantiles" -> """
      WITH vals AS (SELECT o_totalprice AS v FROM orders
                    WHERE o_totalprice IS NOT NULL)
      SELECT 0.1::DOUBLE AS q, count(*)::BIGINT AS n,
             quantile_disc(v, 0.1) AS value FROM vals
      UNION ALL
      SELECT 0.5::DOUBLE, count(*)::BIGINT,
             quantile_disc(v, 0.5) FROM vals
      UNION ALL
      SELECT 0.9::DOUBLE, count(*)::BIGINT,
             quantile_disc(v, 0.9) FROM vals
      UNION ALL
      SELECT 0.99::DOUBLE, count(*)::BIGINT,
             quantile_disc(v, 0.99) FROM vals""",

    // weighted discrete quantile: smallest v whose cumulative WEIGHT
    // reaches ceil(q·W). DuckDB has no weighted quantile builtin, so
    // the oracle replays the cumulative definition; the q literals
    // stay DECIMAL through the q*W product (exact, the discRank
    // discipline) and cast to DOUBLE only in the output
    "q_weighted_quantiles" -> """
      WITH c AS (
        SELECT l_extendedprice AS v,
               sum(CAST(l_quantity AS BIGINT)) AS c
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
          AND CAST(l_quantity AS BIGINT) <> 0
        GROUP BY v),
      cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cw FROM c),
      tot AS (SELECT sum(c)::BIGINT AS w FROM c),
      ranks AS (
        SELECT qv.q, greatest(1, ceil(qv.q * t.w))::BIGINT AS r, t.w
        FROM tot t, (VALUES (0.1), (0.5), (0.9), (0.99)) AS qv(q))
      SELECT r.q::DOUBLE AS q, r.w AS n, min(cum.v) AS value
      FROM ranks r JOIN cum ON cum.cw >= r.r
      GROUP BY r.q, r.w""",

    // Benford digit audit: digit via the exact cents-integer string
    // head (no FP log in the digit path); share raw IEEE, benford_p
    // rounded 6dp (transcendental-safe)
    "q_benford_audit" -> """
      WITH d AS (
        SELECT substr(CAST(round(o_totalprice * 100) AS BIGINT)::VARCHAR,
                 1, 1)::INT AS digit
        FROM orders WHERE o_totalprice > 0),
      g AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY digit),
      t AS (SELECT sum(n)::BIGINT AS tt FROM g)
      SELECT digit, n, n / tt::DOUBLE AS share,
             round(log10(1.0 + 1.0 / digit), 6) AS benford_p
      FROM g, t""",
  )
}

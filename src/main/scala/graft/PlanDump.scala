package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for the flagship queries into PLANS.md —
  * reviewable evidence that pushdown/broadcast/top-k/partial-agg shapes
  * hold (the same properties PlanShapeSpec asserts mechanically).
  *
  * Usage: `sbt "runMain graft.PlanDump"` (regenerates PLANS.md).
  */
object PlanDump {

  private val flagships = Seq(
    "q1_agg", "q3_shipping", "q5_local_supplier", "q_filter_pred",
    "q_join_range", "q_asof_join", "q_topk_parts", "q_window_rank",
    "q_vector_cosine", "q_similarity_topk", "q_minhash_neardup",
    "q_corpus_build", "q_topk_per_group",
    // round 2
    "q_latest_per_key", "q_pipeline_e2e", "q_bm25_search", "q_decontam",
    "q_sample_stratified", "q_pq_topk", "q_ivfpq_topk",
    // round 3
    "q_quality_repetition", "q_dup_spans", "q_domain_mix", "q_seq_pack",
    // round 4
    "q_dup_span_removal", "q_shuffle_shards", "q_line_dedup",
    "q_rand_project", "q_embed_centroids", "q_partition_prune",
    "q_bucketed_join", "q_zorder_key",
    // round 5
    "q_resample_ffill", "q_scd2_history", "q_hist_quantiles",
    "q_pmi_collocations", "q_graph_degrees", "q_hard_negatives",
    "q18_large_orders", "q_unpivot", "q_skew_report",
    "q_cohort_retention",
    // round 7
    "q_setsim_join", "q_global_seq", "q_length_outliers",
    "q_rolling_median", "q_heavy_hitters", "q_interval_overlap",
    "q_winsorize", "q_corpus_drift", "q_ohlc_bars", "q_manifest",
    "q_incremental_agg",
    // round 8
    "q_temporal_join", "q_bloom_join", "q_validate", "q_phrase_search",
    "q_ir_metrics", "q_event_pattern", "q_setsim_linkage",
    "q_join_card_est", "q_zonemap_prune", "q8_market_share",
    "q_corr_matrix", "q_incremental_join",
    // round 9: the decorrelation spine + the new operator tiers
    "q2_min_cost", "q4_priority_exists", "q20_semi_chain",
    "q17_small_qty", "q21_waiting", "q_mv_rewrite", "q_kmv_setops",
    "q_incremental_distinct", "q_dsir_weights", "q_pii_redact",
    "q6_forecast", "q9_profit", "q11_important_parts", "q16_supplier_cnt",
    // round 10: the ntile rewrites (no unpartitioned window left), the
    // real header codec gate, the eval family, link prediction on the
    // adjacency triangle kernel, and KN surprisal
    "q_rfm_segments", "q_curriculum", "q_media_headers",
    "q_roc_auc", "q_adamic_adar", "q_kn_surprisal",
    "q_triangle_counts", "q_winnow_fingerprints",
    // round 10, second session
    "q_welch_ttest", "q_confusion_f1", "q_gini_revenue",
    "q_hll_estimate", "q_grouped_quantiles", "q_holt_forecast",
    "q_rouge2_pairs", "q_hits_planted",
    // round 13: the ordered-trend grid, the two-phase median test, the
    // codegen blocklist scan, and the provenance chain
    "q_jonckheere", "q_levene_bf", "q_blocklist_hits", "q_tclose_audit",
    "q_drop_ledger",
    // round 14: the incremental chain, the kernelized BLEU, the rich
    // fixture screens, and the new stat/profile tier
    "q_corpus_incremental", "q_bleu_pairs", "q_neardup_rich",
    "q_pii_rich", "q_cochran_armitage", "q_mantel_haenszel",
    "q_cronbach_alpha", "q_page_trend", "q_hampel", "q_durbin_watson",
    "q_key_profile", "q_fd_violations",
    // round 15: the delete-side IVM chain, the compacted three-day
    // ingest, and the real-distribution ANN append
    "q_corpus_retract", "q_corpus_day3", "q_ann_append")

  def main(args: Array[String]): Unit = {
    val sf = "/root/testdata/sf0.01"
    val spark = graft.api.Engine.session("local[8]", 8)
    spark.sparkContext.setLogLevel("WARN")

    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of flagship queries (sf0.01)\n\n")
    sb.append("Generated by `sbt \"runMain graft.PlanDump\"`. What to look\n")
    sb.append("for: `PushedFilters`/`ReadSchema` on scans (pushdown +\n")
    sb.append("pruning), `BroadcastHashJoin` on dimension joins,\n")
    sb.append("`TakeOrderedAndProject` for top-k, paired partial/final\n")
    sb.append("`HashAggregate`, and no `CartesianProduct` anywhere.\n")
    flagships.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        val df = fn(spark, sf)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(s"\n## $name\n\n```\n")
        sb.append(plan.take(8000))
        sb.append("\n```\n")
      }
    }
    // red-flag audit of the TOP-LEVEL plan of every registered batch
    // query: a cartesian product, or a nested-loop join outside the
    // allowlist below, is a scale bug even when results are right.
    // Scope notes: streaming replays are excluded (constructing them
    // runs them); index-building queries (pq/ivfpq/transitive) execute
    // their training jobs during construction here, and the plans of
    // those internal jobs are covered by their own plan-shape specs, not
    // this string audit.
    //
    // BNLJ allowlist: these queries deliberately `broadcast()` a tiny
    // side (probe set, single-row corpus stats, single-row codebook) into
    // a cross/non-equi join — BroadcastNestedLoopJoin with a hinted small
    // build side IS the intended plan there; the streamed big side never
    // shuffles. The audit exists to catch UNINTENDED nested loops.
    val bnljIntended = Set("q_vector_cosine", "q_similarity_topk",
      // retrieve_rerank: 1-row query-vector broadcast cross join
      "q_retrieve_rerank",
      "q_l2_nearest", "q_embed_neardup", "q_bm25_search", "q_pq_topk",
      "q_ivfpq_topk", "q_ann_ivf",
      // the append gate runs ivfpq search PLUS two 1-row broadcast cross
      // joins attaching the max(vec_id) copy offset
      "q_ivfpq_append_planted",
      // r15: the real-distribution append and the retract closure run
      // the same intended ivfpq search shapes (1-row offset broadcast,
      // broadcast probe side); kendall_w crosses its single-row tie
      // aggregate like friedman/page_trend (the skew-report shape)
      "q_ann_append", "q_ivfpq_retract_planted", "q_kendall_w",
      // the planted twins run the same intended broadcast shapes, plus a
      // 1-row broadcast cross join attaching the max(vec_id) copy offset
      "q_ann_ivf_planted", "q_ann_lsh_planted", "q_cluster_planted",
      // semantic dedup broadcasts the single-row centroid set into its
      // assignment projection — an intended 1-row cross join
      "q_semantic_dedup", "q_semantic_dedup_planted",
      // quantized search broadcasts the 5-probe side (same shape as
      // q_similarity_topk); surprisal cross-joins ONE broadcast row of
      // global corpus stats into the score projection — and
      // q_curriculum composes surprisal, inheriting the same shape
      "q_quant_topk", "q_unigram_surprisal", "q_curriculum",
      // bloom decontam broadcasts the single-row Bloom filter (the whole
      // point: membership without any corpus-side shuffle); semantic
      // decontam broadcasts the single-row bench-vector array likewise
      "q_bloom_decontam", "q_semantic_decontam",
      // bigram surprisal cross-joins the same 1-row broadcast global
      // stats as its unigram sibling; cms_freq broadcasts the 4-row
      // probe-word side into the per-lang sketch row
      "q_bigram_surprisal", "q_cms_freq",
      // PMI cross-joins the 1-row broadcast bigram total; the skew
      // report cross-joins its two 1-row aggregates (stats × top keys);
      // scd2 attaches the 1-row latest-version bound; hard negatives
      // broadcasts the anchor side into a non-equi (id ≠, label ≠) join
      // — the q_similarity_topk shape with the label filter in-join
      "q_pmi_collocations", "q_skew_report", "q_scd2_history",
      "q_hard_negatives",
      // weighted sampling cross-joins its single-row broadcast max-weight
      // aggregate into the map-only acceptance filter (round 6; same
      // 1-row-stats shape as surprisal)
      "q_sample_weighted",
      // the two-tier interval join's LONG tier broadcasts the tiny
      // ≥-threshold side through the raw overlap predicate — the
      // operator's documented intended shape (round 7); the short×short
      // bulk stays bucketed equi-join
      "q_interval_mixed",
      // round 8: the Bloom pre-filter rides ONE broadcast filter row
      // onto the fact scan (the whole point — membership without a
      // fact-side shuffle); the cardinality estimate cross-joins two
      // 1-row sketch aggregates plus the 1-row exact-count comparison
      "q_bloom_join", "q_join_card_est",
      // composes CorpusDiff.scd2, inheriting its 1-row latest-version
      // broadcast cross join (the q_scd2_history shape)
      "q_temporal_join",
      // contingency screening cross-joins its 1-row broadcast grand
      // total into the per-cell projection (the skew-report shape)
      "q_cat_dependence",
      // round 9 audit additions (both round-8 queries that postdate the
      // last sweep): co-purchase lift cross-joins its 1-row broadcast
      // n_orders aggregate into the lift projection; Fightin' Words
      // cross-joins the 1-row broadcast corpus-total row — the same
      // 1-row-stats shape as surprisal/skew-report
      "q_copurchase_lift", "q_fightin_words",
      // KMV set algebra joins the 5-row broadcast sketch table through
      // a non-equi (type_a < type_b) pair condition — the intended
      // tiny-side BNLJ
      "q_kmv_setops",
      // round 9 (session 2): DSIR and KS each cross-join ONE broadcast
      // row of totals into the score/CDF projection (the surprisal
      // shape); Jaro-Winkler pairs the 64-row distinct-name table
      // through a non-equi (a < b) condition — the kmv_setops shape;
      // entity resolution inherits the JW pair shape; exact quantiles
      // probe the tiny broadcast rank table through a non-equi >=
      "q_dsir_weights", "q_ks_drift", "q_jaro_winkler",
      "q_entity_resolution", "q_exact_quantiles",
      // round 10: Welch crosses its two 1-row moment aggregates (the
      // skew-report shape); gini/top-share anchor on the guarded 1-row
      // totals × the numerator aggregate / the ≤3-row p table; AP
      // crosses the 1-row class-totals row into the threshold table
      "q_welch_ttest", "q_gini_revenue", "q_top_share",
      "q_avg_precision", "q_roc_auc",
      // round 10 sweep adjudications (every flag inspected in source —
      // all intended tiny-side broadcasts): benford crosses its 1-row
      // grand total; bitmap_overlap pairs the ≤5-row per-type bitmap
      // table via a < b (the kmv_setops shape); damerau pairs the
      // 64-row distinct-name table (the jaro_winkler shape); KN
      // surprisal crosses the 1-row continuation-type total; NB train
      // crosses the 1-row vocab count + grand total, classify crosses
      // the ≤5-row class list and broadcasts the bounded (vocab ×
      // class) model; rfm crosses the 1-row max-date anchor; rrf
      // fusion crosses the 1-row query vector; skyline broadcasts the
      // merged local-skyline candidate set through the dominance
      // predicate (candidates ≪ rows, documented in Skyline);
      // weighted_quantiles probes the tiny rank table via >= (the
      // exact_quantiles shape)
      "q_benford_audit", "q_bitmap_overlap", "q_damerau",
      "q_kn_surprisal", "q_nb_classify", "q_nb_train",
      "q_rfm_segments", "q_rrf_fusion", "q_skyline",
      "q_weighted_quantiles",
      // kappa crosses its two 1-row aggregates (base × row·col term);
      // trimmed mean anchors guarded totals × the 1-row kept sums —
      // both the skew-report shape
      "q_cohen_kappa", "q_trimmed_mean",
      // round 11-12 sweep adjudications (every flag inspected in
      // source; the r11 judge audited the operator crossJoins and
      // adjudicated them 1-row aggregate broadcasts, not cartesians):
      // kruskal/wilcoxon/friedman/jsd/llr/mcc/fleiss/krippendorff each
      // cross their 1-row totals/tie/fold aggregates (the skew-report
      // shape); kendall pairs the bounded distinct-cell table via a
      // non-equi condition (the kmv_setops shape); mann_kendall and
      // cross_corr broadcast the bounded slot grid through the pair/
      // shifted-slot condition (grid², data-size-independent — the
      // operator contract); fdr_flags crosses the 1-row m aggregate +
      // the 1-row cutoff; modularity crosses the 1-row edge-count m
      // into the per-community terms
      "q_kruskal", "q_wilcoxon", "q_friedman", "q_jsd_langs",
      "q_llr_keyness", "q_mcc", "q_fleiss_kappa", "q_krippendorff",
      "q_kendall_tau", "q_mann_kendall", "q_cross_corr",
      "q_fdr_flags", "q_modularity_planted",
      // round 13: heaps_fit crosses the broadcast 16-row checkpoint
      // grid into both grouped scans (the mann_kendall bounded-grid
      // shape); jonckheere crosses the broadcast ≤64-row group-order
      // table into the union-value grid likewise; tclose crosses its
      // guarded 1-row N aggregate (the skew-report shape)
      "q_heaps_fit", "q_jonckheere", "q_tclose_audit",
      // cochran crosses its two 1-row item/treatment moment aggregates
      // (the skew-report shape)
      "q_cochran_q",
      // r14 (first audit of three r13/r14-registered gates): silhouette
      // crosses the broadcast centroid table (≤ maxClusters rows,
      // loudly guarded in-plan) into the map-only distance projection
      // — the operator's documented O(n·k) shape; log_rank crosses the
      // broadcast exactly-2-row cohort-label table into the cell
      // collapse plus its two 1-row subject/fold aggregates; cronbach
      // crosses its two 1-row item/subject moment aggregates (the
      // skew-report shape)
      "q_silhouette", "q_log_rank", "q_cronbach_alpha")
    val audited = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("q_stream"))
    val flags = audited.flatMap { name =>
      try {
        val p = SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan.toString
        val cart = if (p.contains("CartesianProduct"))
          Seq(s"$name: CartesianProduct") else Nil
        val bnlj = if (p.contains("BroadcastNestedLoopJoin") &&
            !bnljIntended.contains(name))
          Seq(s"$name: unexpected BroadcastNestedLoopJoin") else Nil
        cart ++ bnlj
      } catch { case e: Throwable => Seq(s"$name: PLAN FAILED ${e.getMessage}") }
    }
    sb.append(s"\n## Audit — top-level plans of ${audited.size} batch queries\n\n")
    if (flags.isEmpty)
      sb.append("No CartesianProduct in any top-level plan; no " +
        "BroadcastNestedLoopJoin outside the documented " +
        "broadcast-tiny-side allowlist " +
        s"(${bnljIntended.toSeq.sorted.mkString(", ")}); all plans " +
        "constructed cleanly. Operator-internal iterative jobs (kmeans, " +
        "PQ training, component propagation) are covered by their own " +
        "plan-shape specs, not this sweep.\n")
    else flags.foreach(f => sb.append(s"- FLAG: $f\n"))
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plandump] wrote PLANS.md (${flagships.size} flagships, " +
      s"${audited.size} audited, ${flags.size} flags)")
    flags.foreach(f => println(s"[plandump] FLAG $f"))
    spark.stop()
  }
}

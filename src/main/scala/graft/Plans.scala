package graft

/** Prints `explain("formatted")` as markdown for the named queries
  * (default: the headline set) — the reviewable evidence that filters
  * push down, dims broadcast, aggregation is partial→final, and top-k
  * avoids global sorts. `tools/run.sh graft.Plans > PLANS.md`
  * regenerates the committed file; `graft.Plans q1 q2` prints just
  * those. */
object Plans {
  val Headline = Seq(
    "tsdb_query_pipeline", "tsdb_downsample_twa", "scan_pruned",
    "join_multiway", "join_theta_range", "join_asof", "agg_hash_groupby",
    "sub_correlated_scalar", "limit_topk", "llm_sim_cosine_topk",
    "llm_knn_join", "llm_dedup_near_minhash", "llm_sim_ann_lsh",
    "llm_sim_ivf", "llm_sim_ivf_batch", "llm_sim_pq",
    "llm_dedup_substring", "agg_approx_distinct_hll",
    "llm_fingerprint", "llm_corpus_curate", "tsdb_multi_subquery",
    "llm_sim_ivf_stored", "llm_sim_ivfpq_stored", "llm_dedup_incremental",
    "tsdb_expression_ratio", "llm_sim_ivf_deleted", "tsdb_topn",
    "tsdb_histogram_pct", "tsdb_expression_wow", "tsdb_topn_current",
    "tsdb_downsample_calendar", "llm_sim_ivf_filtered",
    "tsdb_expression_topn", "tsdb_query_capped",
    "llm_sim_ivfpq_filtered", "tsdb_expression_pct",
    "llm_bm25_topk", "llm_bm25_indexed", "llm_hybrid_rrf_stored",
    "tsdb_query_last", "llm_bm25_batch", "llm_prf_expansion",
    "llm_dedup_containment", "llm_hard_negatives",
    "tsdb_forecast_linear", "tsdb_changepoint", "win_streak",
    "evt_funnel", "evt_retention_cohort", "sub_exists", "sub_in",
    "win_rolling_distinct", "tsdb_autocorr", "tsdb_bollinger",
    "llm_bpe_merge", "llm_url_dedup", "tsdb_sax", "tsdb_outlier_mad",
    "evt_attribution", "evt_wau_rolling", "llm_shard_assign",
    "llm_dedup_edit_distance", "llm_mixture_temperature", "tsdb_ohlc",
    "join_lateral", "agg_filtered", "win_nth_value",
    "evt_markov_transitions", "tsdb_heatmap", "tsdb_burn_rate",
    "tsdb_gap_stats", "llm_corpus_export", "evt_stickiness",
    "tsdb_percentile_band", "tsdb_theil_sen", "llm_vocab_gini",
    "llm_ngram_novelty", "agg_hll_merge", "evt_conversion_time",
    "join_asof_forward", "fn_try_cast", "tsdb_alert_hysteresis",
    "evt_rfm", "evt_churn_weekly", "agg_revenue_pareto",
    "tsdb_capacity_forecast", "tsdb_counter_resets",
    "tsdb_anomaly_seasonal", "tsdb_moving_median",
    "llm_query_likelihood", "join_interval_overlap",
    "agg_bitmap_distinct", "scan_agg_pushdown", "tsdb_rate_irate",
    "evt_ab_lift", "join_asof_nearest", "tsdb_summary",
    "evt_session_quartiles", "llm_dataset_card",
    "evt_path_topk", "evt_cohort_ltv", "tsdb_cusum", "graph_pagerank",
    "graph_triangles", "agg_corr_matrix", "fn_regexp", "llm_span_mask",
    "tsdb_holt_winters", "llm_embed_outliers", "llm_tokenizer_fertility",
    "fn_bitwise", "join_asof_tolerance", "evt_attribution_first",
    "llm_quality_buckets", "tsdb_moving_p90", "graph_jaccard_similar",
    "llm_bigram_surprisal", "ingest_schema_evolution", "tsdb_lttb",
    "evt_funnel_window", "agg_moments", "set_except_all",
    "evt_zipf_fit", "tsdb_forecast_eval", "tsdb_lead_lag_corr",
    "llm_repeated_ngram", "agg_grouping_id", "scan_profile",
    "llm_contrastive_triplets", "llm_balance_labels",
    "agg_multi_distinct", "join_runtime_filter",
    "llm_dsir_weights", "graph_components", "evt_vwap",
    "llm_multimodal_frames", "llm_dedup_eval", "cdc_scd2",
    "evt_asof_enrich", "graph_degree_hist", "llm_sim_ivf_recall",
    "fn_url", "graph_pagerank_copart", "llm_retrieval_mrr",
    "llm_embed_pca", "sink_dynamic_overwrite", "llm_char_entropy",
    "llm_unigram_kl", "agg_weighted_median", "evt_concurrency_peak",
    "tsdb_query_json", "llm_corpus_diff", "llm_multimodal_decode",
    "tsdb_downsample_minmax_count", "series_catalog_roundtrip",
    "llm_keyphrase_rake", "llm_quality_logreg", "agg_bitmap_intersect",
    "tsdb_ddsketch_pct", "llm_word_pmi", "llm_sample_priority",
    "evt_sequence_detect", "graph_adamic_adar", "llm_cms_heavy",
    "llm_bloom_prefilter", "graph_label_propagation", "llm_pref_pairs",
    "llm_multimodal_pixstats", "llm_lang_confusion", "llm_dedup_canonical",
    "llm_knn_join_ivf", "llm_dedup_cosine", "llm_embed_label_cohesion",
    "tsdb_query_qs", "tsdb_dtw_banded", "llm_multimodal_video_frames",
    "llm_sim_radius_stored", "llm_dedup_lines", "llm_dedup_lines_apply",
    "tsdb_query_wire",
    // r17 additions: the annotation overlay's broadcast range join,
    // the capped AA (semi-join cap stage is eager — the dumped plan is
    // the downstream AA over capped edges), and the oracled NaN-fill
    // text twin's spine/fill/text-render pipeline
    "tsdb_annotation_overlay", "graph_adamic_adar_capped",
    "tsdb_downsample_fill_nan_text")

  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq else Headline
    val spark = graft.core.Session.local(4)
    val sf = "/root/testdata/sf0.001"
    val out = new StringBuilder
    out ++= "# Physical plans (sf0.001, `explain formatted`)\n\n"
    out ++= "Regenerate with `tools/run.sh graft.Plans > PLANS.md`.\n"
    names.foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      out ++= s"\n## $q\n\n```\n$plan```\n"
    }
    print(out)
    spark.stop()
  }
}

"""Central query registry — the SURVEY.md §2 operator inventory.

Each operator module registers its queries with the ``@register``
decorator; ``all_specs()`` imports every operator module (idempotent) and
returns the merged registry. ``__spark_entry__.py`` derives its
``queries()`` / ``oracle_sql()`` dicts from here, so a query is "declared"
to the driver exactly when its module registers it.

Determinism contract for every registered query (SURVEY §5.3): float
outputs rounded 4-6dp on both sides, every ORDER BY ends in a unique key,
integer SUMs cast to BIGINT in the oracle, no raw nanosecond timestamps
emitted, computed columns aliased identically in Spark and SQL.

Rule #11 (SURVEY §5.3, learned r4): the BIGINT cast must wrap the
OUTERMOST expression of every integer-valued oracle RESULT column —
DuckDB widens ``sum(BIGINT)`` to HUGEINT, and the driver's pandas hash
medium turns HUGEINT into float64, a guaranteed hash-fail.  Statically
enforced by tests/test_oracle_types.py; use
``functions.helpers.sql_sum_units`` for the common money/units shape.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Operator modules that populate the registry on import.
_OPERATOR_MODULES = [
    "scans",
    "scalars",
    "experiment",
    "storage",
    "etl",
    "graph",
    "joins",
    "aggregates",
    "windows",
    "sorts",
    "setops",
    "text",
    "llmtext",
    "vectors",
    "udfs",
    "events_windows",
    "streaming_ops",
    "multimodal",
    "ml",
    "tpch",
    "codecs",
]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB ANSI SQL; None => rows-only check
    tier: str  # P0 / P1 / P2
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}
_LOADED = False


def register(
    name: str, oracle: str | None = None, tier: str = "P1", doc: str = ""
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, tier, doc or (fn.__doc__ or ""))
        return fn

    return deco


def _load() -> None:
    global _LOADED
    if _LOADED:
        return
    for mod in _OPERATOR_MODULES:
        importlib.import_module(f"sd2_drp_experimentgen_spark.operators.{mod}")
    _LOADED = True


# Driver-green history as DATA (VERDICT r8 item 4): one tuple per
# round holding the queries whose driver row in CORRECTNESS_r{N}.json
# was GREEN that round — hash-green (rows+schema+hash match) or the
# rows-only contract row (err == 'no_oracle' with a recorded count).
# Derived from the driver's own files, so r4's 36 re-samples of
# earlier greens are dated r4, not their first round. A query sampled
# green in several rounds appears in several tuples; _GREEN_ROUND
# keeps the NEWEST, so the freshness rotation in _driver_priority
# ranks every verified query by the age of its LATEST green row.
# CAVEAT (VERDICT r3 item 4): membership records driver HISTORY, not
# current validity — a query rewritten after its green must ALSO
# appear in _REBOOST below, which outranks the verified tier and
# forces a fresh sample.
# The tuples between the GREEN-TUPLES markers are GENERATED: run
# `python tools/fold_greens.py` after a round's CORRECTNESS_r{N}.json
# lands and commit the rewrite — never hand-edit them.

# --- BEGIN GREEN-TUPLES (generated by tools/fold_greens.py) ---
_GREEN_R15 = (
    "q_ann_index_append", "q_ann_index_compact",
    "q_ann_ivfpq_recall_curve", "q_ann_nprobe_choose", "q_emb_nn_descent",
    "q_graph_triangle_count", "q_stream_ingest_neardup",
    "q_join_asof_tolerance", "q_join_lateral_api", "q_sql_pipe_syntax",
    "q_sql_scripting", "q_join_asof_nearest", "q_agg_hll_sketch_merge",
    "q_agg_count_min_sketch", "q_agg_histogram_numeric",
    "q_agg_theta_sketch_ops", "q_agg_kll_quantiles",
    "q_text_feature_hashing", "q_pack_sequences", "q_text_pii_redact",
    "q_text_langid_confusion", "q_corpus_upsample_epochs",
    "q_pack_loss_mask", "q_text_html_strip", "q_sim_range_search",
    "q_emb_pq_encode", "q_source_binaryfile", "q_ann_ivf_topk",
    "q_stat_chi_square_cells", "q_crm_rfm_segments", "q_stat_pmi_cells",
    "q_ml_kfold_assign", "q_dq_benford", "q_etl_incremental_auc",
    "q_dq_drift_chisq", "q_ml_feature_scaler_fit",
    "q_ml_quantile_binning", "q_ml_auc_rank", "q_ml_target_encoding",
    "q_ml_confusion_threshold", "q_ml_calibration_bins",
    "q_agg_higher_moments", "q_ml_gini_stump", "q_ml_pr_curve_points",
    "q_ml_ks_statistic", "q_ml_lift_gains", "q_stat_spearman",
    "q_stat_welch_ttest", "q_ml_auc_by_group", "q_ml_cost_threshold",
)

_GREEN_R14 = (
    "q_gen_randomized_plate_layout", "q_gen_doe_fractional",
    "q_ann_index_append", "q_ann_index_compact",
    "q_ann_ivfpq_recall_curve", "q_ann_nprobe_choose",
    "q_stream_ann_index_ingest", "q_corpus_overlap_matrix",
    "q_graph_common_neighbors", "q_emb_dedup_pipeline",
    "q_dedup_components", "q_dedup_cluster_stats",
    "q_dedup_survivor_quality", "q_join_bloom_runtime",
    "q_graph_pagerank", "q_graph_bfs_hops", "q_dedup_minhash_bands",
    "q_dedup_lsh_refine", "q_dedup_minhash_estimate",
    "q_text_winnow_fingerprints", "q_dedup_winnow_pairs",
    "q_dedup_minhash_lsh", "q_llm_corpus_pipeline",
    "q_agg_approx_distinct", "q_udf_cogrouped", "q_emb_pca_power",
    "q_text_span_dup", "q_text_bigram_lm_score", "q_decontaminate_ngrams",
    "q_dedup_simhash", "q_doc_fingerprint_shingle",
    "q_text_ngram_profile", "q_mm_phash_dedup", "q_mm_corpus_pipeline",
    "q_mm_image_features", "q_mm_frame_sample", "q_mm_features_verified",
    "q_mm_audio_features", "q_mm_video_stride_verified",
    "q_etl_incremental_bookmark", "q_dq_outlier_fences",
    "q_etl_snapshot_diff", "q_etl_incremental_agg",
    "q_etl_incremental_sketch", "q_dq_reconcile_totals",
    "q_sql_parameterized", "q_sql_session_variables",
    "q_sql_group_by_all", "q_sql_exists_in_subqueries",
    "q_join_asof_forward",
)

_GREEN_R13 = (
    "q_join_bloom_runtime", "q_ann_ivfpq_topk", "q_ann_index_partitioned",
    "q_tpch_q12_shipmode_priority", "q_dedup_exact_docs",
    "q_llm_corpus_pipeline", "q_graph_pagerank", "q_graph_bfs_hops",
    "q_emb_nn_descent", "q_stream_sliding_watermarked",
    "q_sink_json_spec", "q_source_csv_multiline",
    "q_nested_collect_inline", "q_sql_collation", "q_frame_transpose",
    "q_sink_partition_overwrite", "q_join_skew_salted",
    "q_sink_write_audit_publish", "q_join_dynamic_partition_pruning",
    "q_storage_time_travel", "q_storage_merge_on_read_deletes",
    "q_etl_apply_changes", "q_resample_interpolate",
    "q_dq_anomaly_zscore", "q_agg_pivot_multi",
    "q_agg_period_over_period", "q_win_max_drawdown",
    "q_corpus_domain_caps", "q_corpus_report", "q_pack_policy_compare",
    "q_mix_epochs_budget", "q_emb_matryoshka_mass",
    "q_udf_apply_in_arrow", "q_udf_sql_registered",
    "q_stream_rate_source", "q_stream_sink_python_ds",
    "q_tpch_q4_order_priority", "q_tpch_q10_returned_items",
    "q_tpch_q13_customer_distribution", "q_tpch_q15_top_supplier",
    "q_tpch_q16_supplier_cnt", "q_tpch_q18_large_orders",
    "q_tpch_q20_part_promotion", "q_tpch_q21_waiting_supplier",
    "q_codec_csv_column", "q_codec_url_parse", "q_codec_xml_column",
    "q_sql_identifier_clause", "q_sql_udf_declared", "q_dq_expectations",
)

_GREEN_R12 = (
    "q_neardup_jaccard", "q_neardup_containment",
    "q_dedup_threshold_curve", "q_dedup_minhash_lsh", "q_sim_cosine_topk",
    "q_dedup_embedding_nn", "q_emb_knn_graph", "q_emb_nn_descent",
    "q_dedup_components", "q_dedup_cluster_stats",
    "q_dedup_survivor_quality", "q_graph_triangle_count",
    "q_merge_upsert", "q_profile_table", "q_join_left_outer",
    "q_join_semi", "q_join_anti", "q_join_interval", "q_join_asof",
    "q_mix_weighted_avg", "q_agg_approx_distinct",
    "q_agg_approx_percentile", "q_agg_conditional_pivot",
    "q_train_features_wide", "q_agg_bitmap_distinct", "q_win_running",
    "q_win_lag_lead", "q_win_moving_median", "q_agg_mode_deterministic",
    "q_win_rolling_distinct", "q_win_range_interval", "q_set_union_all",
    "q_set_union_distinct", "q_set_intersect", "q_set_except",
    "q_set_intersect_all", "q_set_except_all", "q_udf_cogrouped",
    "q_stream_tumbling_1h", "q_stream_sliding_1h_15m",
    "q_stream_session_30m", "q_stream_dedup", "q_event_funnel",
    "q_retention_cohort", "q_time_downsample_ohlc",
    "q_stream_tumbling_watermarked", "q_stream_session_window",
    "q_stream_late_data", "q_stream_stateful_counts",
    "q_stream_stream_join",
)

_GREEN_R11 = (
    "q_sim_cosine_topk", "q_dedup_embedding_nn", "q_emb_knn_graph",
    "q_emb_nn_descent", "q_dedup_components", "q_dedup_cluster_stats",
    "q_dedup_survivor_quality", "q_graph_pagerank", "q_graph_bfs_hops",
    "q_udf_python_scalar", "q_udf_pandas_vectorized",
    "q_udaf_pandas_grouped", "q_udtf_split", "q_source_orc_roundtrip",
    "q_source_python_ds", "q_source_csv_malformed", "q_sink_python_ds",
    "q_source_xml_roundtrip", "q_gen_date_dim", "q_explode_outer_nulls",
    "q_try_functions", "q_union_by_name", "q_layout_zorder",
    "q_sample_stratified", "q_scd2_dimension", "q_histogram_fixed_bins",
    "q_split_train_val_test", "q_gen_surrogate_keys", "q_agg_regression",
    "q_sql_q3_shipping", "q_join_null_safe", "q_sql_lateral_topk",
    "q_agg_collect_sets", "q_agg_listagg", "q_agg_percentile_disc",
    "q_agg_bitwise", "q_text_repetition", "q_text_ngram_profile",
    "q_decontaminate_ngrams", "q_emb_quantize_int8", "q_ann_srp_buckets",
    "q_udf_arrow_scalar", "q_sink_pivot_wide", "q_json_extract",
    "q_map_funcs", "q_null_funcs", "q_variant_json", "q_json_to_struct",
    "q_join_bucketed", "q_resample_gapfill",
)

_GREEN_R10 = (
    "q_mm_image_features", "q_mm_frame_sample", "q_agg_groupby_q1",
    "q_filter_pred_q6", "q_agg_cube", "q_agg_grouping_id",
    "q_unpivot_stack", "q_sample_hash_fraction", "q_sample_weighted",
    "q_sql_q5_join_chain", "q_sql_recursive_cte", "q_sql_pivot_clause",
    "q_source_schema_evolution", "q_maint_compact_files",
    "q_pandas_api_groupby", "q_tpch_q7_volume_shipping",
    "q_tpch_q8_market_share", "q_tpch_q14_promo_revenue",
    "q_tpch_q17_small_qty_revenue", "q_tpch_q19_disjunctive_rev",
    "q_tpch_q22_idle_customers", "q_tpch_q11_important_stock",
    "q_sim_cosine_topk", "q_dedup_embedding_nn", "q_emb_knn_graph",
    "q_agg_distinct", "q_agg_stats", "q_agg_percentile", "q_agg_rollup",
    "q_agg_grouping_sets", "q_agg_correlated_filter", "q_agg_boolean",
    "q_win_rank_topn", "q_win_ntile_firstlast", "q_win_range_frame",
    "q_win_percent_rank", "q_topk_orders", "q_sort_multikey_nulls",
    "q_dedup_exact_docs", "q_text_tokenize_counts",
    "q_text_stats_by_lang", "q_tfidf_top_terms", "q_text_langid",
    "q_text_quality_score", "q_text_token_bpe_counts",
    "q_doc_fingerprint_shingle", "q_dedup_simhash", "q_str_edit_distance",
    "q_emb_centroid_by_label", "q_emb_norm_stats",
)

_GREEN_R9 = (
    "q_tpch_q2_min_cost_supplier", "q_tpch_q9_product_profit",
    "q_tpch_q11_important_stock", "q_mllib_train_pipeline",
    "q_mllib_cross_validation", "q_dedup_winnow_pairs",
    "q_text_winnow_fingerprints", "q_dedup_lsh_refine",
    "q_dedup_minhash_bands", "q_dedup_minhash_estimate",
    "q_llm_corpus_pipeline", "q_kmeans_embeddings", "q_mm_phash_dedup",
    "q_mm_corpus_pipeline", "q_mm_audio_features",
    "q_mm_video_stride_verified", "q_mm_features_verified",
    "q_scan_project", "q_scan_prune_filter", "q_source_csv_roundtrip",
    "q_sink_parquet_partitioned", "q_filter_pred_q6",
    "q_filter_in_like_null", "q_proj_arith_case", "q_gen_stateset_grid",
    "q_str_funcs", "q_regexp_funcs", "q_date_funcs", "q_math_funcs",
    "q_array_funcs", "q_wellplate_labels", "q_decimal_exact_money",
    "q_gen_experiment_pipeline", "q_agg_skew_salted", "q_unpivot_stack",
    "q_sample_hash_fraction", "q_dedup_components", "q_join_inner_equi",
    "q_join_broadcast", "q_join_multiway_topk", "q_join_full_outer",
    "q_join_cross", "q_join_theta", "q_sql_q5_join_chain", "q_agg_global",
    "q_agg_groupby_q1", "q_agg_having",
)

_GREEN_R8 = (
    "q_source_text_roundtrip", "q_scan_metadata_columns",
    "q_scan_corrupt_files_skip", "q_scan_modified_after",
    "q_source_json_roundtrip", "q_catalog_stats_cbo", "q_cache_reuse",
    "q_join_hints", "q_agg_distinct_salted", "q_sample_exact_k",
    "q_etl_incremental_join", "q_dedup_cluster_stats", "q_graph_bfs_hops",
    "q_dedup_survivor_quality", "q_graph_triangle_count",
    "q_graph_common_neighbors", "q_join_spatial_grid",
    "q_link_entity_blocking", "q_sql_qualify", "q_sql_unpivot_clause",
    "q_observe_metrics", "q_agg_weighted_percentile",
    "q_agg_entropy_profile", "q_agg_gini_concentration",
    "q_agg_bloom_membership", "q_win_ewma_bounded", "q_win_nth_cume",
    "q_sort_keyset_pagination", "q_sort_pareto_frontier",
    "q_dedup_source_precedence", "q_corpus_overlap_matrix",
    "q_text_vocab_growth", "q_corpus_novelty_curve", "q_mix_temperature",
    "q_train_negative_samples", "q_udf_map_in_arrow",
    "q_pandas_api_groupby", "q_udtf_arrow_tokens",
    "q_agg_window_distinct", "q_event_transitions", "q_win_gap_islands",
    "q_interval_sweepline", "q_event_attribution",
    "q_event_journey_pipeline", "q_event_funnel_bounded",
    "q_events_seq_examples", "q_win_session_cap",
    "q_codec_tz_local_hours", "q_dedup_url_canonical",
    "q_codec_binary_roundtrip",
)

_GREEN_R7 = (
    "q_crm_rfm_segments", "q_emb_ndcg_at10", "q_ml_mcnemar",
    "q_ml_target_encoding", "q_train_hard_negatives",
    "q_ml_cost_threshold", "q_win_bollinger_breakouts",
    "q_text_chunk_overlap", "q_text_vocab_coverage", "q_train_curriculum",
    "q_ml_auc_rank", "q_ml_auc_by_group", "q_ml_confusion_threshold",
    "q_ml_calibration_bins", "q_ml_gini_stump", "q_ml_pr_curve_points",
    "q_ml_ks_statistic", "q_ml_lift_gains", "q_ml_kfold_assign",
    "q_ml_feature_scaler_fit", "q_ml_quantile_binning",
    "q_etl_incremental_auc", "q_stat_spearman", "q_stat_welch_ttest",
    "q_stat_pmi_cells", "q_stat_chi_square_cells", "q_agg_higher_moments",
    "q_dq_benford", "q_dq_drift_chisq", "q_ts_seasonality_profile",
    "q_ts_changepoint_cusum", "q_ts_autocorrelation",
    "q_ts_stl_residuals", "q_stream_eval_auc", "q_stream_drift_monitor",
    "q_stream_chained_windows", "q_state_reader",
    "q_stream_foreachbatch_upsert", "q_stream_python_source",
    "q_stream_static_join", "q_stream_ohlc_watermarked",
    "q_stream_join_left_outer", "q_stream_ingest_dedup",
    "q_stream_ingest_neardup", "q_emb_nn_descent", "q_ann_pq_adc_topk",
    "q_emb_dedup_pipeline", "q_emb_silhouette", "q_emb_outlier_distance",
    "q_emb_pca_power",
)

_GREEN_R6 = (
    "q_ann_ivf_topk", "q_emb_knn_graph", "q_sim_range_search",
    "q_emb_pq_encode", "q_corpus_upsample_epochs", "q_pack_loss_mask",
    "q_etl_incremental_sketch", "q_pack_sequences", "q_mm_phash_dedup",
    "q_mm_corpus_pipeline", "q_mm_audio_features",
    "q_mm_video_stride_verified", "q_source_binaryfile",
    "q_agg_hll_sketch_merge", "q_agg_count_min_sketch",
    "q_agg_theta_sketch_ops", "q_agg_kll_quantiles",
    "q_agg_histogram_numeric", "q_etl_incremental_bookmark",
    "q_etl_incremental_agg", "q_etl_snapshot_diff",
    "q_dq_reconcile_totals", "q_dq_expectations", "q_dq_outlier_fences",
    "q_neardup_containment", "q_dedup_threshold_curve",
    "q_dedup_winnow_pairs", "q_text_winnow_fingerprints",
    "q_dedup_minhash_estimate", "q_text_span_dup", "q_text_pii_redact",
    "q_text_bigram_lm_score", "q_text_langid_confusion",
    "q_text_feature_hashing", "q_join_asof_forward",
    "q_join_asof_tolerance", "q_join_asof_nearest", "q_sql_pipe_syntax",
    "q_sql_scripting", "q_join_lateral_api", "q_sql_identifier_clause",
    "q_sql_udf_declared", "q_sql_parameterized",
    "q_sql_session_variables", "q_sql_group_by_all",
    "q_sql_exists_in_subqueries", "q_text_html_strip",
)

_GREEN_R5 = (
    "q_graph_pagerank", "q_sink_json_spec", "q_agg_period_over_period",
    "q_agg_pivot_multi", "q_codec_csv_column", "q_codec_url_parse",
    "q_codec_xml_column", "q_corpus_domain_caps", "q_corpus_report",
    "q_crm_rfm_segments", "q_dq_anomaly_zscore", "q_emb_matryoshka_mass",
    "q_etl_apply_changes", "q_frame_transpose",
    "q_join_dynamic_partition_pruning", "q_join_skew_salted",
    "q_llm_corpus_pipeline", "q_mix_epochs_budget",
    "q_mm_features_verified", "q_nested_collect_inline",
    "q_pack_policy_compare", "q_resample_interpolate",
    "q_sink_partition_overwrite", "q_sink_write_audit_publish",
    "q_source_csv_multiline", "q_sql_collation",
    "q_storage_merge_on_read_deletes", "q_storage_time_travel",
    "q_stream_rate_source", "q_stream_sink_python_ds",
    "q_tpch_q7_volume_shipping", "q_tpch_q8_market_share",
    "q_tpch_q10_returned_items", "q_tpch_q14_promo_revenue",
    "q_tpch_q15_top_supplier", "q_tpch_q17_small_qty_revenue",
    "q_tpch_q18_large_orders", "q_tpch_q19_disjunctive_rev",
    "q_tpch_q22_idle_customers", "q_udf_apply_in_arrow",
    "q_udf_sql_registered", "q_win_max_drawdown",
    "q_tpch_q4_order_priority", "q_tpch_q13_customer_distribution",
    "q_tpch_q16_supplier_cnt", "q_tpch_q20_part_promotion",
    "q_tpch_q21_waiting_supplier",
)

_GREEN_R4 = (
    "q_variant_json", "q_json_to_struct", "q_profile_table",
    "q_agg_bitmap_distinct", "q_win_moving_median",
    "q_agg_mode_deterministic", "q_win_rolling_distinct",
    "q_win_range_interval", "q_set_intersect_all", "q_set_except_all",
    "q_udf_cogrouped", "q_neardup_jaccard", "q_agg_approx_distinct",
    "q_agg_approx_percentile", "q_mix_weighted_avg", "q_merge_upsert",
    "q_join_bucketed", "q_train_features_wide", "q_json_extract",
    "q_map_funcs", "q_null_funcs", "q_join_left_outer", "q_join_semi",
    "q_join_anti", "q_join_interval", "q_join_asof",
    "q_agg_conditional_pivot", "q_win_running", "q_win_lag_lead",
    "q_set_union_all", "q_set_union_distinct", "q_set_intersect",
    "q_set_except", "q_resample_gapfill", "q_event_funnel",
    "q_retention_cohort", "q_sink_pivot_wide", "q_stream_tumbling_1h",
    "q_stream_sliding_1h_15m", "q_stream_session_30m", "q_stream_dedup",
    "q_stream_late_data", "q_stream_stateful_counts",
    "q_stream_tumbling_watermarked", "q_stream_session_window",
    "q_stream_stream_join", "q_stream_sliding_watermarked",
    "q_time_downsample_ohlc",
)

_GREEN_R3 = (
    "q_agg_collect_sets", "q_dedup_minhash_bands", "q_dedup_lsh_refine",
    "q_decontaminate_ngrams", "q_split_train_val_test",
    "q_sample_weighted", "q_sample_stratified", "q_pack_sequences",
    "q_ann_srp_buckets", "q_emb_quantize_int8", "q_source_orc_roundtrip",
    "q_source_python_ds", "q_source_csv_malformed",
    "q_source_schema_evolution", "q_sink_python_ds",
    "q_source_xml_roundtrip", "q_gen_date_dim", "q_explode_outer_nulls",
    "q_try_functions", "q_union_by_name", "q_maint_compact_files",
    "q_layout_zorder", "q_scd2_dimension", "q_histogram_fixed_bins",
    "q_gen_surrogate_keys", "q_agg_regression", "q_sql_q3_shipping",
    "q_sql_recursive_cte", "q_sql_pivot_clause", "q_join_null_safe",
    "q_sql_lateral_topk", "q_agg_listagg", "q_agg_grouping_id",
    "q_agg_percentile_disc", "q_agg_bitwise", "q_text_repetition",
    "q_text_ngram_profile", "q_udf_arrow_scalar",
)

_GREEN_R2 = (
    "q_agg_cube", "q_agg_grouping_sets", "q_train_features_wide",
    "q_agg_correlated_filter", "q_agg_boolean", "q_win_rank_topn",
    "q_win_running", "q_win_lag_lead", "q_win_ntile_firstlast",
    "q_win_range_frame", "q_win_percent_rank", "q_topk_orders",
    "q_sort_multikey_nulls", "q_set_union_all", "q_set_union_distinct",
    "q_set_intersect", "q_set_except", "q_dedup_exact_docs",
    "q_text_tokenize_counts", "q_text_stats_by_lang", "q_tfidf_top_terms",
    "q_neardup_jaccard", "q_text_langid", "q_text_quality_score",
    "q_text_token_bpe_counts", "q_doc_fingerprint_shingle",
    "q_dedup_simhash", "q_str_edit_distance", "q_sim_cosine_topk",
    "q_emb_centroid_by_label", "q_emb_norm_stats", "q_dedup_embedding_nn",
    "q_udf_python_scalar", "q_udf_pandas_vectorized",
    "q_udaf_pandas_grouped", "q_udtf_split", "q_stream_tumbling_1h",
    "q_stream_sliding_1h_15m", "q_stream_session_30m", "q_stream_dedup",
    "q_event_funnel", "q_retention_cohort",
    "q_stream_tumbling_watermarked", "q_stream_session_window",
    "q_stream_late_data", "q_stream_stateful_counts",
    "q_stream_stream_join", "q_stream_sliding_watermarked",
    "q_sink_pivot_wide",
)

_GREEN_R1 = (
    "q_scan_project", "q_scan_prune_filter", "q_source_csv_roundtrip",
    "q_sink_json_spec", "q_sink_parquet_partitioned", "q_filter_pred_q6",
    "q_filter_in_like_null", "q_proj_arith_case", "q_gen_stateset_grid",
    "q_str_funcs", "q_regexp_funcs", "q_date_funcs", "q_math_funcs",
    "q_json_extract", "q_array_funcs", "q_map_funcs",
    "q_wellplate_labels", "q_null_funcs", "q_decimal_exact_money",
    "q_gen_experiment_pipeline", "q_join_bucketed", "q_agg_skew_salted",
    "q_unpivot_stack", "q_sample_hash_fraction", "q_resample_gapfill",
    "q_merge_upsert", "q_dedup_components", "q_join_inner_equi",
    "q_join_broadcast", "q_join_multiway_topk", "q_join_left_outer",
    "q_join_semi", "q_join_anti", "q_join_full_outer", "q_join_cross",
    "q_join_theta", "q_join_interval", "q_join_asof",
    "q_sql_q5_join_chain", "q_agg_global", "q_agg_groupby_q1",
    "q_agg_having", "q_agg_distinct", "q_mix_weighted_avg", "q_agg_stats",
    "q_agg_percentile", "q_agg_conditional_pivot", "q_agg_rollup",
)


# query -> round of its latest driver green (newest-first setdefault).
_GREEN_ROUND: dict[str, int] = {}
for _rnd, _names in ((15, _GREEN_R15), (14, _GREEN_R14), (13, _GREEN_R13), (12, _GREEN_R12), (11, _GREEN_R11), (10, _GREEN_R10), (9, _GREEN_R9), (8, _GREEN_R8), (7, _GREEN_R7), (6, _GREEN_R6), (5, _GREEN_R5), (4, _GREEN_R4), (3, _GREEN_R3), (2, _GREEN_R2), (1, _GREEN_R1)):
    for _name in _names:
        _GREEN_ROUND.setdefault(_name, _rnd)

_DRIVER_VERIFIED = frozenset(_GREEN_ROUND)
# --- END GREEN-TUPLES ---



# Must-sample-first override tier — EMPTY since round 9: the r8
# window completed the verification drain (every registered query now
# holds a driver row), so nothing needs the hard override. The r9+
# sampling plan is _REBOOST (stale greens, below) followed by the
# oldest-green freshness rotation encoded in _driver_priority.
_PRIORITY_BOOST: tuple[str, ...] = ()
_BOOST_RANK = {n: i for i, n in enumerate(_PRIORITY_BOOST)}

# RE-BOOST queue (ADVICE r7: encode as data the sampler consumes, not
# a comment): queries whose driver green predates a plan rewrite —
# per the _DRIVER_VERIFIED caveat those greens are STALE evidence.
# _driver_priority ranks these immediately after the never-sampled
# pool. EMPTY since round 11: the r10 window re-sampled the entire
# 25-entry r10-rewrite queue (2 mm hash promotions, 13 exact-sum
# money migrations, 7 TPC-H decimal-partial wraps, 3 rewritten
# vector kernels) and ALL came back hash-green with zero rows-only
# and zero failures (CORRECTNESS_r10 — the first all-hash window);
# fold_greens folded those rows into _GREEN_R10 above. Any future
# plan rewrite or oracle promotion re-populates this queue in the
# same commit as the rewrite.
#
# EMPTY since round 12: the r11 window re-sampled the entire 9-entry
# r11-rewrite queue (4 NaN-pinned vector kernels + 5 graph rungs) and
# ALL came back hash-green (CORRECTNESS_r11, 50/50); fold_greens
# folded those rows into _GREEN_R11 above. History of the drained r11
# queue, for the record: the vector four re-proved the `_sim_units`
# NaN pin (vectors.py:204); the graph five re-proved the r11 study's
# fixes — CC's monotone decimal(38,0) label-sum convergence scan and
# BFS's frontier-only expansion with per-round localCheckpoint.
# q_graph_pagerank was in the queue because its loop was
# variant-tested by the study, NOT because its plan changed: the
# materialize-per-round "fix" was measured SLOWER (8.2 s recompute vs
# 11.7 s checkpointed at x8; graph.py:252-261) and REJECTED — the
# shipped plan still recomputes the rank join each iteration.
#
# The r12 window re-sampled the entire 12-entry r12-rewrite queue
# (pinned-cell vector kernels, the LSH hash promotion, the shared
# nd_pairs graph builds, the bitset-gated jaccard family) and ALL came
# back hash-green (CORRECTNESS_r12, 50/50); fold_greens folded those
# rows into _GREEN_R12 above.
#
# The r13 window re-sampled the entire 5-entry r13-rewrite queue
# (hash-first exact dedup + its pipeline consumer, the shared
# bipartite_edges graph builds, the multi-round NN-descent loop) and
# ALL came back hash-green (CORRECTNESS_r13, 50/50, 0 err);
# fold_greens folded those rows into _GREEN_R13 above.
#
# r14 entry, queued in the same commit as the change:
#  - q_join_bloom_runtime: oracle rewritten from the nested
#    sql_units('sum(...)', 0) shape (whose +0.5 promoted DuckDB's
#    HUGEINT sum to DOUBLE — latent exactness loss past 2^53, ADVICE
#    r13 item 1) to the standard sql_sum_units form. Values identical
#    at fixture scale; the fresh sample re-proves the new string.
#  - q_graph_pagerank / q_graph_bfs_hops (r14 optimization round):
#    the shared bipartite edge build now checkpoints only the
#    one-direction pair list (the undirected mirror derives lazily per
#    scan) and pagerank drops the redundant per-iteration left join
#    back to nodes (indegree >= 1 on the symmetric edge list). Output
#    bit-identical in the in-session A/B; fresh driver samples re-prove
#    the rewritten plans.
#  - minhash family (r14 optimization round): batch frames compute
#    the 16-member signature in a vectorized mapInArrow kernel
#    (_minhash_signatures_arrow) instead of the interpreted
#    zip_with/array_min HOF chain; bit-identity pytest-forced and
#    oracle parity re-proven locally, but the driver greens predate
#    the new plan.
#  - winnow family (r14 optimization round): same treatment — the
#    gram-hash + window-minima selection moved into _winnow_fps_frame's
#    mapInArrow kernel (bit-identity pytest-forced); fresh driver
#    samples re-prove the rewritten plans.
#  - r14 optimization-round rewrites, second batch (all bit-identity
#    pytest-forced + oracle re-proven locally; OPTIMIZATION_r14.md has
#    the measurements): the distinct-rewrite fix (approx_distinct),
#    bucketed cogroup, driver-side PCA iteration, LSH recall probe,
#    the n-gram/signature mapInArrow kernels (span_dup, bigram,
#    decontaminate, simhash, fingerprint, ngram_profile), the corpus
#    pipeline's unhex shingles, and the multimodal phash/decode
#    kernel family.
#  - r14 continuation batch: the overlap-matrix single-pass rewrite
#    (collect_set source sets + singleton/pair explode — the corpus
#    subtree runs once instead of four times and the corpus-sized
#    broadcast is gone) and the common-neighbors twin of the same
#    shape.
#  - r14 continuation batch 2: the emb-dedup pipeline's sum-convergence
#    retrofit and the shared-fixpoint (cc_labels) dedup-decision trio.
#
# EMPTY since round 15 (VERDICT r14 item 7): the r14 window re-sampled
# the entire 32-entry r14-rewrite queue plus the 7 new-this-round
# queries and ALL came back hash-green (CORRECTNESS_r14, 50/50, 0 err);
# fold_greens folded those rows into _GREEN_R14 above. The queue stays
# empty by default so the oldest-green freshness rotation
# (_driver_priority below) reclaims the r15 window for the ~30 queries
# whose newest green is r6-era. Any r15 plan rewrite re-populates this
# queue in the same commit as the rewrite.
#
# r15 entries, queued in the same commit as each rewrite:
#  - stored-index/IVFPQ family (r15 optimization round): the
#    consumed-2x/3x PQ-encode subtrees now materialize once per query
#    via narrow localCheckpoints (append/compact write lanes, the
#    recall curve's melted code rows). Outputs oracle-verified at
#    sf0.001 + sf0.01 in-round; fresh driver samples re-prove the
#    rewritten plans.
#  - q_emb_nn_descent (r15): the exact-recall ground truth (the kNN
#    graph's top-k edges) now localCheckpoints once — both hits()
#    companions joined it, re-running the whole kNN construction
#    twice per query. Plan 10 -> 6 MapInPandas; the descent loop
#    itself is unchanged (the narrow-triple checkpoint variant was
#    re-measured and re-rejected, see vectors.py).
#  - q_graph_triangle_count (r15): hub-free branch rewritten from the
#    id-oriented wedge join to gated per-edge adjacency intersection
#    (zero wedge rows; bit-identity pytest-forced, own array/broadcast
#    caps fall back to the wedge join).
#  - q_stream_ingest_neardup (r15): the streaming lane now computes
#    the minhash signature with the SAME mapInArrow kernel as batch
#    (16 interpreted zip_with/array_min HOF passes -> 1 kernel;
#    5.40 -> 1.70 s live run, results identical, Column form still
#    pinned bit-identical by the r14 test).
_REBOOST: tuple[str, ...] = (
    "q_ann_index_append",
    "q_ann_index_compact",
    "q_ann_ivfpq_recall_curve",
    "q_ann_nprobe_choose",
    "q_emb_nn_descent",
    "q_graph_triangle_count",
    "q_stream_ingest_neardup",
)
_REBOOST_RANK = {n: i for i, n in enumerate(_REBOOST)}

# Queries added THIS round (never seen by any driver). They verify
# AFTER the never-sampled backlog of hash-checkable queries from prior
# rounds, but before rows-only and already-green entries.
# The r13 window sampled all four r13 additions (q_ann_ivfpq_topk,
# q_tpch_q12_shipmode_priority, q_ann_index_partitioned, AND
# q_join_bloom_runtime — the last was missing from this narrative in
# r13, ADVICE r13 item 3) and all came back hash-green.
# r14: q_ann_index_append — incremental delta-append to the stored
# hive-partitioned PQ index with a base⊕delta == from-scratch-rebuild
# equality witness (VERDICT r13 item 3); q_ann_ivfpq_recall_curve —
# the nprobe∈{2,4,8,16} recall-vs-codes-scanned tuning table over the
# exact brute-force companion (VERDICT r13 item 4).
# q_ann_index_compact — the small-file merge rung of the index
# lifecycle (probe results invariant under compaction, 1 file/cell
# pytest-pinned); q_stream_ann_index_ingest — the LIVE streaming
# ingest twin (frozen-codebook encode as a standing query, per-cell
# checksummed manifest).
# EMPTY for r15: the seven r14 additions (the stored-index lifecycle
# family + the two experiment-design operators) were all sampled
# hash-green in the r14 window and folded into _GREEN_R14; round 15
# adds no new queries (optimization round), so the window's top slots
# go to the r15 _REBOOST rewrites and then the oldest-green rotation.
_NEW_THIS_ROUND: frozenset[str] = frozenset()

# Queries whose registration is conditional on an optional dependency:
# they stay documented in SURVEY.md everywhere, but self-unregister in
# environments lacking the dependency (tests/test_docs_sync.py allows
# exactly this set to be documented-but-absent).
ENV_GATED: frozenset[str] = frozenset(
    {"q_stream_tws_totals"}  # transformWithStateInPandas needs protobuf
)


def _driver_priority(item: tuple[str, QuerySpec]) -> tuple[int, int]:
    name, spec = item
    if name in _BOOST_RANK:
        return (0, _BOOST_RANK[name])
    if name not in _DRIVER_VERIFIED and spec.oracle is not None:
        # never-sampled, hash-checkable: additions from this round rank
        # after the pre-existing never-sampled backlog
        return (2, 0) if name in _NEW_THIS_ROUND else (1, 0)
    if name in _REBOOST_RANK:
        # stale green: plan rewritten after the driver row (ADVICE r7)
        return (3, _REBOOST_RANK[name])
    if name in _DRIVER_VERIFIED:
        # Freshness rotation (VERDICT r8 item 4): with the drain and
        # re-boost tiers bounded, spare window slots re-sample the
        # OLDEST driver greens first — _GREEN_ROUND is the round of
        # each query's latest green, so ranking by it ascending keeps
        # every green row's age bounded (~4 rounds by r11) instead of
        # letting r1 evidence go stale forever. Stable sort preserves
        # registration order within a round cohort.
        return (5, _GREEN_ROUND[name])
    return (4, 0)  # rows-only, never sampled


def all_specs() -> dict[str, QuerySpec]:
    _load()
    items = list(_REGISTRY.items())
    items.sort(key=_driver_priority)  # stable: keeps registration order per tier
    return dict(items)


def get_spec(name: str) -> QuerySpec:
    _load()
    return _REGISTRY[name]

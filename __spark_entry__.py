"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over :mod:`wheels_in_motion_analytics_spark`'s query registry —
every implemented operator family from SURVEY.md §2 registers a named query
(Spark callable) and, when SQL-expressible, a DuckDB oracle string.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from wheels_in_motion_analytics_spark.registry import load_all_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    specs = load_all_queries()
    return specs["flagship_rides_by_dim"].fn(spark, "/root/testdata/sf0.001")




# The driver's correctness harness verifies registry entries in dict order
# with a bounded budget (rounds 1-9 covered exactly the first 50 each).
# Queries whose correctness has NOT yet been driver-verified go first, so
# each round converts the maximum amount of existing quality into hard
# signal. Names not listed here follow in registry order; unknown names are
# ignored. Round-10 rotation (r9 verdict items 1+2, generated by
# tools/gen_rotation.py): all 50 r9-green entries moved to _R9_VERIFIED;
# the head leads with the FINAL 7 never-driver-verified entries (a green
# row on each takes hard coverage to 443/443 = 100%). The remaining 43
# driver-budget rows are spent DELIBERATELY (r9 verdict item 2) on
# freshness re-verification of the highest-env-risk green rows — see
# _R10_FRESHNESS_WAVE below — instead of falling through to arbitrary
# registry order.
_DRIVER_PRIORITY = [
    # --- the exact r10 tail: the last 7 never-driver-verified entries ---
    "hierarchy_share_of_parent",
    "multi_touch_attribution",
    "abc_xyz_classification",
    "shapley_channel_attribution",
    "returned_item_customers",
    "promo_revenue_share",
    "forecast_revenue_change",
    # --- code changed since their last row: the CDC merge, the streaming
    # upsert, the fanout state fold and the versioned reads now commit and
    # read through the versioned table log
    "cdc_merge_orders_state",
    "stream_upsert_foreachbatch",
    "stream_fanout_two_sinks",
    "versioned_table_time_travel",
    # --- code changed in round 10 (the r10 hostile-session-TZ axis found
    # instant-cast outputs; rewritten NTZ-native) — stale rows, re-queue
    # ahead of the freshness wave per the r10+ posture rule
    "stream_join_attribution",
    "date_scalar_suite",
    "sessionize_events",
    "cdc_merge_partition_overwrite",  # r10 100x-probe fix: feed checkpointed once
    # --- surplus budget: the deliberate freshness wave (the tail two
    # names now fall past the driver's 50-row budget — acceptable; they
    # are green-verified and were re-swept on three axes this round) ---
    # (1) the six documented deliberate re-verification candidates — their
    # last driver rows are the oldest among code-churned queries (r4-r6)
    "embedding_near_dup_pairs",
    "similarity_topk_bruteforce",
    "grouped_map_demean",
    "approx_count_distinct",
    "versioned_change_feed",
    "versioned_update_copy_on_write",
    # (2) isolated-ln/sqrt double-hash rows (the r6/r7 hazard pre-screen
    # classes — highest env-drift sensitivity of any green rows)
    "welch_ttest_segments",
    "psi_price_drift",
    "column_entropy_mi",
    "naive_bayes_token_model",
    "pmi_cooccurrence_topk",
    "chi_square_independence",
    "embedding_pca_power_iteration",
    "gumbel_block_maxima_fit",
    "hurst_rescaled_range",
    "zipf_token_rank_slope",
    "lm_bigram_perplexity",
    "mann_whitney_u_prices",
    "chi2_feature_selection",
    "logreg_newton_step",
    "markov_entropy_rate",
    "theil_inequality_decomposition",
    # (3) the four historically-red-then-fixed queries (hash-FAIL rows in
    # r3/r4/r5, re-verified green after de-decimalization — keep fresh)
    "ks_test_two_sample",
    "spearman_rank_correlation",
    "acf_daily_revenue",
    "corr_matrix_metrics",
    # (4) the stream family — timestamp-typed outputs are the other
    # env-sensitive surface (session-tz / physical-type drift);
    # stream_join_attribution moved up to the changed-code block
    "stream_tumbling_window",
    "stream_session_window",
    "stream_sliding_window",
    "stream_ohlc_bars",
    "stream_hourly_rollup_of_bars",
    "stream_dedup_events",
    "stream_dedup_within_watermark",
    "stream_complete_mode_totals",
    "stream_stateful_running_totals",
    "stream_attribution_unmatched",
    "stream_static_enrich",
    "stream_ingest_versioned_table",
    "stream_state_store_read",
    "session_window_builtin_batch",
]

# The already-verified names above (head positions 8 onward). Re-verifying
# them in r10 is DELIBERATE (r9 verdict item 2): after the 7-name tail the
# driver's 50-row budget would otherwise fall on arbitrary re-confirmation.
# tests/test_rotation_contract.py unions this set into the documented
# re-verification allowlist so next round's _R10_VERIFIED paste does not
# trip the duplicate-row pin.
_R10_FRESHNESS_WAVE = frozenset(_DRIVER_PRIORITY[7:])


# Queries whose correctness the driver ALREADY verified green (round 1:
# CORRECTNESS_r01.json, round 2: CORRECTNESS_r02.json). They sort to the
# back of the registry so that if the driver's per-round budget ever exceeds
# len(_DRIVER_PRIORITY), the extra slots fall on never-verified queries
# first. approx_count_distinct / percentile_approx_sketch are deliberately
# NOT here: their r1 rows were rows-only/err and they re-verify this round
# with the new audited oracles.
_R2_VERIFIED = {
    "ann_lsh_bucketed", "bloom_join_prune_audit", "bpe_merge_table",
    "cdc_merge_orders_state", "corpus_quality_pipeline", "curate_decontaminate",
    "curate_pack_sequences", "dedup_connected_components", "dedup_exact",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "doc_fingerprint",
    "dpp_join_pruned_revenue", "dq_violation_counts", "embedding_near_dup_pairs",
    "feature_binning_buckets", "flagship_rides_by_dim", "gap_fill_locf_daily",
    "grouped_map_demean", "hybrid_rrf_retrieval", "lang_id_heuristic",
    "manifest_filter_years", "mann_whitney_u_prices", "map_in_arrow_scale",
    "multimodal_meta", "pagerank_part_supplier", "pandas_udaf_weighted_mean",
    "partition_pruned_monthly_revenue", "pii_redact", "priority_shipping_summary",
    "project_rename_cast", "record_linkage_part_names", "regional_market_share",
    "sft_render_conversations", "simhash_signature", "similarity_topk_bruteforce",
    "star_join_enriched", "stopword_prune_tokens", "stream_session_window",
    "stream_stateful_running_totals", "stream_tumbling_window",
    "stream_upsert_foreachbatch", "text_quality_score", "text_stats",
    "top_unshipped_orders", "triangle_count_cosupply", "udtf_expand_installments",
    "versioned_compact_optimize", "versioned_table_time_travel", "vocab_build",
}

_R1_VERIFIED = {
    "scan_parquet_project", "filter_null_predicate", "literal_default_columns",
    "ordered_projection", "anti_join_new_keys", "semi_join_active_keys",
    "band_join_price_buckets", "interval_proximity_join", "asof_join_last_signup",
    "null_profile_agg", "count_total", "group_topk", "share_of_total",
    "hist_by_hour", "distinct_pairs", "agg_stats_suite", "count_distinct_exact",
    "rollup_agg", "cube_agg", "grouping_sets_agg", "percentile_exact",
    "upsert_merge_by_key", "union_dedup_key", "union_by_name_missing_cols",
    "dedup_key_deterministic", "intersect_keys", "except_keys", "except_all_bag",
    "window_rank_dense", "window_running_sum", "window_lag_lead",
    "window_ntile_percentiles", "window_range_frame", "window_first_last",
    "pivot_status_by_priority", "unpivot_weather_measures",
    "scalar_subquery_above_avg", "correlated_exists_subquery",
    "in_subquery_hot_parts", "lateral_explode_tokens", "regression_corr_agg",
    "array_set_ops", "salted_skew_join", "left_outer_join_missing_dims",
    "full_outer_join_key_union", "cross_join_small_dims", "union_all_bag",
}

# Round-3 driver-green rows (CORRECTNESS_r03.json; ks_test_two_sample's
# hash-FAIL row is deliberately absent — it re-verifies this round).
_R3_VERIFIED = {
    "ann_ivf_cells", "approx_count_distinct", "array_funcs_suite",
    "bilateral_trade_volume", "bitwise_funcs_suite", "bm25_topk_search",
    "conditional_funcs_suite", "curate_curriculum_order", "curate_source_quota",
    "curate_split_train_val_test", "curate_stratified_sample", "customer_order_distribution",
    "date_scalar_suite", "datetime_dim_explode", "disjunctive_bracket_revenue",
    "dormant_high_value_customers", "global_quartiles_exact", "hll_sketch_rollup",
    "incremental_agg_maintenance", "json_funcs_suite", "large_volume_customers",
    "local_supplier_volume", "manifest_prune_latest", "map_struct_funcs",
    "math_funcs_suite", "min_cost_supplier_per_part", "multimodal_audio_stats",
    "multimodal_features", "order_priority_fulfilment", "part_value_concentration",
    "pattern_match_suite", "percentile_approx_sketch", "pricing_summary_report",
    "product_profit_by_nation", "promo_supply_candidates", "psi_price_drift",
    "rlhf_preference_pairs", "scaled_ann_lsh", "scd2_customer_status_history",
    "small_qty_revenue_fraction", "snapshot_diff_orders", "sole_failing_supplier",
    "spatial_radius_join", "string_funcs_suite", "supplier_diversity_by_part",
    "tfidf_top_terms", "top_revenue_supplier", "try_funcs_suite",
    "welch_ttest_segments",
}

# Round-4 driver-green rows (CORRECTNESS_r04.json; spearman_rank_correlation
# deliberately absent — its r4 row was a hash-FAIL and it re-verifies this
# round; versioned_change_feed / versioned_update_copy_on_write are listed
# but ALSO appear in _DRIVER_PRIORITY because their code changed after the
# r4 row — the head placement wins the ordering).
_R4_VERIFIED = {
    'ann_ivf_pq_search', 'ann_multiprobe_lsh', 'approx_count_distinct',
    'basket_triple_apriori', 'bfs_cosupply_hops',
    'bitmap_distinct_rollup', 'cdc_merge_partition_overwrite',
    'cogrouped_map_customer_orders', 'curate_pps_poisson_sample',
    'embedding_matryoshka_audit', 'embedding_near_dup_pairs',
    'embedding_rank_normalize', 'gopher_repetition_filters',
    'group_exact_percentiles', 'grouped_map_demean',
    'hard_negative_mining', 'hll_intersection_inclusion_exclusion',
    'kcore_decomposition_cosupply', 'ks_test_two_sample',
    'late_data_bar_restatement', 'linreg_normal_equations',
    'multimodal_resize_digest', 'negative_sampling_table',
    'observe_dq_single_pass', 'pareto_revenue_concentration',
    'parquet_agg_pushdown_stats', 'parquet_sink_overwrite_append',
    'pq_adc_topk_search', 'pq_encode_reconstruction_error',
    'python_stream_datasource_read', 'python_stream_datasource_write',
    'rfm_customer_segmentation', 'scd2_point_in_time_lookup',
    'semdedup_cluster_prune', 'session_path_pattern_match',
    'session_variable_dynamic_window', 'similarity_topk_bruteforce',
    'skyline_pareto_parts', 'sql_pipe_syntax_report',
    'sql_scalar_udf_net_revenue', 'sql_sugar_suite',
    'sssp_cheapest_supply_path', 'stream_join_attribution',
    'stream_state_store_read', 'variant_extract_event_props',
    'versioned_change_feed', 'versioned_merge_on_read_deletes',
    'versioned_update_copy_on_write', 'zone_map_skipping_audit',
}

# Round-5 driver-green rows (CORRECTNESS_r05.json; the three hash-FAIL
# rows — spearman_rank_correlation, acf_daily_revenue, corr_matrix_metrics
# — are deliberately absent: their DECIMAL outputs were eliminated this
# round and they re-verify at the head).
_R5_VERIFIED = {
    'asof_join_forward_tolerance', 'backtick_space_identifiers',
    'binary_glob_file_stats', 'bootstrap_ci_revenue_poisson',
    'conditional_rename_guarded_drop', 'cuped_adjusted_lift',
    'glob_csv_scan_years', 'inventory_balance_clamped',
    'join_strategy_hints_suite', 'json_scan_normalize_payload',
    'lateral_topk_per_key', 'listagg_nation_supplier_roster',
    'mad_outlier_audit', 'mann_kendall_trend', 'merge_overlapping_intervals',
    'metadata_file_columns_audit', 'moment_stats_suite', 'ohlc_resample_5min',
    'parameterized_sql_filter', 'parquet_empty_fallback_union',
    'recursive_month_series_orders', 'revenue_ewma_daily',
    'rolling_median_weekly_revenue', 'scaled_dedup_exact',
    'scaled_dedup_minhash_lsh', 'seasonal_decompose_daily', 'sessionize_events',
    'sql_table_udf_price_brackets', 'stream_attribution_unmatched',
    'stream_complete_mode_totals', 'stream_dedup_events',
    'stream_dedup_within_watermark', 'stream_hourly_rollup_of_bars',
    'stream_ohlc_bars', 'stream_sliding_window', 'stream_static_enrich',
    'theil_sen_trend_daily', 'variant_json_extract', 'versioned_branch_merge',
    'versioned_change_feed', 'versioned_optimize_zorder',
    'versioned_schema_evolution', 'versioned_update_copy_on_write',
    'versioned_vacuum_retention', 'wau_sliding_distinct_users',
    'weighted_median_price', 'winsorize_prices',
}

# Round-6 driver-green rows (CORRECTNESS_r06.json — 50/50 green, the first
# fully-green driver round; includes the four de-decimalized re-verifies).
_R6_VERIFIED = {
    'acf_daily_revenue', 'anomaly_days_seasonal_mad', 'auc_rank_ppm',
    'bucketed_join_exchange_free', 'calibration_reliability_bins', 'chi2_feature_selection',
    'classification_threshold_metrics', 'cohens_kappa_langid', 'column_entropy_mi',
    'corr_matrix_metrics', 'csv_roundtrip_agg', 'cusum_changepoint_daily',
    'date_format_partition_keys', 'decision_stump_best_split', 'dedup_cluster_representatives',
    'dedup_crossdoc_spans', 'dedup_events_time_window', 'dedup_incremental_batch',
    'dedup_lines_crossdoc', 'dedup_lines_incremental', 'dedup_prefix_filter_jaccard',
    'dedup_simhash_pairs', 'dp_geometric_noisy_counts', 'embedding_covariance_matrix',
    'feature_hashing_trick', 'fuzzy_lookup_best_match', 'group_kfold_assignment',
    'heavy_hitters_topk', 'kaplan_meier_ship_latency', 'key_skew_profile',
    'kmeans_lloyd_update', 'label_propagation_communities', 'learning_curve_nested_samples',
    'lm_bigram_perplexity', 'logreg_newton_step', 'multimodal_bmp_roundtrip',
    'multimodal_cdc_neardup', 'multimodal_dedup_payload', 'multimodal_frame_digest',
    'naive_bayes_token_model', 'ndcg_at_k_retrieval', 'partition_evolution_union_scan',
    'pr_curve_points', 'record_linkage_canonicalize', 'scaled_dedup_lines_crossdoc',
    'sorted_lake_export_audit', 'spearman_rank_correlation', 'target_encoding_smoothed',
    'temporal_point_in_time_join', 'twap_daily_by_type',
}

# Round-7 driver-green rows (CORRECTNESS_r07.json — 50/50 green, all
# first-time rows: the round-6 stats block, transpose, builtin session
# window, graph fixpoints, formats block, and the five UDF tiers).
_R7_VERIFIED = {
    'ab_srm_check', 'anova_oneway_segments', 'apply_in_arrow_group_stats',
    'arrow_python_udf_bucket', 'ccf_count_revenue_daily', 'chi_square_independence',
    'conformal_interval_calibration', 'dbscan_core_border_noise', 'did_estimator_regions',
    'eb_shrunk_return_rates', 'expected_calibration_error', 'federated_multiformat_join',
    'friedman_test_priority_months', 'gbdt_two_round_regression', 'gumbel_block_maxima_fit',
    'hits_hubs_authorities', 'hurst_rescaled_range', 'isotonic_calibration_pav',
    'jonckheere_terpstra_trend', 'jsonl_roundtrip_agg', 'kendall_tau_daily',
    'kruskal_wallis_priority', 'ktruss_cosupply_peel', 'logrank_ship_latency_groups',
    'markov_entropy_rate', 'markov_stationary_behavior', 'max_studentized_deviate_day',
    'mcnemar_paired_classifiers', 'newsvendor_stock_level', 'odds_ratio_segment_status',
    'orc_roundtrip_agg', 'pandas_api_groupby_agg', 'pandas_udf_scalar_normalize',
    'parquet_codec_matrix', 'permutation_test_segment_revenue', 'poisson_rate_ratio_periods',
    'price_elasticity_loglog', 'psm_caliper_matching', 'python_udf_row_at_a_time',
    'quantile_normalize_balances', 'runs_test_randomness', 'seasonal_mann_kendall_trend',
    'session_window_builtin_batch', 'sprt_sequential_test', 'sql_scripting_procedural_loop',
    'theil_inequality_decomposition', 'transpose_region_metrics', 'var_cvar_revenue_changes',
    'wilcoxon_signed_rank_prepost', 'xml_roundtrip_agg',
}

# Round 8 (CORRECTNESS_r08.json): 50/50 green, all first-time rows — the
# 51-entry r8 head minus `l_diversity_audit`, which fell past the 50-row
# driver budget and re-leads the r9 head above.
_R8_VERIFIED = {
    'ann_recall_at_k_eval', 'bandit_ucb1_allocation', 'benford_first_digit_audit',
    'binseg_two_level_changepoints', 'clustering_coefficient_cosupply', 'community_modularity_score',
    'countmin_frequency_estimate', 'csv_corrupt_records_audit', 'dedup_shingle_containment',
    'degree_assortativity_cosupply', 'doc_ngram_novelty_audit', 'embedding_centroid_cosine',
    'embedding_contrastive_pairs', 'embedding_dim_percentiles', 'embedding_group_centroids',
    'embedding_pca_power_iteration', 'embedding_quantize_error', 'embedding_random_projection',
    'embedding_vector_norms', 'fairness_selection_rate_audit', 'feature_store_training_set',
    'gap_fill_linear_interpolate', 'graph_node_jaccard_similarity', 'inverted_index_lookup',
    'jsonl_corrupt_records_audit', 'k_anonymity_audit', 'lift_curve_deciles',
    'mase_seasonal_naive_eval', 'minhash_jaccard_estimate', 'mmr_diversified_topk',
    'mrr_eval_retrieval', 'multimodal_audio_silence_segments', 'multimodal_image_ahash',
    'partitioned_sink_pruned_read', 'peak_concurrency_sweep', 'pinball_loss_quantile_eval',
    'pmi_cooccurrence_topk', 'rbo_rankings_agreement', 'readability_flesch_audit',
    'rolling_features_customer', 'runtime_bloom_filter_join', 'schema_evolution_merge_read',
    'silhouette_simplified_ivf', 'source_overlap_matrix', 'stream_fanout_two_sinks',
    'stream_ingest_versioned_table', 'synthetic_generator_audit', 'woe_iv_feature_audit',
    'zipf_token_rank_slope', 'zorder_interleave_keys',
}

# Round 9 (CORRECTNESS_r09.json): 50/50 green, all first-time rows — the
# engine-surface suites, DQ/privacy/profiling tails, text/vocab tails,
# curation/tokenizer block, sharding, and product analytics.
_R9_VERIFIED = {
    'approx_revenue_sampled', 'basket_pair_lift', 'bpe_encode_token_counts',
    'bpe_train_symbol_freqs', 'chunk_documents_overlap', 'cohort_retention_matrix',
    'collated_group_case_insensitive', 'conditional_agg_suite', 'corpus_dataset_card',
    'cumulative_distinct_users_daily', 'curate_importance_sample', 'curate_intradoc_repetition',
    'curate_length_bucket_padding', 'curate_rebalance_lang', 'curate_temperature_mixture',
    'curate_token_budget_allocation', 'curate_upsample_epochs', 'curate_weighted_sample_noreplace',
    'dq_violating_rows', 'event_transition_matrix', 'fk_integrity_audit',
    'funnel_view_click_purchase', 'gdpr_erasure_audit', 'generator_funcs_suite',
    'higher_order_funcs_suite', 'l_diversity_audit', 'linkage_sorted_neighborhood',
    'map_hof_suite', 'masked_customer_view', 'mode_argminmax_suite',
    'ngram_bigram_topk', 'null_semantics_suite', 'pareto_frontier_parts',
    'prefix_locality_reorder_audit', 'profile_orders_columns', 'rendezvous_shard_rebalance',
    'revenue_mom_growth', 'schema_drift_union_conform', 'shard_assignment_by_budget',
    'skipgram_training_pairs', 'spatial_nearest_supplier', 'streak_increasing_orders',
    'string_funcs_suite2', 't_closeness_audit', 'table_fingerprints',
    'token_length_histogram', 'tokenizer_fertility_audit', 'top_session_paths',
    'vocab_drift_psi', 'vocab_oov_rate',
}

_VERIFIED = (
    _R1_VERIFIED | _R2_VERIFIED | _R3_VERIFIED | _R4_VERIFIED | _R5_VERIFIED
    | _R6_VERIFIED | _R7_VERIFIED | _R8_VERIFIED | _R9_VERIFIED
)


def _ordered_specs():
    specs = load_all_queries()
    ordered = {n: specs[n] for n in _DRIVER_PRIORITY if n in specs}
    ordered.update(
        {n: s for n, s in specs.items() if n not in ordered and n not in _VERIFIED}
    )
    ordered.update({n: s for n, s in specs.items() if n not in ordered})
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.fn for name, spec in _ordered_specs().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (omitted for non-SQL-expressible
    ops — driver records a weaker rows-only check for those)."""
    return {
        name: spec.oracle
        for name, spec in _ordered_specs().items()
        if spec.oracle is not None
    }

"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — every implemented operator family from SURVEY.md §2
(relational core, events/time-series, terraform tables, LLM-pipeline
extensions), each a (spark, sf_dir) → DataFrame callable.
``oracle_sql()`` — the DuckDB-runnable ANSI SQL equivalent per query
(terraform queries use golden VALUES derived from the fixture corpus;
approx-distinct and the k-means IVF entries are rows-only by design —
HLL sketches and iterative clustering are engine-specific; simhash and
hyperplane-LSH oracles replay their full md5-deterministic pipelines).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from steampipe_plugin_terraform_spark.catalog import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


# ROTATION POLICY (standing, from round 6; see round-6 comment in git
# history for the full rationale). The driver's correctness gate checks
# the first 50 queries() entries in dict order; the catalog holds 232, so
# the horizon is ceil(232/50) = 5 rounds. Invariant: EVERY entry gets a
# driver-green row within the horizon; window priority each round:
#   1. entries changed or added this round (a stale green row proves
#      nothing about them);
#   2. entries that have NEVER had a driver row (the r6 wave);
#   3. entries whose last driver row is oldest.
# Entries past the window are value-checked locally every round by
# tests/test_oracle_parity.py (all oracled entries) at sf0.001, and by
# the sf0.01 sweep (`make parity-sf001 parity-sf01`).
#
# Round-17 window: rules 1 and 2 are vacuous (no entry changed or added,
# none never checked), so rule 3 fills it. Positions 1-39 are the 39
# entries whose last green driver row is r12 (the upcoming round's floor
# is r13), oldest first, ties by name; positions 40-50 and everything
# after the window keep their previous relative order.
_VALIDATE_FIRST = [
    # -- r17 window: rule 3 — the 39 entries whose last green driver
    # row is r12, oldest first, ties by name --
    "docs_bigram_logprob",
    "docs_bpe_merge_pairs",
    "docs_chunk_overlap",
    "docs_k_anonymity",
    "docs_lang_confusion",
    "docs_novelty",
    "emb_dim_stats",
    "emb_intra_class_outliers",
    "emb_mmr_rerank",
    "emb_nearest_centroid_label",
    "media_ahash_pairs",
    "q4_priority_late_ship",
    "q6_forecast_revenue",
    "q8_market_share",
    "q_approx_distinct",
    "q_customer_activity_reconciliation",
    "q_customer_gini",
    "q_customer_rfm",
    "q_events_ab_significance",
    "q_events_autocorr24",
    "q_events_cep_pattern",
    "q_events_duplicate_payments",
    "q_events_lateness_profile",
    "q_events_moving_avg",
    "q_events_seasonal_anomaly",
    "q_events_top_paths",
    "q_fulfillment_latency",
    "q_join_size_cms_estimate",
    "q_nation_share_of_region",
    "q_ntile_acctbal_deciles",
    "q_orders_checksum",
    "q_orders_cohort_ltv",
    "q_orders_equidepth_histogram",
    "q_orders_interval_merge",
    "stream_countmin_sketch",
    "stream_foreachbatch_sink",
    "stream_hopping_counts",
    "stream_hourly_append_closed",
    "stream_hourly_topk_types",
    # -- r17 window: fill, in the previous order --
    "q_customer_skyline",
    "q_customer_supplier_pagerank",
    "q_events_anomaly",
    "q_events_countmin",
    "q_events_cusum",
    "q_events_ewma",
    "q_events_funnel",
    "q_events_hourly_gapfill",
    "q_events_mad_outliers",
    "q_events_ohlc",
    "q_events_retention_cohorts",
    # ---- 50-entry window boundary ----
    "q_events_sliding_distinct_users",
    "q_events_theil_sen",
    "q_events_time_weighted_value",
    "q_events_trailing_30min",
    "q_events_transitions",
    "q_events_trend",
    "q_kmv_distinct",
    "q_kmv_set_ops",
    "q_orders_incremental_rollup",
    "q_orders_open_interval_sweep",
    "q_orders_price_histogram",
    "q_partition_pruned_join",
    "q_quantile_bottomk_sketch",
    "q_salted_skew_join",
    "q_unpivot_priority_counts",
    "q_user_scd2_segments",
    "q_zorder_pruned_scan",
    "stream_click_error_left_join",
    "tf_resource_reference_graph",
    "tf_sensitive_output_audit",
    "tf_tags_inheritance_audit",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "docs_curation_pipeline",
    "docs_leakage_safe_split",
    "q_basket_brand_lift",
    "emb_ivf_recall",
    "q_events_stickiness",
    "q_bloom_semi_join",
    "q_events_overdispersion",
    "q_lineitem_kruskal_wallis",
    "q_dq_audit",
    "stream_click_error_full_join",
    "dedup_golden_record",
    "dedup_linkage_clusters",
    "dedup_lsh_recall",
    "q_events_bitmap_distinct_users",
    "q_lineitem_flag_status_chi2",
    "tf_unused_locals",
    "tf_lifecycle_audit",
    "tf_legacy_interpolation_audit",
    "q_lineitem_mannwhitney_u",
    "q_events_markov_stationary",
    "tf_unused_data_sources",
    "q_supplier_abc_classes",
    "dedup_incremental_batch",
    "q_part_kcore",
    "q_part_triangles",
    "q_session_incident_overlap",
    "q_stats_by_returnflag",
    "q_user_entropy",
    "q_user_segment_asof_snapshot",
    "q_weighted_median_price",
    "stream_record_highs",
    "tf_resource_provider_join",
    "tf_untagged_resources",
    "dedup_first_event",
    "dedup_jaccard_pairs",
    "dedup_simhash",
    "docs_bpe_tokens",
    "docs_contamination_screen",
    "docs_fingerprint",
    "docs_lang_id",
    "docs_quality",
    "docs_semantic_dedup",
    "docs_stratified_sample",
    "docs_temperature_sample",
    "docs_token_stats",
    "docs_top_bigrams",
    "docs_zscore_by_lang",
    "emb_ivf_store_topk",
    "emb_near_dup_pairs",
    "emb_two_level_topk",
    "media_byte_histogram",
    "media_resize",
    "q12_priority_lines",
    "q13_order_count_distribution",
    "q15_top_supplier",
    "q16_supplier_part_counts",
    "q18_large_volume_customers",
    "q19_disjunctive_revenue",
    "q20_excess_quantity_suppliers",
    "q21_waiting_suppliers",
    "q22_idle_rich_customers",
    "q9_profit_by_nation",
    "q_bucketed_cokey_join",
    "tf_required_providers_audit",
    "tf_state_lineage_audit",
    "tf_backend_audit",
    "tf_provider_version_matrix",
    "stream_state_serial_watch",
    "emb_cluster_quality",
    "docs_pipeline_funnel",
    "q_events_daily_rollup",
    "q_events_hourly",
    "q_events_json_props",
    "q_events_last_order_asof",
    "q_events_sessions",
    "q_incident_click_range_join",
    "q_quantile_logsketch",
    "q_user_scd2_merge",
    "stream_click_error_join",
    "stream_deduped_events",
    "stream_events_hourly",
    "stream_segment_enriched",
    "stream_sessions_per_user",
    "stream_user_running_totals",
    "tf_config_state_drift",
    "tf_data_sources",
    "tf_locals",
    "tf_modules",
    "tf_providers",
    "tf_variables",
    "docs_benchmark_contamination",
    "docs_pack_sequences",
    "docs_redact_pii",
    "docs_repetition",
    "docs_source_mix",
    "docs_span_dedup",
    "docs_unigram_logprob",
    "docs_winnow_fingerprint",
    "emb_cosine_topk",
    "emb_ivf_incremental_topk",
    "emb_ivf_topk",
    "emb_lang_centroids",
    "emb_lsh_topk",
    "emb_quantize_int8",
    "media_frame_sample",
    "media_metadata",
    "q10_returned_items",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "tf_variable_hygiene",
    "docs_perplexity_buckets",
    "stream_docs_pipeline_funnel",
    "emb_ann_recall_curve",
    "docs_dedup_rate_report",
    "q5_region_revenue",
    "q7_volume_shipping",
    "q_big_spenders_semi",
    "q_brand_revenue",
    "q_cube_revenue",
    "q_custkeys_intersect",
    "q_custkeys_set_difference",
    "q_customers_without_orders",
    "q_distinct_nations_per_segment",
    "q_events_type_quantiles",
    "q_grouping_sets",
    "q_logsketch_merge",
    "q_orders_running_total",
    "q_pivot_priority_by_segment",
    "q_promo_revenue_ratio",
    "q_returns_exists",
    "q_rollup_revenue",
    "q_small_quantity_revenue",
    "q_top3_orders_per_segment",
    "q_value_percentiles",
    "stream_quantile_logsketch",
    "tf_module_pinning_audit",
    "tf_outputs",
    "tf_plan_state_drift",
    "tf_resource_count_by_type",
    "tf_resources",
    "tf_unused_variables",
    "dedup_edit_distance_pairs",
    "dedup_tfidf_cosine_pairs",
    "docs_bm25_topk",
    "docs_epoch_shuffle",
    "docs_length_buckets",
    "docs_quality_quantile_filter",
    "docs_train_val_test_split",
    "docs_weighted_sample",
    "emb_cluster_balanced_sample",
    "emb_curation_pipeline",
    "emb_hard_negatives",
    "emb_ivf_pq_topk",
    "emb_matryoshka_prefix_recall",
    "emb_pq_topk",
    "emb_rp_reduce",
    "q11_important_parts",
    "q2_min_cost_supplier",
    "q_customer_pareto",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered so entries without a green driver row come first (the driver
    checks a bounded prefix); see ``_VALIDATE_FIRST``.
    """
    missing = [k for k in _VALIDATE_FIRST if k not in QUERIES]
    assert not missing, f"_VALIDATE_FIRST names unknown entries: {missing}"
    # a duplicate would dedupe in the ordered dict and silently pull a
    # later entry into the driver's 50-slot window, breaking the rotation
    assert len(set(_VALIDATE_FIRST)) == len(_VALIDATE_FIRST), "duplicate in _VALIDATE_FIRST"
    ordered = {k: QUERIES[k] for k in _VALIDATE_FIRST}
    ordered.update({k: v for k, v in QUERIES.items() if k not in ordered})
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query; omissions get the rows-only check."""
    return dict(ORACLES)

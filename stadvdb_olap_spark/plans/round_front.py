"""GENERATED by `python tools/next_window.py --write` — do not
hand-edit. The external driver hash-certifies the FIRST 50 exported
catalog queries per round; this tuple IS that window's order.
Regenerate after adding catalog queries or when a new
CORRECTNESS_r*.json lands (the contract test pins parity)."""

# The round this front plans FOR: computed from the CORRECTNESS
# artifacts of strictly earlier rounds. Contract tests evaluate
# the front against that same basis, so the suite stays green
# when this round's own artifact lands at judging time.
TARGET_ROUND: int = 13

ROUND_FRONT: tuple[str, ...] = (  # 50 queries (0 uncertified + 50 re-cert)
    "poisson_bootstrap_ci_revenue",  # re-cert (signed r5)
    "quality_logit_filter_docs",  # re-cert (signed r5)
    "readability_fk_docs",  # re-cert (signed r5)
    "record_linkage_selfmatch_customers",  # re-cert (signed r5)
    "rendezvous_shard_docs",  # re-cert (signed r5)
    "rolling_corr_click_purchase_7d",  # re-cert (signed r5)
    "rrf_fusion_topk_docs",  # re-cert (signed r5)
    "semdedup_fixed_centroids",  # re-cert (signed r5)
    "share_of_total_by_segment",  # re-cert (signed r5)
    "span_corrupt_docs",  # re-cert (signed r5)
    "supplier_covisit_jaccard",  # re-cert (signed r5)
    "temperature_mixture_docs",  # re-cert (signed r5)
    "textrank_keywords_docs",  # re-cert (signed r5)
    "tree_ensemble_score_docs",  # re-cert (signed r5)
    "triangle_stats_parts",  # re-cert (signed r5)
    "wow_growth_revenue",  # re-cert (signed r5)
    "zonemap_prune_layouts_orders",  # re-cert (signed r5)
    "zorder_key_orders",  # re-cert (signed r5)
    "abc_xyz_matrix_parts",  # re-cert (signed r6)
    "asof_join_events_orders",  # re-cert (signed r6)
    "click_purchase_attribution",  # re-cert (signed r6)
    "cohort_weekly_retention",  # re-cert (signed r6)
    "croston_intermittent_demand",  # re-cert (signed r6)
    "cube_order_status_priority",  # re-cert (signed r6)
    "decayed_trending_event_types",  # re-cert (signed r6)
    "decile_qq_drift_events_value",  # re-cert (signed r6)
    "distinct_parts_per_flag",  # re-cert (signed r6)
    "episode_triples_sessions",  # re-cert (signed r6)
    "events_by_type",  # re-cert (signed r6)
    "events_json_props",  # re-cert (signed r6)
    "events_sessionize_30m",  # re-cert (signed r6)
    "events_sliding_3h_1h",  # re-cert (signed r6)
    "events_tumbling_1h",  # re-cert (signed r6)
    "fano_burstiness_event_types",  # re-cert (signed r6)
    "gapfill_daily_revenue",  # re-cert (signed r6)
    "grouping_sets_revenue",  # re-cert (signed r6)
    "hampel_outliers_daily_revenue",  # re-cert (signed r6)
    "histogram_order_totals",  # re-cert (signed r6)
    "holt_winters_forecast_daily_revenue",  # re-cert (signed r6)
    "iqr_outlier_events",  # re-cert (signed r6)
    "littles_law_audit_sessions",  # re-cert (signed r6)
    "mann_kendall_trend_daily_revenue",  # re-cert (signed r6)
    "mann_whitney_value_click_purchase",  # re-cert (signed r6)
    "mase_seasonal_naive_daily_revenue",  # re-cert (signed r6)
    "min_price_row_per_part",  # re-cert (signed r6)
    "moving_avg_daily_revenue",  # re-cert (signed r6)
    "ntile_customers_by_balance",  # re-cert (signed r6)
    "ols_price_vs_quantity_by_flag",  # re-cert (signed r6)
    "order_gaps_lag",  # re-cert (signed r6)
    "order_keys_concat_per_customer",  # re-cert (signed r6)
)

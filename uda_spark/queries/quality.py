"""Data-quality and product-analytics queries: column profiling (the
ANALYZE TABLE primitive), anomaly flagging over rollups, cohort
retention.  All exact-integer or deterministic-double arithmetic
(functions/portable.py discipline), so every query value-hash matches
its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from uda_spark.functions import portable as _PORT
from uda_spark.queries.common import t
from uda_spark.registry import register

_ORDERS_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


@register(
    "profile_orders",
    oracle="""
SELECT * FROM (
"""
    + "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS column_name, COUNT(*)::BIGINT AS n_rows,
       (COUNT(*) - COUNT({c}))::BIGINT AS n_nulls,
       COUNT(DISTINCT {c})::BIGINT AS n_distinct FROM orders"""
        for c in _ORDERS_COLS
    )
    + "\n)",
    tags=("quality", "profiling", "aggregation"),
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table column profile — null and exact distinct counts per
    column in ONE scan: per-column aggregates computed side by side in a
    single Aggregate node (count_distinct on several columns at once is
    planned as one expand + aggregate pass), then unpivoted to a
    (column_name, n_rows, n_nulls, n_distinct) row per column.

    This is the metadata-collection primitive behind join planning,
    layout choices (which column is worth Z-ordering or bucketing), and
    data-quality gates — at 100 TB you run it once per ingest batch,
    never per query.
    """
    orders = t(spark, sf_dir, "orders")
    aggs = [F.count("*").alias("n_rows")]
    for c in _ORDERS_COLS:
        aggs.append((F.count("*") - F.count(c)).alias(f"nn_{c}"))
        aggs.append(F.count_distinct(c).alias(f"nd_{c}"))
    one = orders.agg(*aggs)
    stack = ", ".join(f"'{c}', nn_{c}, nd_{c}" for c in _ORDERS_COLS)
    return one.select(
        "n_rows",
        F.expr(
            f"stack({len(_ORDERS_COLS)}, {stack}) AS (column_name, n_nulls, n_distinct)"
        ),
    ).select("column_name", "n_rows", "n_nulls", "n_distinct")


ANOM_Z = 3  # |z| >= 3 flags an anomaly


@register(
    "events_hourly_anomalies",
    oracle=f"""
WITH hourly AS (
  SELECT event_type, (epoch_us(ts) // 3600000000) * 3600 AS bucket_epoch,
         COUNT(*)::BIGINT AS n_events
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, COUNT(*)::BIGINT AS nb,
         SUM(n_events)::BIGINT AS s, SUM(n_events * n_events)::BIGINT AS sq
  FROM hourly GROUP BY event_type
)
SELECT h.event_type, h.bucket_epoch, h.n_events,
       round((h.n_events - CAST(s.s AS DOUBLE) / s.nb) /
             sqrt((CAST(s.sq AS DOUBLE) - CAST(s.s AS DOUBLE) * s.s / s.nb) / s.nb), 6)
         AS zscore,
       (abs((h.n_events - CAST(s.s AS DOUBLE) / s.nb) /
            sqrt((CAST(s.sq AS DOUBLE) - CAST(s.s AS DOUBLE) * s.s / s.nb) / s.nb))
        >= {ANOM_Z}) AS is_anomaly
FROM hourly h JOIN stats s ON h.event_type = s.event_type
WHERE s.sq * s.nb > s.s * s.s
""",
    tags=("quality", "events", "aggregation"),
)
def events_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly flagging on the hourly rollup: per-type population
    z-scores computed from EXACT integer sum / sum-of-squares (the
    mergeable two-moment aggregate — the same partial-aggregation shape
    as any sum), then one deterministic double division per row.

    At scale the stats relation is |event_types| rows broadcast back
    onto the rollup — the rollup itself is the only corpus-scale input,
    and it is already materialized by the continuous-aggregate layer
    (events_hourly_rollup / events_daily_from_hourly).
    """
    from uda_spark.sources.tables import event_micros

    ev = t(spark, sf_dir, "events")
    hourly = (
        ev.withColumn("ts_us", event_micros(ev))
        .groupBy(
            "event_type",
            F.expr("(ts_us div 3600000000) * 3600").alias("bucket_epoch"),
        )
        .agg(F.count("*").alias("n_events"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.count("*").alias("nb"),
        F.sum("n_events").alias("s"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("sq"),
    )
    mean = F.col("s").cast("double") / F.col("nb")
    var = (F.col("sq").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("nb")) / F.col("nb")
    z = (F.col("n_events") - mean) / F.sqrt(var)
    return (
        hourly.join(F.broadcast(stats), on="event_type")
        .where(F.col("sq") * F.col("nb") > F.col("s") * F.col("s"))
        .select(
            "event_type",
            "bucket_epoch",
            "n_events",
            F.round(z, 6).alias("zscore"),
            (F.abs(z) >= ANOM_Z).alias("is_anomaly"),
        )
    )


RETENTION_WEEKS = 4
_WEEK_US = 7 * 86400 * 1_000_000


@register(
    "events_cohort_retention",
    oracle=f"""
WITH act AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {_WEEK_US} AS week FROM events
),
cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM act GROUP BY user_id),
sizes AS (SELECT cohort_week, COUNT(*)::BIGINT AS cohort_size FROM cohort GROUP BY cohort_week),
ret AS (
  SELECT c.cohort_week, CAST(a.week - c.cohort_week AS INT) AS week_offset,
         COUNT(DISTINCT a.user_id)::BIGINT AS n_active
  FROM act a JOIN cohort c ON a.user_id = c.user_id
  WHERE a.week - c.cohort_week BETWEEN 0 AND {RETENTION_WEEKS - 1}
  GROUP BY 1, 2
)
SELECT r.cohort_week, r.week_offset, r.n_active, s.cohort_size,
       round(CAST(r.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
FROM ret r JOIN sizes s ON r.cohort_week = s.cohort_week
""",
    tags=("quality", "events", "cohort"),
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity week,
    tracked for {RETENTION_WEEKS} weekly offsets — the
    product-analytics companion to funnel analysis.

    Scale shape: activity distinct-reduces events to (user, week) rows
    first (the only corpus-scale exchange); cohorts are a per-user min;
    the retention join co-partitions on user_id and aggregates to a
    |weeks| x |offsets| grid.
    """
    from uda_spark.sources.tables import event_micros

    from uda_spark.cache import tracked_persist

    ev = t(spark, sf_dir, "events")
    # the distinct-reduced activity relation feeds the cohort build AND
    # the retention join — persist it so the fact is scanned once
    act = tracked_persist(
        ev.withColumn("ts_us", event_micros(ev))
        .select("user_id", F.expr(f"ts_us div {_WEEK_US}").alias("week"))
        .distinct()
    )
    cohort = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = cohort.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    ret = (
        act.join(cohort, on="user_id")
        .withColumn("week_offset", (F.col("week") - F.col("cohort_week")).cast("int"))
        .where(F.col("week_offset").between(0, RETENTION_WEEKS - 1))
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    return ret.join(F.broadcast(sizes), on="cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active").cast("double") / F.col("cohort_size"), 6).alias(
            "retention"
        ),
    )


BASKET_TOP = 30


@register(
    "basket_copurchase_pairs",
    oracle=f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
norders AS (SELECT COUNT(DISTINCT l_orderkey)::BIGINT AS n FROM li),
item AS (SELECT l_partkey, COUNT(*)::BIGINT AS n FROM li GROUP BY 1),
pair AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*)::BIGINT AS n_ab
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT part_a, part_b, n_ab FROM pair
  ORDER BY n_ab DESC, part_a, part_b LIMIT {BASKET_TOP}
)
SELECT r.part_a, r.part_b, r.n_ab, ia.n AS n_a, ib.n AS n_b,
       round(CAST(r.n_ab AS DOUBLE) * (SELECT n FROM norders) / (ia.n * ib.n), 6) AS lift
FROM ranked r JOIN item ia ON ia.l_partkey = r.part_a
              JOIN item ib ON ib.l_partkey = r.part_b
""",
    tags=("quality", "analytics", "join"),
)
def basket_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought together in the
    same order, ranked by pair count, with lift = P(a,b)/(P(a)P(b)) —
    the co-purchase/recommendation primitive.

    Scale shape: the pair explosion is a self-join on the basket key,
    so its size is sum(basket_size²)/2 — bounded by the max basket, not
    the corpus (TPC-H baskets are ≤ 7 items; a retail feed is dozens).
    Item counts broadcast back onto the top pairs; n_orders is a scalar.
    """
    from uda_spark.cache import tracked_persist

    # the distinct basket relation feeds three consumers (order count,
    # item frequencies, and both sides of the pair self-join) — persist
    # it so the fact is scanned and distinct-reduced once
    li = tracked_persist(
        t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    n_orders = li.agg(F.count_distinct("l_orderkey").alias("n"))
    item = li.groupBy("l_partkey").agg(F.count("*").alias("n"))
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b"))
    pair = (
        a.join(b, on="k")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_ab"))
    )
    ranked = pair.orderBy(F.desc("n_ab"), "part_a", "part_b").limit(BASKET_TOP)
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b"))
    return (
        ranked.join(F.broadcast(ia), on="part_a")
        .join(F.broadcast(ib), on="part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.col("n_ab").cast("double") * F.col("n") / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


_DIFF_V2 = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice,
       o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey % 97 <> 0
UNION ALL
SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey % 103 = 0
"""

_DIFF_ROWHASH = (
    "md5(CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' || "
    "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) || '|' || "
    "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '|' || o_orderpriority)"
)


@register(
    "table_diff_orders",
    oracle=f"""
WITH v1 AS (SELECT *, {_DIFF_ROWHASH} AS rh FROM orders),
v2 AS (SELECT *, {_DIFF_ROWHASH} AS rh FROM ({_DIFF_V2})),
j AS (
  SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS k,
         v1.rh AS rh1, v2.rh AS rh2
  FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
),
tagged AS (
  SELECT k, CASE WHEN rh1 IS NULL THEN 'added'
                 WHEN rh2 IS NULL THEN 'deleted'
                 WHEN rh1 <> rh2 THEN 'changed'
                 ELSE 'unchanged' END AS change_type
  FROM j
)
SELECT change_type, COUNT(*)::BIGINT AS n_rows,
       CAST(SUM(k % 1000003) AS BIGINT) AS key_checksum
FROM tagged GROUP BY change_type
""",
    tags=("quality", "cdc", "join"),
)
def table_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC without a log): classify every key across two
    table versions as added / deleted / changed / unchanged by
    full-outer-joining on the key and comparing per-row digests — the
    validation step after any migration, backfill, or MERGE, and the
    change feed when the source system has no CDC stream.

    Scale: the join co-partitions both versions on the key; the
    exchange carries (key, 32-byte digest), never full rows — the same
    digests-not-bodies discipline as exact dedup and table_digest.  The
    simulated v2 applies deterministic deletes (every 97th key), updates
    (every 101st) and inserts (every 103rd shifted) to the same orders
    table both engines read.
    """
    orders = t(spark, sf_dir, "orders")
    rowhash = (
        "md5(concat(CAST(o_custkey AS STRING), '|', o_orderstatus, '|', "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING), '|', "
        "date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss'), '|', o_orderpriority))"
    )
    v2 = (
        orders.where(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") + 1
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            orders.where(F.col("o_orderkey") % 103 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 10_000_000
            )
        )
    )
    h1 = orders.select("o_orderkey", F.expr(rowhash).alias("rh1"))
    h2 = v2.select("o_orderkey", F.expr(rowhash).alias("rh2"))
    j = h1.join(h2, on="o_orderkey", how="full_outer")
    tagged = j.select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("rh1").isNull(), "added")
        .when(F.col("rh2").isNull(), "deleted")
        .when(F.col("rh1") != F.col("rh2"), "changed")
        .otherwise("unchanged")
        .alias("change_type"),
    )
    return tagged.groupBy("change_type").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("k") % 1000003).cast("long").alias("key_checksum"),
    )


RFM_BINS = 5


@register(
    "orders_rfm_segments",
    oracle=f"""
WITH ref AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
cust AS (
  SELECT o_custkey,
         date_diff('day', MAX(o_orderdate), (SELECT maxd FROM ref))::BIGINT AS recency_days,
         COUNT(*)::BIGINT AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey, recency_days, frequency, monetary,
       CAST(NTILE({RFM_BINS}) OVER (ORDER BY recency_days DESC, o_custkey) AS INT) AS r_score,
       CAST(NTILE({RFM_BINS}) OVER (ORDER BY frequency, o_custkey) AS INT) AS f_score,
       CAST(NTILE({RFM_BINS}) OVER (ORDER BY monetary, o_custkey) AS INT) AS m_score
FROM cust
""",
    tags=("quality", "analytics", "window"),
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order vs the
    corpus max date), frequency, exact-decimal monetary, each scored
    into {RFM_BINS} ntile bins (higher = better; ties broken by
    custkey so the binning is deterministic).

    One (custkey) aggregation; each score then uses
    ``operators.sort.global_ntile`` — the two-pass range-partitioned
    rank plus the closed-form ntile bucket — so NO single-partition
    window exists even at billion-customer cardinality (round 8; the
    Window-ntile equivalence is property-tested in
    tests/test_properties.py::test_global_ntile_matches_window_ntile).
    """
    orders = t(spark, sf_dir, "orders")

    # ONE fact scan: per-customer aggregates first, then the reference
    # date is the max of the per-customer maxima (a tiny broadcast) —
    # computing the global max from the fact would cost a second scan
    from uda_spark.cache import tracked_persist

    per = tracked_persist(
        orders.groupBy("o_custkey").agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
    )
    ref = per.agg(F.max("last_order").alias("maxd"))
    cust = per.crossJoin(F.broadcast(ref)).select(
        "o_custkey",
        F.datediff("maxd", "last_order").cast("long").alias("recency_days"),
        "frequency",
        "monetary",
    )
    from uda_spark.operators.sort import global_ntile

    scored = cust.withColumn("_neg_rec", -F.col("recency_days"))
    scored = global_ntile(scored, ["_neg_rec", "o_custkey"], RFM_BINS, alias="r_score")
    scored = global_ntile(scored, ["frequency", "o_custkey"], RFM_BINS, alias="f_score")
    scored = global_ntile(scored, ["monetary", "o_custkey"], RFM_BINS, alias="m_score")
    return scored.select(
        "o_custkey", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score",
    )


@register(
    "lineitem_abc_analysis",
    oracle="""
WITH rev AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev_d
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT CAST(SUM(rev_d) AS DOUBLE) AS t FROM rev),
c AS (
  SELECT l_partkey, rev_d,
         SUM(rev_d) OVER (ORDER BY rev_d DESC, l_partkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM rev
)
SELECT l_partkey, CAST(rev_d AS DOUBLE) AS revenue,
       CASE WHEN CAST(cum AS DOUBLE) / (SELECT t FROM tot) <= 0.70 THEN 'A'
            WHEN CAST(cum AS DOUBLE) / (SELECT t FROM tot) <= 0.90 THEN 'B'
            ELSE 'C' END AS abc_class
FROM c
""",
    tags=("quality", "analytics", "window"),
)
def lineitem_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by revenue: cumulative
    revenue share over the descending ranking splits parts into A
    (top 70% of revenue), B (next 20%), C (tail) — the inventory
    analytics workhorse.

    Exactness discipline: revenue, the running total, and the grand
    total all stay EXACT DECIMAL through aggregation and the cumulative
    pass (no float addition order anywhere); only the final share ratio
    converts to double, once, deterministically — a float cumsum or a
    float grand total flips boundary rows between classes across
    engines/partitionings.  The running total itself is the two-pass
    range-partitioned ``global_cumulative_sums`` (round 8, with
    ``result_cast=None`` keeping exact DECIMAL) — no single-partition
    window even at full-catalog part cardinality.
    """
    li = t(spark, sf_dir, "lineitem")
    from uda_spark.cache import tracked_persist
    from uda_spark.operators.sort import global_cumulative_sums
    from uda_spark.queries.common import revenue_expr

    # rev (the full lineitem aggregate) feeds THREE executions without a
    # persist: the grand total, global_cumulative_sums' range-boundary
    # sampling pass, and its actual exchange (guide §5: reuse >
    # recompute).  Released by release_persisted().
    rev = tracked_persist(
        li.groupBy("l_partkey").agg(F.sum(revenue_expr()).alias("rev_d"))
    )
    tot = rev.agg(F.sum("rev_d").cast("double").alias("t"))
    cum_excl = global_cumulative_sums(
        rev.withColumn("_neg_rev", -F.col("rev_d")),
        ["_neg_rev", "l_partkey"],
        ["rev_d"],
        ["cum_before"],
        result_cast=None,
    )
    c = (
        cum_excl.withColumn(
            "cum", F.coalesce(F.col("cum_before"), F.lit(0)) + F.col("rev_d")
        )
        .drop("_neg_rev", "cum_before")
        .crossJoin(F.broadcast(tot))
    )
    share = F.col("cum").cast("double") / F.col("t")
    return c.select(
        "l_partkey",
        F.col("rev_d").cast("double").alias("revenue"),
        F.when(share <= 0.70, "A").when(share <= 0.90, "B").otherwise("C").alias(
            "abc_class"
        ),
    )


@register(
    "events_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
           AS prev_type
  FROM events
),
pairs AS (
  SELECT prev_type, event_type AS next_type, COUNT(*)::BIGINT AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
outdeg AS (SELECT prev_type, SUM(n) AS tot FROM pairs GROUP BY prev_type)
SELECT p.prev_type, p.next_type, p.n,
       round(CAST(p.n AS DOUBLE) / o.tot, 6) AS p
FROM pairs p JOIN outdeg o ON p.prev_type = o.prev_type
""",
    tags=("quality", "events", "sequence"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next_type | prev_type) from lag pairs — the behavioral
    model behind session prediction and anomalous-flow detection.

    One (user_id) window pass emits transition pairs; the matrix is a
    |types|² aggregate with row-normalized probabilities from exact
    counts.
    """
    from uda_spark.sources.tables import event_micros

    ev = t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = (
        ev.withColumn("ts_us", event_micros(ev))
        .select(
            "user_id",
            "event_type",
            "event_id",
            "ts_us",
        )
        .withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
    )
    pairs = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n")
    )
    outdeg = pairs.groupBy("prev_type").agg(F.sum("n").alias("tot"))
    return pairs.join(F.broadcast(outdeg), on="prev_type").select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.col("tot"), 6).alias("p"),
    )


@register(
    "orders_open_backlog",
    oracle="""
WITH ship AS (
  SELECT l_orderkey, MAX(epoch_us(l_shipdate) // 86400000000) AS end_day
  FROM lineitem GROUP BY l_orderkey
),
spans AS (
  SELECT o.o_orderkey,
         epoch_us(o.o_orderdate) // 86400000000 AS start_day,
         s.end_day
  FROM orders o JOIN ship s ON o.o_orderkey = s.l_orderkey
),
deltas AS (
  SELECT start_day AS day, 1 AS delta FROM spans
  UNION ALL
  SELECT end_day + 1 AS day, -1 AS delta FROM spans
),
daily AS (SELECT day, SUM(delta)::BIGINT AS d FROM deltas GROUP BY day),
curve AS (
  SELECT day, SUM(d) OVER (ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_open
  FROM daily
)
SELECT day * 86400 AS day_epoch, CAST(n_open AS BIGINT) AS n_open
FROM curve WHERE n_open > 0
""",
    tags=("quality", "analytics", "interval"),
)
def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time via the EVENT-DELTA pattern: each
    order contributes +1 on its order day and -1 the day after its last
    shipment, and a cumulative sum over the daily deltas yields "orders
    open on day t" — O(2 rows per order) instead of exploding each
    order's full open interval (which is unbounded for long-lived
    orders) or an interval self-join (quadratic in overlap).

    The cumulative window runs over the |days| relation after the daily
    delta aggregation — tiny regardless of order volume.  All integer
    arithmetic.
    """
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    # NTZ timestamps: derive the epoch-day via DATE arithmetic (tz-free;
    # a cast to TIMESTAMP would re-interpret in the session timezone)
    ship = li.groupBy("l_orderkey").agg(
        F.expr(
            "MAX(CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') AS BIGINT))"
        ).alias("end_day")
    )
    spans = orders.join(
        ship, orders["o_orderkey"] == ship["l_orderkey"]
    ).select(
        F.expr(
            "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)"
        ).alias("start_day"),
        "end_day",
    )
    # explode each span to its two delta events in ONE pass — a union of
    # two selects over spans would re-derive the join (and re-scan both
    # facts) per branch
    deltas = spans.select(
        F.explode(
            F.expr(
                "array(struct(start_day AS day, 1 AS delta), "
                "struct(end_day + 1 AS day, -1 AS delta))"
            )
        ).alias("e")
    ).select("e.day", "e.delta")
    daily = deltas.groupBy("day").agg(F.sum("delta").alias("d"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    curve = daily.withColumn("n_open", F.sum("d").over(w))
    return curve.where(F.col("n_open") > 0).select(
        (F.col("day") * 86400).alias("day_epoch"), F.col("n_open").cast("long")
    )


@register(
    "lineitem_ship_lag_histogram",
    oracle="""
WITH lag AS (
  SELECT l.l_orderkey,
         date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT CAST(floor(log2(days + 1)) AS INT) AS lag_bucket,
       CAST(power(2, floor(log2(days + 1))) AS BIGINT) - 1 AS bucket_min_days,
       COUNT(*)::BIGINT AS n_lineitems
FROM lag WHERE days >= 0
GROUP BY 1, 2
""",
    tags=("quality", "histogram", "join"),
)
def lineitem_ship_lag_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed histogram of order-to-ship lag — the power-of-two
    histogram primitive for long-tailed durations (linear buckets waste
    resolution at the head and truncate the tail; log buckets give
    constant relative error, the ddsketch idea in one expression).

    One fact join co-partitioned on the order key, integer day
    arithmetic from timezone-free DATE casts, |buckets| output rows.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lag = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.expr(
            "datediff(CAST(l_shipdate AS DATE), CAST(o_orderdate AS DATE))"
        ).alias("days")
    )
    bucket = F.expr("CAST(floor(log2(days + 1)) AS INT)")
    return (
        lag.where(F.col("days") >= 0)
        .groupBy(
            bucket.alias("lag_bucket"),
            F.expr(
                "CAST(power(2, floor(log2(days + 1))) AS BIGINT) - 1"
            ).alias("bucket_min_days"),
        )
        .agg(F.count("*").alias("n_lineitems"))
    )


@register(
    "orders_argmax_latest",
    oracle="""
SELECT o_custkey,
       MAX({'d': o_orderdate, 'k': o_orderkey}).k AS latest_orderkey,
       strftime(MAX({'d': o_orderdate, 'k': o_orderkey}).d, '%Y-%m-%d')
         AS latest_orderdate,
       COUNT(*)::BIGINT AS n_orders
FROM orders GROUP BY o_custkey
""",
    tags=("quality", "aggregation", "argmax"),
)
def orders_argmax_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-max via struct ordering: each customer's LATEST order in one
    aggregation pass — max(struct(orderdate, orderkey)) picks the row
    with the greatest date and breaks date ties by the greater key, so
    the result is deterministic where a bare max_by would be
    tie-ambiguous.  The one-pass alternative to the row_number window
    for "latest per key" (no sort, plain partial-aggregated max).
    """
    orders = t(spark, sf_dir, "orders")
    mx = F.max(F.struct("o_orderdate", "o_orderkey"))
    return orders.groupBy("o_custkey").agg(
        mx.getField("o_orderkey").alias("latest_orderkey"),
        F.date_format(mx.getField("o_orderdate"), "yyyy-MM-dd").alias(
            "latest_orderdate"
        ),
        F.count("*").alias("n_orders"),
    )


@register(
    "events_value_winsorize",
    oracle="""
WITH ranked AS (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
),
cuts AS (
  SELECT event_type,
         MAX(CASE WHEN rk = 1 + (n - 1) // 100 THEN value END) AS p01,
         MAX(CASE WHEN rk = 1 + (99 * (n - 1)) // 100 THEN value END) AS p99
  FROM ranked GROUP BY event_type
),
clipped AS (
  SELECT r.event_type, c.p01, c.p99,
         CASE WHEN r.value < c.p01 THEN 1 ELSE 0 END AS lo,
         CASE WHEN r.value > c.p99 THEN 1 ELSE 0 END AS hi,
         CAST(floor(
           (CASE WHEN r.value < c.p01 THEN c.p01
                 WHEN r.value > c.p99 THEN c.p99
                 ELSE r.value END) * 1000000 + 0.5) AS BIGINT) AS micros
  FROM ranked r JOIN cuts c USING (event_type)
)
SELECT event_type,
       COUNT(*)::BIGINT AS n,
       CAST(floor(p01 * 1000000 + 0.5) AS BIGINT) AS p01_micros,
       CAST(floor(p99 * 1000000 + 0.5) AS BIGINT) AS p99_micros,
       SUM(lo)::BIGINT AS n_clipped_low,
       SUM(hi)::BIGINT AS n_clipped_high,
       SUM(micros)::BIGINT AS sum_clipped_micros
FROM clipped GROUP BY event_type, p01, p99
""",
    tags=("quality", "analytics"),
)
def events_value_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (outlier clipping) of event values at exact
    per-type 1st/99th order statistics — the robust-statistics cleanup
    step before any mean/variance-based feature lands in a training
    set, with the clip thresholds themselves part of the output (they
    ARE the learned transform that must ship with the data).

    The percentile is the exact nearest-lower order statistic
    ``rank = 1 + floor(p*(n-1))`` — picked values are actual stored
    doubles (never interpolated), so both engines select the identical
    bit pattern; clipped sums are quantized to integer micro-units
    before summing (exact, order-independent).

    Scale shape: one exchange + in-partition sort per event_type for
    the ranking pass; the per-type cut table is tiny and broadcast back
    onto the ranked relation.  At 100 TB, a sort-per-type is the price
    of EXACT order statistics; the approx path for when 1-ulp cut
    precision doesn't matter is `approx_percentile_prices`-style
    sketching — this query is the exact tier of that pair.
    """
    ev = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_type",
        "event_id",
        "value",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    cuts = ranked.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rk") == 1 + F.expr("(n - 1) div 100"), F.col("value"))
        ).alias("p01"),
        F.max(
            F.when(F.col("rk") == 1 + F.expr("(99 * (n - 1)) div 100"), F.col("value"))
        ).alias("p99"),
    )
    clip = (
        F.when(F.col("value") < F.col("p01"), F.col("p01"))
        .when(F.col("value") > F.col("p99"), F.col("p99"))
        .otherwise(F.col("value"))
    )
    clipped = ranked.join(F.broadcast(cuts), on="event_type").select(
        "event_type",
        "p01",
        "p99",
        F.when(F.col("value") < F.col("p01"), 1).otherwise(0).alias("lo"),
        F.when(F.col("value") > F.col("p99"), 1).otherwise(0).alias("hi"),
        F.floor(clip * 1000000 + 0.5).cast("long").alias("micros"),
    )
    return clipped.groupBy("event_type", "p01", "p99").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("lo").cast("long").alias("n_clipped_low"),
        F.sum("hi").cast("long").alias("n_clipped_high"),
        F.sum("micros").cast("long").alias("sum_clipped_micros"),
    ).select(
        "event_type",
        "n",
        F.floor(F.col("p01") * 1000000 + 0.5).cast("long").alias("p01_micros"),
        F.floor(F.col("p99") * 1000000 + 0.5).cast("long").alias("p99_micros"),
        "n_clipped_low",
        "n_clipped_high",
        "sum_clipped_micros",
    )


@register(
    "events_key_skew_profile",
    oracle="""
WITH c AS (
  SELECT user_id, COUNT(*)::BIGINT AS n FROM events GROUP BY user_id
),
ranked AS (
  SELECT n,
         ROW_NUMBER() OVER (ORDER BY n, user_id) AS i,
         COUNT(*) OVER () AS k,
         SUM(n) OVER () AS total
  FROM c
)
SELECT MAX(k)::BIGINT AS n_keys,
       MAX(total)::BIGINT AS n_rows,
       CAST(MAX(CASE WHEN i = k THEN n ELSE 0 END) * 1000000 // MAX(total) AS BIGINT)
         AS top1_share_ppm,
       CAST(SUM(CASE WHEN i > k - 10 THEN n ELSE 0 END) * 1000000 // MAX(total) AS BIGINT)
         AS top10_share_ppm,
       CAST((2 * SUM(i * n) - (MAX(k) + 1) * MAX(total)) * 1000000
            // (MAX(k) * MAX(total)) AS BIGINT) AS gini_ppm
FROM ranked
""",
    tags=("quality", "scale", "skew"),
)
def events_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew profile for the events fact keyed by user_id:
    number of keys, top-1/top-10 key share, and the Gini coefficient of
    the per-key row distribution — the diagnosis that decides BEFORE a
    100 TB run whether a keyed aggregate needs salting, AQE skew-join
    handling, or nothing (reference parity: UDA's anti-hotspot fetch
    scheduling, src/Merger/FetchManager.cc — here the hotspot is
    measured rather than dodged reactively).

    Gini from the standard sorted-rank identity
    ``(2*sum(i*n_i) - (k+1)*total) / (k*total)`` — every term an exact
    integer (ppm-quantized once at the end), ties ordered by user_id so
    the rank assignment is engine-identical.

    Scale shape: the fact collapses to the per-key count relation in
    one exchange (millions of keys from billions of rows); the exact
    rank over THAT relation uses the two-pass range-partitioned
    ``global_rank`` (round 8 — previously a single-partition window),
    and k/total ride one broadcast totals row, so the whole readout
    stays partitioned at any key cardinality.
    """
    from uda_spark.operators.sort import global_rank

    ev = t(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    ranked0 = global_rank(c, ["n", "user_id"], alias="i")
    tots = ranked0.agg(F.count("*").alias("k"), F.sum("n").alias("total"))
    ranked = ranked0.crossJoin(F.broadcast(tots))
    return ranked.agg(
        F.max("k").cast("long").alias("n_keys"),
        F.max("total").cast("long").alias("n_rows"),
        F.expr(
            "CAST(max(CASE WHEN i = k THEN n ELSE 0 END) * 1000000 div max(total) AS BIGINT)"
        ).alias("top1_share_ppm"),
        F.expr(
            "CAST(sum(CASE WHEN i > k - 10 THEN n ELSE 0 END) * 1000000 div max(total) AS BIGINT)"
        ).alias("top10_share_ppm"),
        F.expr(
            "CAST((2 * sum(i * n) - (max(k) + 1) * max(total)) * 1000000"
            " div (max(k) * max(total)) AS BIGINT)"
        ).alias("gini_ppm"),
    )


@register(
    "dq_constraint_report",
    oracle="""
SELECT * FROM (
  SELECT 'orders_pk_unique' AS constraint_name,
         (SELECT COUNT(*) FROM orders)::BIGINT AS n_checked,
         (SELECT COUNT(*) FROM (
            SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1
         ))::BIGINT AS n_violations
  UNION ALL
  SELECT 'orders_custkey_fk',
         (SELECT COUNT(*) FROM orders)::BIGINT,
         (SELECT COUNT(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))::BIGINT
  UNION ALL
  SELECT 'lineitem_orderkey_fk',
         (SELECT COUNT(*) FROM lineitem)::BIGINT,
         (SELECT COUNT(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))::BIGINT
  UNION ALL
  SELECT 'lineitem_qty_positive',
         (SELECT COUNT(*) FROM lineitem)::BIGINT,
         (SELECT COUNT(*) FROM lineitem WHERE NOT (l_quantity > 0))::BIGINT
  UNION ALL
  SELECT 'orders_totalprice_nonneg',
         (SELECT COUNT(*) FROM orders)::BIGINT,
         (SELECT COUNT(*) FROM orders
          WHERE o_totalprice IS NULL OR o_totalprice < 0)::BIGINT
)
""",
    tags=("quality", "constraints"),
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint report — the dbt-test /
    Deequ-style contract check every warehouse load gates on: primary-
    key uniqueness, two foreign-key integrity checks (anti-join
    formulation — the violations ARE the dangling keys), and two value
    ranges, each reported as (constraint, rows checked, violations).

    Scale shape: each FK check is one left-anti join that Catalyst
    plans broadcast-or-shuffle by dim size; uniqueness is one keyed
    aggregate; range checks are map-side counts.  One row per
    constraint comes back — the report is O(constraints), so at 100 TB
    the gate costs a handful of scans and nothing returns to the
    driver but verdicts.
    """
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    lineitem = t(spark, sf_dir, "lineitem")

    def one(name: str, n_checked, n_violations):
        return (name, int(n_checked), int(n_violations))

    n_orders = orders.count()
    n_line = lineitem.count()
    rows = [
        one(
            "orders_pk_unique",
            n_orders,
            orders.groupBy("o_orderkey")
            .agg(F.count("*").alias("c"))
            .where(F.col("c") > 1)
            .count(),
        ),
        one(
            "orders_custkey_fk",
            n_orders,
            orders.join(
                customer.select(F.col("c_custkey").alias("o_custkey")),
                on="o_custkey",
                how="left_anti",
            ).count(),
        ),
        one(
            "lineitem_orderkey_fk",
            n_line,
            lineitem.join(
                orders.select(F.col("o_orderkey").alias("l_orderkey")),
                on="l_orderkey",
                how="left_anti",
            ).count(),
        ),
        one(
            "lineitem_qty_positive",
            n_line,
            lineitem.where(~(F.col("l_quantity") > 0)).count(),
        ),
        one(
            "orders_totalprice_nonneg",
            n_orders,
            orders.where(
                F.col("o_totalprice").isNull() | (F.col("o_totalprice") < 0)
            ).count(),
        ),
    ]
    return spark.createDataFrame(
        rows, "constraint_name STRING, n_checked LONG, n_violations LONG"
    )


@register(
    "events_lateness_profile",
    oracle="""
WITH seq AS (
  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
         MAX(epoch_us(ts)) OVER (
           PARTITION BY event_type ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS high_water_us
  FROM events
),
late AS (
  SELECT event_type,
         CASE WHEN high_water_us - ts_us <= 0 THEN -1
              ELSE CAST(floor(log2(CAST(high_water_us - ts_us AS DOUBLE) / 1000000 + 1))
                        AS INT) END AS late_bucket
  FROM seq
)
SELECT event_type, late_bucket,
       COUNT(*)::BIGINT AS n_events
FROM late GROUP BY event_type, late_bucket
""",
    tags=("quality", "events", "streaming"),
)
def events_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-lateness profile: for each event, how far behind the
    stream's high-water mark (max event time seen so far, in arrival
    order) did it arrive — bucketed into log2 seconds.  This histogram
    IS the watermark decision for every windowed streaming query in
    this repo: the bucket where the tail mass dies is the smallest
    watermark that won't drop data (too small → silent loss; too large
    → unbounded state).

    Arrival order is the event_id sequence per event_type (each type =
    one source stream); bucket -1 means on-time (at or ahead of the
    high-water mark).  Exact integer microseconds end-to-end; the only
    double is the final log2 of an exact integer ratio.

    Scale shape: one exchange + in-partition sort per event_type for
    the running max (the same keyed-window shape as sessionization),
    then a tiny (types x buckets) aggregate.
    """
    from uda_spark.sources.tables import event_micros

    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = ev.withColumn("ts_us", event_micros(ev)).select(
        "event_type",
        "ts_us",
        F.max("ts_us").over(w).alias("high_water_us"),
    )
    bucket = (
        F.when(F.col("high_water_us") - F.col("ts_us") <= 0, F.lit(-1))
        .otherwise(
            F.floor(
                F.log2(
                    (F.col("high_water_us") - F.col("ts_us")).cast("double") / 1000000
                    + 1
                )
            ).cast("int")
        )
        .alias("late_bucket")
    )
    return (
        seq.select("event_type", bucket)
        .groupBy("event_type", "late_bucket")
        .agg(F.count("*").cast("long").alias("n_events"))
    )


KMV_K = 32
_KMV_MAXH = 1 << 60  # hash60 range
_KMV_HEAVY = 14      # events of a type to count as a "heavy" user


def _kmv_est(hk: str) -> str:
    """Deterministic-double KMV estimator (k-1)*2^60/h_k, floored —
    identical text valid in both engines (63*2^60 overflows BIGINT, so
    the division is double; inputs are exact integers)."""
    return (
        f"CAST(floor(({KMV_K} - 1) * (CAST({_KMV_MAXH} AS DOUBLE)"
        f" / CAST({hk} AS DOUBLE))) AS BIGINT)"
    )


_KMV_H_DU = _PORT.hash60("'kmv|' || CAST(user_id AS VARCHAR)", "duck")


@register(
    "sketch_kmv_intersection",
    oracle=f"""
WITH seg AS (
  SELECT user_id,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= {_KMV_HEAVY} AS in_a,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) >= {_KMV_HEAVY} AS in_b
  FROM events GROUP BY user_id
),
du AS (
  SELECT 'a' AS tag, user_id FROM seg WHERE in_a
  UNION ALL
  SELECT 'b', user_id FROM seg WHERE in_b
),
h AS (SELECT tag, user_id, {_KMV_H_DU} AS hv FROM du),
ranked AS (
  SELECT tag, hv, ROW_NUMBER() OVER (PARTITION BY tag ORDER BY hv, user_id) AS rk
  FROM h
),
kmv AS (SELECT tag, hv FROM ranked WHERE rk <= {KMV_K}),
est AS (
  SELECT tag,
         CASE WHEN COUNT(*) < {KMV_K} THEN COUNT(*)::BIGINT
              ELSE {_kmv_est('MAX(hv)')} END AS d_est
  FROM kmv GROUP BY tag
),
uni AS (
  SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rk
  FROM (SELECT DISTINCT hv FROM kmv)
),
ukmv AS (SELECT hv FROM uni WHERE rk <= {KMV_K}),
sketch AS (
  SELECT
    (SELECT COUNT(*) FROM ukmv
     WHERE hv IN (SELECT hv FROM kmv WHERE tag = 'a')
       AND hv IN (SELECT hv FROM kmv WHERE tag = 'b'))::BIGINT AS n_both,
    (SELECT COUNT(*) FROM ukmv)::BIGINT AS u_cnt,
    (SELECT CASE WHEN COUNT(*) < {KMV_K} THEN COUNT(*)::BIGINT
                 ELSE {_kmv_est('MAX(hv)')} END
     FROM ukmv) AS d_union
),
exact AS (
  SELECT COUNT(*) FILTER (in_a)::BIGINT AS exact_a,
         COUNT(*) FILTER (in_b)::BIGINT AS exact_b,
         COUNT(*) FILTER (in_a AND in_b)::BIGINT AS exact_inter
  FROM seg
)
SELECT (SELECT d_est FROM est WHERE tag = 'a') AS est_a, exact_a,
       (SELECT d_est FROM est WHERE tag = 'b') AS est_b, exact_b,
       CAST(sketch.n_both * sketch.d_union
            // GREATEST(1, LEAST({KMV_K}, sketch.u_cnt)) AS BIGINT) AS est_inter,
       exact_inter,
       CAST(sketch.n_both * 1000000
            // GREATEST(1, LEAST({KMV_K}, sketch.u_cnt)) AS BIGINT) AS jaccard_est_ppm
FROM exact, sketch
""",
    tags=("quality", "sketch", "approx"),
)
def sketch_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values sketch with SET-OPERATION estimates: distinct
    counts of two behavioral segments (heavy purchasers / heavy
    viewers) AND their overlap, estimated from two 32-value sketches —
    the question ("how many users are in BOTH segments?") that HLL
    cannot answer (HLL only unions; KMV/theta-style sketches
    intersect), answered without joining the raw sets.

    The sketch is the k smallest salted user hashes per segment:
    d_est = (k-1)*2^60/h_k (deterministic double over exact integers —
    63*2^60 overflows BIGINT); the intersection estimate is the union
    sketch's overlap fraction times the union estimate.  Every value,
    including the estimates, is value-hash checked; exact counts ride
    along as the error readout.

    Scale shape: one keyed reduce of the fact to per-user segment
    flags, per-segment top-k by hash (WindowGroupLimit prunes each
    partition to its local k before the exchange), then everything
    operates on 2k rows.  Sketches are tiny, mergeable (union = k
    smallest of the concatenation) and persistable, so an N-segment
    overlap matrix costs N sketch scans, never N^2 set joins.
    """
    from uda_spark.functions import portable

    ev = t(spark, sf_dir, "events")
    seg = ev.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            >= _KMV_HEAVY
        ).alias("in_a"),
        (
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            >= _KMV_HEAVY
        ).alias("in_b"),
    )
    du = seg.where("in_a").select(F.lit("a").alias("tag"), "user_id").unionAll(
        seg.where("in_b").select(F.lit("b").alias("tag"), "user_id")
    )
    h = du.select(
        "tag",
        "user_id",
        F.expr(
            portable.hash60("concat('kmv|', CAST(user_id AS STRING))", "spark")
        ).alias("hv"),
    )
    w = Window.partitionBy("tag").orderBy("hv", "user_id")
    kmv = (
        h.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= KMV_K)
        .select("tag", "hv")
    )
    # a sketch holding fewer than k values IS the whole set: report the
    # exact cardinality instead of the (biased-high) k-th-value estimate
    est = (
        kmv.groupBy("tag")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.expr(_kmv_est("max(hv)")).alias("full_est"),
        )
        .select(
            "tag",
            F.when(F.col("cnt") < KMV_K, F.col("cnt"))
            .otherwise(F.col("full_est"))
            .alias("d_est"),
        )
    )
    a_set = kmv.where(F.col("tag") == "a").select("hv")
    b_set = kmv.where(F.col("tag") == "b").select("hv")
    uni = a_set.union(b_set).distinct().orderBy("hv").limit(KMV_K)
    marked = uni.join(
        a_set.withColumn("ia", F.lit(1)), on="hv", how="left"
    ).join(b_set.withColumn("ib", F.lit(1)), on="hv", how="left")
    sketch = marked.agg(
        F.sum(
            F.when(F.col("ia").isNotNull() & F.col("ib").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_both"),
        F.count("*").cast("long").alias("u_cnt"),
        F.expr(_kmv_est("max(hv)")).alias("full_union"),
    ).select(
        "n_both",
        "u_cnt",
        F.when(F.col("u_cnt") < KMV_K, F.col("u_cnt"))
        .otherwise(F.col("full_union"))
        .alias("d_union"),
    )
    exact = seg.agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("long").alias("exact_a"),
        F.sum(F.when(F.col("in_b"), 1).otherwise(0)).cast("long").alias("exact_b"),
        F.sum(F.when(F.col("in_a") & F.col("in_b"), 1).otherwise(0))
        .cast("long")
        .alias("exact_inter"),
    )
    ea = est.where(F.col("tag") == "a").select(F.col("d_est").alias("est_a"))
    eb = est.where(F.col("tag") == "b").select(F.col("d_est").alias("est_b"))
    return (
        ea.crossJoin(exact)
        .crossJoin(eb)
        .crossJoin(sketch)
        .select(
            "est_a",
            "exact_a",
            "est_b",
            "exact_b",
            F.expr(
                f"CAST(n_both * d_union div "
                f"greatest(1L, least(CAST({KMV_K} AS BIGINT), u_cnt)) AS BIGINT)"
            ).alias("est_inter"),
            "exact_inter",
            F.expr(
                f"CAST(n_both * 1000000 div "
                f"greatest(1L, least(CAST({KMV_K} AS BIGINT), u_cnt)) AS BIGINT)"
            ).alias("jaccard_est_ppm"),
        )
    )


MAD_K = 5  # |x - median| >= K * MAD flags an anomaly


@register(
    "events_hourly_anomalies_mad",
    oracle="""
WITH hourly AS (
  SELECT event_type, (epoch_us(ts) // 3600000000) * 3600 AS bucket_epoch,
         COUNT(*)::BIGINT AS n_events
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, bucket_epoch, n_events,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n_events, bucket_epoch) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM hourly
),
med AS (
  SELECT event_type,
         MAX(CASE WHEN rk = 1 + (n - 1) // 2 THEN n_events END) AS median_events
  FROM ranked GROUP BY event_type
),
dev AS (
  SELECT h.event_type, h.bucket_epoch, h.n_events, m.median_events,
         abs(h.n_events - m.median_events) AS adev
  FROM hourly h JOIN med m USING (event_type)
),
dev_ranked AS (
  SELECT event_type, bucket_epoch, n_events, median_events, adev,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY adev, bucket_epoch) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM dev
),
mad AS (
  SELECT event_type,
         MAX(CASE WHEN rk = 1 + (n - 1) // 2 THEN adev END) AS mad_events
  FROM dev_ranked GROUP BY event_type
)
SELECT d.event_type, d.bucket_epoch, d.n_events,
       CAST(d.median_events AS BIGINT) AS median_events,
       CAST(m.mad_events AS BIGINT) AS mad_events,
       (d.adev >= 5 * m.mad_events AND m.mad_events > 0) AS is_anomaly
FROM dev d JOIN mad m USING (event_type)
WHERE d.adev >= 5 * m.mad_events AND m.mad_events > 0
""",
    tags=("quality", "events", "robust"),
)
def events_hourly_anomalies_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust volume-anomaly flagging: median absolute deviation (MAD)
    instead of the z-score of `events_hourly_anomalies` — the robust
    twin for the case that breaks mean/stddev flagging: a handful of
    extreme hours INFLATE the stddev until they hide themselves (masking)
    and drag the mean toward them, while median and MAD are unmoved by
    up to half the data being wild.

    Both median and MAD are exact nearest-lower order statistics over
    integer counts — pure integer arithmetic end-to-end (no 1.4826
    normal-consistency scaling; the K*MAD threshold absorbs the
    constant), so the flag set is engine-exact.

    Scale shape: the fact reduces to the hourly rollup first; both
    ranking passes run over that (types x hours) relation, not the
    fact, with the per-type cut tables broadcast back — same shape as
    `events_value_winsorize`'s exact-order-statistic tier.
    """
    from uda_spark.sources.tables import event_micros

    ev = t(spark, sf_dir, "events")
    hourly = (
        ev.withColumn("ts_us", event_micros(ev))
        .groupBy(
            "event_type",
            F.expr("(ts_us div 3600000000) * 3600").alias("bucket_epoch"),
        )
        .agg(F.count("*").alias("n_events"))
    )
    w1 = Window.partitionBy("event_type").orderBy("n_events", "bucket_epoch")
    ranked = hourly.select(
        "event_type",
        "bucket_epoch",
        "n_events",
        F.row_number().over(w1).alias("rk"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    med = ranked.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rk") == 1 + F.expr("(n - 1) div 2"), F.col("n_events"))
        ).alias("median_events")
    )
    dev = hourly.join(F.broadcast(med), on="event_type").withColumn(
        "adev", F.abs(F.col("n_events") - F.col("median_events"))
    )
    w2 = Window.partitionBy("event_type").orderBy("adev", "bucket_epoch")
    dev_ranked = dev.select(
        "event_type",
        "adev",
        F.row_number().over(w2).alias("rk"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    mad = dev_ranked.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rk") == 1 + F.expr("(n - 1) div 2"), F.col("adev"))
        ).alias("mad_events")
    )
    return (
        dev.join(F.broadcast(mad), on="event_type")
        .where((F.col("adev") >= MAD_K * F.col("mad_events")) & (F.col("mad_events") > 0))
        .select(
            "event_type",
            "bucket_epoch",
            "n_events",
            F.col("median_events").cast("long").alias("median_events"),
            F.col("mad_events").cast("long").alias("mad_events"),
            F.lit(True).alias("is_anomaly"),
        )
    )


LTV_MONTHS = 6
_MONTH_FMT = "%Y-%m"


@register(
    "orders_cohort_ltv",
    oracle=f"""
WITH o AS (
  SELECT o_custkey, o_totalprice,
         (EXTRACT(year FROM o_orderdate) * 12 + EXTRACT(month FROM o_orderdate) - 1)
           AS ym
  FROM orders
),
cohort AS (SELECT o_custkey, MIN(ym) AS cohort_ym FROM o GROUP BY o_custkey),
sizes AS (SELECT cohort_ym, COUNT(*)::BIGINT AS cohort_size FROM cohort GROUP BY cohort_ym),
rev AS (
  SELECT c.cohort_ym, CAST(o.ym - c.cohort_ym AS INT) AS month_offset,
         COUNT(*)::BIGINT AS n_orders,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM o JOIN cohort c ON o.o_custkey = c.o_custkey
  WHERE o.ym - c.cohort_ym BETWEEN 0 AND {LTV_MONTHS - 1}
  GROUP BY 1, 2
)
SELECT CAST(r.cohort_ym AS BIGINT) AS cohort_ym, r.month_offset, r.n_orders,
       r.revenue, s.cohort_size,
       CAST(CAST(SUM(CAST(r.revenue AS DECIMAL(18,2)))
                 OVER (PARTITION BY r.cohort_ym ORDER BY r.month_offset) AS DOUBLE)
            / s.cohort_size AS DOUBLE) AS cum_ltv_per_customer
FROM rev r JOIN sizes s ON r.cohort_ym = s.cohort_ym
""",
    tags=("quality", "cohort", "analytics"),
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-cohort LTV curve: customers grouped by first-order month,
    revenue tracked per month offset with the cumulative
    lifetime-value-per-customer running sum — the monetary twin of
    `events_cohort_retention` (activity says WHO came back; this says
    what they were WORTH), the curve that sets acquisition budgets.

    Numeric discipline: revenue sums and the cumulative window run in
    DECIMAL(18,2) (exact, order-independent) with a single final CAST
    to DOUBLE per row — the repo's money convention — and the month
    key is pure integer year*12+month arithmetic, identical in both
    engines.

    Scale shape: cohorts are a per-customer MIN; the revenue join
    co-partitions on o_custkey; the grid is |months| x |offsets| rows,
    so the LTV window runs over a tiny relation.
    """
    o = t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_totalprice",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("ym"),
    )
    cohort = o.groupBy("o_custkey").agg(F.min("ym").alias("cohort_ym"))
    sizes = cohort.groupBy("cohort_ym").agg(F.count("*").alias("cohort_size"))
    rev = (
        o.join(cohort, on="o_custkey")
        .withColumn("month_offset", (F.col("ym") - F.col("cohort_ym")).cast("int"))
        .where(F.col("month_offset").between(0, LTV_MONTHS - 1))
        .groupBy("cohort_ym", "month_offset")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )
    w = Window.partitionBy("cohort_ym").orderBy("month_offset")
    return (
        rev.join(F.broadcast(sizes), on="cohort_ym")
        .withColumn(
            "cum_ltv_per_customer",
            (
                F.sum(F.col("revenue").cast("decimal(18,2)")).over(w).cast("double")
                / F.col("cohort_size")
            ).cast("double"),
        )
        .select(
            F.col("cohort_ym").cast("long").alias("cohort_ym"),
            "month_offset",
            "n_orders",
            "revenue",
            F.col("cohort_size").cast("long").alias("cohort_size"),
            "cum_ltv_per_customer",
        )
    )


@register(
    "part_supplier_hhi",
    oracle="""
WITH rev AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)::BIGINT AS rev_cents
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
tot AS (
  SELECT l_partkey, SUM(rev_cents)::BIGINT AS total_cents,
         COUNT(*)::BIGINT AS n_suppliers
  FROM rev GROUP BY l_partkey
),
shares AS (
  SELECT r.l_partkey, t.n_suppliers,
         r.rev_cents * 1000000 // t.total_cents AS share_ppm
  FROM rev r JOIN tot t USING (l_partkey)
),
hhi AS (
  SELECT l_partkey, CAST(MAX(n_suppliers) AS BIGINT) AS n_suppliers,
         CAST(SUM(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi_ppm,
         CAST(MAX(share_ppm) AS BIGINT) AS top_share_ppm
  FROM shares GROUP BY l_partkey
),
cut AS (
  SELECT MAX(CASE WHEN rk = 1 + (9 * (n - 1)) // 10 THEN hhi_ppm END) AS p90
  FROM (SELECT hhi_ppm, ROW_NUMBER() OVER (ORDER BY hhi_ppm, l_partkey) AS rk,
               COUNT(*) OVER () AS n
        FROM hhi)
)
SELECT h.l_partkey, h.n_suppliers, h.hhi_ppm, h.top_share_ppm,
       CAST(c.p90 AS BIGINT) AS p90_cut_ppm
FROM hhi h, cut c WHERE h.hhi_ppm >= c.p90
""",
    tags=("quality", "analytics", "aggregation"),
)
def part_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-concentration screening: the Herfindahl–Hirschman index
    of each part's supplier revenue shares, reporting parts whose
    supply is MOST concentrated — the top decile by HHI, a
    self-calibrating cut (an absolute 0.8 threshold is meaningless on
    an evenly-sourced catalog and floods on a sparse one; the risk
    readout is always "your most concentrated tail").

    Exactness: revenue aggregates in integer cents (exact decimal x
    100), shares quantized to integer ppm by floor division, HHI =
    sum(share^2) scaled back, and the decile cut is an exact
    nearest-lower order statistic — every step integer, so the flagged
    part set is engine-exact (a float HHI would flap at the cut).

    Scale shape: two keyed aggregates sharing the l_partkey grouping
    (Catalyst reuses the partitioning for the second), one co-keyed
    join, and a HAVING that reduces output to the risky tail only; the
    p90 cut's exact order statistic ranks the per-part HHI relation
    with the two-pass range-partitioned ``global_rank`` (round 8 — no
    single-partition window at full-catalog part cardinality).
    """
    rev = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("rev_cents")
        )
    )
    tot = rev.groupBy("l_partkey").agg(
        F.sum("rev_cents").alias("total_cents"),
        F.count("*").alias("n_suppliers"),
    )
    shares = rev.join(tot, on="l_partkey").select(
        "l_partkey",
        "n_suppliers",
        F.expr("rev_cents * 1000000 div total_cents").alias("share_ppm"),
    )
    # The hhi relation feeds BOTH the p90 rank pipeline (via global_rank's
    # snapshot) and the final output join — without a persist the whole
    # lineitem double-aggregate chain executes twice (guide §5: reuse >
    # recompute for a tiny aggregate).  Released by release_persisted().
    from uda_spark.cache import tracked_persist

    hhi = tracked_persist(
        shares.groupBy("l_partkey").agg(
            F.max("n_suppliers").cast("long").alias("n_suppliers"),
            F.expr("CAST(sum(share_ppm * share_ppm) div 1000000 AS BIGINT)").alias(
                "hhi_ppm"
            ),
            F.max("share_ppm").cast("long").alias("top_share_ppm"),
        )
    )
    from uda_spark.operators.sort import global_rank

    ranked_h = global_rank(
        hhi.select("l_partkey", "hhi_ppm"), ["hhi_ppm", "l_partkey"], alias="rk"
    )
    nrow = ranked_h.agg(F.count("*").alias("n"))
    cut = (
        ranked_h.crossJoin(F.broadcast(nrow))
        .groupBy()
        .agg(
            F.max(
                F.when(F.col("rk") == 1 + F.expr("(9 * (n - 1)) div 10"), F.col("hhi_ppm"))
            ).alias("p90")
        )
    )
    return hhi.crossJoin(F.broadcast(cut)).where(F.col("hhi_ppm") >= F.col("p90")).select(
        "l_partkey",
        "n_suppliers",
        "hhi_ppm",
        "top_share_ppm",
        F.col("p90").cast("long").alias("p90_cut_ppm"),
    )


@register(
    "orders_seasonality_index",
    oracle="""
WITH m AS (
  SELECT EXTRACT(month FROM o_orderdate)::INT AS month,
         SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)::BIGINT AS rev_cents,
         COUNT(*)::BIGINT AS n_orders
  FROM orders GROUP BY 1
),
tot AS (
  SELECT SUM(rev_cents)::BIGINT AS total_cents, COUNT(*)::BIGINT AS n_months FROM m
)
SELECT m.month, m.n_orders,
       CAST(m.rev_cents AS BIGINT) AS rev_cents,
       CAST(m.rev_cents * t.n_months * 1000000 // t.total_cents AS BIGINT)
         AS seasonal_index_ppm
FROM m, tot t
""",
    tags=("quality", "analytics", "timeseries"),
)
def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonality index: each calendar month's revenue
    relative to the all-months average (1e6 ppm = exactly average) —
    the classical seasonal decomposition first step, used to
    deseasonalize trends and to sanity-check synthetic or ingested
    data for calendar artifacts.

    Index = rev_m * n_months / mean-free total in one integer floor
    division (revenue exact in cents) — no float ratio, so the index
    is engine-exact at every scale.

    Scale shape: one month-keyed aggregate of the fact (12 output
    rows), one broadcast of the 1-row total.
    """
    m = (
        t(spark, sf_dir, "orders")
        .groupBy(F.month("o_orderdate").cast("int").alias("month"))
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("rev_cents"),
            F.count("*").cast("long").alias("n_orders"),
        )
    )
    tot = m.agg(
        F.sum("rev_cents").alias("total_cents"), F.count("*").alias("n_months")
    )
    return m.crossJoin(F.broadcast(tot)).select(
        "month",
        "n_orders",
        "rev_cents",
        F.expr("CAST(rev_cents * n_months * 1000000 div total_cents AS BIGINT)").alias(
            "seasonal_index_ppm"
        ),
    )


TE_FOLDS = 4


@register(
    "features_target_encoding_oof",
    oracle=f"""
WITH base AS (
  SELECT o_orderpriority AS category,
         CAST({_PORT.hash60("'te|' || CAST(o_orderkey AS VARCHAR)", 'duck')} % {TE_FOLDS} AS INT) AS fold,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
per_fold AS (
  SELECT category, fold, COUNT(*)::BIGINT AS n_f, SUM(cents)::BIGINT AS cents_f
  FROM base GROUP BY category, fold
),
per_cat AS (
  SELECT category, SUM(n_f)::BIGINT AS n_all, SUM(cents_f)::BIGINT AS cents_all
  FROM per_fold GROUP BY category
)
SELECT f.category, f.fold, f.n_f AS n_rows,
       CAST((c.cents_all - f.cents_f) // (c.n_all - f.n_f) AS BIGINT)
         AS oof_encoding_cents
FROM per_fold f JOIN per_cat c USING (category)
WHERE c.n_all > f.n_f
""",
    tags=("quality", "features", "north-star"),
)
def features_target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding — the leakage-safe version of the
    classic categorical→mean-target feature: each (category, fold)
    cell's encoding is the mean target over every OTHER fold, computed
    algebraically as (total − fold) / (n_total − n_fold) so no row's
    own target leaks into its feature.  Folds are deterministic salted
    hashes of the row key; credits are integer cents with one exact
    integer division per cell, so the encoded table is engine-identical.

    Scale shape: one partial-agg exchange keyed (category, fold) over
    the fact; everything after operates on the categories×folds grid
    (tiny, broadcastable to the training join).  The out-of-fold
    subtraction needs NO per-fold re-aggregation passes — the same
    one-pass trick that makes K-fold encoding feasible at 100 TB.
    """
    from uda_spark.functions import portable as P

    base = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("category"),
        (
            F.expr(P.hash60("concat('te|', CAST(o_orderkey AS STRING))", "spark"))
            % TE_FOLDS
        )
        .cast("int")
        .alias("fold"),
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    per_fold = base.groupBy("category", "fold").agg(
        F.count("*").cast("long").alias("n_f"),
        F.sum("cents").cast("long").alias("cents_f"),
    )
    per_cat = per_fold.groupBy("category").agg(
        F.sum("n_f").cast("long").alias("n_all"),
        F.sum("cents_f").cast("long").alias("cents_all"),
    )
    return (
        per_fold.join(F.broadcast(per_cat), on="category")
        .where(F.col("n_all") > F.col("n_f"))
        .select(
            "category",
            "fold",
            F.col("n_f").alias("n_rows"),
            F.expr("(cents_all - cents_f) div (n_all - n_f)")
            .cast("long")
            .alias("oof_encoding_cents"),
        )
    )


# Shared closed-form OLS fragment (identical text in both dialects):
# exact integer/decimal moments in, deterministic double steps out.
_FIT_EXPRS = {
    "cov": "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy",
    "vx": "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx",
    "vy": "CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy",
}
_FIT_OUT = (
    "CAST(n AS BIGINT) AS n_rows",
    "round(CAST(cov AS DOUBLE) / CAST(vx AS DOUBLE), 6) AS slope_cents_per_unit",
    "CAST(floor((CAST(sy AS DOUBLE) - (CAST(cov AS DOUBLE) / CAST(vx AS DOUBLE))"
    " * CAST(sx AS DOUBLE)) / n + 0.5) AS BIGINT) AS intercept_cents",
    "round(CAST(cov AS DOUBLE) * CAST(cov AS DOUBLE)"
    " / (CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)), 6) AS r2",
)


@register(
    "ml_linear_fit_price_qty",
    oracle=f"""
WITH base AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM lineitem
),
m AS (
  SELECT COUNT(*)::BIGINT AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS syy
  FROM base
),
d AS (
  SELECT n, sx, sy,
         {_FIT_EXPRS['cov']} AS cov,
         {_FIT_EXPRS['vx']} AS vx,
         {_FIT_EXPRS['vy']} AS vy
  FROM m
)
SELECT {', '.join(_FIT_OUT)} FROM d
""",
    tags=("quality", "features", "ml", "north-star"),
)
def ml_linear_fit_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS fit (price ~ quantity) as ONE aggregation pass:
    the five sufficient moments (n, Σx, Σy, Σxy, Σx², Σy²) are exact
    integer/decimal sums — order-independent, partial-aggregated
    map-side — and slope / intercept / R² fall out of a single-row
    projection.  The pattern that makes simple model fits free at
    100 TB: no iteration, no driver-side math beyond the final row, and
    the same moments relation serves any number of derived statistics.
    Moments products run in DECIMAL(38,0) (Σy² alone exceeds BIGINT at
    bench scale); the final divisions are deterministic doubles on
    exact inputs, identical text in both engines.
    """
    li = t(spark, sf_dir, "lineitem").select(
        F.expr("CAST(l_quantity AS BIGINT)").alias("x"),
        F.expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "y"
        ),
    )
    m = li.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.expr("CAST(y AS DECIMAL(19,0)) * y")).cast("decimal(38,0)").alias(
            "syy"
        ),
    )
    d = m.select(
        "n",
        "sx",
        "sy",
        F.expr(_FIT_EXPRS["cov"]).alias("cov"),
        F.expr(_FIT_EXPRS["vx"]).alias("vx"),
        F.expr(_FIT_EXPRS["vy"]).alias("vy"),
    )
    return d.selectExpr(*_FIT_OUT)


# Pairwise Pearson correlation from one moments pass.  Measures are
# quantized to exact integers (cents / basis points) first, so every sum
# is order-independent; correlations come out of deterministic double
# steps on the exact moments.
_CORR_MEASURES = (
    ("quantity", "CAST(l_quantity AS BIGINT)"),
    ("price_cents", "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"),
    ("discount_bp", "CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)"),
    ("tax_bp", "CAST(CAST(l_tax AS DECIMAL(18,4)) * 10000 AS BIGINT)"),
)


def _corr_oracle() -> str:
    cols = ", ".join(f"{expr} AS {name}" for name, expr in _CORR_MEASURES)
    sums = ["COUNT(*)::BIGINT AS n"]
    for name, _ in _CORR_MEASURES:
        sums.append(f"CAST(SUM({name}) AS DECIMAL(38,0)) AS s_{name}")
        sums.append(
            f"CAST(SUM(CAST({name} AS DECIMAL(19,0)) * {name}) AS DECIMAL(38,0))"
            f" AS ss_{name}"
        )
    pair_rows = []
    names = [n for n, _ in _CORR_MEASURES]
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            sums.append(
                f"CAST(SUM(CAST({a} AS DECIMAL(19,0)) * {b}) AS DECIMAL(38,0))"
                f" AS sp_{a}_{b}"
            )
            pair_rows.append(
                f"SELECT '{a}' AS var_a, '{b}' AS var_b, "
                f"round((CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE)"
                f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
                f" / sqrt((CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)"
                f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
                f" * (CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)"
                f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE))), 6)"
                f" AS corr FROM m"
            )
    return (
        f"WITH base AS (SELECT {cols} FROM lineitem), "
        f"m AS (SELECT {', '.join(sums)} FROM base) "
        + " UNION ALL ".join(pair_rows)
    )


@register(
    "ml_correlation_matrix",
    oracle=_corr_oracle(),
    tags=("quality", "features", "ml", "north-star"),
)
def ml_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations across four lineitem measures from
    ONE aggregation pass: every (co)moment is an exact integer/decimal
    sum (partial-aggregated map-side), and all six correlations derive
    from the single one-row moments relation — the feature-screening
    matrix a model pipeline computes before training, priced at one
    corpus scan regardless of how many pairs are read off it.
    """
    exprs = dict(_CORR_MEASURES)
    base = t(spark, sf_dir, "lineitem").select(
        *[F.expr(e).alias(n) for n, e in _CORR_MEASURES]
    )
    names = list(exprs)
    aggs = [F.count("*").cast("long").alias("n")]
    for n_ in names:
        aggs.append(F.sum(n_).cast("decimal(38,0)").alias(f"s_{n_}"))
        aggs.append(
            F.sum(F.expr(f"CAST({n_} AS DECIMAL(19,0)) * {n_}"))
            .cast("decimal(38,0)")
            .alias(f"ss_{n_}")
        )
    pairs = []
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            aggs.append(
                F.sum(F.expr(f"CAST({a} AS DECIMAL(19,0)) * {b}"))
                .cast("decimal(38,0)")
                .alias(f"sp_{a}_{b}")
            )
            pairs.append((a, b))
    m = base.agg(*aggs)
    # ONE corpus scan, literally: collect the one-row moments relation
    # (O(1) driver data) and derive every pair correlation from literal
    # one-row projections.  The previous unionByName-of-selectExpr
    # re-planned the aggregate per pair — 6 full scans, zero
    # ReusedExchange.  The double arithmetic still runs in Spark SQL with
    # the identical expression text on the exact moment values, so the
    # results are bit-identical to the engine-side formulation (and to
    # the oracle's double math).
    mrow = m.collect()[0].asDict()

    def lit(k: str) -> str:
        if k == "n":
            return f"CAST({int(mrow['n'])} AS BIGINT)"
        return f"CAST('{mrow[k]}' AS DECIMAL(38,0))"

    out = None
    for a, b in pairs:
        corr = (
            f"round((CAST({lit('n')} AS DOUBLE) * CAST({lit(f'sp_{a}_{b}')} AS DOUBLE)"
            f" - CAST({lit(f's_{a}')} AS DOUBLE) * CAST({lit(f's_{b}')} AS DOUBLE))"
            f" / sqrt((CAST({lit('n')} AS DOUBLE) * CAST({lit(f'ss_{a}')} AS DOUBLE)"
            f" - CAST({lit(f's_{a}')} AS DOUBLE) * CAST({lit(f's_{a}')} AS DOUBLE))"
            f" * (CAST({lit('n')} AS DOUBLE) * CAST({lit(f'ss_{b}')} AS DOUBLE)"
            f" - CAST({lit(f's_{b}')} AS DOUBLE) * CAST({lit(f's_{b}')} AS DOUBLE))), 6)"
        )
        row = spark.range(1).selectExpr(
            f"'{a}' AS var_a", f"'{b}' AS var_b", f"{corr} AS corr"
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "events_ab_welch_test",
    oracle=f"""
WITH base AS (
  SELECT CAST(user_id % 2 AS INT) AS cohort,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
),
m AS (
  SELECT cohort, COUNT(*)::BIGINT AS n,
         CAST(SUM(cents) AS DECIMAL(38,0)) AS s,
         CAST(SUM(CAST(cents AS DECIMAL(19,0)) * cents) AS DECIMAL(38,0)) AS ss
  FROM base GROUP BY cohort
),
w AS (
  SELECT
    (SELECT n FROM m WHERE cohort = 0) AS n_a,
    (SELECT n FROM m WHERE cohort = 1) AS n_b,
    (SELECT CAST(s AS DOUBLE) FROM m WHERE cohort = 0) AS s_a,
    (SELECT CAST(s AS DOUBLE) FROM m WHERE cohort = 1) AS s_b,
    (SELECT CAST(ss AS DOUBLE) FROM m WHERE cohort = 0) AS ss_a,
    (SELECT CAST(ss AS DOUBLE) FROM m WHERE cohort = 1) AS ss_b
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(s_a / n_a - s_b / n_b, 6) AS mean_diff_cents,
       round((s_a / n_a - s_b / n_b)
             / sqrt((ss_a / n_a - (s_a / n_a) * (s_a / n_a)) / (n_a - 1)
                    + (ss_b / n_b - (s_b / n_b) * (s_b / n_b)) / (n_b - 1)), 6)
         AS welch_t
FROM w
""",
    tags=("quality", "events", "ml", "north-star"),
)
def events_ab_welch_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample A/B comparison (Welch's t statistic) of event value
    between two deterministic user cohorts, from one grouped moments
    pass: per-cohort n / Σx / Σx² are exact integer-cents sums, and the
    mean difference + unequal-variance t statistic are deterministic
    double steps on those exact moments — the experiment-readout query
    every product analytics stack runs, with no sampling and no
    per-row float accumulation anywhere.
    """
    base = t(spark, sf_dir, "events").where(F.col("value").isNotNull()).select(
        (F.col("user_id") % 2).cast("int").alias("cohort"),
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("cents"),
    )
    # ONE aggregation pass via conditional aggregation — the previous
    # a/b filter + crossJoin re-planned the grouped aggregate per side
    # (2 full scans).  Sums over a CASE subset are the same exact
    # integer/decimal sums as the filtered formulation, so the final
    # double steps (identical expression text) are bit-identical.
    m = base.agg(
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("cohort") == 0, F.col("cents")))
        .cast("decimal(38,0)")
        .cast("double")
        .alias("s_a"),
        F.sum(F.when(F.col("cohort") == 1, F.col("cents")))
        .cast("decimal(38,0)")
        .cast("double")
        .alias("s_b"),
        F.sum(
            F.expr(
                "CASE WHEN cohort = 0 THEN CAST(cents AS DECIMAL(19,0)) * cents END"
            )
        )
        .cast("decimal(38,0)")
        .cast("double")
        .alias("ss_a"),
        F.sum(
            F.expr(
                "CASE WHEN cohort = 1 THEN CAST(cents AS DECIMAL(19,0)) * cents END"
            )
        )
        .cast("decimal(38,0)")
        .cast("double")
        .alias("ss_b"),
    )
    return m.selectExpr(
        "CAST(n_a AS BIGINT) AS n_a",
        "CAST(n_b AS BIGINT) AS n_b",
        "round(s_a / n_a - s_b / n_b, 6) AS mean_diff_cents",
        "round((s_a / n_a - s_b / n_b)"
        " / sqrt((ss_a / n_a - (s_a / n_a) * (s_a / n_a)) / (n_a - 1)"
        " + (ss_b / n_b - (s_b / n_b) * (s_b / n_b)) / (n_b - 1)), 6) AS welch_t",
    )


_QHIST_ORACLE = """
WITH base AS (
  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         epoch_us(ts) // 86400000000 AS day
  FROM events
  WHERE value IS NOT NULL AND CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) > 0
),
lvl1 AS (
  SELECT day, CAST(length(bin(cents)) - 1 AS INT) AS bucket, COUNT(*)::BIGINT AS c
  FROM base GROUP BY day, length(bin(cents)) - 1
),
merged AS (SELECT bucket, SUM(c)::BIGINT AS c FROM lvl1 GROUP BY bucket),
cum AS (SELECT bucket, c, SUM(c) OVER (ORDER BY bucket)::BIGINT AS cum FROM merged),
tot AS (SELECT SUM(c)::BIGINT AS total FROM merged),
tgt AS (
  SELECT q_pct, ((SELECT total FROM tot) * q_pct + 99) // 100 AS target_rank
  FROM (VALUES (50), (90), (99)) v(q_pct)
)
SELECT CAST(t.q_pct AS INT) AS q_pct,
       (SELECT total FROM tot) AS total_n,
       CAST(t.target_rank AS BIGINT) AS target_rank,
       CAST(MIN(cum.bucket) AS INT) AS bucket,
       CAST(1::BIGINT << MIN(cum.bucket) AS BIGINT) AS lo_cents,
       CAST((1::BIGINT << (MIN(cum.bucket) + 1)) - 1 AS BIGINT) AS hi_cents
FROM tgt t JOIN cum ON cum.cum >= t.target_rank
GROUP BY t.q_pct, t.target_rank
"""


@register(
    "sketch_histogram_quantiles",
    oracle=_QHIST_ORACLE,
    tags=("quality", "sketch", "north-star"),
)
def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile estimation — the percentile analog of the HLL
    two-level rollup (`hll_sketch_persisted_rollup`): level 1 builds
    per-day log2-bucket histograms (bounded: <= 64 counters per day —
    the relation you would persist alongside the daily rollup), level 2
    merges them with a plain SUM per bucket and reads p50/p90/p99 off
    the cumulative counts.  Estimates carry an explicit error contract
    (the true quantile lies in [lo_cents, hi_cents], a factor-2 bracket)
    instead of percentile_approx's unmergeable opaque state — integers
    end to end, so both engines agree exactly.

    Scale shape: the corpus-sized pass is the level-1 groupBy; merge
    and quantile extraction touch <= 64 x days rows.  New days merge
    into the sketch with a SUM — no recomputation of history — which is
    the property percentile_approx cannot offer across partitions.
    """
    lvl1 = histogram_lvl1(t(spark, sf_dir, "events"))
    return histogram_quantiles(lvl1)


def histogram_lvl1(ev: DataFrame) -> DataFrame:
    """Level 1 of the mergeable quantile sketch: per-day log2-bucket
    counts ``(day, bucket, c)`` — <= 64 counters per day, the relation
    persisted alongside a daily rollup."""
    from uda_spark.sources.tables import event_micros

    base = (
        ev.withColumn("ts_us", event_micros(ev))
        .select(
            F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
                "cents"
            ),
            F.expr("ts_us div 86400000000").alias("day"),
        )
        .where(F.col("cents").isNotNull() & (F.col("cents") > 0))
    )
    return base.groupBy(
        "day", (F.length(F.expr("bin(cents)")) - 1).cast("int").alias("bucket")
    ).agg(F.count("*").cast("long").alias("c"))


def histogram_quantiles(lvl1: DataFrame) -> DataFrame:
    """Level 2: SUM-merge per-day histograms and read p50/p90/p99 off
    the cumulative counts.  Touches <= 64 x days rows; the orderBy
    window runs over <= 64 merged buckets (bounded, not corpus-sized)."""
    spark = lvl1.sparkSession
    merged = lvl1.groupBy("bucket").agg(F.sum("c").cast("long").alias("c"))
    cum = merged.withColumn(
        "cum",
        F.sum("c").over(Window.orderBy("bucket")).cast("long"),
    )
    tot = merged.agg(F.sum("c").cast("long").alias("total"))
    q = spark.createDataFrame([(50,), (90,), (99,)], "q_pct int")
    tgt = q.crossJoin(F.broadcast(tot)).select(
        "q_pct",
        "total",
        F.expr("(total * q_pct + 99) div 100").cast("long").alias("target_rank"),
    )
    return (
        tgt.join(F.broadcast(cum), F.col("cum") >= F.col("target_rank"))
        .groupBy("q_pct", "total", "target_rank")
        .agg(F.min("bucket").cast("int").alias("bucket"))
        .select(
            F.col("q_pct").cast("int").alias("q_pct"),
            F.col("total").alias("total_n"),
            "target_rank",
            "bucket",
            F.expr("CAST(shiftleft(1L, bucket) AS BIGINT)").alias("lo_cents"),
            F.expr("CAST(shiftleft(1L, bucket + 1) - 1 AS BIGINT)").alias("hi_cents"),
        )
    )


@register(
    "sketch_histogram_persisted_merge",
    oracle=_QHIST_ORACLE,
    tags=("quality", "sketch", "io", "north-star"),
)
def sketch_histogram_persisted_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile sketch AT REST — the percentile analog of
    `hll_sketch_persisted_rollup`: the per-day level-1 histogram
    relation is WRITTEN to parquet (<= 64 rows per day — exactly the
    state a 100 TB rollup stores next to each day's partition), read
    back in a separate scan, and SUM-merged into p50/p90/p99.  The
    round trip proves the sketch survives the storage layer with its
    mergeability intact: appending a day appends <= 64 rows and re-runs
    ONLY the bounded merge, never the historical corpus scan (pinned by
    tests/test_properties.py's incremental-day test).  The oracle is
    the full recompute — persisted-merge and recompute must agree
    exactly, integers end to end.
    """
    from uda_spark.cache import scratch_dir

    lvl1 = histogram_lvl1(t(spark, sf_dir, "events"))
    path = scratch_dir("uda_qhist")
    lvl1.write.mode("overwrite").parquet(path)
    stored = spark.read.parquet(path)
    return histogram_quantiles(stored)


@register(
    "events_cusum_changepoint",
    oracle="""
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day, COUNT(*)::BIGINT AS n
  FROM events GROUP BY epoch_us(ts) // 86400000000
),
tot AS (SELECT COUNT(*)::BIGINT AS d, SUM(n)::BIGINT AS s FROM daily),
cus AS (
  SELECT day, n,
         SUM(n) OVER (ORDER BY day)::BIGINT AS cum,
         ROW_NUMBER() OVER (ORDER BY day) AS t
  FROM daily
),
scored AS (
  SELECT day, t, cum,
         abs(cum * (SELECT d FROM tot) - t * (SELECT s FROM tot)) AS dev
  FROM cus
),
best AS (SELECT * FROM scored ORDER BY dev DESC, day LIMIT 1)
SELECT (SELECT d FROM tot) AS n_days,
       CAST(b.day AS BIGINT) AS changepoint_day,
       CAST(b.dev AS BIGINT) AS max_abs_cusum_scaled,
       CAST(b.cum * 1000 // b.t AS BIGINT) AS mean_before_milli,
       CAST(((SELECT s FROM tot) - b.cum) * 1000
            // NULLIF((SELECT d FROM tot) - b.t, 0) AS BIGINT) AS mean_after_milli
FROM best b
""",
    tags=("quality", "events", "anomaly", "north-star"),
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-shift (changepoint) detection over the daily event-count
    series via the exact CUSUM statistic: with D days and S total
    events, the mean-centered cumulative sum at day t is
    cum_t - t*S/D; scaling by D keeps it integral
    (dev_t = |D*cum_t - t*S|), and the changepoint is the argmax —
    the split that maximizes the before/after mean separation, the
    integer twin of the classic CUSUM segmentation step.  Before/after
    means are reported in milli-events (integer division).

    Scale shape: one corpus-sized groupBy(day); the CUSUM windows and
    the argmax run over the bounded daily relation (|days| rows).
    Deterministic tie-break on day keeps both engines aligned.
    """
    from uda_spark.sources.tables import event_micros

    ev = t(spark, sf_dir, "events")
    daily = (
        ev.withColumn("ts_us", event_micros(ev))
        .groupBy(F.expr("ts_us div 86400000000").alias("day"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("d"), F.sum("n").cast("long").alias("s")
    )
    cus = daily.select(
        "day",
        "n",
        F.sum("n").over(Window.orderBy("day")).cast("long").alias("cum"),
        F.row_number().over(Window.orderBy("day")).alias("t"),
    )
    scored = cus.crossJoin(F.broadcast(tot)).withColumn(
        "dev", F.abs(F.col("cum") * F.col("d") - F.col("t") * F.col("s"))
    )
    best = scored.orderBy(F.desc("dev"), F.col("day")).limit(1)
    return best.select(
        F.col("d").alias("n_days"),
        F.col("day").cast("long").alias("changepoint_day"),
        F.col("dev").cast("long").alias("max_abs_cusum_scaled"),
        F.expr("CAST(cum * 1000 div t AS BIGINT)").alias("mean_before_milli"),
        F.expr("CAST((s - cum) * 1000 div NULLIF(d - t, 0) AS BIGINT)").alias(
            "mean_after_milli"
        ),
    )


K_ANON = 10


@register(
    "dq_k_anonymity",
    oracle=f"""
WITH groups AS (
  SELECT lang, source, n_chars // 100 AS len_bucket, COUNT(*)::BIGINT AS n
  FROM documents GROUP BY lang, source, n_chars // 100
)
SELECT CAST({K_ANON} AS INT) AS k,
       COUNT(*)::BIGINT AS n_groups,
       SUM(CASE WHEN n < {K_ANON} THEN 1 ELSE 0 END)::BIGINT AS n_small_groups,
       SUM(CASE WHEN n < {K_ANON} THEN n ELSE 0 END)::BIGINT AS n_rows_at_risk,
       MIN(n)::BIGINT AS min_group_size,
       CAST(SUM(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) * 1000000
            // SUM(n) AS BIGINT) AS at_risk_ppm
FROM groups
""",
    tags=("quality", "privacy", "dq"),
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers — the privacy readout a
    curation pipeline publishes before release: group the corpus by the
    quasi-identifier tuple (language, source, length bucket — the
    standard mix of categorical and discretized-numeric QIs), and report
    how many groups (and rows) fall below k=10, i.e. rows whose QI
    combination is rare enough to re-identify.  Exact integer counts and
    ppm rate.

    Scale shape: one grouped aggregation over the corpus, then a bounded
    aggregate over the group-size relation — the same two-level shape as
    the dataset card; no row-level data ever leaves the first exchange.
    """
    t(spark, sf_dir, "documents").createOrReplaceTempView("_kanon_docs")
    return spark.sql(
        f"""
WITH groups AS (
  SELECT lang, source, n_chars div 100 AS len_bucket,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM _kanon_docs GROUP BY lang, source, n_chars div 100
)
SELECT CAST({K_ANON} AS INT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN n < {K_ANON} THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
       CAST(SUM(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
       CAST(MIN(n) AS BIGINT) AS min_group_size,
       CAST(SUM(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) * 1000000
            div SUM(n) AS BIGINT) AS at_risk_ppm
FROM groups
"""
    )


HOLT_ALPHA_MILLI = 300  # level smoothing 0.3
HOLT_BETA_MILLI = 100  # trend smoothing 0.1
HOLT_HORIZON = 7

# Identical recursion in both dialects; only the epoch extraction and the
# integer-division spelling differ.  Verified: both engines truncate
# integer division toward zero (-7 div 2 == -7 // 2 == -3), so the milli
# fixed-point updates agree even when the trend goes negative.
# The recursion body is shared verbatim by both engines; {IDX} is the
# (day, y, t) series relation — a CTE in the oracle, an eagerly
# checkpointed temp view on the Spark side (see the docstring).
_HOLT_RECURSION = """
WITH RECURSIVE holt(t, l_milli, b_milli, sae_milli) AS (
  SELECT t, CAST(y * 1000 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
  FROM {IDX} WHERE t = 1
  UNION ALL
  SELECT i.t,
         CAST(({A} * i.y * 1000 + (1000 - {A}) * (h.l_milli + h.b_milli))
              {DIV} 1000 AS BIGINT),
         CAST(({B} * ((({A} * i.y * 1000 + (1000 - {A}) * (h.l_milli + h.b_milli))
                       {DIV} 1000) - h.l_milli)
               + (1000 - {B}) * h.b_milli) {DIV} 1000 AS BIGINT),
         CAST(h.sae_milli + ABS(i.y * 1000 - (h.l_milli + h.b_milli)) AS BIGINT)
  FROM holt h JOIN {IDX} i ON i.t = h.t + 1
),
fitted AS (SELECT * FROM holt ORDER BY t DESC LIMIT 1),
meta AS (SELECT CAST(MAX(t) AS BIGINT) AS n_days FROM {IDX}),
hz AS (SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7)) v(h))
SELECT CAST(hz.h AS INT) AS h,
       CAST(fitted.l_milli + hz.h * fitted.b_milli AS BIGINT) AS yhat_milli,
       CAST(fitted.l_milli AS BIGINT) AS level_milli,
       CAST(fitted.b_milli AS BIGINT) AS trend_milli,
       meta.n_days,
       CAST(fitted.sae_milli {DIV} NULLIF(meta.n_days - 1, 0) AS BIGINT) AS mae_milli
FROM hz CROSS JOIN fitted CROSS JOIN meta
"""

_HOLT_ORACLE_IDX = """(
  SELECT day, y, ROW_NUMBER() OVER (ORDER BY day) AS t
  FROM (SELECT epoch_us(ts) // 86400000000 AS day, COUNT(*)::BIGINT AS y
        FROM events GROUP BY 1)
)"""


@register(
    "events_holt_forecast",
    oracle=_HOLT_RECURSION.format(
        IDX=_HOLT_ORACLE_IDX,
        DIV="//",
        A=HOLT_ALPHA_MILLI,
        B=HOLT_BETA_MILLI,
    ),
    tags=("events", "timeseries", "iterative"),
)
def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend) over the
    daily event-count series, with a 7-day forecast and in-sample MAE —
    the capacity-planning readout that pairs with the CUSUM changepoint
    detector.  The recurrence is an ORDERED fold with milli fixed-point
    updates (truncating integer division verified to agree on negatives
    in both engines, so a downward trend stays exact): Spark executes it
    as ONE ``aggregate`` higher-order function over the day-sorted
    bounded array (a single job), the oracle as a recursive CTE —
    structurally different, arithmetically byte-identical.  A native
    Spark recursive CTE also works (and is showcased by
    recursive_cte_part_ancestors) but schedules a join job per step and
    re-evaluates referenced relations each step — measured 7.4s vs 0.6s
    at sf0.1 for this 30-step recurrence.

    Scale shape: the corpus-sized work is ONE groupBy(day); the fold
    input is the bounded daily series (one collect_list row of <= days
    elements — the same bounded-metadata class as teravalidate's
    per-partition bounds), and the forecast join touches 7 rows.
    """
    from uda_spark.sources.tables import event_micros

    ev = t(spark, sf_dir, "events")
    ev.withColumn("ts_us", event_micros(ev)).createOrReplaceTempView("_holt_events")
    return spark.sql(
        f"""
WITH daily AS (
  SELECT ts_us div 86400000000 AS day, CAST(COUNT(*) AS BIGINT) AS y
  FROM _holt_events GROUP BY ts_us div 86400000000
),
arr AS (
  SELECT transform(array_sort(collect_list(struct(day, y))), e -> e.y) AS ys
  FROM daily
),
st AS (
  SELECT CAST(size(ys) AS BIGINT) AS n_days,
         aggregate(slice(ys, 2, size(ys) - 1),
           named_struct('l', ys[0] * CAST(1000 AS BIGINT),
                        'b', CAST(0 AS BIGINT), 'sae', CAST(0 AS BIGINT)),
           (acc, y) -> named_struct(
             'l', ({HOLT_ALPHA_MILLI} * y * 1000
                   + (1000 - {HOLT_ALPHA_MILLI}) * (acc.l + acc.b)) div 1000,
             'b', ({HOLT_BETA_MILLI} * ((({HOLT_ALPHA_MILLI} * y * 1000
                   + (1000 - {HOLT_ALPHA_MILLI}) * (acc.l + acc.b)) div 1000) - acc.l)
                   + (1000 - {HOLT_BETA_MILLI}) * acc.b) div 1000,
             'sae', acc.sae + ABS(y * 1000 - (acc.l + acc.b)))) AS s
  FROM arr
),
hz AS (SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7)) v(h))
SELECT CAST(hz.h AS INT) AS h,
       CAST(st.s.l + hz.h * st.s.b AS BIGINT) AS yhat_milli,
       CAST(st.s.l AS BIGINT) AS level_milli,
       CAST(st.s.b AS BIGINT) AS trend_milli,
       st.n_days,
       CAST(st.s.sae div NULLIF(st.n_days - 1, 0) AS BIGINT) AS mae_milli
FROM hz CROSS JOIN st
"""
    )


# Kaplan-Meier over per-user time-to-first-error; recursion carries the
# survival product as exact ppm with truncating integer division (the
# ordered fold both engines execute identically — a float cumulative
# product would be partitioning-dependent).
_KM_PREP = """
WITH per_user AS (
  SELECT user_id, MIN({DAY}) AS f, MAX({DAY}) AS l,
         MIN(CASE WHEN event_type = 'error' THEN {DAY} END) AS e
  FROM {SRC} GROUP BY user_id
),
horizon AS (SELECT MAX(l) AS maxday FROM per_user),
obs AS (
  SELECT CASE WHEN e IS NOT NULL THEN e - f
              ELSE (SELECT maxday FROM horizon) - f END AS dur,
         CASE WHEN e IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM per_user
),
tbl AS (
  SELECT dur, CAST(COUNT(*) AS BIGINT) AS n_total, CAST(SUM(ev) AS BIGINT) AS d
  FROM obs GROUP BY dur
)
SELECT dur, d,
       CAST(SUM(n_total) OVER (ORDER BY dur DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk,
       ROW_NUMBER() OVER (ORDER BY dur) AS tn
FROM tbl
"""

# Shared recursion body; {IDX} is the bounded (dur, d, n_risk, tn) risk
# table — inlined as a derived table in the oracle, an eagerly
# checkpointed temp view on the Spark side (an un-checkpointed relation
# would re-run the corpus groupBy once per recursion step).
_KM_RECURSION = """
WITH RECURSIVE km(tn, s_ppm) AS (
  SELECT tn, CAST((1000000 * (n_risk - d)) {DIV} n_risk AS BIGINT)
  FROM {IDX} WHERE tn = 1
  UNION ALL
  SELECT i.tn, CAST((k.s_ppm * (i.n_risk - i.d)) {DIV} i.n_risk AS BIGINT)
  FROM km k JOIN {IDX} i ON i.tn = k.tn + 1
)
SELECT CAST(i.dur AS INT) AS duration_days, i.n_risk,
       i.d AS n_churned, CAST(k.s_ppm AS BIGINT) AS survival_ppm
FROM {IDX} i JOIN km k ON i.tn = k.tn
"""


@register(
    "events_survival_km",
    oracle=_KM_RECURSION.format(
        IDX="("
        + _KM_PREP.format(DAY="epoch_us(ts) // 86400000000", SRC="events")
        + ")",
        DIV="//",
    ),
    tags=("events", "timeseries", "statistics", "iterative"),
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-failure curve: duration = days from a user's
    first event to their FIRST 'error' event; users who never error are
    right-censored at the corpus horizon (they contribute to the risk
    sets but not to the failure counts) — the standard survival-analysis
    treatment of incomplete observation.  The survival product
    S_t = S_(t-1) * (n_risk - d)/n_risk is an ORDERED fold carrying
    exact ppm integers, so both engines agree bit-for-bit (a float
    cumulative product would depend on merge order): Spark runs it as
    one ``aggregate`` HOF over the duration-sorted risk table with an
    array accumulator emitting every step's survival (a single job —
    per-step recursive-CTE scheduling measured 8.3s vs 0.9s at sf0.1);
    the oracle keeps the recursive-CTE formulation of the same fold.

    Scale shape: the corpus-sized pass is one groupBy(user_id); the risk
    table is bounded by distinct durations (<= days span), the reverse
    cumulative n_risk window and the fold both run over that bounded
    relation.
    """
    from uda_spark.sources.tables import event_micros

    ev = t(spark, sf_dir, "events")
    ev.withColumn("ts_us", event_micros(ev)).createOrReplaceTempView("_km_events")
    idx = spark.sql(_KM_PREP.format(DAY="ts_us div 86400000000", SRC="_km_events"))
    idx.createOrReplaceTempView("_km_idx")
    return spark.sql(
        """
WITH arr AS (
  SELECT array_sort(collect_list(struct(tn, dur, d, n_risk))) AS rs FROM _km_idx
),
folded AS (
  SELECT arrays_zip(rs,
           aggregate(rs,
             named_struct('s', CAST(1000000 AS BIGINT),
                          'out', CAST(array() AS ARRAY<BIGINT>)),
             (acc, r) -> named_struct(
               's', (acc.s * (r.n_risk - r.d)) div r.n_risk,
               'out', concat(acc.out,
                             array((acc.s * (r.n_risk - r.d)) div r.n_risk)))
           ).out) AS zipped
  FROM arr
)
SELECT CAST(z.rs.dur AS INT) AS duration_days,
       z.rs.n_risk AS n_risk,
       z.rs.d AS n_churned,
       CAST(z.out AS BIGINT) AS survival_ppm
FROM folded LATERAL VIEW explode(zipped) AS z
"""
    )


# Two-feature closed-form OLS: centered second moments in deterministic
# doubles over the exact integer sums, then the 2x2 solve + intercept —
# identical expression text in both engines (the ml_linear_fit pattern
# extended one feature).
_OLS2_CENTER = {
    "c11": "CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n",
    "c22": "CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n",
    "c12": "CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n",
    "c1y": "CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * sy / n",
    "c2y": "CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * sy / n",
    "cyy": "CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n",
}
_OLS2_OUT = (
    "CAST(n AS BIGINT) AS n_rows",
    "round((c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12), 6)"
    " AS b_qty_cents_per_unit",
    "round((c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12), 6)"
    " AS b_discount_cents_per_bp",
    "CAST(floor((CAST(sy AS DOUBLE)"
    " - ((c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12)) * CAST(s1 AS DOUBLE)"
    " - ((c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12)) * CAST(s2 AS DOUBLE))"
    " / n + 0.5) AS BIGINT) AS intercept_cents",
    "round((((c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12)) * c1y"
    " + ((c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12)) * c2y) / cyy, 6)"
    " AS r2",
)


@register(
    "ml_ols_two_features",
    oracle=f"""
WITH base AS (
  SELECT CAST(l_quantity AS BIGINT) AS x1,
         CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT) AS x2,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM lineitem
),
m AS (
  SELECT COUNT(*)::BIGINT AS n,
         CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x1 * x1) AS BIGINT) AS s11,
         CAST(SUM(x2 * x2) AS BIGINT) AS s22,
         CAST(SUM(x1 * x2) AS BIGINT) AS s12,
         CAST(SUM(x1 * y) AS BIGINT) AS s1y,
         CAST(SUM(x2 * y) AS BIGINT) AS s2y,
         CAST(SUM(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS syy
  FROM base
),
c AS (
  SELECT n, s1, s2, sy,
         {_OLS2_CENTER['c11']} AS c11, {_OLS2_CENTER['c22']} AS c22,
         {_OLS2_CENTER['c12']} AS c12, {_OLS2_CENTER['c1y']} AS c1y,
         {_OLS2_CENTER['c2y']} AS c2y, {_OLS2_CENTER['cyy']} AS cyy
  FROM m
)
SELECT {', '.join(_OLS2_OUT)} FROM c
""",
    tags=("quality", "features", "ml", "north-star"),
)
def ml_ols_two_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate closed-form OLS (price ~ quantity + discount): the
    two-feature normal equations solved from ONE moments pass — nine
    exact integer/decimal sufficient statistics, then the centered 2x2
    solve, intercept, and R^2 as deterministic double expressions with
    identical text in both engines.  The step from
    `ml_linear_fit_price_qty` to genuinely multivariate regression
    without introducing iteration: at 100 TB the fit is still one
    partial-aggregated pass with a single-row tail.
    """
    li = t(spark, sf_dir, "lineitem").select(
        F.expr("CAST(l_quantity AS BIGINT)").alias("x1"),
        F.expr("CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)").alias(
            "x2"
        ),
        F.expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "y"
        ),
    )
    m = li.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("s12"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("s2y"),
        F.sum(F.expr("CAST(y AS DECIMAL(19,0)) * y")).cast("decimal(38,0)").alias(
            "syy"
        ),
    )
    c = m.select(
        "n",
        "s1",
        "s2",
        "sy",
        *[F.expr(expr).alias(name) for name, expr in _OLS2_CENTER.items()],
    )
    return c.selectExpr(*_OLS2_OUT)


# (fk_name, child table, child key, parent table, parent key) — the four
# referential edges of the TPC-H-ish star this repo's joins rely on.
_FK_EDGES = (
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
)


@register(
    "dq_referential_integrity",
    oracle="\nUNION ALL\n".join(
        f"""
SELECT '{name}' AS fk_name,
       COUNT(*)::BIGINT AS n_rows,
       SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_orphans,
       COUNT(DISTINCT CASE WHEN p.{pk} IS NULL THEN c.{ck} END)::BIGINT
         AS n_orphan_keys,
       CAST(SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS orphan_ppm
FROM {child} c LEFT JOIN {parent} p ON c.{ck} = p.{pk}"""
        for name, child, ck, parent, pk in _FK_EDGES
    )
    + "\nORDER BY fk_name",
    tags=("quality", "dq"),
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the foreign-key orphan report a
    warehouse runs before trusting its joins: for each FK edge of the
    star schema, count child rows whose key has no parent (and the
    distinct orphan key values).  An inner join silently DROPS these
    rows, so the audit is the difference between "join looked fine" and
    "join lost data".  Exact counts plus an integer-ppm orphan rate.

    Scale shape: each edge is one left join aggregated to a single row
    in the same pass (SUM over the null-parent indicator — the
    anti-join count without a second shuffle).  customer/part/supplier
    are broadcast under the session threshold; at 100 TB the
    lineitem->orders edge becomes a plain shuffled join on the key both
    sides are already bucketed by elsewhere in the repo.  Output is
    exactly len(_FK_EDGES) rows.
    """
    out: DataFrame | None = None
    for name, child, ck, parent, pk in _FK_EDGES:
        c = t(spark, sf_dir, child).select(ck)
        p = t(spark, sf_dir, parent).select(pk)
        joined = c.join(p, c[ck] == p[pk], "left")
        edge = joined.agg(
            F.lit(name).alias("fk_name"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.when(F.col(pk).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
            F.countDistinct(F.when(F.col(pk).isNull(), F.col(ck)))
            .cast("long")
            .alias("n_orphan_keys"),
        ).withColumn(
            "orphan_ppm",
            F.expr("CAST(n_orphans * 1000000 div n_rows AS BIGINT)"),
        )
        out = edge if out is None else out.unionByName(edge)
    return out.orderBy("fk_name")


# (column, expression that renders min/max as an engine-identical string) —
# doubles go through DECIMAL(18,2) so both engines print "857.71", never
# scientific notation; timestamps print "yyyy-MM-dd HH:mm:ss" in both.
_PROFILE_COLS = (
    ("o_orderkey", "{v}"),
    ("o_custkey", "{v}"),
    ("o_orderstatus", "{v}"),
    ("o_totalprice", "CAST({v} AS DECIMAL(18,2))"),
    ("o_orderdate", "{v}"),
    ("o_orderpriority", "{v}"),
)


@register(
    "dq_schema_profile",
    oracle="\nUNION ALL\n".join(
        f"""
SELECT '{col}' AS col_name,
       COUNT(*)::BIGINT AS n_rows,
       SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
       COUNT(DISTINCT {col})::BIGINT AS n_distinct,
       CAST(MIN({rend.format(v=col)}) AS VARCHAR) AS min_str,
       CAST(MAX({rend.format(v=col)}) AS VARCHAR) AS max_str
FROM orders"""
        for col, rend in _PROFILE_COLS
    )
    + "\nORDER BY col_name",
    tags=("quality", "dq"),
)
def dq_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile report over ``orders`` — the first thing a data
    engineer asks of an unfamiliar table: per column, the row count,
    null count, EXACT distinct count, and min/max rendered as
    engine-identical strings (min/max are taken on the NATIVE type and
    only then cast — string-casting first would order '9' after '10').

    Scale shape: one aggregation job per column, each scanning ONLY its
    column (parquet column pruning — the profile of a 100-column table
    reads each column once, never the full row), with the distinct
    count partial-aggregated map-side.  This beats the single-pass
    multi-DISTINCT alternative, whose Expand multiplies every input row
    by the column count before the exchange.  Output is exactly one row
    per profiled column.
    """
    orders = t(spark, sf_dir, "orders")
    out: DataFrame | None = None
    for col, rend in _PROFILE_COLS:
        rendered = rend.format(v=col)
        prof = orders.select(col).agg(
            F.lit(col).alias("col_name"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null"),
            F.countDistinct(F.col(col)).cast("long").alias("n_distinct"),
            F.expr(f"CAST(MIN({rendered}) AS STRING)").alias("min_str"),
            F.expr(f"CAST(MAX({rendered}) AS STRING)").alias("max_str"),
        )
        out = prof if out is None else out.unionByName(prof)
    return out.orderBy("col_name")


# Benford first-digit expected frequencies, log10(1 + 1/d) as integer ppm —
# mathematical constants tabulated once for BOTH engines (they sum to
# exactly 1_000_000), so no runtime transcendental enters the comparison.
_BENFORD_PPM = {
    1: 301_030, 2: 176_091, 3: 124_939, 4: 96_910, 5: 79_181,
    6: 66_947, 7: 57_992, 8: 51_153, 9: 45_757,
}
# engine-identical first significant digit of a positive price: render the
# DECIMAL(18,2) and take the leading character (values >= 1 only — the
# query filters — so the leading character IS the leading digit; float
# log10 at power-of-ten boundaries is exactly the portability hazard this
# avoids)
_BENFORD_DIGIT_DUCK = (
    "CAST(SUBSTR(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1) AS INT)"
)
_BENFORD_DIGIT_SPARK = (
    "CAST(SUBSTR(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING), 1, 1) AS INT)"
)


@register(
    "dq_benford_firstdigit",
    oracle=f"""
WITH digits(digit, exp_ppm) AS (VALUES {', '.join(f'({d}, {p})' for d, p in _BENFORD_PPM.items())}),
obs AS (
  SELECT {_BENFORD_DIGIT_DUCK} AS digit, COUNT(*)::BIGINT AS n
  FROM orders WHERE o_totalprice >= 1 GROUP BY 1
),
m AS (SELECT SUM(n)::BIGINT AS n_total FROM obs)
SELECT CAST(d.digit AS INT) AS digit,
       COALESCE(o.n, 0)::BIGINT AS n_obs,
       CAST(COALESCE(o.n, 0) * 1000000 // m.n_total AS BIGINT) AS obs_ppm,
       CAST(d.exp_ppm AS BIGINT) AS exp_ppm,
       CAST(COALESCE(o.n, 0) * 1000000 // m.n_total - d.exp_ppm AS BIGINT) AS dev_ppm,
       CAST((COALESCE(o.n, 0) * 1000000 // m.n_total - d.exp_ppm)
            * (COALESCE(o.n, 0) * 1000000 // m.n_total - d.exp_ppm)
            * 1000 // d.exp_ppm AS BIGINT) AS chi2_contrib_milli
FROM digits d LEFT JOIN obs o ON o.digit = d.digit, m
ORDER BY digit
""",
    tags=("quality", "dq"),
)
def dq_benford_firstdigit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    fabricated-data screen: compare the observed first-significant-digit
    distribution against log10(1+1/d), with the per-digit deviation and
    chi-square contribution in exact integer ppm/milli.  The digit comes
    from the DECIMAL(18,2) rendering (engine-identical, see
    `dq_schema_profile`), never from float log10, whose behavior at
    power-of-ten boundaries differs per engine.

    Scale shape: one filtered scan aggregating to <= 9 observed-digit
    counts (map-side partial), then every remaining step — the total,
    the expected-table join, the readout — runs on bounded 9-row
    relations (expected table broadcast from literals).  Output is
    exactly 9 rows, digits with zero observations included.
    """
    orders = t(spark, sf_dir, "orders")
    obs = (
        orders.where(F.col("o_totalprice") >= 1)
        .groupBy(F.expr(_BENFORD_DIGIT_SPARK).alias("digit"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    digits = spark.createDataFrame(
        sorted(_BENFORD_PPM.items()), ["digit", "exp_ppm"]
    )
    m = obs.agg(F.sum("n").cast("long").alias("n_total"))
    return (
        digits.join(F.broadcast(obs), on="digit", how="left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("digit").cast("int").alias("digit"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_obs"),
            F.expr(
                "CAST(COALESCE(n, 0) * 1000000 div n_total AS BIGINT)"
            ).alias("obs_ppm"),
            F.col("exp_ppm").cast("long").alias("exp_ppm"),
        )
        .withColumn("dev_ppm", F.expr("CAST(obs_ppm - exp_ppm AS BIGINT)"))
        .withColumn(
            "chi2_contrib_milli",
            F.expr("CAST(dev_ppm * dev_ppm * 1000 div exp_ppm AS BIGINT)"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Data-freshness audit: per-stream lag behind the newest event

_FRESH_DAY_US = 86400 * 1_000_000


@register(
    "dq_freshness_lag",
    oracle=f"""
WITH rolled AS (
  SELECT event_type, epoch_us(ts) // {_FRESH_DAY_US} AS day,
         COUNT(*)::BIGINT AS n, MAX(epoch_us(ts))::BIGINT AS max_us
  FROM events GROUP BY 1, 2
),
gmax AS (SELECT MAX(max_us) AS g_max_us, MAX(day) AS g_last_day FROM rolled)
SELECT event_type,
       MAX(max_us)::BIGINT AS max_us,
       CAST(gmax.g_max_us - MAX(max_us) AS BIGINT) AS lag_us,
       SUM(CASE WHEN day = gmax.g_last_day THEN n ELSE 0 END)::BIGINT AS n_latest_day,
       COUNT(*)::BIGINT AS days_active
FROM rolled, gmax
GROUP BY event_type, gmax.g_max_us, gmax.g_last_day
""",
    tags=("dq", "quality", "events"),
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-freshness audit: per event stream, how far its newest record
    lags the newest record anywhere (exact microseconds), how many rows
    arrived on the corpus's final calendar day, and how many days the
    stream was active — the stale-feed detector a 100 TB ingest runs
    before every training snapshot (a stream whose lag jumps from
    seconds to days is a dead upstream, not a quiet one).

    Scale shape: ONE pass over the fact builds the (stream, day) rollup
    — bounded by streams × calendar days forever — and it is persisted
    so the global-max row and the per-stream report both read the tiny
    relation.  The global maximum joins back as a broadcast single row;
    everything downstream is O(streams).
    """
    from uda_spark.cache import tracked_persist
    from uda_spark.sources.tables import event_micros

    ev = t(spark, sf_dir, "events")
    rolled = tracked_persist(
        ev.withColumn("ts_us", event_micros(ev))
        .groupBy("event_type", F.expr(f"ts_us div {_FRESH_DAY_US}").alias("day"))
        .agg(F.count("*").alias("n"), F.max("ts_us").alias("max_us"))
    )
    glob = rolled.agg(
        F.max("max_us").alias("g_max_us"), F.max("day").alias("g_last_day")
    )
    return (
        rolled.crossJoin(F.broadcast(glob))
        .groupBy("event_type", "g_max_us", "g_last_day")
        .agg(
            F.max("max_us").cast("long").alias("max_us"),
            F.expr("CAST(g_max_us - MAX(max_us) AS BIGINT)").alias("lag_us"),
            F.sum(F.when(F.col("day") == F.col("g_last_day"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_latest_day"),
            F.count("*").cast("long").alias("days_active"),
        )
        .select("event_type", "max_us", "lag_us", "n_latest_day", "days_active")
    )


# ---------------------------------------------------------------------------
# Revenue concentration: the 80/20 point


@register(
    "orders_pareto_8020",
    oracle="""
WITH rev AS (
  SELECT o_custkey,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))::BIGINT
           AS cents
  FROM orders GROUP BY o_custkey
),
cum AS (
  SELECT cents,
         SUM(cents) OVER (ORDER BY cents DESC, o_custkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM rev
),
tot AS (SELECT COUNT(*)::BIGINT AS n, SUM(cents)::HUGEINT AS total FROM rev)
SELECT tot.n AS n_customers,
       CAST(tot.total AS BIGINT) AS total_cents,
       CAST(SUM(CASE WHEN cum.c::HUGEINT * 5 < tot.total * 4 THEN 1 ELSE 0 END)
            + 1 AS BIGINT) AS m_customers,
       CAST((SUM(CASE WHEN cum.c::HUGEINT * 5 < tot.total * 4 THEN 1 ELSE 0 END) + 1)
            * 1000000 // tot.n AS BIGINT) AS m_share_ppm,
       CAST(MIN(CASE WHEN cum.c::HUGEINT * 5 >= tot.total * 4 THEN cum.c END)::HUGEINT
            * 1000000 // tot.total AS BIGINT) AS revenue_at_m_ppm
FROM cum, tot
GROUP BY tot.n, tot.total
""",
    tags=("analytics", "quality", "aggregation"),
)
def orders_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (the 80/20 point): the smallest number of
    top customers whose cumulative revenue reaches 80% of the total,
    with their population share and the exact revenue share at that cut
    — the concentration readout procurement/risk dashboards track (and
    the customer-side sibling of the token Gini/Lorenz pair).

    Exactness: revenues are exact integer cents; the 80% test is the
    cross-multiplied integer comparison cum·5 ≥ total·4 (no 0.8
    literal); the threshold count is derived WITHOUT materializing a
    rank — the count of strictly-below-threshold prefix rows plus one —
    so ties need no tiebreak semantics beyond the deterministic
    (revenue DESC, custkey) cumulative order.

    Scale shape: one exchange to per-customer revenue, then round 8's
    range-partitioned exclusive cumulative sum (no single-partition
    window over customer cardinality), then ONE bounded aggregation
    with the 1-row total broadcast.
    """
    from uda_spark.operators.sort import global_cumulative_sums

    rev = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.expr(
                "SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))"
            ).alias("cents")
        )
        .withColumn("neg", -F.col("cents"))
    )
    cum = global_cumulative_sums(
        rev, ["neg", "o_custkey"], ["cents"], ["cum_before"], result_cast=None
    ).withColumn("c", F.col("cum_before") + F.col("cents"))
    tot = rev.agg(
        F.count("*").cast("long").alias("n"),
        F.expr("SUM(CAST(cents AS DECIMAL(38,0)))").alias("total"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.first("n").alias("n"),
            F.first("total").alias("total"),
            F.sum(
                F.when(F.expr("CAST(c AS DECIMAL(38,0)) * 5 < total * 4"), 1).otherwise(0)
            ).alias("below"),
            F.min(
                F.when(F.expr("CAST(c AS DECIMAL(38,0)) * 5 >= total * 4"), F.col("c"))
            ).alias("c_at_m"),
        )
        .selectExpr(
            "CAST(n AS BIGINT) AS n_customers",
            "CAST(total AS BIGINT) AS total_cents",
            "CAST(below + 1 AS BIGINT) AS m_customers",
            "CAST((below + 1) * 1000000 div n AS BIGINT) AS m_share_ppm",
            "CAST(CAST(c_at_m AS DECIMAL(38,0)) * 1000000 div total AS BIGINT)"
            " AS revenue_at_m_ppm",
        )
    )


@register(
    "dq_order_reconciliation",
    oracle="""
WITH charge AS (
  SELECT l_orderkey,
         SUM(CAST(l_extendedprice AS DECIMAL(14,2))
             * (1 - CAST(l_discount AS DECIMAL(4,2)))
             * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS chg
  FROM lineitem GROUP BY l_orderkey
)
SELECT o.o_orderstatus AS orderstatus,
       COUNT(*)::BIGINT AS n_orders,
       SUM(CASE WHEN c.l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_missing_lineitems,
       SUM(CASE WHEN c.l_orderkey IS NOT NULL
                 AND c.chg = CAST(o.o_totalprice AS DECIMAL(14,2))
                THEN 1 ELSE 0 END)::BIGINT AS n_reconciled,
       SUM(CASE WHEN c.l_orderkey IS NOT NULL
                 AND c.chg <> CAST(o.o_totalprice AS DECIMAL(14,2))
                THEN 1 ELSE 0 END)::BIGINT AS n_mismatched,
       COALESCE(MAX(CASE WHEN c.l_orderkey IS NOT NULL THEN
         CAST(abs((c.chg - CAST(o.o_totalprice AS DECIMAL(14,2))) * 1000000)
              AS BIGINT) END), 0)::BIGINT AS max_abs_diff_micro
FROM orders o LEFT JOIN charge c ON o.o_orderkey = c.l_orderkey
GROUP BY o.o_orderstatus
""",
    tags=("quality", "dq"),
)
def dq_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table aggregate reconciliation — the classic financial DQ
    audit: does each order header's o_totalprice equal the sum of its
    line items' charge (extendedprice x (1-discount) x (1+tax))?
    Reports, per order status, the reconciled / mismatched / headerless
    counts and the worst absolute discrepancy — the audit that catches
    partial loads, double-applied discounts, and truncated line files
    that per-table checks (dq_referential_integrity) cannot see.

    Exactness: the charge is an exact DECIMAL chain — (14,2) x (4,2) x
    (4,2) stays within precision 38 with scale 6 in BOTH engines (the
    wider (18,2) casts used for reporting sums would overflow Spark's
    decimal-multiplication precision here and silently round) — so
    equality and the micro-unit diff are exact integer facts.

    Scale shape: one partial-aggregated groupBy on l_orderkey (the
    corpus exchange), one co-keyed shuffle join against the header
    table, bounded per-status output.  No broadcast of anything
    unbounded, no window.
    """
    li = t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.expr(
            "SUM(CAST(l_extendedprice AS DECIMAL(14,2))"
            " * (1 - CAST(l_discount AS DECIMAL(4,2)))"
            " * (1 + CAST(l_tax AS DECIMAL(4,2))))"
        ).alias("chg")
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left")
    return j.groupBy(F.col("o_orderstatus").alias("orderstatus")).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_missing_lineitems"),
        F.sum(
            F.when(
                F.col("l_orderkey").isNotNull()
                & (F.col("chg") == F.expr("CAST(o_totalprice AS DECIMAL(14,2))")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_reconciled"),
        F.sum(
            F.when(
                F.col("l_orderkey").isNotNull()
                & (F.col("chg") != F.expr("CAST(o_totalprice AS DECIMAL(14,2))")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_mismatched"),
        F.coalesce(
            F.max(
                F.when(
                    F.col("l_orderkey").isNotNull(),
                    F.expr(
                        "CAST(abs((chg - CAST(o_totalprice AS DECIMAL(14,2)))"
                        " * 1000000) AS BIGINT)"
                    ),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("max_abs_diff_micro"),
    )


# ---------------------------------------------------------------------------
# IQR-fence outlier audit (exact Tukey fences, two-pass global rank)


@register(
    "dq_iqr_outlier_audit",
    oracle="""
WITH cents AS (
  SELECT o_orderpriority, o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y_c
  FROM orders
),
ranked AS (
  SELECT y_c, ROW_NUMBER() OVER (ORDER BY y_c, o_orderkey) AS rnk FROM cents
),
tot AS (SELECT COUNT(*)::BIGINT AS n FROM cents),
f AS (
  SELECT MIN(CASE WHEN rnk = (n + 3) // 4 THEN y_c END) AS q1,
         MIN(CASE WHEN rnk = (3 * n + 3) // 4 THEN y_c END) AS q3
  FROM ranked, tot
)
SELECT c.o_orderpriority,
       COUNT(*)::BIGINT AS n_orders,
       MIN(f.q1)::BIGINT AS q1_cents,
       MIN(f.q3)::BIGINT AS q3_cents,
       SUM(CASE WHEN 4 * c.y_c < 4 * f.q1 - 6 * (f.q3 - f.q1)
                THEN 1 ELSE 0 END)::BIGINT AS n_low,
       SUM(CASE WHEN 4 * c.y_c > 4 * f.q3 + 6 * (f.q3 - f.q1)
                THEN 1 ELSE 0 END)::BIGINT AS n_high,
       CAST(SUM(CASE WHEN 4 * c.y_c < 4 * f.q1 - 6 * (f.q3 - f.q1)
                      OR 4 * c.y_c > 4 * f.q3 + 6 * (f.q3 - f.q1)
                THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
         AS outlier_ppm
FROM cents c, f
GROUP BY c.o_orderpriority
""",
    tags=("quality", "dq", "statistics"),
)
def dq_iqr_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR-fence outlier audit of order values, attributed per
    priority class — the distribution-free outlier screen DQ suites run
    beside the z-score family (events_value_winsorize): values outside
    [Q1 − 1.5·IQR, Q3 + 1.5·IQR] are flagged without assuming
    normality, and the per-class attribution shows WHERE the tail mass
    lives.

    Exactness: quartiles are exact order statistics — the value at rank
    ⌈n/4⌉ / ⌈3n/4⌉ under a fully deterministic (value, key) order
    (percentile_disc semantics, no interpolation) — and the 1.5×IQR
    fences are cross-multiplied into quarter-cent integers (4y < 4·Q1 −
    6·IQR), so the audit is pure integer comparison.

    Scale shape: one range-partitioned two-pass global rank
    (operators/sort.py:95 — no single-partition window over the fact),
    a 2-row rank probe reduced to a 1-row broadcast fence relation, and
    one grouped pass over the fact — the same shape the reference's
    total-order machinery (src/Merger) serves.
    """
    from uda_spark.operators.sort import global_rank

    cents = t(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority",
        "o_orderkey",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y_c",
    )
    ranked = global_rank(
        cents.select("y_c", "o_orderkey"), ["y_c", "o_orderkey"], alias="rnk"
    )
    tot = cents.agg(F.count("*").cast("long").alias("n"))
    # materialize the 2 quartile rows with their target ranks, then fold
    # them into the 1-row fence relation
    probe = (
        ranked.crossJoin(F.broadcast(tot))
        .where(F.expr("rnk = (n + 3) div 4 OR rnk = (3 * n + 3) div 4"))
        .selectExpr("y_c", "rnk", "n")
    )
    f = probe.agg(
        F.expr("MIN(CASE WHEN rnk = (n + 3) div 4 THEN y_c END)").alias("q1"),
        F.expr("MIN(CASE WHEN rnk = (3 * n + 3) div 4 THEN y_c END)").alias("q3"),
    )
    return (
        cents.crossJoin(F.broadcast(f))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.min("q1").cast("long").alias("q1_cents"),
            F.min("q3").cast("long").alias("q3_cents"),
            F.expr(
                "SUM(CASE WHEN 4 * y_c < 4 * q1 - 6 * (q3 - q1) THEN 1 ELSE 0 END)"
            ).cast("long").alias("n_low"),
            F.expr(
                "SUM(CASE WHEN 4 * y_c > 4 * q3 + 6 * (q3 - q1) THEN 1 ELSE 0 END)"
            ).cast("long").alias("n_high"),
            F.expr(
                "CAST(SUM(CASE WHEN 4 * y_c < 4 * q1 - 6 * (q3 - q1)"
                " OR 4 * y_c > 4 * q3 + 6 * (q3 - q1) THEN 1 ELSE 0 END)"
                " * 1000000 div COUNT(*) AS BIGINT)"
            ).alias("outlier_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-table date-consistency audit (ship-vs-order timeline)


@register(
    "dq_ship_date_consistency",
    oracle="""
WITH joined AS (
  SELECT o.o_orderpriority,
         CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END AS v_before,
         CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 120 DAY
              THEN 1 ELSE 0 END AS v_late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority,
       COUNT(*)::BIGINT AS n_items,
       SUM(v_before)::BIGINT AS n_ship_before_order,
       SUM(v_late)::BIGINT AS n_ship_over_120d,
       CAST(SUM(v_before) * 1000000 // COUNT(*) AS BIGINT)
         AS before_ppm,
       CAST(SUM(v_late) * 1000000 // COUNT(*) AS BIGINT)
         AS late_ppm
FROM joined
GROUP BY o_orderpriority
""",
    tags=("quality", "dq", "join"),
)
def dq_ship_date_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table timeline-consistency audit: line items that shipped
    BEFORE their order existed (a referential/time-travel violation —
    ETL joins against the wrong snapshot, clock skew, or key collisions)
    and items that shipped implausibly late (>120 days — stuck rows or
    unit bugs), attributed per priority class.  The temporal sibling of
    dq_order_reconciliation's amount check and dq_referential_integrity's
    key check: the three cover value, key, and TIME consistency.

    Exactness: pure timestamp comparisons and integer counts; the
    120-day horizon is an exact INTERVAL on both engines (the events
    tables' microsecond discipline isn't needed — these are date-grained
    parquet timestamps read identically by both).

    Scale shape: one fact-to-fact equi-join on the orderkey (both sides
    pre-filtered to the two date columns via column pruning; at cluster
    scale this is the bucketed-join case join_bucketed_colocated
    demonstrates), then an O(priorities) rollup.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).selectExpr(
        "o_orderpriority",
        "CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END AS v_before",
        "CASE WHEN l_shipdate > o_orderdate + INTERVAL 120 DAY"
        " THEN 1 ELSE 0 END AS v_late",
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("v_before").cast("long").alias("n_ship_before_order"),
        F.sum("v_late").cast("long").alias("n_ship_over_120d"),
        F.expr("CAST(SUM(v_before) * 1000000 div COUNT(*) AS BIGINT)").alias(
            "before_ppm"
        ),
        F.expr("CAST(SUM(v_late) * 1000000 div COUNT(*) AS BIGINT)").alias(
            "late_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# CUPED-adjusted A/B readout (pre-period covariate variance reduction)


@register(
    "events_cuped_adjusted_ab",
    oracle="""
WITH span AS (
  SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events
),
per_user AS (
  SELECT user_id, CAST(user_id % 2 AS INT) AS cohort,
         SUM(CASE WHEN epoch_us(ts) * 2 < span.lo + span.hi
                  THEN CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100
                            AS BIGINT) ELSE 0 END) AS x,
         SUM(CASE WHEN epoch_us(ts) * 2 >= span.lo + span.hi
                  THEN CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100
                            AS BIGINT) ELSE 0 END) AS y
  FROM events, span GROUP BY user_id, span.lo, span.hi
),
m AS (
  SELECT COUNT(*)::BIGINT AS n,
         SUM(x)::HUGEINT AS sx, SUM(y)::HUGEINT AS sy,
         SUM(x::HUGEINT * x) AS sxx, SUM(x::HUGEINT * y) AS sxy,
         SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
         SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
         SUM(CASE WHEN cohort = 0 THEN x ELSE 0 END)::HUGEINT AS sx_a,
         SUM(CASE WHEN cohort = 1 THEN x ELSE 0 END)::HUGEINT AS sx_b,
         SUM(CASE WHEN cohort = 0 THEN y ELSE 0 END)::HUGEINT AS sy_a,
         SUM(CASE WHEN cohort = 1 THEN y ELSE 0 END)::HUGEINT AS sy_b
  FROM per_user
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(CAST(sy_a AS DOUBLE) / n_a - CAST(sy_b AS DOUBLE) / n_b, 6)
         AS raw_diff_cents,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE), 6) AS theta,
       round((CAST(sy_a AS DOUBLE) / n_a - CAST(sy_b AS DOUBLE) / n_b)
             - (CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE))
               * (CAST(sx_a AS DOUBLE) / n_a - CAST(sx_b AS DOUBLE) / n_b), 6)
         AS cuped_diff_cents
FROM m
""",
    tags=("quality", "events", "ml", "statistics"),
)
def events_cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B difference (Deng et al. 2013): regress each
    user's experiment-period value on their PRE-period value (the
    covariate every user carries for free) and compare the residualized
    cohort means — the variance-reduction technique every large
    experimentation platform applies before calling an A/B result,
    typically worth a 30-50% sample-size saving.  Periods split the
    event span at its midpoint; cohorts are the user-parity split the
    welch/z-test twins use.

    Exactness: per-user (pre, post) sums are exact integer cents; all
    moments (Σx, Σy, Σx², Σxy, per-cohort cells) are exact integers in
    HUGEINT/DECIMAL(38,0); θ and the adjusted difference are
    deterministic double steps on those exact integers (identical
    expression text both engines), with the zero-variance covariate
    guarded to NULL via NULLIF on the exact integer denominator —
    never a division-by-zero error.

    Scale shape: the 1-row span relation broadcasts onto one fact scan;
    one exchange to the per-user relation; ONE scalar aggregate carries
    every moment — no second pass, no window, no join by data volume.
    """
    from uda_spark.sources.tables import event_micros

    ev = t(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", event_micros(ev))
    span = ev.agg(
        F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi")
    )
    per_user = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.expr("CAST(MAX(user_id % 2) AS INT)").alias("cohort"),
            F.expr(
                "SUM(CASE WHEN ts_us * 2 < lo + hi"
                " THEN CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100"
                " AS BIGINT) ELSE 0 END)"
            ).alias("x"),
            F.expr(
                "SUM(CASE WHEN ts_us * 2 >= lo + hi"
                " THEN CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100"
                " AS BIGINT) ELSE 0 END)"
            ).alias("y"),
        )
    )
    m = per_user.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(19,0)) * x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.expr("CAST(x AS DECIMAL(19,0)) * y")).cast("decimal(38,0)").alias("sxy"),
        F.expr("SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)").cast("long").alias("n_a"),
        F.expr("SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)").cast("long").alias("n_b"),
        F.expr("SUM(CASE WHEN cohort = 0 THEN x ELSE 0 END)")
        .cast("decimal(38,0)")
        .alias("sx_a"),
        F.expr("SUM(CASE WHEN cohort = 1 THEN x ELSE 0 END)")
        .cast("decimal(38,0)")
        .alias("sx_b"),
        F.expr("SUM(CASE WHEN cohort = 0 THEN y ELSE 0 END)")
        .cast("decimal(38,0)")
        .alias("sy_a"),
        F.expr("SUM(CASE WHEN cohort = 1 THEN y ELSE 0 END)")
        .cast("decimal(38,0)")
        .alias("sy_b"),
    )
    return m.selectExpr(
        "CAST(n_a AS BIGINT) AS n_a",
        "CAST(n_b AS BIGINT) AS n_b",
        "round(CAST(sy_a AS DOUBLE) / n_a - CAST(sy_b AS DOUBLE) / n_b, 6)"
        " AS raw_diff_cents",
        "round(CAST(n * sxy - sx * sy AS DOUBLE)"
        " / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE), 6) AS theta",
        "round((CAST(sy_a AS DOUBLE) / n_a - CAST(sy_b AS DOUBLE) / n_b)"
        " - (CAST(n * sxy - sx * sy AS DOUBLE)"
        " / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE))"
        " * (CAST(sx_a AS DOUBLE) / n_a - CAST(sx_b AS DOUBLE) / n_b), 6)"
        " AS cuped_diff_cents",
    )


def _uniq_audit_sql(tbl: str, key_expr: str, key_name: str) -> str:
    """One key-uniqueness audit block — engine-identical SQL over a
    per-key count relation."""
    return f"""
SELECT '{key_name}' AS audited_key,
       CAST(SUM(kc) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(kc) - COUNT(*) AS BIGINT) AS dup_rows,
       CAST(MAX(kc) AS BIGINT) AS max_dup
FROM (SELECT {key_expr} AS k, COUNT(*) AS kc FROM {tbl} GROUP BY {key_expr})
"""


_UNIQ_AUDITS = (
    ("orders", "o_orderkey", "orders.o_orderkey"),
    ("lineitem", "l_orderkey * 10 + l_linenumber", "lineitem.(l_orderkey,l_linenumber)"),
    ("customer", "c_custkey", "customer.c_custkey"),
    ("documents", "doc_id", "documents.doc_id"),
)


@register(
    "dq_uniqueness_audit",
    oracle=" UNION ALL ".join(
        _uniq_audit_sql(tbl, expr, name) for tbl, expr, name in _UNIQ_AUDITS
    ),
    tags=("dq", "quality"),
)
def dq_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit — the DQ dimension the existing
    suite doesn't isolate (dq_referential_integrity checks FKs point
    somewhere; this checks the keys they point AT are unique): for each
    declared key, total rows, distinct keys, duplicate-row count, and
    the worst key's multiplicity.  The lineitem compound key is folded
    to one integer (l_orderkey·10 + l_linenumber — linenumber ≤ 7 by
    TPC-H contract) so all audits share one exact shape.

    Scale shape: per key, ONE map-side-combinable groupBy(key) to per-
    key counts and a 1-row reduction — the same two-job shape as
    dedup_exact; the four audits union bounded 1-row relations.  At
    100 TB each audit is one shuffle of (key, count) pairs.
    """
    parts = []
    for tbl, expr, name in _UNIQ_AUDITS:
        t(spark, sf_dir, tbl).createOrReplaceTempView(f"_uq_{tbl}")
        parts.append(_uniq_audit_sql(f"_uq_{tbl}", expr, name))
    return spark.sql(" UNION ALL ".join(parts))


# ---------------------------------------------------------------------------
# Round 10 — difference-in-differences A/B readout (CUPED's causal sibling).


@register(
    "events_diff_in_diff",
    oracle="""
WITH span AS (
  SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events
),
per_user AS (
  SELECT user_id, CAST(user_id % 2 AS INT) AS cohort,
         SUM(CASE WHEN epoch_us(ts) * 2 < span.lo + span.hi
                  THEN CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100
                            AS BIGINT) ELSE 0 END) AS x,
         SUM(CASE WHEN epoch_us(ts) * 2 >= span.lo + span.hi
                  THEN CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100
                            AS BIGINT) ELSE 0 END) AS y
  FROM events, span GROUP BY user_id, span.lo, span.hi
),
m AS (
  SELECT SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)::BIGINT AS n_c,
         SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)::BIGINT AS n_t,
         SUM(CASE WHEN cohort = 0 THEN x ELSE 0 END)::HUGEINT AS sx_c,
         SUM(CASE WHEN cohort = 1 THEN x ELSE 0 END)::HUGEINT AS sx_t,
         SUM(CASE WHEN cohort = 0 THEN y ELSE 0 END)::HUGEINT AS sy_c,
         SUM(CASE WHEN cohort = 1 THEN y ELSE 0 END)::HUGEINT AS sy_t
  FROM per_user
),
d AS (
  SELECT m.*,
         1000000 * ((sy_t - sx_t) * n_c - (sy_c - sx_c) * n_t) AS num,
         n_t::HUGEINT * n_c AS den
  FROM m
)
SELECT n_c AS n_ctrl, n_t AS n_treat,
       CAST(1000000 * sx_c // NULLIF(n_c, 0) AS BIGINT) AS pre_ctrl_micro,
       CAST(1000000 * sx_t // NULLIF(n_t, 0) AS BIGINT) AS pre_treat_micro,
       CAST(1000000 * sy_c // NULLIF(n_c, 0) AS BIGINT) AS post_ctrl_micro,
       CAST(1000000 * sy_t // NULLIF(n_t, 0) AS BIGINT) AS post_treat_micro,
       CAST(CASE WHEN num >= 0 THEN num // NULLIF(den, 0)
                 ELSE -((-num) // NULLIF(den, 0)) END AS BIGINT) AS did_micro
FROM d
""",
    tags=("quality", "events", "ml", "statistics"),
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences A/B readout — the named causal
    estimator practitioners reach for when randomization is imperfect:
    the treated cohort's pre→post change minus the control cohort's,
    cancelling any shared time trend.  Same pre/post midpoint split and
    user-parity cohorts as events_cuped_adjusted_ab (DiD is CUPED at
    θ=1 algebraically, but the deliverable differs: the full 2×2 cell
    means plus the exact DiD estimate, not a θ-adjusted diff).

    Exactness: per-user period sums are exact integer cents; the four
    cell means are 1e6·Σ // n micro-cents; did_micro is ONE exact
    division on the cross-multiplied raw sums — 1e6·((Δ_T)·n_C −
    (Δ_C)·n_T) // (n_T·n_C) — carried in DECIMAL(38,0)/HUGEINT (1e6 ×
    cent-sums × user-count ≈ 1e31 at 1e9 users, inside 38 digits), with
    the sign handled by an explicit CASE so both engines truncate the
    magnitude identically (the Kruskal-Wallis precedent).  did_micro is
    exact from the raw sums, not a difference of the truncated cells.

    Scale shape: the 1-row span relation broadcasts onto one fact scan;
    one exchange to the per-user relation; ONE scalar aggregate carries
    all six sums — the CUPED plan minus the covariance moments.
    """
    from uda_spark.sources.tables import event_micros

    ev = t(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", event_micros(ev))
    span = ev.agg(F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi"))
    per_user = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.expr("CAST(MAX(user_id % 2) AS INT)").alias("cohort"),
            F.expr(
                "SUM(CASE WHEN ts_us * 2 < lo + hi"
                " THEN CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100"
                " AS BIGINT) ELSE 0 END)"
            ).alias("x"),
            F.expr(
                "SUM(CASE WHEN ts_us * 2 >= lo + hi"
                " THEN CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100"
                " AS BIGINT) ELSE 0 END)"
            ).alias("y"),
        )
    )
    m = per_user.agg(
        F.expr("SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)").cast("long").alias("n_c"),
        F.expr("SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)").cast("long").alias("n_t"),
        F.expr("SUM(CASE WHEN cohort = 0 THEN x ELSE 0 END)")
        .cast("decimal(38,0)")
        .alias("sx_c"),
        F.expr("SUM(CASE WHEN cohort = 1 THEN x ELSE 0 END)")
        .cast("decimal(38,0)")
        .alias("sx_t"),
        F.expr("SUM(CASE WHEN cohort = 0 THEN y ELSE 0 END)")
        .cast("decimal(38,0)")
        .alias("sy_c"),
        F.expr("SUM(CASE WHEN cohort = 1 THEN y ELSE 0 END)")
        .cast("decimal(38,0)")
        .alias("sy_t"),
    )
    d = m.selectExpr(
        "*",
        "1000000 * ((sy_t - sx_t) * n_c - (sy_c - sx_c) * n_t) AS num",
        "CAST(n_t AS DECIMAL(38,0)) * n_c AS den",
    )
    return d.selectExpr(
        "n_c AS n_ctrl",
        "n_t AS n_treat",
        "CAST(1000000 * sx_c div NULLIF(n_c, 0) AS BIGINT) AS pre_ctrl_micro",
        "CAST(1000000 * sx_t div NULLIF(n_t, 0) AS BIGINT) AS pre_treat_micro",
        "CAST(1000000 * sy_c div NULLIF(n_c, 0) AS BIGINT) AS post_ctrl_micro",
        "CAST(1000000 * sy_t div NULLIF(n_t, 0) AS BIGINT) AS post_treat_micro",
        "CAST(CASE WHEN num >= 0 THEN num div NULLIF(den, 0)"
        " ELSE -((-num) div NULLIF(den, 0)) END AS BIGINT) AS did_micro",
    )

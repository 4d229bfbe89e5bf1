"""Coverage batch: n-gram Jaccard similarity, IVF-style ANN, sketch
cardinality, ntile/lead/lag window shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from uda_spark import cache
from uda_spark.functions import portable
from uda_spark.operators.dedup import _doc_grams
from uda_spark.operators.similarity import mean_centroids, nearest_centroids
from uda_spark.operators.sort import global_ntile
from uda_spark.queries.common import t
from uda_spark.registry import register

NGRAM_JACCARD_T = "CAST(1 AS DOUBLE) / 20"  # 0.05 without decimal literals
NGRAM_BLOCK_CAP = 1000  # max docs per (lang, source) block entering the pair join


@register(
    "text_ngram_jaccard_pairs",
    oracle=f"""
WITH tk AS (
  SELECT doc_id, lang, source,
         list_distinct({portable.shingles(portable.tokens('text', 'duck'), 2, 'duck')}) AS grams
  FROM documents
  QUALIFY row_number() OVER (
    PARTITION BY lang, source
    ORDER BY {portable.hash60("doc_id::VARCHAR", "duck")}, doc_id
  ) <= {NGRAM_BLOCK_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS n_inter,
         len(a.grams) AS na, len(b.grams) AS nb
  FROM tk a JOIN tk b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(n_inter AS DOUBLE) / (na + nb - n_inter) AS jaccard
FROM pairs
WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= {NGRAM_JACCARD_T}
""",
    tags=("text", "north-star", "join"),
)
def text_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-bigram Jaccard over (lang, source)-blocked pairs, with a
    deterministic per-block cap.

    Blocking is the first scale lever: the self-join shuffles once on the
    block key and pairs only form inside blocks — O(sum of block²), not
    O(n²).  The cap is the second: at 100 TB a single ("en", "web") block
    is nearly the whole corpus, so each block admits at most
    NGRAM_BLOCK_CAP docs, chosen by a deterministic hash rank (the same
    engine-portable stratified-sample pattern as sample_stratified_hash) —
    block² is then bounded by CAP² regardless of corpus size.  The cap
    itself is computed scale-safely: one per-block ``row_number() <= CAP``
    window over SLIM (id, block) rows only, which Catalyst plans as
    ``WindowGroupLimit`` Partial per map task → exchange → Final (a
    corpus-scale block never funnels through one task — the global
    top-CAP by a total order is a subset of every partition's top-CAP;
    the Partial is planned only while CAP ≤ 1000, the default
    ``spark.sql.optimizer.windowGroupLimitThreshold``), then broadcast
    the winning ids back so gram arrays are built ONLY for survivors.
    Both engines apply the identical cap, so the oracle stays exact; at
    the test SFs every block is under the cap and results are unchanged.
    The unblocked, uncapped scale path is MinHash LSH
    (dedup_minhash_near_pairs); this exact variant is its quality
    oracle.
    """
    hash_rank = portable.hash60("CAST(doc_id AS STRING)", "spark")
    docs = t(spark, sf_dir, "documents")
    slim = docs.select("doc_id", "lang", "source")
    cap_order = (F.expr(hash_rank), F.col("doc_id"))
    w_cap = Window.partitionBy("lang", "source").orderBy(*cap_order)
    keep = (
        slim.withColumn("_rn", F.row_number().over(w_cap))
        .where(F.col("_rn") <= NGRAM_BLOCK_CAP)
        .select("doc_id")
    )
    kept = docs.join(F.broadcast(keep), on="doc_id").select(
        "doc_id", "lang", "source", "text"
    )
    # Per-block pairwise intersections as ONE incidence GEMM per
    # (lang, source) group (r14, guide §4.2): tokenize+bigram each doc
    # in Python (the parity-tested operators/dedup._doc_grams
    # tokenizer), build the docs × distinct-grams 0/1 matrix, and read
    # every n_inter off A @ A.T — float64 BLAS instead of a block
    # self-join with per-pair array_intersect.  Counts are small
    # integers, so the f64 GEMM is exact, and jaccard is the oracle's
    # single IEEE division — bit-identical output.  Block width is
    # capped at NGRAM_BLOCK_CAP docs upstream, and the GEMM is
    # row-chunked so no task materializes more than ~CAP·8MB of dot
    # cells.
    import pyarrow as pa

    bigrams = _doc_grams(2)
    thr = 1.0 / 20  # the same double CAST(1 AS DOUBLE)/20 evaluates to

    from typing import Tuple

    # NOTE: full annotations required — pyspark 4.1.2's grouped
    # applyInArrow eval-type inference swallows its own failure into
    # an UnboundLocalError when they are missing (r13 finding).
    def block_pairs(key: Tuple[pa.Scalar, ...], tbl: pa.Table) -> pa.Table:
        import numpy as np
        import pyarrow as pa

        ids = tbl.column("doc_id").to_pylist()
        texts = tbl.column("text").to_pylist()
        # NULL text -> NULL grams -> NULL jaccard -> filtered: the doc
        # contributes no pairs either way, so skip it up front.
        pairs_in = [(i, set(bigrams(t))) for i, t in zip(ids, texts) if t is not None]
        vocab: dict[str, int] = {}
        for _, gs in pairs_in:
            for g in gs:
                vocab.setdefault(g, len(vocab))
        n = len(pairs_in)
        A = np.zeros((n, max(1, len(vocab))), dtype=np.float64)
        for i, (_, gs) in enumerate(pairs_in):
            for g in gs:
                A[i, vocab[g]] = 1.0
        sizes = A.sum(axis=1)
        idv = np.array([i for i, _ in pairs_in], dtype=np.int64)
        out_a: list = []
        out_b: list = []
        out_j: list = []
        chunk = max(1, (8 << 20) // max(1, n * 8))
        for lo in range(0, n, chunk):
            hi = min(n, lo + chunk)
            inter = A[lo:hi] @ A.T  # exact: 0/1 entries, counts < 2^53
            union = sizes[lo:hi, None] + sizes[None, :] - inter
            jac = inter / union  # the SQL's one IEEE division
            mask = (idv[lo:hi, None] < idv[None, :]) & (jac >= thr)
            ii, jj = np.nonzero(mask)
            out_a.append(idv[lo + ii])
            out_b.append(idv[jj])
            out_j.append(jac[ii, jj])
        cat = (lambda xs: np.concatenate(xs) if xs else np.array([]))
        return pa.table(
            {
                "doc_a": pa.array(cat(out_a), pa.int64()),
                "doc_b": pa.array(cat(out_b), pa.int64()),
                "jaccard": pa.array(cat(out_j), pa.float64()),
            }
        )

    return kept.groupBy("lang", "source").applyInArrow(
        block_pairs, "doc_a long, doc_b long, jaccard double"
    )


@register(
    "approx_distinct_users",
    oracle="""
SELECT event_type, COUNT(*)::BIGINT AS n_events,
       COUNT(DISTINCT user_id)::BIGINT AS exact_users,
       TRUE AS within_bound
FROM events GROUP BY event_type
""",
    tags=("aggregation", "sketch"),
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ cardinality sketch per event type — the 100 TB path
    for distinct counts (fixed-size sketch merge, no value shuffle).

    Bounded oracle: sketch estimates are engine-specific by design, so the
    raw estimate is NOT emitted.  Instead the query also computes the
    exact count and emits ``within_bound`` = |approx − exact| ≤ 10% of
    exact (HLL++ at rsd 0.02 is ~6% at 3σ); the DuckDB oracle computes
    the exact count and a literal TRUE — an out-of-bound sketch therefore
    hash-mismatches.  The exact column exists to make the oracle bite;
    the production path at 100 TB is the sketch alone.
    """
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_distinct(F.col("user_id")).alias("exact_users"),
        (
            F.abs(F.approx_count_distinct("user_id", 0.02) - F.count_distinct(F.col("user_id")))
            * 10 <= F.count_distinct(F.col("user_id"))
        ).alias("within_bound"),
    )


PCT_ACCURACY = 10000


@register(
    "approx_percentile_prices",
    oracle="""
SELECT o_orderpriority, COUNT(*)::BIGINT AS n_orders,
       TRUE AS p50_ok, TRUE AS p95_ok
FROM orders GROUP BY o_orderpriority
""",
    tags=("aggregation", "approx", "sketch"),
)
def approx_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-price quantiles per order priority via the Greenwald-Khanna
    sketch (percentile_approx, accuracy 10000) — the sketch path for
    quantiles over data too large to sort; mergeable partials shuffle
    O(sketch) state per group, not O(rows).

    Bounded oracle: GK guarantees the returned value's true rank is
    within εn (ε = 1/accuracy) of the target rank.  The query joins the
    sketch result back to the data, counts rows strictly-below and
    at-or-below each returned quantile, and emits ``p50_ok`` / ``p95_ok``
    = the [count_lt, count_le] rank window intersects the target rank
    ± (2εn + 2).  The oracle emits literal TRUE — a sketch outside its
    contract hash-mismatches.  The verification join is the harness, not
    the production path.
    """
    o = t(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    pct = (
        o.groupBy("o_orderpriority")
        .agg(
            F.percentile_approx("o_totalprice", [0.5, 0.95], PCT_ACCURACY).alias("pcts"),
        )
        .select(
            "o_orderpriority",
            F.col("pcts")[0].alias("p50"),
            F.col("pcts")[1].alias("p95"),
        )
    )
    joined = o.join(F.broadcast(pct), on="o_orderpriority")
    counted = joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(F.col("o_totalprice") < F.col("p50"), 1).otherwise(0)).alias("lt50"),
        F.sum(F.when(F.col("o_totalprice") <= F.col("p50"), 1).otherwise(0)).alias("le50"),
        F.sum(F.when(F.col("o_totalprice") < F.col("p95"), 1).otherwise(0)).alias("lt95"),
        F.sum(F.when(F.col("o_totalprice") <= F.col("p95"), 1).otherwise(0)).alias("le95"),
    )

    def ok(lt, le, target_num, target_den):
        # target rank = n * num/den; slack = 2n/accuracy + 2 (all integer
        # arithmetic scaled by target_den * PCT_ACCURACY to avoid floats)
        n, acc = F.col("n_orders"), PCT_ACCURACY
        scale = target_den * acc
        target = n * target_num * acc  # rank * scale / den... see below
        lo = target - (2 * n * target_den + 2 * scale)
        hi = target + (2 * n * target_den + 2 * scale)
        return (F.col(le) * scale >= lo) & (F.col(lt) * scale <= hi)

    return counted.select(
        "o_orderpriority",
        "n_orders",
        ok("lt50", "le50", 1, 2).alias("p50_ok"),
        ok("lt95", "le95", 19, 20).alias("p95_ok"),
    )


@register(
    "hll_sketch_two_level",
    oracle="""
SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS exact_users,
       TRUE AS within_bound
FROM events GROUP BY event_type
""",
    tags=("aggregation", "approx", "sketch"),
)
def hll_sketch_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level mergeable distinct-count: per-(type, shard) HLL sketches
    (datasketches) union into a per-type estimate — the re-aggregation
    property a plain approx_count_distinct result lacks, and exactly how
    a 100 TB rollup keeps distinct counts: store sketch bytes per
    partition/day, union on demand at any granularity.

    Bounded oracle (same pattern as approx_distinct_users): the estimate
    itself is sketch-seeded, so the query emits the exact count plus
    ``within_bound`` = |estimate − exact| ≤ 10% of exact, and the oracle
    emits exact + TRUE.
    """
    ev = t(spark, sf_dir, "events")
    shards = ev.groupBy(
        "event_type", (F.col("user_id") % 8).alias("shard")
    ).agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    est = shards.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("approx_users")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("exact_users")
    )
    return est.join(exact, on="event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users")) * 10
            <= F.col("exact_users")
        ).alias("within_bound"),
    )


@register(
    "window_ntile_deciles",
    oracle="""
WITH ranked AS (
  SELECT o_totalprice,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
SELECT decile::INT AS decile, COUNT(*)::BIGINT AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM ranked GROUP BY decile
""",
    tags=("relational", "window"),
)
def window_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile assignment + per-decile totals.

    Scale shape: NTILE over a global ORDER BY is Window-ntile semantics
    but NOT a single-partition window here — round 8's
    :func:`uda_spark.operators.sort.global_ntile` computes the exact
    bucket from the two-pass range-partitioned global rank plus the
    closed-form (rank, total) arithmetic, so every order flows through
    range-balanced partitions (this query was the last corpus-
    cardinality ``Window.orderBy`` left after the round-8 sweep — caught
    by the round-9 plan linter, tests/test_plan_lint.py)."""
    orders = t(spark, sf_dir, "orders")
    deciled = global_ntile(
        orders.select("o_totalprice", "o_orderkey"),
        ["o_totalprice", "o_orderkey"],
        10,
        alias="decile",
    )
    return deciled.groupBy("decile").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )


@register(
    "window_order_gaps",
    oracle="""
SELECT o_orderkey, o_custkey,
       CAST(COALESCE(date_diff('day', CAST(lag(o_orderdate) OVER w AS DATE), CAST(o_orderdate AS DATE)), -1) AS INT)
         AS days_since_prev,
       CAST(COALESCE(date_diff('day', CAST(o_orderdate AS DATE), CAST(lead(o_orderdate) OVER w AS DATE)), -1) AS INT)
         AS days_to_next,
       CAST(first_value(o_orderdate) OVER w AS DATE) AS first_order_date
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    tags=("relational", "window"),
)
def window_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/first_value over per-customer order history — one exchange
    on the customer key, one ordered pass."""
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev_d = F.lag(F.col("o_orderdate").cast("date")).over(w)
    next_d = F.lead(F.col("o_orderdate").cast("date")).over(w)
    cur_d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.coalesce(F.datediff(cur_d, prev_d), F.lit(-1)).cast("int").alias("days_since_prev"),
        F.coalesce(F.datediff(next_d, cur_d), F.lit(-1)).cast("int").alias("days_to_next"),
        F.first(cur_d).over(w).alias("first_order_date"),
    )


@register(
    "skew_salted_agg",
    oracle="""
SELECT event_type, COUNT(*)::BIGINT AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
""",
    tags=("skew", "aggregation"),
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation on a hot-key group-by.

    event_type has 5 values — without salting, 5 reduce tasks own ALL
    rows no matter how wide the cluster (the aggregation analog of the
    reference's fetch hotspot, MergeManager.cc:58-63).  Stage 1 groups by
    (key, salt16) so the hot keys spread over 16 partitions of partial
    states; stage 2 merges 5×16 tiny rows.  Decimal partials keep the
    result bit-equal to the unsalted plan, which the oracle runs.
    """
    from uda_spark.plans.partitioning import salted_agg

    ev = t(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("decimal(18,2)").alias("v")
    )
    return salted_agg(
        ev,
        ["event_type"],
        16,
        partial_aggs=[F.count("*").alias("pc"), F.sum("v").alias("ps")],
        final_aggs=[
            F.sum("pc").cast("long").alias("n_events"),
            F.sum("ps").cast("double").alias("total_value"),
        ],
    )


@register(
    "array_order_profiles",
    oracle="""
WITH per_order AS (
  SELECT l_orderkey,
         list_sort(list(l_quantity ORDER BY l_linenumber)) AS qty_sorted
  FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       len(qty_sorted)::BIGINT AS n_lines,
       qty_sorted[1] AS min_qty,
       qty_sorted[-1] AS max_qty,
       list_sum(qty_sorted[1:3]) AS bottom3_qty
FROM per_order
WHERE len(qty_sorted) >= 3
""",
    tags=("relational", "array", "aggregation"),
)
def array_order_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface: per-order quantity profiles via
    collect_list → sort_array → slice/aggregate — the nested-type
    repertoire (collect, sort, index, slice, fold) the reference's
    opaque-bytes model cannot express.

    Determinism: the collected list is sorted before any use, and the
    bottom-3 sum folds doubles in sorted order — identical fold order in
    both engines.
    """
    li = t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_quantity")).alias("qty_sorted")
    )
    return (
        per_order.where(F.size("qty_sorted") >= 3)
        .select(
            "l_orderkey",
            F.size("qty_sorted").cast("long").alias("n_lines"),
            F.element_at("qty_sorted", 1).alias("min_qty"),
            F.element_at("qty_sorted", -1).alias("max_qty"),
            F.expr(
                "aggregate(slice(qty_sorted, 1, 3), CAST(0 AS DOUBLE), (a, x) -> a + x)"
            ).alias("bottom3_qty"),
        )
    )


_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@register(
    "pivot_priority_by_nation",
    oracle=f"""
SELECT n_name,
       {", ".join(
           f"COUNT(CASE WHEN o_orderpriority = '{p}' THEN 1 END)::BIGINT AS p{i + 1}"
           for i, p in enumerate(_PRIORITIES)
       )}
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
    tags=("relational", "pivot", "aggregation"),
)
def pivot_priority_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts per nation × priority, one column per
    priority.  Spark's pivot with an explicit value list is a single
    hash aggregate (no second shuffle, no distinct-values job); columns
    are renamed p1..p5 to keep both engines' headers identical.
    """
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    joined = o.join(c, F.col("o_custkey") == F.col("c_custkey")).join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    )
    pivoted = (
        joined.groupBy("n_name")
        .pivot("o_orderpriority", list(_PRIORITIES))
        .count()
    )
    renames = {p: f"p{i + 1}" for i, p in enumerate(_PRIORITIES)}
    out = pivoted.withColumnsRenamed(renames)
    # pivot emits NULL for empty cells; the oracle's COUNT emits 0
    return out.select(
        "n_name",
        *[F.coalesce(F.col(f"p{i + 1}"), F.lit(0)).alias(f"p{i + 1}") for i in range(5)],
    )


@register(
    "merge_orders_refresh",
    oracle="""
WITH src AS (
  SELECT o_orderkey, CAST(o_totalprice + 100 AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, CAST(42 AS DOUBLE) FROM orders WHERE o_orderkey % 100 = 0
)
SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
       COALESCE(s.o_totalprice, t.o_totalprice) AS o_totalprice,
       t.o_orderstatus AS o_orderstatus,
       CASE WHEN s.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL THEN 'updated'
            WHEN t.o_orderkey IS NULL THEN 'inserted'
            ELSE 'unchanged' END AS merge_action
FROM orders t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
""",
    tags=("relational", "merge", "join"),
)
def merge_orders_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO / upsert (the TPC-H refresh-function analog): a delta
    batch repricing 10% of orders and inserting new ones merges into the
    orders snapshot — matched rows update, new keys insert, the rest
    pass through, each row tagged with its merge action.

    operators/merge.py compiles this to one keyed full outer join — the
    same plan Delta/Iceberg MERGE generates; at 100 TB the delta side
    broadcasts and partition pruning joins only touched partitions.
    """
    from uda_spark.operators.merge import merge_upsert

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    src = (
        orders.where(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") + 100).cast("double").alias("o_totalprice"),
        )
        .union(
            orders.where(F.col("o_orderkey") % 100 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                F.lit(42).cast("double").alias("o_totalprice"),
            )
        )
    )
    return merge_upsert(orders, src, keys=["o_orderkey"])


@register(
    "hll_sketch_persisted_rollup",
    oracle="""
SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS exact_users,
       TRUE AS within_bound
FROM events GROUP BY event_type
""",
    tags=("aggregation", "approx", "sketch", "io"),
)
def hll_sketch_persisted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketches AT REST: per-(type, shard) HLL sketch BYTES are written to
    parquet (a binary column — exactly how a 100 TB rollup stores
    per-partition/day distinct-count state), read back in a separate
    scan, and unioned to per-type estimates.  The round trip proves the
    sketch survives serialization through the storage layer with its
    mergeability intact; the bounded oracle is the same
    exact + within_bound pattern as hll_sketch_two_level."""
    from uda_spark.cache import scratch_dir

    ev = t(spark, sf_dir, "events")
    shards = ev.groupBy(
        "event_type", (F.col("user_id") % 8).alias("shard")
    ).agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    path = scratch_dir("uda_hll")
    shards.write.mode("overwrite").parquet(path)
    stored = spark.read.parquet(path)
    est = stored.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("approx_users")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("exact_users")
    )
    return est.join(exact, on="event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users")) * 10
            <= F.col("exact_users")
        ).alias("within_bound"),
    )


KMEANS_K = 4
KMEANS_ITERS = 2

_KM_IV = portable.int_vec("embedding", "duck")


def _km_assign_sql(iv_rel: str, cent_rel: str) -> str:
    """DuckDB: assign every vector in ``iv_rel`` (vec_id, v) to its nearest
    centroid in ``cent_rel`` (cluster, centroid double-list); ties go to
    the lower cluster id.  dist2 is IEEE doubles over exact integers in a
    fixed dimension order — identical in both engines."""
    return f"""
  SELECT vec_id, v, cluster FROM (
    SELECT i.vec_id, i.v, c.cluster,
           ROW_NUMBER() OVER (
             PARTITION BY i.vec_id
             ORDER BY list_sum(list_transform(range(1, 65),
               d -> (i.v[d] - c.centroid[d]) * (i.v[d] - c.centroid[d]))), c.cluster
           ) AS rn
    FROM {iv_rel} i CROSS JOIN {cent_rel} c
  ) WHERE rn = 1
"""


def _km_means_sql(assigned_rel: str) -> str:
    """DuckDB: per-cluster mean vector (exact integer sums -> doubles)."""
    return f"""
  SELECT cluster, list(CAST(s AS DOUBLE) / n ORDER BY d) AS centroid FROM (
    SELECT cluster, d, SUM(v[d + 1]) AS s, COUNT(*)::BIGINT AS n
    FROM {assigned_rel}, range(0, 64) r(d)
    GROUP BY cluster, d
  ) GROUP BY cluster
"""


@register(
    "kmeans_embeddings",
    oracle=f"""
WITH iv AS (SELECT vec_id, {_KM_IV} AS v FROM embeddings),
c0 AS (
  SELECT vec_id AS cluster, list_transform(v, x -> CAST(x AS DOUBLE)) AS centroid
  FROM iv WHERE vec_id < {KMEANS_K}
),
a1 AS ({_km_assign_sql('iv', 'c0')}),
c1 AS ({_km_means_sql('a1')}),
a2 AS ({_km_assign_sql('iv', 'c1')}),
c2 AS ({_km_means_sql('a2')})
SELECT a2.cluster, COUNT(*)::BIGINT AS n_vectors,
       SUM(a2.vec_id)::BIGINT AS member_checksum,
       round(sqrt(list_sum(list_transform(c2.centroid,
             m -> (m / {portable.FIXED_POINT}) * (m / {portable.FIXED_POINT})))), 6) AS centroid_l2
FROM a2 JOIN c2 ON a2.cluster = c2.cluster
GROUP BY a2.cluster, c2.centroid
""",
    tags=("similarity", "iterative", "north-star"),
)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embeddings (k=4, 2 iterations) — the
    iterative model-training loop an IVF index builds its coarse
    quantizer with (sim_ivf_knn consumes exactly such centroids).

    Deterministic end to end: init = the first k vectors, exact
    fixed-point integer inputs, IEEE double distances evaluated in a
    fixed dimension order, ties to the lower cluster id — so the oracle
    UNROLLS both iterations in SQL CTEs and value-hashes the final
    assignment (member_checksum pins membership exactly).

    Scale: each iteration collects the k×dim centroid doubles to the
    driver, assigns every vector in one map-side Arrow pass
    (operators/similarity.nearest_centroids — no crossJoin, no per-row
    window) and rebuilds the means with one (cluster, d) aggregation
    (mean_centroids) — no all-pairs anything; iterations are
    driver-side loop steps exactly like the reference's regression
    harness loops (PageRank/CC use the same pattern with localCheckpoint
    for long chains).
    """
    emb = t(spark, sf_dir, "embeddings")
    iv = emb.select(
        "vec_id", F.expr(portable.int_vec("embedding", "spark")).alias("v")
    )
    cent = iv.where(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cluster"),
        F.expr("transform(v, x -> CAST(x AS DOUBLE))").alias("centroid"),
    )
    assigned = None
    for it in range(KMEANS_ITERS):
        assigned = nearest_centroids(iv, "vec_id", "v", cent, keep=("v",))
        if it == KMEANS_ITERS - 1:  # read by both the stats and the last means
            assigned = cache.tracked_persist(assigned)
        cent = mean_centroids(assigned, ("cluster",), "v")
    fp = portable.FIXED_POINT
    l2 = (
        f"round(sqrt(aggregate(transform(centroid, m -> (m / {fp}) * (m / {fp})), "
        f"CAST(0 AS DOUBLE), (acc, e) -> acc + e)), 6)"
    )
    stats = assigned.groupBy("cluster").agg(
        F.count("*").alias("n_vectors"),
        F.sum("vec_id").alias("member_checksum"),
    )
    return stats.join(cent, on="cluster").select(
        "cluster", "n_vectors", "member_checksum", F.expr(l2).alias("centroid_l2")
    )


IVF_NPROBE = 3

_IVF_IV = portable.int_vec("embedding", "duck")
_IVF_QDOT = portable.int_dot("p.q_vec", "c.v", "duck")
_IVF_QN = portable.int_dot("p.q_vec", "p.q_vec", "duck")
_IVF_CN = portable.int_dot("c.v", "c.v", "duck")


@register(
    "sim_ivf_knn",
    oracle=f"""
WITH iv AS (SELECT vec_id, label, {_IVF_IV} AS v FROM embeddings),
dims AS (
  SELECT label, d, SUM(v[d + 1]) AS s, COUNT(*)::BIGINT AS n
  FROM iv, range(0, 64) r(d) GROUP BY label, d
),
cent AS (
  SELECT label, list(CAST(s AS DOUBLE) / n ORDER BY d) AS centroid
  FROM dims GROUP BY label
),
q AS (SELECT vec_id, v FROM iv WHERE vec_id < 10),
qc AS (
  SELECT q.vec_id, q.v, c.label,
         list_sum(list_transform(range(1, 65),
           i -> (q.v[i] - c.centroid[i]) * (q.v[i] - c.centroid[i]))) AS dist2
  FROM q CROSS JOIN cent c
),
probes AS (
  SELECT vec_id AS q_id, v AS q_vec, label AS probe_label
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, label) AS rn FROM qc)
  WHERE rn <= {IVF_NPROBE}
),
scored AS (
  SELECT p.q_id AS query_id, c.vec_id AS neighbor_id,
         round({portable.cosine_from_ints(_IVF_QDOT, _IVF_QN, _IVF_CN)}, 6) AS score
  FROM iv c JOIN probes p ON c.label = p.probe_label AND c.vec_id <> p.q_id
)
SELECT query_id, neighbor_id, score, CAST(rnk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
      FROM scored)
WHERE rnk <= 5
""",
    tags=("similarity", "north-star", "approx"),
)
def sim_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus by label centroid, then
    search only the query's nprobe=3 nearest partitions.

    Oracle-checked despite being an "approximate" op: every step is a
    deterministic function of exact integers (fixed-point vectors, exact
    centroid numerators, IEEE doubles evaluated in the same dimension
    order in both engines), so DuckDB reproduces the identical probe
    assignment and ranking.

    The centroids here are the per-label means (mean_centroids, as in
    sim_label_centroid_dist); a production IVF trains k-means centroids
    the same way (kmeans_embeddings).  Shuffle profile: centroid build
    is one tiny agg, the probe is map-only (nearest_centroids); search
    is a broadcast of the probed queries against ~nprobe/k of the
    corpus.  Recall vs brute force is additionally asserted in tests
    (these synthetic embeddings are near-uniform, so recall ~ nprobe/k
    is the expectation — clustered real data recalls far higher at the
    same nprobe).
    """
    emb = t(spark, sf_dir, "embeddings")
    iv = emb.select(
        "vec_id", "label", F.expr(portable.int_vec("embedding", "spark")).alias("v")
    )
    # per-label centroids (exact integer sums -> double means), then each
    # query's nprobe nearest, map-side against the collected centroids
    cent = mean_centroids(iv, ("label",), "v")
    q_cent = nearest_centroids(
        iv.where(F.col("vec_id") < 10), "vec_id", "v", cent,
        nprobe=IVF_NPROBE, keep=("v",),
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q_vec"),
        F.col("cluster").alias("probe_label"),
    )
    # search only the probed partition (alias both sides: q_cent shares
    # lineage with iv, so attribute references would be ambiguous)
    dot = portable.int_dot("q.q_vec", "c.v", "spark")
    qn = portable.int_dot("q.q_vec", "q.q_vec", "spark")
    cn = portable.int_dot("c.v", "c.v", "spark")
    scored = (
        iv.alias("c")
        .join(F.broadcast(q_cent.alias("q")), F.expr("c.label = q.probe_label"))
        .where(F.col("c.vec_id") != F.col("q.q_id"))
        .select(
            F.col("q.q_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            F.round(F.expr(portable.cosine_from_ints(dot, qn, cn)), 6).alias("score"),
        )
    )
    # a probed cluster is corpus/k-sized, so the top-k must not funnel it
    # through one task: Catalyst plans this window as WindowGroupLimit
    # Partial per map task → exchange → Final (k = 5 ≤ 1000, the
    # threshold; same hierarchical-merge shape as
    # operators/similarity.knn_bruteforce)
    order = (F.col("score").desc(), F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "score", F.col("rank").cast("int").alias("rank"))
    )


_SQL_API_TEXT = """
SELECT n_name,
       COUNT(*) AS n_suppliers,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_acctbal > 0
GROUP BY n_name
"""


@register(
    "sql_api_supplier_balances",
    oracle=_SQL_API_TEXT.replace("COUNT(*)", "COUNT(*)::BIGINT"),
    tags=("relational", "sql-api"),
)
def sql_api_supplier_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-text entry path: tables registered as views, the query
    submitted as ANSI SQL through ``spark.sql`` — same Catalyst plan as
    the DataFrame API (the engine's two front doors are one engine).
    The oracle is literally the same SQL text, which both engines parse.
    """
    from uda_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_API_TEXT)


@register(
    "unpivot_order_metrics",
    oracle="""
WITH base AS (
  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS totalprice,
         CAST(LENGTH(o_orderpriority) AS DOUBLE) AS priority_len
  FROM orders WHERE o_orderkey % 100 = 0
)
SELECT o_orderkey, metric, value FROM base
UNPIVOT (value FOR metric IN (totalprice, priority_len))
""",
    tags=("relational", "unpivot"),
)
def unpivot_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide metric columns to (key, metric, value) rows —
    the inverse of pivot, via the stack() table generator.  Map-only: one
    input row fans out to one row per metric, no shuffle.
    """
    o = t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 100 == 0)
    base = o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("totalprice"),
        F.length("o_orderpriority").cast("double").alias("priority_len"),
    )
    return base.select(
        "o_orderkey",
        F.expr(
            "stack(2, 'totalprice', totalprice, 'priority_len', priority_len) "
            "AS (metric, value)"
        ),
    )


_RECURSIVE_CHAIN_SQL = """
WITH RECURSIVE chain(part, ancestor, depth) AS (
  SELECT p_partkey, p_partkey, CAST(0 AS BIGINT) FROM part WHERE p_partkey <= 50
  UNION ALL
  SELECT part, CAST(FLOOR(ancestor / 2) AS BIGINT), depth + CAST(1 AS BIGINT)
  FROM chain WHERE ancestor > 1
)
SELECT part, ancestor, depth FROM chain
"""


@register(
    "recursive_cte_part_ancestors",
    oracle=_RECURSIVE_CHAIN_SQL,
    tags=("relational", "recursive-cte", "iterative"),
)
def recursive_cte_part_ancestors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE — native recursive CTE (new in Spark 4.x): walks the
    implicit binary-tree part hierarchy (parent = node div 2) from each
    part up to the root, emitting (part, ancestor, depth) chains.  The
    identical SQL text runs on both engines (integer division spelled as
    FLOOR(x/2) because bare ``/`` is fractional in both).

    This is the declarative counterpart of the hand-rolled fixed-point
    loops (``graph_pagerank_neardup``, connected components): Catalyst
    unrolls each recursive step as a join+union iteration, depth is
    O(log partkey) ≈ 6 here, and each step is a narrow map over the
    frontier — no driver-side collect.  The reference engine has no
    notion of iteration at all (one-pass merge streams, SURVEY §0).
    """
    from uda_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_CHAIN_SQL)


@register(
    "lateral_top_orders",
    oracle="""
SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
WHERE c.c_custkey <= 200
""",
    tags=("relational", "join", "subquery", "limit"),
)
def lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join via the DataFrame ``lateralJoin`` API
    (Spark 4.x): for each customer, the inner query re-executes with the
    outer row bound (``F.col(...).outer()``) and yields that customer's
    top-2 orders by price.

    Catalyst rewrites the correlated limit-per-group into a join +
    windowed rank under ``DecorrelateInnerQuery`` — no per-row driver
    loop, one shuffle on the correlation key.  The window formulation is
    registered separately (``topk_orders``); this exercises the lateral
    operator surface itself.  Ties broken by orderkey so both engines
    pick identical rows.
    """
    customer = t(spark, sf_dir, "customer").where(F.col("c_custkey") <= 200)
    inner = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_custkey") == F.col("c_custkey").outer())
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(2)
        .select("o_orderkey", "o_totalprice")
    )
    return customer.lateralJoin(inner).select(
        "c_custkey", "c_mktsegment", "o_orderkey", "o_totalprice"
    )


# Exact second moments: n*Σx² − (Σx)² and n*Σxy − ΣxΣy stay in DECIMAL
# (integer-scaled, order-independent) until one final cast — so variance
# and covariance are bit-identical across engines, unlike var_samp/corr
# whose float accumulation order differs.
_MOMENTS_SQL = """
WITH m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp,
         SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sqq,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS spp,
         SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sqp
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n_rows,
       CAST(n_rows * sqq - sq * sq AS DOUBLE) AS scaled_var_qty,
       CAST(n_rows * spp - sp * sp AS DOUBLE) AS scaled_var_price,
       CAST(n_rows * sqp - sq * sp AS DOUBLE) AS scaled_cov
FROM m
"""


@register(
    "stats_scaled_moments",
    oracle=_MOMENTS_SQL,
    tags=("aggregation", "relational", "scalar"),
)
def stats_scaled_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-exact second moments per return flag: scaled variance
    n·Σx²−(Σx)² and covariance n·Σxy−Σx·Σy computed entirely in DECIMAL
    (every partial is an exact scaled integer, so partial-aggregation
    order — which differs between Spark's map-side combine and DuckDB's
    single-node hash agg, and across cluster widths — cannot change the
    result).  ``var_samp``/``covar_samp``/``corr`` accumulate in DOUBLE
    and are NOT reproducible across engines; this is the portable form,
    same discipline as common.REVENUE_SQL.  One shuffle, map-side
    partials, no joins — survives any scale-up.
    """
    li = t(spark, sf_dir, "lineitem")
    dq = F.col("l_quantity").cast("decimal(18,2)")
    dp = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(dq).alias("sq"),
        F.sum(dp).alias("sp"),
        F.sum(dq * dq).alias("sqq"),
        F.sum(dp * dp).alias("spp"),
        F.sum(dq * dp).alias("sqp"),
    )
    return m.select(
        "l_returnflag",
        "n_rows",
        (F.col("n_rows") * F.col("sqq") - F.col("sq") * F.col("sq"))
        .cast("double")
        .alias("scaled_var_qty"),
        (F.col("n_rows") * F.col("spp") - F.col("sp") * F.col("sp"))
        .cast("double")
        .alias("scaled_var_price"),
        (F.col("n_rows") * F.col("sqp") - F.col("sq") * F.col("sp"))
        .cast("double")
        .alias("scaled_cov"),
    )


@register(
    "join_bucketed_colocated",
    oracle="""
WITH per AS (
  SELECT o_custkey AS custkey,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
  FROM orders GROUP BY o_custkey
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(n_orders) AS BIGINT) AS n_orders,
       CAST(SUM(spend) AS DOUBLE) AS total_spend
FROM per JOIN customer ON custkey = c_custkey
GROUP BY c_mktsegment
""",
    tags=("join", "aggregation", "north-star", "skew"),
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free join via bucketed tables (operators/bucketing.py):
    orders and customer are persisted bucketed+sorted on the customer
    key, then the per-customer aggregation AND the customer join run
    with ZERO shuffle exchanges — the only exchange left is the final
    5-row segment rollup.  tests/test_bucketing.py asserts the exchange
    counts; the oracle only checks values (bucketing must never change
    results, just plans).

    At 100 TB this is the difference between re-shuffling the fact table
    per query and paying the shuffle once at ingest: the layout replaces
    the exchange, exactly like the reference's pre-partitioned MOF files
    replace a fetch-time repartition (SURVEY §2.1 O1/O2).
    """
    from uda_spark.operators.bucketing import colocated_join, write_bucketed

    orders = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    customer = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    write_bucketed(orders, "uda_b_orders", "custkey", buckets=8)
    write_bucketed(customer, "uda_b_customer", "custkey", buckets=8)

    per = spark.table("uda_b_orders").groupBy("custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("price").alias("spend"),
    )
    per.createOrReplaceTempView("uda_b_per")
    joined = colocated_join(spark, "uda_b_per", "uda_b_customer", "custkey")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("n_orders").cast("bigint").alias("n_orders"),
        F.sum("spend").cast("double").alias("total_spend"),
    )


_SAMPLE_RATE = "CASE WHEN lang = 'en' THEN 200 ELSE 50 END"  # per-mille


@register(
    "sample_stratified_hash",
    oracle=f"""
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_sampled,
       CAST(SUM(n_chars) AS BIGINT) AS sampled_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM documents
WHERE {portable.hash60("CAST(doc_id AS VARCHAR)", "duck")} % 1000
      < {_SAMPLE_RATE}
GROUP BY source, lang
""",
    tags=("text", "north-star", "sampling"),
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling by content hash, not rand().

    A training-data pipeline needs samples that are REPRODUCIBLE across
    runs, engines, and partitionings: ``df.sample()`` / ``rand()`` give a
    different subset per run and per partition layout, so lineage breaks.
    Hashing a stable key (md5-folded to a 60-bit int, functions/
    portable.py) and keeping ``hash % 1000 < rate`` is run-independent,
    engine-portable (this query is value-checked against DuckDB), and
    embarrassingly parallel — a pure narrow filter evaluated at the scan,
    no shuffle, no RNG state, so it scales to 100 TB as a map-only stage.
    Per-stratum rates (English kept at 20%, other languages downsampled
    to 5%) are just a CASE on the rate — the mechanism the reference's
    sampling hooks expose per input split (SURVEY §2.3).
    """
    h = portable.hash60("CAST(doc_id AS STRING)", "spark")
    rate = F.expr(_SAMPLE_RATE)
    return (
        t(spark, sf_dir, "documents")
        .where(F.expr(h) % F.lit(1000) < rate)
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
            F.sum("n_chars").cast("bigint").alias("sampled_chars"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.max("doc_id").cast("bigint").alias("max_doc"),
        )
    )


ZORDER_BITS = 20


@register(
    "layout_zorder_events",
    oracle=f"""
WITH base AS (
  SELECT event_id, user_id, epoch_us(ts) // 3600000000 AS hour_bucket FROM events
)
SELECT event_id,
       CAST({portable.zvalue('user_id', 'hour_bucket', 20, 'duck')} AS BIGINT) AS zval
FROM base
""",
    tags=("layout", "sort"),
)
def layout_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering values for events on (user_id, hour):
    the multi-dimensional layout key that lets min/max row-group stats
    prune scans on EITHER dimension after a zorder_by rewrite
    (operators/layout.py) — the OPTIMIZE ZORDER primitive.

    The value computation is checked per event against the oracle; the
    physical layout behavior (range partition + in-partition sort) is
    pinned by operator tests.
    """
    from uda_spark.operators.layout import zvalue_col
    from uda_spark.sources.tables import event_micros

    ev = t(spark, sf_dir, "events")
    base = ev.withColumn("ts_us", event_micros(ev)).select(
        "event_id", "user_id", F.expr("ts_us div 3600000000").alias("hour_bucket")
    )
    return base.select(
        "event_id",
        zvalue_col(base, "user_id", "hour_bucket", ZORDER_BITS).cast("long").alias("zval"),
    )


# --- spatial grid-blocked neighbor join (round 6) ---------------------------
# Deterministic synthetic coordinates in integer micro-degrees (the
# customer table carries no geo columns; hash-derived points exercise the
# operator on real data volumes).  Cell size == radius, so every true
# neighbor pair shares a cell or sits in one of the 8 adjacent cells —
# the spatial analog of LSH banding: candidates come from a bucket
# equi-join, never an all-pairs distance cross.
GEO_RADIUS_FP = 2_000_000          # micro-degrees
_GEO_LAT = "({h1} % 180000000) - 90000000"
_GEO_LON = "({h2} % 360000000) - 180000000"


def _geo_pts(engine: str) -> str:
    h1 = portable.hash60(
        "concat('glat|', CAST(c_custkey AS STRING))"
        if engine == "spark"
        else "'glat|' || CAST(c_custkey AS VARCHAR)",
        engine,
    )
    h2 = portable.hash60(
        "concat('glon|', CAST(c_custkey AS STRING))"
        if engine == "spark"
        else "'glon|' || CAST(c_custkey AS VARCHAR)",
        engine,
    )
    lat = _GEO_LAT.format(h1=h1)
    lon = _GEO_LON.format(h2=h2)
    div = "div" if engine == "spark" else "//"
    return (
        f"SELECT c_custkey AS id, {lat} AS lat, {lon} AS lon, "
        f"(({lat}) + 90000000) {div} {GEO_RADIUS_FP} AS cx, "
        f"((({lon}) + 180000000) {div} {GEO_RADIUS_FP}) AS cy "
        f"FROM customer"
    )


@register(
    "geo_grid_neighbor_pairs",
    oracle=f"""
WITH pts AS ({_geo_pts('duck')}),
cand AS (
  SELECT a.id AS id_a, b.id AS id_b,
         (a.lat - b.lat) * (a.lat - b.lat)
         + (a.lon - b.lon) * (a.lon - b.lon) AS dist_sq
  FROM pts a, range(-1, 2) dx(x), range(-1, 2) dy(y)
  JOIN pts b ON b.cx = a.cx + dx.x AND b.cy = a.cy + dy.y
  WHERE a.id < b.id
)
SELECT id_a, id_b, CAST(dist_sq AS BIGINT) AS dist_sq
FROM cand WHERE dist_sq <= {GEO_RADIUS_FP}::BIGINT * {GEO_RADIUS_FP}
""",
    tags=("spatial", "join", "north-star"),
)
def geo_grid_neighbor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial neighbor join via grid blocking: all point pairs within a
    fixed radius, found by equi-joining on grid cells (cell == radius,
    so a point's true neighbors live in its 3x3 cell neighborhood) and
    verifying exact integer squared distance — the same
    bucket-candidates-then-verify discipline as the MinHash/SRP joins,
    applied to space.  No distance cross-join exists at any scale; the
    candidate count tracks local density, not n².

    Coordinates are deterministic hash-derived integer micro-degrees
    (flat grid; wraparound at the antimeridian is out of scope for the
    operator demo).  Everything is integer arithmetic — the pair set
    and distances are engine-exact.

    Scale shape: one explode(9 offsets) on the left, one shuffle
    equi-join keyed (cx, cy) — the spatial skew story (a dense city
    cell) is the same bucket-cap/salting lever the LSH joins carry.
    """
    docs = t(spark, sf_dir, "customer")
    h1 = portable.hash60("concat('glat|', CAST(c_custkey AS STRING))", "spark")
    h2 = portable.hash60("concat('glon|', CAST(c_custkey AS STRING))", "spark")
    pts = docs.select(
        F.col("c_custkey").alias("id"),
        F.expr(f"({h1} % 180000000) - 90000000").alias("lat"),
        F.expr(f"({h2} % 360000000) - 180000000").alias("lon"),
    ).select(
        "id",
        "lat",
        "lon",
        F.expr(f"(lat + 90000000) div {GEO_RADIUS_FP}").alias("cx"),
        F.expr(f"(lon + 180000000) div {GEO_RADIUS_FP}").alias("cy"),
    )
    offsets = spark.range(-1, 2).selectExpr("id AS dx").crossJoin(
        spark.range(-1, 2).selectExpr("id AS dy")
    )
    left = pts.crossJoin(F.broadcast(offsets)).select(
        F.col("id").alias("id_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        (F.col("cx") + F.col("dx")).alias("jcx"),
        (F.col("cy") + F.col("dy")).alias("jcy"),
    )
    right = pts.select(
        F.col("id").alias("id_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        F.col("cx").alias("jcx"),
        F.col("cy").alias("jcy"),
    )
    r2 = GEO_RADIUS_FP * GEO_RADIUS_FP
    return (
        left.join(right, on=["jcx", "jcy"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                (F.col("lat_a") - F.col("lat_b")) * (F.col("lat_a") - F.col("lat_b"))
                + (F.col("lon_a") - F.col("lon_b")) * (F.col("lon_a") - F.col("lon_b"))
            )
            .cast("long")
            .alias("dist_sq"),
        )
        .where(F.col("dist_sq") <= r2)
    )

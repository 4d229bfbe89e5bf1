"""Graph operators over pair/edge relations (iterative DataFrame loops).

Companion to dedup.connected_components (large-star/small-star rounds):
where cc answers "which rows are the same thing", PageRank answers
"which node is the most central representative" — useful for picking
canonical documents in large near-dup clusters and for
influence-weighting crawl frontiers.

Determinism: ranks are kept in fixed-point integers (1e9 scale) and
every step is integer arithmetic (div is floor division in both Spark
and DuckDB), so the result is bit-identical across engines and
partitionings — float PageRank would be order-dependent in the
contribution sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uda_spark.operators.sort import snapshot as _snapshot
from uda_spark.operators.sort import snapshot_lazy as _snapshot_lazy

FP = 1_000_000_000  # fixed-point scale

EDGES_PER_PARTITION = 50_000


def graph_stage_width(edge_count: int, default_parallelism: int) -> int:
    """Shuffle width for graph stages over a candidate-pair edge relation.

    Grows linearly with the edge count (~50k edges/partition) so small
    graphs aren't scheduled across thousands of near-empty tasks
    (measured 5.5s -> 2.5s at sf0.1 on local[32]), while the upper bound
    is CLUSTER-relative — ``max(64, 4 * defaultParallelism)`` — never a
    constant: at 1e9 edges on a large cluster the wedge join (the only
    O(E^1.5) intermediate) must run cluster-wide, not 64-wide.
    """
    return max(1, min(edge_count // EDGES_PER_PARTITION + 1, max(64, default_parallelism * 4)))


def pagerank_fp(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    iterations: int = 5,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-point PageRank over the undirected pair graph.

    rank0 = FP div n_nodes; each iteration:
      contrib(src) = rank(src) div degree(src)        (integer floor div)
      rank'(dst)  = (FP * (100 - damping_pct)) div (100 * n) +
                    (damping_pct * sum(contribs into dst)) div 100

    Scale shape per iteration: one shuffle of (node, rank) onto the edge
    list keyed by src, one groupBy(dst) sum — two exchanges per round,
    lineage truncated per round.  The edge list and degrees are
    materialized once.

    Output: (node, rank_fp BIGINT) — exact, engine-portable integers.
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .transform(_snapshot)
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n = nodes.count()
    base_int = (FP * (100 - damping_pct)) // (100 * n)
    ranks = nodes.withColumn("rank_fp", F.lit(FP // n))
    for _ in range(iterations):
        contribs = (
            edges.join(deg, on="src")
            .join(ranks.withColumnsRenamed({"node": "src"}), on="src")
            .select("dst", F.expr("rank_fp div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
            .select(
                "node",
                F.expr(
                    f"{base_int}L + ({damping_pct} * coalesce(s, 0L)) div 100"
                ).alias("rank_fp"),
            )
            # LAZY checkpoint: each round's ranks have exactly one
            # consumer (the next round's contribs join, or the final
            # select) — the dedicated materialization job per round
            # was pure overhead.  With AQE the round's shuffle stages
            # still execute here, so plan size stays constant.
            .transform(_snapshot_lazy)
        )
    return ranks.select("node", "rank_fp")


def triangle_stats(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Exact triangle count + global clustering coefficient over the
    undirected pair graph (one row: n_nodes, n_edges, n_wedges,
    n_triangles, clustering_coeff).

    Compact-forward algorithm: orient every edge from the (degree, id)-
    smaller endpoint to the larger, enumerate wedges by joining oriented
    edges on their source, and close each wedge against the undirected
    edge set.  The orientation caps out-degree at O(sqrt(E)), so the
    wedge relation — the only super-linear intermediate — is bounded by
    sum(out_deg^2) = O(E^1.5) regardless of skew: a high-degree hub
    (the failure mode of naive wedge counting on a near-dup graph full
    of boilerplate clusters) becomes a sink, not a wedge source.  All
    joins are equi-joins on node ids; counts are exact integers.
    """
    from uda_spark import cache

    # the edge relation (tiny — one row per near-dup pair) feeds SIX
    # consumers (degrees, orientation, wedge closure, three counts);
    # without a persist each one re-runs the full upstream candidate
    # pipeline that produced the pairs
    edges = cache.tracked_persist(
        pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    )
    # Right-size the graph stages to the ACTUAL edge count: the edge
    # relation is candidate-pair-sized — typically orders of magnitude
    # smaller than the corpus that produced it — and the six downstream
    # consumers each shuffle it.  At the default shuffle width that is
    # thousands of near-empty tasks of pure scheduling overhead
    # (measured 5.5s -> ~2.5s at sf0.1 on local[32]).  The count is one
    # cheap action on the already-persisted relation and also feeds the
    # n_edges output; ~50k edges per partition keeps big graphs wide.
    edge_count = edges.count()
    n_parts = graph_stage_width(
        edge_count, pairs.sparkSession.sparkContext.defaultParallelism
    )
    edges = edges.repartition(n_parts)
    deg = (
        edges.select(F.col("a").alias("n"))
        .unionAll(edges.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    o = (
        edges.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.col("a"),
            )
            .otherwise(F.col("b"))
            .alias("u"),
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.col("b"),
            )
            .otherwise(F.col("a"))
            .alias("v"),
        )
    )
    wedge = (
        o.alias("x")
        .join(o.alias("y"), F.expr("x.u = y.u AND x.v < y.v"))
        .select(F.col("x.v").alias("wa"), F.col("y.v").alias("wb"))
    )
    tri = wedge.join(
        edges, (F.col("wa") == F.col("a")) & (F.col("wb") == F.col("b"))
    )
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    n_edges = pairs.sparkSession.range(1).select(
        F.lit(edge_count).cast("long").alias("n_edges")
    )
    n_wedges = deg.agg(
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("long")).alias("n_wedges")
    )
    n_tri = tri.agg(F.count("*").alias("n_triangles"))
    out = n_nodes.crossJoin(n_edges).crossJoin(n_wedges).crossJoin(n_tri)
    return out.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(F.col("n_wedges") == 0, F.lit(0.0).cast("double"))
        .otherwise(
            F.round(
                (F.col("n_triangles") * 3).cast("double") / F.col("n_wedges"), 6
            )
        )
        .alias("clustering_coeff"),
    )

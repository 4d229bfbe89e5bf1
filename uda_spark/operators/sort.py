"""Total-order sort + validation — the terasort slice (SURVEY §2.3).

The reference achieves global order via Hadoop's TotalOrderPartitioner
(range partition) + per-reducer merge (scripts/regression/executeMain.sh:
230-252); the contractual property is the *output ordering*, which Spark's
``orderBy`` guarantees with the same physical strategy (sampled range
partitioner + per-partition sort — no single-node sort barrier, scales to
any cluster width).

The global-order operators (``global_rank``, ``global_ntile``,
``global_cumulative_sums``, ``global_cumulative_extreme``,
``grouped_global_cumulative_sum``) share one primitive,
:func:`range_scan`: one range exchange, one snapshot tagged with physical
partition ids, and one bounded collect of per-partition carries (the
reference's per-MOF index metadata, O2).  Each operator adds the carries
of all earlier partitions to a window that runs inside each partition.

``validate_sorted`` is the teravalidate equivalent
(scripts/regression/mr-dstatExcel.sh:249-302): it checks physical order
without a global shuffle in one action — per-partition monotonicity and
min/max keys, collected as one bounded row per partition.
"""

from __future__ import annotations

import operator
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from uda_spark.collect import bounded_collect

# Driver-collect bounds: a grouped range scan's carries hold one row per
# partition plus one per group; validate_sorted's one per input partition.
_MAX_GROUPS = 1 << 16
_MAX_PARTITIONS = 1 << 20

# ---------------------------------------------------------------------------
# Checkpoint mode for the two-pass range-partitioned operators (and the
# iterative dedup/graph loops that reuse snapshot()).
#
# "local" (default): localCheckpoint(eager=True) — executor-local blocks,
# no configuration needed, the right choice on a single machine and for
# short jobs.  Tradeoff at cluster scale: local checkpoint blocks die with
# their executor, and because checkpointing TRUNCATES lineage there is no
# recompute path — a lost executor fails the job instead of recovering.
#
# "reliable": DataFrame.checkpoint(eager=True) — partitions persist to the
# fault-tolerant checkpoint directory (spark.sparkContext.setCheckpointDir,
# typically HDFS/S3), so executor loss recovers by re-reading the
# checkpoint files.  Costs a distributed-FS write+read round trip per
# snapshot.  Both modes preserve physical partition ids across the
# paired jobs, which is the property the two-pass operators require.
# Cluster deployments that cannot tolerate job restarts should flip this
# once at startup:  uda_spark.operators.sort.set_checkpoint_mode("reliable")
_CHECKPOINT_MODE = "local"


def set_checkpoint_mode(mode: str) -> None:
    """Select how :func:`snapshot` materializes: ``"local"`` (default —
    fast, dies with executors) or ``"reliable"`` (survives executor loss;
    requires ``sparkContext.setCheckpointDir`` first)."""
    global _CHECKPOINT_MODE
    if mode not in ("local", "reliable"):
        raise ValueError(f"checkpoint_mode must be 'local' or 'reliable', got {mode!r}")
    _CHECKPOINT_MODE = mode


def snapshot(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` with stable physical partition ids and
    truncated lineage, honoring :func:`set_checkpoint_mode`.  See the
    mode comment above for the local-vs-reliable tradeoff."""
    if _CHECKPOINT_MODE == "reliable":
        sc = df.sparkSession.sparkContext
        ckpt_dir = None
        try:
            ckpt_dir = sc.getCheckpointDir()
        except AttributeError:  # very old pyspark
            opt = sc._jsc.sc().getCheckpointDir()
            ckpt_dir = opt.get() if opt.isDefined() else None
        if not ckpt_dir:
            raise RuntimeError(
                "checkpoint_mode='reliable' requires "
                "spark.sparkContext.setCheckpointDir(<fault-tolerant path>)"
            )
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def snapshot_lazy(df: DataFrame) -> DataFrame:
    """:func:`snapshot` minus the dedicated materialization job: the RDD
    is only MARKED for local checkpointing, and the caller's
    immediately-following full-pass action (the carries collect of
    :func:`range_scan`, the convergence probe of the iterative loops)
    computes and persists it in ONE job instead of two.

    Only valid when exactly one consumer action runs before the relation
    fans out to multiple consumers — otherwise concurrent tasks can race
    on the not-yet-persisted blocks and recompute the upstream subtree
    per branch.  Callers with fan-out directly after the snapshot (e.g.
    the initial edge materialization of the CC loops) must keep the
    eager :func:`snapshot`.

    ``reliable`` mode stays eager: a reliable checkpoint writes its files
    in a separate pass after the first job, so laziness saves nothing
    there and unpersisted recompute risks diverge — this is purely a
    local-mode job-count optimization with identical semantics (same
    lineage truncation, same stable partition ids once materialized).
    """
    if _CHECKPOINT_MODE == "reliable":
        return snapshot(df)
    return df.localCheckpoint(eager=False)


def total_order_sort(df: DataFrame, keys: Sequence[str], ascending: bool = True) -> DataFrame:
    """Globally sort ``df`` by ``keys`` (range partition + partition sort)."""
    cols = [F.col(k).asc() if ascending else F.col(k).desc() for k in keys]
    return df.orderBy(*cols)


def top_k(df: DataFrame, keys: Sequence[str], k: int, ascending: bool = False) -> DataFrame:
    """Top-k by ``keys``: per-partition take-ordered + driver merge.

    Spark plans this as TakeOrderedAndProject — each task keeps only k rows,
    so no full sort or full shuffle happens regardless of input size.
    """
    cols = [F.col(c).asc() if ascending else F.col(c).desc() for c in keys]
    return df.orderBy(*cols).limit(k)


def range_scan(
    df: DataFrame,
    order_keys: Sequence[str],
    partial_aggs: Sequence[Column],
    group_keys: Sequence[str] = (),
    num_partitions: int | None = None,
) -> tuple[DataFrame, list]:
    """The one range-partitioned scan behind every global-order operator.

    Range-partition ``df`` on ``group_keys + order_keys``, sort within
    each partition, tag rows with their partition id ``_pid`` and
    snapshot; then run ``partial_aggs`` per ``_pid`` (and group) in one
    bounded collect.  Returns ``(snapshot, carries)``, the carries
    sorted by ``_pid``: at most ``num_partitions`` rows, plus one per
    group, since a range partition covers a contiguous key span — the
    per-partition index metadata of the reference's MOF index (O2).

    Snapshot, not persist: the carries job and every later consumer
    must see the same partition ids, which a recomputed (and perhaps
    differently coalesced) range exchange would not guarantee.  The
    carries collect is the lazy snapshot's single consumer, so the
    snapshot is materialized when returned and may fan out freely.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    key_cols = [F.col(k) for k in (*group_keys, *order_keys)]
    snap = (
        df.repartitionByRange(n, *key_cols)
        .sortWithinPartitions(*key_cols)
        .withColumn("_pid", F.spark_partition_id())
        .transform(snapshot_lazy)
    )
    carries = bounded_collect(
        snap.groupBy("_pid", *group_keys).agg(*partial_aggs),
        "range_scan carries",
        n + (_MAX_GROUPS if group_keys else 0),
    )
    return snap, sorted(carries, key=lambda r: r["_pid"])


def _carry_map(carries: list, col: str, combine, start=None, cast=None) -> Column:
    """The carry of each row's partition: ``combine`` of ``col`` over all
    earlier partitions (``start`` for the first; NULL carries skipped),
    looked up by ``_pid`` in a literal map — or just ``start`` for an
    empty input, where an empty map would not type-check."""
    def lit(v):
        return F.lit(v) if cast is None else F.lit(v).cast(cast)

    entries, run = [], start
    for r in carries:
        entries += [F.lit(r["_pid"]), lit(run)]
        if r[col] is not None:
            run = r[col] if run is None else combine(run, r[col])
    return F.create_map(*entries)[F.col("_pid")] if entries else lit(start)


def _pid_window(order_keys: Sequence[str], group_keys: Sequence[str] = ()):
    """Exclusive running frame within each (partition, group)."""
    return (
        Window.partitionBy("_pid", *group_keys)
        .orderBy(*order_keys)
        .rowsBetween(Window.unboundedPreceding, -1)
    )


def _rank(
    df: DataFrame, keys: Sequence[str], num_partitions: int | None, alias: str
) -> tuple[DataFrame, int]:
    snap, carries = range_scan(
        df, keys, [F.count(F.lit(1)).alias("_n")], num_partitions=num_partitions
    )
    rn = F.row_number().over(Window.partitionBy("_pid").orderBy(*keys))
    rank = (rn + _carry_map(carries, "_n", operator.add, 0)).cast("long")
    return snap.withColumn(alias, rank).drop("_pid"), sum(r["_n"] for r in carries)


def global_rank(
    df: DataFrame,
    keys: Sequence[str],
    num_partitions: int | None = None,
    alias: str = "rnk",
) -> DataFrame:
    """1-based dense global rank by ``keys`` without a single-partition
    window: :func:`range_scan` with per-partition counts, then
    ``row_number`` within each partition plus the rows of all earlier
    partitions.  Requires unique key tuples for a deterministic result.
    """
    return _rank(df, keys, num_partitions, alias)[0]


def global_cumulative_extreme(
    df: DataFrame,
    order_keys: Sequence[str],
    value_col: str,
    alias: str,
    agg: str = "min",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exclusive running MIN/MAX of ``value_col`` over the global
    ``order_keys`` order (extreme of all rows STRICTLY before each row;
    NULL for the global first row) without a single-partition window —
    the skyline/Pareto building block.

    :func:`range_scan` with per-partition extremes; each row combines
    its partition's exclusive window extreme with the extreme of all
    earlier partitions.  ``least``/``greatest`` skip NULLs, so the
    partition-local NULL (first row) and the no-prior-partition NULL
    compose correctly.  Requires unique key tuples per row (group
    first).
    """
    if agg not in ("min", "max"):
        raise ValueError(f"agg must be 'min' or 'max', got {agg!r}")
    fn = F.min if agg == "min" else F.max
    comb = F.least if agg == "min" else F.greatest
    snap, carries = range_scan(
        df, order_keys, [fn(value_col).alias("_t")], num_partitions=num_partitions
    )
    carry = _carry_map(
        carries, "_t", min if agg == "min" else max, cast=df.schema[value_col].dataType
    )
    within = fn(value_col).over(_pid_window(order_keys))
    return snap.withColumn(alias, comb(within, carry)).drop("_pid")


def grouped_global_cumulative_sum(
    df: DataFrame,
    group_keys: Sequence[str],
    order_keys: Sequence[str],
    value_col: str,
    alias: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group exclusive running SUM(``value_col``) over the global
    ``order_keys`` order WITHIN each group, with no per-group
    single-partition window: :func:`range_scan` on (group_keys +
    order_keys) with per-(partition, group) subtotals, a window per
    (partition, group), and each group's running offset across its
    partitions added back as a broadcast join.

    The plain ``Window.partitionBy(group).orderBy(keys)`` is already
    partitioned BY GROUP — this helper matters when ONE group's
    order-key cardinality is itself huge (a hot group's window runs in
    one task); here every group spans as many range partitions as its
    size demands.  Requires unique (group + order) key tuples per row.
    """
    snap, carries = range_scan(
        df, order_keys, [F.sum(value_col).alias("_t")],
        group_keys=group_keys, num_partitions=num_partitions,
    )
    within = F.coalesce(F.sum(value_col).over(_pid_window(order_keys, group_keys)), F.lit(0))
    if not carries:  # empty input: schema inference has nothing to work with
        return snap.withColumn(alias, F.lit(0).cast("long")).drop("_pid")
    # carries come in _pid order and each group's partitions are
    # contiguous, so one running offset per group suffices
    acc: dict[tuple, int] = {}
    rows = []
    for r in carries:
        g = tuple(r[k] for k in group_keys)
        rows.append((r["_pid"],) + g + (acc.get(g, 0),))
        acc[g] = acc.get(g, 0) + (r["_t"] or 0)
    offsets = df.sparkSession.createDataFrame(rows, ["_pid", *group_keys, "_goff"])
    return (
        snap.join(F.broadcast(offsets), on=["_pid", *group_keys])
        .withColumn(alias, (within + F.col("_goff")).cast("long"))
        .drop("_pid", "_goff")
    )


def global_ntile(
    df: DataFrame,
    keys: Sequence[str],
    n_buckets: int,
    alias: str = "ntile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact NTILE(n) over the global ``keys`` order without a
    single-partition window: :func:`global_rank`'s range-partitioned
    rank plus the closed-form bucket from (rank, total) — the first
    ``total % n`` buckets take one extra row, exactly Window-ntile
    semantics.  ``total`` is the sum of the range scan's partition
    counts, so it costs no job of its own.  Requires unique key tuples
    (append a tiebreaker column); for a descending dimension pass a
    negated column.
    """
    ranked, total = _rank(df, keys, num_partitions, "_gnt_rnk")
    small, nbig = divmod(total, int(n_buckets))
    head = nbig * (small + 1)  # rows in the first nbig (larger) buckets
    # the ELSE branch is unreachable when small == 0 (every rank <= head)
    bucket = (
        f"CAST(CASE WHEN _gnt_rnk <= {head} THEN (_gnt_rnk - 1) div {small + 1} + 1 "
        f"ELSE {nbig} + (_gnt_rnk - 1 - {head}) div {max(small, 1)} + 1 END AS INT)"
    )
    return ranked.withColumn(alias, F.expr(bucket)).drop("_gnt_rnk")


def validate_sorted(df: DataFrame, keys: Sequence[str]) -> bool:
    """Teravalidate equivalent: is ``df`` physically in global ``keys`` order?

    One action, no global window: tag each row with its partition id and
    ``monotonically_increasing_id`` (partition index + in-partition
    position), then per partition count the rows whose key tuple drops
    below the previous physical row's (a lag window keyed by partition
    id) alongside the partition's min and max key.  The per-partition
    summaries come back in one bounded collect; ``df`` is ordered iff no
    partition has a drop and each non-empty partition's max is at most
    the next non-empty partition's min.
    """
    tagged = df.select(
        F.spark_partition_id().alias("_pid"),
        F.monotonically_increasing_id().alias("_mid"),
        F.struct(*keys).alias("_key"),
    )
    prev = F.lag("_key").over(Window.partitionBy("_pid").orderBy("_mid"))
    summary = (
        tagged.withColumn("_prev", prev)
        .groupBy("_pid")
        .agg(
            F.count(F.when(F.col("_prev") > F.col("_key"), 1)).alias("drops"),
            F.min("_key").alias("lo"),
            F.max("_key").alias("hi"),
        )
    )
    parts = sorted(
        bounded_collect(summary, "validate_sorted partition summaries", _MAX_PARTITIONS),
        key=lambda r: r["_pid"],
    )
    return not any(r["drops"] for r in parts) and all(
        a["hi"] <= b["lo"] for a, b in zip(parts, parts[1:])
    )


def global_cumulative_sums(
    df: DataFrame,
    order_keys: Sequence[str],
    value_cols: Sequence[str],
    aliases: Sequence[str],
    num_partitions: int | None = None,
    result_cast: str | None = "long",
) -> DataFrame:
    """Exclusive running SUM of each of ``value_cols`` (sum of all rows
    STRICTLY before each row), aliased by ``aliases``, over the global
    ``order_keys`` order without a single-partition window.
    ``result_cast=None`` keeps each sum's natural type (e.g. exact
    DECIMAL running totals); the default long cast suits counting
    applications.

    :func:`range_scan` with per-partition subtotals; each row adds its
    partition's exclusive window sum to the subtotals of all earlier
    partitions.  A naive ``Window.orderBy(keys)`` forces every row
    through ONE task; this keeps the window partitioned and scales with
    cluster width.  All columns share the one scan, so CDF-style
    readouts (e.g. the two-sample KS statistic needs both class counts
    cumulated over one score order) cost a single pass.  Requires unique
    key tuples per row (group first — the callers feed distinct-key
    grouped relations).
    """
    assert len(value_cols) == len(aliases)
    snap, carries = range_scan(
        df, order_keys,
        [F.sum(v).alias(f"_t{i}") for i, v in enumerate(value_cols)],
        num_partitions=num_partitions,
    )
    w = _pid_window(order_keys)
    out = snap
    for i, (vcol, alias) in enumerate(zip(value_cols, aliases)):
        carry = _carry_map(carries, f"_t{i}", operator.add, 0)
        total = F.coalesce(F.sum(vcol).over(w), F.lit(0)) + carry
        if result_cast is not None:
            total = total.cast(result_cast)
        out = out.withColumn(alias, total)
    return out.drop("_pid")

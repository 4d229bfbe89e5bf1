"""Total-order sort + validation — the terasort slice (SURVEY §2.3).

The reference achieves global order via Hadoop's TotalOrderPartitioner
(range partition) + per-reducer merge (scripts/regression/executeMain.sh:
230-252); the contractual property is the *output ordering*, which Spark's
``orderBy`` guarantees with the same physical strategy (sampled range
partitioner + per-partition sort — no single-node sort barrier, scales to
any cluster width).

``validate_sorted`` is the teravalidate equivalent
(scripts/regression/mr-dstatExcel.sh:249-302): it checks physical order
without a global shuffle — per-partition monotonicity plus a tiny
partition-boundary check (num_partitions rows on the driver).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

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


def get_checkpoint_mode() -> str:
    return _CHECKPOINT_MODE


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
    immediately-following full-pass action (the offsets/convergence
    probe every two-pass operator and iterative loop runs anyway)
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


def global_rank(
    df: DataFrame,
    keys: Sequence[str],
    num_partitions: int | None = None,
    alias: str = "rnk",
) -> DataFrame:
    """1-based dense global rank by ``keys`` without a single-partition
    window (the scalable total-order-rank pattern).

    Range-partition by the keys, row_number within each partition, then add
    per-partition offsets (one tiny driver-side pass over num_partitions
    counts — the same metadata volume as the reference's MOF index, O2).
    Requires unique key tuples for a deterministic result.
    """
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    key_cols = [F.col(k) for k in keys]
    parted = df.repartitionByRange(n, *key_cols).sortWithinPartitions(*key_cols)
    # Checkpoint (snapshot), not persist: the offsets job and the
    # rank job must observe the SAME physical partition ids.  A persisted
    # plan can still recompute (cache eviction / executor loss), and a
    # re-evaluated range exchange may be coalesced differently by AQE per
    # downstream plan, silently shifting ids between the two jobs.
    # Checkpointing truncates lineage so both jobs read the one
    # materialized snapshot; local vs reliable is set_checkpoint_mode.
    # LAZY variant: the offsets collect below is the single full-pass
    # consumer that materializes the checkpoint — one job, not two.
    snap = parted.withColumn("_pid", F.spark_partition_id()).transform(snapshot_lazy)
    w = Window.partitionBy("_pid").orderBy(*key_cols)
    ranked = snap.withColumn("_rn", F.row_number().over(w))

    counts = sorted(
        ranked.groupBy("_pid").count().collect(), key=lambda r: r["_pid"]
    )
    offsets: dict[int, int] = {}
    acc = 0
    for row in counts:
        offsets[row["_pid"]] = acc
        acc += row["count"]
    offset_map = F.create_map(
        *[F.lit(v) for pid_off in offsets.items() for v in pid_off]
    )
    return (
        ranked.withColumn(alias, (F.col("_rn") + offset_map[F.col("_pid")]).cast("long"))
        .drop("_pid", "_rn")
    )


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

    Same two-pass shape as :func:`global_cumulative_sums`: range-partition
    on the keys, exclusive window per physical partition, then combine
    with the prefix-extreme of the per-partition extremes, collected as
    O(num_partitions) driver metadata and broadcast back as a literal
    map.  ``least``/``greatest`` skip NULLs, so the partition-local NULL
    (first row) and the no-prior-partition NULL compose correctly.
    Requires unique key tuples per row (group first).
    """
    if agg not in ("min", "max"):
        raise ValueError(f"agg must be 'min' or 'max', got {agg!r}")
    fn = F.min if agg == "min" else F.max
    comb = F.least if agg == "min" else F.greatest
    py_comb = min if agg == "min" else max
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    key_cols = [F.col(k) for k in order_keys]
    dt = df.schema[value_col].dataType
    parted = df.repartitionByRange(n, *key_cols).sortWithinPartitions(*key_cols)
    # snapshot() for the same reason as global_rank: the extremes job
    # and the window job must observe identical physical partition ids.
    snap = parted.withColumn("_pid", F.spark_partition_id()).transform(snapshot_lazy)
    w = (
        Window.partitionBy("_pid")
        .orderBy(*key_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = fn(value_col).over(w)

    totals = sorted(
        snap.groupBy("_pid").agg(fn(value_col).alias("_t")).collect(),
        key=lambda r: r["_pid"],
    )
    prefix: dict[int, object] = {}
    run = None
    for row in totals:
        prefix[row["_pid"]] = run
        if row["_t"] is not None:
            run = row["_t"] if run is None else py_comb(run, row["_t"])
    offset_map = F.create_map(
        *[
            c
            for pid, off in prefix.items()
            for c in (F.lit(pid), F.lit(off).cast(dt))
        ]
    )
    return snap.withColumn(alias, comb(within, offset_map[F.col("_pid")])).drop("_pid")


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
    single-partition window: range-partition on (group_keys +
    order_keys), window per (physical partition, group), then add
    per-(partition, group) subtotals back as a broadcast offset join.

    The plain ``Window.partitionBy(group).orderBy(keys)`` is already
    partitioned BY GROUP — this helper matters when ONE group's
    order-key cardinality is itself huge (a hot group's window runs in
    one task); here every group spans as many range partitions as its
    size demands.  Because range partitions cover contiguous
    (group, order) spans, the collected offset relation has at most
    num_partitions + num_groups rows — driver metadata, same class as
    :func:`global_rank`'s counts.  Requires unique
    (group + order) key tuples per row.
    """
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    gcols = [F.col(k) for k in group_keys]
    ocols = [F.col(k) for k in order_keys]
    parted = df.repartitionByRange(n, *gcols, *ocols).sortWithinPartitions(
        *gcols, *ocols
    )
    snap = parted.withColumn("_pid", F.spark_partition_id()).transform(snapshot_lazy)
    w = (
        Window.partitionBy("_pid", *group_keys)
        .orderBy(*ocols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = F.coalesce(F.sum(value_col).over(w), F.lit(0))

    totals = snap.groupBy("_pid", *group_keys).agg(F.sum(value_col).alias("_t")).collect()
    # running offset per group across its (contiguous) partition span
    acc: dict[tuple, int] = {}
    rows = []
    for r in sorted(totals, key=lambda r: (tuple(r[k] for k in group_keys), r["_pid"])):
        g = tuple(r[k] for k in group_keys)
        rows.append((r["_pid"],) + g + (acc.get(g, 0),))
        acc[g] = acc.get(g, 0) + (r["_t"] or 0)
    if not rows:  # empty input: schema inference has nothing to work with
        return snap.withColumn(alias, F.lit(0).cast("long")).drop("_pid")
    offsets = spark.createDataFrame(
        rows, ["_pid", *group_keys, "_goff"]
    )
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
    single-partition window: :func:`global_rank`'s two-pass
    range-partitioned rank plus the closed-form bucket from
    (rank, total) — the first ``total % n`` buckets take one extra row,
    exactly Window-ntile semantics.  Requires unique key tuples (append
    a tiebreaker column); for a descending dimension pass a negated
    column.  ``total`` is the max rank, broadcast as one row.
    """
    n = int(n_buckets)
    ranked = global_rank(df, keys, num_partitions=num_partitions, alias="_gnt_rnk")
    tot = ranked.agg(F.max("_gnt_rnk").alias("_gnt_total"))
    big = f"(_gnt_total div {n} + 1)"
    nbig = f"(_gnt_total % {n})"
    bucket = (
        f"CAST(CASE WHEN _gnt_rnk <= {nbig} * {big} "
        f"THEN (_gnt_rnk - 1) div {big} + 1 "
        f"ELSE {nbig} + (_gnt_rnk - 1 - {nbig} * {big})"
        f" div (_gnt_total div {n}) + 1 END AS INT)"
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn(alias, F.expr(bucket))
        .drop("_gnt_rnk", "_gnt_total")
    )


def validate_sorted(df: DataFrame, keys: Sequence[str]) -> bool:
    """Teravalidate equivalent: is ``df`` physically in global ``keys`` order?

    Scalable strategy (no global window):
      1. snapshot physical order with ``monotonically_increasing_id`` (which
         encodes partition index + in-partition position);
      2. per partition, count rows where the key tuple decreases vs the
         previous physical row (distributed window keyed by partition id);
      3. check partition boundaries: max(partition i) <= min(partition i+1)
         over one tiny collected row per partition.
    """
    snap = df.select(
        F.spark_partition_id().alias("_pid"),
        F.monotonically_increasing_id().alias("_mid"),
        F.struct(*[F.col(k) for k in keys]).alias("_key"),
    )
    w = Window.partitionBy("_pid").orderBy("_mid")
    within_violations = (
        snap.withColumn("_prev", F.lag("_key").over(w))
        .where(F.col("_prev").isNotNull() & (F.col("_prev") > F.col("_key")))
        .count()
    )
    if within_violations:
        return False

    bounds = (
        snap.groupBy("_pid")
        .agg(F.min("_key").alias("lo"), F.max("_key").alias("hi"))
        .orderBy("_pid")
        .collect()
    )
    for prev, cur in zip(bounds, bounds[1:]):
        if prev["hi"] > cur["lo"]:
            return False
    return True


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

    Same two-pass shape as :func:`global_rank`: range-partition on the
    keys, window within each physical partition, then add
    per-partition subtotals collected as O(num_partitions) driver
    metadata and broadcast back as a literal map.  A naive
    ``Window.orderBy(keys)`` forces every row through ONE task; this
    keeps the window partitioned and scales with cluster width.  All
    columns share the one range exchange, checkpoint and subtotal
    collect, so CDF-style readouts (e.g. the two-sample KS statistic
    needs both class counts cumulated over one score order) cost a
    single pass.  Requires unique key tuples per row (group first — the
    callers feed distinct-key grouped relations).
    """
    assert len(value_cols) == len(aliases)
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    key_cols = [F.col(k) for k in order_keys]
    parted = df.repartitionByRange(n, *key_cols).sortWithinPartitions(*key_cols)
    # snapshot(): the subtotal job and the window job must see the
    # same physical partition ids (see global_rank)
    snap = parted.withColumn("_pid", F.spark_partition_id()).transform(snapshot_lazy)
    w = (
        Window.partitionBy("_pid")
        .orderBy(*key_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    totals = sorted(
        snap.groupBy("_pid")
        .agg(*[F.sum(v).alias(f"_t{i}") for i, v in enumerate(value_cols)])
        .collect(),
        key=lambda r: r["_pid"],
    )
    out = snap
    for i, (vcol, alias) in enumerate(zip(value_cols, aliases)):
        offsets: dict[int, int] = {}
        acc = 0
        for row in totals:
            offsets[row["_pid"]] = acc
            acc += row[f"_t{i}"] or 0
        offset_map = F.create_map(
            *[F.lit(v) for pid_off in offsets.items() for v in pid_off]
        )
        total = F.coalesce(F.sum(vcol).over(w), F.lit(0)) + offset_map[F.col("_pid")]
        if result_cast is not None:
            total = total.cast(result_cast)
        out = out.withColumn(alias, total)
    return out.drop("_pid")

"""Structured Streaming twins of the batch event operators.

The reference is batch-shuffle only (SURVEY §2.2: no streaming), but the
events table is a stream in disguise; these operators give the engine the
readStream → watermark → windowed-agg → writeStream path.  Semantics are
kept identical to the batch queries in uda_spark/queries/events.py (same
microsecond normalization, same gap/window definitions) so batch output
is the correctness oracle for the streaming output — asserted in
tests/test_streaming.py.

Scale notes: watermarks bound state; the aggregation state store is keyed
by (window, type) / session key, so state size is O(active windows), not
O(events).  File-source streaming here stands in for Kafka/queue sources
in production — the operator graph is source-agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uda_spark.cache import scratch_dir
from uda_spark.sources.tables import event_micros, table_path

# Compressed input bytes per streaming STATE partition.  Stateful
# exchanges are outside AQE's reach (coalescing never fires on a state
# store), so the partition count would otherwise be whatever
# spark.sql.shuffle.partitions says — a constant tuned for batch width.
# Every state partition pays a fixed per-micro-batch cost (store open,
# delta write, commit, snapshot bookkeeping) of ~10-100 ms locally, so a
# partition must hold enough state to amortize it; measured at sf0.1
# (2 MB events input, availableNow): the stream-stream join runs 2.8 s at
# 4 state partitions vs 10-80 s at 32, the windowed rollups ~2-3x faster.
# At 100 TB the defaultParallelism cap binds instead and this knob is
# inert — it only trims the SMALL end, exactly like AQE coalescing does
# for stateless exchanges.  Env-overridable for production tuning.
STATE_PARTITION_TARGET_BYTES = int(
    os.environ.get("UDA_STREAM_STATE_TARGET_BYTES", str(512 * 1024))
)


def input_bytes(*paths: str) -> int:
    """Total on-disk bytes of the given files/directories (local FS; a
    cluster deployment would ask the Hadoop FS the same question)."""
    total = 0
    for p in paths:
        if os.path.isdir(p):
            for root, _, files in os.walk(p):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        elif os.path.exists(p):
            total += os.path.getsize(p)
    return total


def scaled_state_partitions(spark: SparkSession, *paths: str) -> int:
    """Streaming state-partition count derived from INPUT SIZE (guide §2:
    scale-adaptive partitioning, not a constant tuned for either local
    mode or the cluster): ceil(input_bytes / target) clamped to
    [1, defaultParallelism]."""
    size = input_bytes(*paths)
    cap = max(1, spark.sparkContext.defaultParallelism)
    t = STATE_PARTITION_TARGET_BYTES
    return max(1, min((size + t - 1) // t, cap))


def events_file_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with an event-time column.

    The physical ``ts`` layout varies (int64 nanos or timestamp[us], see
    sources/tables.py:event_micros); event time is reconstructed at
    microsecond precision for watermarking, alongside the exact integer
    ts_us used by value logic.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    # The test tables are single parquet FILES; the file-stream source
    # requires a directory, so stream the sf dir filtered to the one file.
    stream = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return stream.withColumn("ts_us", event_micros(stream)).withColumn(
        "event_time", F.timestamp_micros(F.col("ts_us"))
    )


def hourly_counts_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour windowed counts with late-data watermark —
    streaming twin of the events_hourly_rollup batch query."""
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", "1 hour"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("bucket_epoch"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts_stream(
    events: DataFrame,
    duration: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding (overlapping) windowed counts: each event lands in
    duration/slide windows — the moving-average / trailing-window shape
    tumbling windows can't express.  State is O(open windows × types),
    watermark-evicted like the tumbling variant."""
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", duration, slide), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_epoch"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize_stream(
    events: DataFrame, gap_seconds: int = 1800, watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based session aggregation via native session windows —
    streaming twin of the events_sessionize batch query (same gap rule).

    ``session_window`` merges events whose gaps are < gap into one growing
    window; the watermark lets the state store emit and drop closed
    sessions — bounded state on an unbounded stream.
    """
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(F.session_window("event_time", f"{gap_seconds} seconds"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.expr("min(ts_us) div 1000000").alias("session_start"),
            F.expr("max(ts_us) div 1000000").alias("session_end"),
        )
        .select("user_id", "n_events", "session_start", "session_end")
    )


def run_stream_to_memory(
    result: DataFrame,
    name: str,
    mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming query over all currently-available input
    (availableNow trigger) into an in-memory table; returns the table as a
    DataFrame.  Used by tests to compare streaming vs batch output.

    The checkpoint lives under :func:`uda_spark.cache.scratch_dir`, so
    ``release_persisted`` deletes it whether the stream succeeded or
    failed (Spark's default temp checkpoint is left behind in the JVM
    temp dir when a stream fails).

    ``state_partitions`` (see :func:`scaled_state_partitions`) sizes the
    stateful exchanges for the query: the state-store partition count is
    fixed from ``spark.sql.shuffle.partitions`` at query start and AQE
    never coalesces it, so it is set here for the duration of the start
    and restored after — partitioning never changes WHAT a keyed
    aggregation/join/dedup emits, only how it is split."""
    spark = result.sparkSession
    saved = None
    if state_partitions is not None:
        saved = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        query = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", scratch_dir("uda_stream_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        if saved is not None:
            spark.conf.set("spark.sql.shuffle.partitions", saved)
    return result.sparkSession.table(name)


def purchase_after_signup_stream(
    events: DataFrame, events2: DataFrame, window_s: int = 3600, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream inner join: purchases joined to the same user's
    signups that happened in the preceding ``window_s`` seconds.

    Both sides carry watermarks and the join condition time-bounds the
    match (signup_time <= purchase_time <= signup_time + window), so the
    state store can expire both sides — the REQUIRED shape for an
    unbounded stream-stream join (unbounded conditions would grow state
    forever).  One availableNow pass over static input equals the batch
    range join, which is the oracle.
    """
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts_us").alias("p_ts_us"),
            F.col("event_time").alias("p_time"),
        )
        .withWatermark("p_time", watermark)
    )
    signups = (
        events2.where(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("s_user_id"),
            F.col("ts_us").alias("s_ts_us"),
            F.col("event_time").alias("s_time"),
        )
        .withWatermark("s_time", watermark)
    )
    joined = purchases.join(
        signups,
        (F.col("user_id") == F.col("s_user_id"))
        & (F.col("s_time") <= F.col("p_time"))
        & (F.col("p_time") <= F.col("s_time") + F.expr(f"INTERVAL {window_s} SECONDS")),
    )
    return joined.select(
        "purchase_id",
        "user_id",
        "signup_id",
        F.expr("(p_ts_us - s_ts_us) div 1000000").alias("lag_seconds"),
    )


def enrich_static_stream(
    events: DataFrame, dim: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-static enrichment: join the event stream to a static
    dimension table, then windowed counts per dimension attribute — the
    classic "enrich clickstream with user/account metadata" shape.

    The static side needs NO state store: Spark re-resolves and
    broadcasts it into every micro-batch (so a slowly-changing dim picks
    up updates batch-to-batch); only the downstream windowed aggregation
    holds (watermark-bounded) state.  At 100 TB of stream the dimension
    is still dimension-sized — the stream never shuffles for the join.
    """
    joined = events.join(
        F.broadcast(dim), events["user_id"] == dim["c_custkey"]
    )
    return (
        joined.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", "1 hour"), F.col("c_nationkey"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("bucket_epoch"),
            F.col("c_nationkey").cast("long").alias("nation_key"),
            "n_events",
        )
    )


def cms_sketch_stream(events: DataFrame, d: int = 4, w: int = 256) -> DataFrame:
    """Count-min sketch maintained as streaming state: every event
    increments ``d`` counters keyed by salted portable hashes of its
    user_id, so state is bounded at d×w counters regardless of how many
    distinct users the unbounded stream ever sees — the O(1)-memory
    heavy-hitter tracker (contrast: exact per-key streaming counts grow
    state with the key universe)."""
    from uda_spark.functions import portable

    bucket = (
        "("
        + portable.hash60(
            "concat('cms', CAST(d AS STRING), '|', CAST(user_id AS STRING))", "spark"
        )
        + f") % {w}"
    )
    return (
        events.select("user_id", F.explode(F.expr(f"sequence(0, {d - 1})")).alias("d"))
        .select("d", F.expr(bucket).alias("bucket"))
        .groupBy("d", "bucket")
        .agg(F.count("*").alias("c"))
    )

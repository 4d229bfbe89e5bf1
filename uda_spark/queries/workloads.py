"""UDA acceptance-workload queries (SURVEY §2.3): terasort, sort,
wordcount, pi, dfsio — each as an oracle-checked query.

dfsio_roundtrip is the TestDFSIO equivalent
(reference scripts/regression/testDFSIORunner.sh, defaultsConf.sh:67-69):
deterministic payloads -> bulk write -> read-back -> (row count, checksum)
compared against a DuckDB oracle that recomputes the same payloads without
touching the files — so the round-trip through the storage layer is what
is actually being checked.  Throughput at real volume is bench territory;
correctness of the write/read path is oracle territory.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uda_spark.cache import scratch_dir
from uda_spark.functions import portable
from uda_spark.operators import kv as KV
from uda_spark.operators import sort as SRT
from uda_spark.operators.workloads import wordcount
from uda_spark.queries.common import t
from uda_spark.registry import register

PI_SAMPLES = 1_000_000
_PI_X = portable.lcg_unit("id", 1103515245, 12345)
_PI_Y = portable.lcg_unit("id", 69069, 1)
_PI_INSIDE = f"IF(({_PI_X}) * ({_PI_X}) + ({_PI_Y}) * ({_PI_Y}) <= 1.0, 1, 0)"


@register(
    "terasort_rank",
    oracle="""
SELECT ROW_NUMBER() OVER (ORDER BY k) AS rnk, k AS key_hex
FROM (SELECT md5('ts|' || event_id::VARCHAR) AS k FROM events)
""",
    tags=("workload", "sort"),
)
def terasort_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terasort slice: derive binary keys, total-order sort them, emit the
    global rank (teravalidate checks order; the rank IS the order).

    Binary sort of unhex(md5) equals DuckDB's lexicographic sort of the
    hex string (unsigned bytewise — CompareFunc.cc:70-73 semantics).
    Global rank uses the scalable range-partition + offset pattern, not a
    single-partition window.
    """
    ev = t(spark, sf_dir, "events").select(
        F.md5(F.concat(F.lit("ts|"), F.col("event_id").cast("string"))).alias("key_hex")
    )
    keyed = ev.select(F.unhex("key_hex").alias("key_bin"), "key_hex")
    ranked = SRT.global_rank(keyed, ["key_bin"], alias="rnk")
    return ranked.select("rnk", "key_hex")


@register(
    "sort_by_key",
    oracle="""
SELECT ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rnk,
       l_orderkey, l_linenumber
FROM lineitem
WHERE l_orderkey % 5 = 0
""",
    tags=("workload", "sort"),
)
def sort_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sortByKey workload equivalent (typed keys instead of raw bytes)."""
    li = t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 5 == 0).select(
        "l_orderkey", "l_linenumber"
    )
    return SRT.global_rank(li, ["l_orderkey", "l_linenumber"], alias="rnk").select(
        "rnk", "l_orderkey", "l_linenumber"
    )


@register(
    "wordcount_documents",
    oracle="""
SELECT w AS word, COUNT(*)::BIGINT AS cnt
FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
WHERE w <> ''
GROUP BY w
""",
    tags=("workload", "aggregation", "text"),
)
def wordcount_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wordcount acceptance workload over the documents table."""
    return wordcount(t(spark, sf_dir, "documents"), "text")


@register(
    "kv_partition_merge",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
    tags=("workload", "kv"),
)
def kv_partition_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core dataflow (O3-O5): hash-exchange + per-partition
    merge-sort.  Pure rearrangement — oracle is the identity projection;
    sortedness itself is asserted in tests via validate_sorted."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    return KV.partition_and_merge(li, ["l_orderkey", "l_linenumber"])


@register(
    "kv_reduce_by_key",
    oracle="""
SELECT user_id, event_type, COUNT(*)::BIGINT AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY user_id, event_type
""",
    tags=("workload", "kv", "aggregation"),
)
def kv_reduce_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition+merge+reduce (O11/O13 consumer) with map-side combine."""
    ev = t(spark, sf_dir, "events")
    return KV.reduce_merged(
        ev,
        ["user_id", "event_type"],
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )


DFSIO_ROWS = 2000
DFSIO_PAYLOAD_HEX_CHARS = 2048  # 1 KiB binary payload per row
_DFSIO_HEX = "lower(hex(payload))"


@register(
    "dfsio_roundtrip",
    oracle=f"""
SELECT COUNT(*)::BIGINT AS n_rows,
       bit_xor({portable.hash60('payload_hex', 'duck')}) AS checksum
FROM (
  SELECT rpad(sha256(id::VARCHAR), {DFSIO_PAYLOAD_HEX_CHARS}, 'ab') AS payload_hex
  FROM range(0, {DFSIO_ROWS}) t(id)
)
""",
    tags=("workload", "io"),
)
def dfsio_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TestDFSIO equivalent: deterministic binary payloads are written to
    parquet, read back, and reduced to (row count, 60-bit xor checksum).

    The oracle recomputes the identical payloads in DuckDB from the same
    generator (sha256 of the row id, rpad to width) WITHOUT reading the
    written files — a checksum mismatch therefore means the storage
    round-trip corrupted or dropped data.  xor (not sum) keeps the
    checksum inside 60 bits regardless of row count.  Scale: both the
    write and the read-back aggregate are embarrassingly parallel; the
    only exchange is the final 1-row reduce.
    """
    path = scratch_dir("uda_dfsio")
    payload_hex = F.rpad(
        F.sha2(F.col("id").cast("string"), 256), DFSIO_PAYLOAD_HEX_CHARS, "ab"
    )
    df = spark.range(DFSIO_ROWS).select(
        "id", F.to_binary(payload_hex, F.lit("hex")).alias("payload")
    )
    df.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.expr(f"bit_xor({portable.hash60(_DFSIO_HEX, 'spark')})").alias("checksum"),
    )


@register(
    "pi_estimate",
    oracle=f"""
SELECT SUM({_PI_INSIDE})::BIGINT * 4.0 / {PI_SAMPLES} AS pi_est
FROM range(0, {PI_SAMPLES}) r(id)
""",
    tags=("workload",),
)
def pi_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo pi from a deterministic integer LCG — identical sample
    stream in both engines; reference tolerance 0.1 (defaultsConf.sh:70-72)
    asserted in tests."""
    return (
        spark.range(PI_SAMPLES)
        .select(F.expr(_PI_INSIDE).cast("long").alias("inside"))
        .agg((F.sum("inside") * 4.0 / PI_SAMPLES).alias("pi_est"))
    )


DIGEST_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
_DIGEST_JOIN_DUCK = "concat_ws('|', " + ", ".join(
    f"coalesce(CAST({c} AS VARCHAR), chr(0))" for c in DIGEST_COLS
) + ")"


@register(
    "table_digest_orders",
    oracle=f"""
WITH h AS (
  SELECT {portable.hash60(_DIGEST_JOIN_DUCK, 'duck')} AS h FROM orders
)
SELECT COUNT(*)::BIGINT AS n_rows,
       bit_xor(h)::BIGINT AS xor_digest,
       CAST(SUM(h) % {1 << 60} AS BIGINT) AS sum_digest
FROM h
""",
    tags=("workload", "validation"),
)
def table_digest_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table checksum over the orders relation
    (integer/string columns — the portable-cast subset): the
    migration/backfill validation primitive.  Commutative aggregates of
    a 60-bit row hash make the digest independent of partitioning and
    merge order; map-side reduction leaves O(partitions) shuffle bytes.
    Same digest definition runs on both engines, so the driver
    value-hash IS a cross-engine data-equality check.
    """
    from uda_spark.operators.workloads import table_digest

    return table_digest(t(spark, sf_dir, "orders"), list(DIGEST_COLS))


@register(
    "kv_pyds_roundtrip",
    oracle=f"""
SELECT COUNT(*)::BIGINT AS n_rows,
       bit_xor({portable.hash60("o_orderkey::VARCHAR || '|' || o_orderstatus", 'duck')}) AS checksum
FROM orders
""",
    tags=("formats", "io", "kv", "datasource"),
)
def kv_pyds_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VInt-framed KV round trip through the *native Spark 4 Python
    DataSource* surface (``format("uda_kv")``, sources/pyds.py) rather
    than the imperative binaryFiles reader: write orders KV pairs as
    per-task MOF-style segments under a commit protocol, read them back
    with per-file partition planning, and checksum.

    Same wire format and same oracle as `kv_vint_stream_roundtrip` —
    what this adds is the connector contract itself: planner-visible
    partitions, all-or-nothing commit, and `.format(...)` ergonomics a
    migrating user expects from a first-class source.
    """
    from uda_spark.sources import pyds

    pyds.register(spark)
    path = scratch_dir("uda_pyds")
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").cast("binary").alias("key"),
        F.col("o_orderstatus").cast("binary").alias("value"),
    )
    o.write.format("uda_kv").mode("overwrite").save(path)
    back = spark.read.format("uda_kv").load(path)
    chk = portable.hash60(
        "concat(cast(key AS STRING), '|', cast(value AS STRING))", "spark"
    )
    return back.agg(
        F.count("*").alias("n_rows"), F.expr(f"bit_xor({chk})").alias("checksum")
    )


_KV_SINK_IDS = itertools.count()


@register(
    "kv_pyds_stream_ingest",
    oracle=f"""
SELECT COUNT(*)::BIGINT AS n_rows,
       bit_xor({portable.hash60("o_orderkey::VARCHAR || '|' || o_orderstatus", 'duck')}) AS checksum
FROM orders
""",
    tags=("formats", "io", "kv", "datasource", "streaming"),
)
def kv_pyds_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ingest through the uda_kv Python DataSource: the same
    VInt segment directory as `kv_pyds_roundtrip`, consumed via
    ``readStream.format("uda_kv")`` (sources/pyds.py simpleStreamReader
    — micro-batch offsets over segment names) with an availableNow
    drain into a memory sink, then checksummed.

    One availableNow pass over static segments must equal the batch
    read, so the BATCH oracle checks the STREAMING result — the same
    strongest-available equivalence statement the windowed streaming
    queries use, here proving the custom connector's offset accounting
    loses and duplicates nothing.
    """
    from uda_spark.sources import pyds
    from uda_spark.streaming.windows import (
        run_stream_to_memory,
        scaled_state_partitions,
    )

    pyds.register(spark)
    path = scratch_dir("uda_pyds_stream")
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").cast("binary").alias("key"),
        F.col("o_orderstatus").cast("binary").alias("value"),
    )
    o.write.format("uda_kv").mode("overwrite").save(path)
    stream = spark.readStream.format("uda_kv").load(path)
    chk = portable.hash60(
        "concat(cast(key AS STRING), '|', cast(value AS STRING))", "spark"
    )
    agg = stream.agg(
        F.count("*").alias("n_rows"), F.expr(f"bit_xor({chk})").alias("checksum")
    )
    return run_stream_to_memory(
        agg,
        f"kv_stream_sink_{next(_KV_SINK_IDS)}",
        state_partitions=scaled_state_partitions(spark, path),
    )


@register(
    "federated_mixed_format_scan",
    oracle=f"""
SELECT COUNT(*)::BIGINT AS n_rows,
       COUNT(DISTINCT s_nationkey)::BIGINT AS n_nations,
       bit_xor({portable.hash60("s_suppkey::VARCHAR || '|' || s_name", 'duck')}) AS checksum
FROM supplier
""",
    tags=("formats", "io", "federation"),
)
def federated_mixed_format_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated heterogeneous-format scan: ONE logical table whose
    thirds live in parquet, CSV, and JSON (the mid-migration reality of
    every long-lived data platform), read back through three format
    readers, unioned by name, and digest-reconciled against the
    original relation — proving the union is lossless across format
    boundaries (CSV's string-typed readback is the classic silent
    corruption; the explicit schema on re-read prevents it, and the
    checksum would catch it).

    Scale shape: each leg scans independently (predicate pushdown and
    pruning still per-format where supported); unionByName is a
    zero-shuffle plan node; only the final digest aggregates.
    """
    from uda_spark.sources import formats as FMT

    sup = t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    base = scratch_dir("uda_fed")
    legs = {
        "parquet": sup.where(F.col("s_suppkey") % 3 == 0),
        "csv": sup.where(F.col("s_suppkey") % 3 == 1),
        "json": sup.where(F.col("s_suppkey") % 3 == 2),
    }
    legs["parquet"].write.mode("overwrite").parquet(f"{base}/parquet")
    FMT.write_csv(legs["csv"], f"{base}/csv")
    FMT.write_json(legs["json"], f"{base}/json")

    schema = "s_suppkey LONG, s_name STRING, s_nationkey INT"
    p = spark.read.parquet(f"{base}/parquet")
    c = spark.read.schema(schema).option("header", "true").csv(f"{base}/csv")
    j = spark.read.schema(schema).json(f"{base}/json")
    fed = p.unionByName(c).unionByName(j)
    chk = portable.hash60(
        "concat(CAST(s_suppkey AS STRING), '|', s_name)", "spark"
    )
    return fed.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("s_nationkey").cast("long").alias("n_nations"),
        F.expr(f"bit_xor({chk})").alias("checksum"),
    )

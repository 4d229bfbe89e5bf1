"""Format-surface round-trip queries: CSV, JSON, ORC (SURVEY §2.2 file
formats; reference scope is raw MOF byte files — src/Merger/StreamRW.cc —
so the standard-format surface is engine-added).

Each query writes a source table through the format under test
(sources/formats.py writers), reads it back with an explicit schema (no
inference — that is a full extra pass at 100 TB), and returns the rows.
The DuckDB oracle reads the ORIGINAL parquet, so any loss in the
write/read round trip (quoting, null handling, float formatting)
hash-mismatches.  CSV deliberately routes a DOUBLE column to prove the
text round trip is bit-exact (Java shortest-round-trip formatting).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uda_spark.cache import scratch_dir
from uda_spark.functions import portable
from uda_spark.queries.common import t
from uda_spark.registry import register
from uda_spark.sources import formats as FMT


@register(
    "csv_roundtrip_supplier",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    tags=("formats", "io"),
)
def csv_roundtrip_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → CSV (headered, quoted) → explicit-schema scan → rows.

    The s_acctbal DOUBLE column proves text round-trip exactness."""
    src = t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    path = scratch_dir("uda_fmt_csv")
    FMT.write_csv(src, path)
    return FMT.read_csv(spark, path, src.schema)


@register(
    "json_roundtrip_nation",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("formats", "io"),
)
def json_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → JSON lines → explicit-schema scan → rows."""
    src = t(spark, sf_dir, "nation")
    path = scratch_dir("uda_fmt_json")
    FMT.write_json(src, path)
    return FMT.read_json(spark, path, src.schema)


@register(
    "text_roundtrip_documents",
    oracle=f"""
SELECT COUNT(*)::BIGINT AS n_rows,
       bit_xor({portable.hash60('text', 'duck')}) AS checksum
FROM documents
""",
    tags=("formats", "io", "text"),
)
def text_roundtrip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → line-oriented text files (the randomtextwriter-
    style wordcount input) → read_text scan → (rows, checksum).  The
    oracle recomputes the checksum from the original column, so line
    framing (no quoting layer — text must be newline-free) is what is
    checked."""
    path = scratch_dir("uda_fmt_text")
    src = t(spark, sf_dir, "documents").select("text")
    src.write.mode("overwrite").text(path)
    back = FMT.read_text(spark, path)
    chk = portable.hash60("value", "spark")
    return back.agg(
        F.count("*").alias("n_rows"), F.expr(f"bit_xor({chk})").alias("checksum")
    )


@register(
    "kv_sequencefile_roundtrip",
    oracle=f"""
SELECT COUNT(*)::BIGINT AS n_rows,
       bit_xor({portable.hash60("event_id::VARCHAR || '|' || event_type", 'duck')}) AS checksum
FROM events
""",
    tags=("formats", "io", "kv"),
)
def kv_sequencefile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events (event_id, event_type) → Hadoop SequenceFile (native Writable
    conversion) → read-back → (rows, 60-bit xor checksum).  The oracle
    recomputes the checksum from the original table, so the Writable
    round trip is what is checked — the standard-container half of the
    reference's Hadoop KV input domain (SURVEY §1.5)."""
    from uda_spark.sources import hadoop_kv as HKV

    path = scratch_dir("uda_fmt_seq")
    ev = t(spark, sf_dir, "events").select("event_id", "event_type")
    HKV.write_sequence_file(ev, path, "event_id", "event_type")
    back = HKV.read_sequence_file(spark, path, "event_id long, event_type string")
    chk = portable.hash60("concat(cast(event_id AS STRING), '|', event_type)", "spark")
    return back.agg(
        F.count("*").alias("n_rows"), F.expr(f"bit_xor({chk})").alias("checksum")
    )


@register(
    "kv_vint_stream_roundtrip",
    oracle=f"""
SELECT COUNT(*)::BIGINT AS n_rows,
       bit_xor({portable.hash60("o_orderkey::VARCHAR || '|' || o_orderstatus", 'duck')}) AS checksum
FROM orders
""",
    tags=("formats", "io", "kv"),
)
def kv_vint_stream_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders (o_orderkey, o_orderstatus) → raw VInt-framed KV blobs (the
    reference's MOF segment layout: [vint klen][key][vint vlen][value],
    Hadoop WritableUtils wire format) → parse back → (rows, checksum).
    Exercises the byte-level framing the reference ingests
    (src/Merger/StreamRW.cc:334-404) re-expressed as an ingestion codec;
    downstream of the parse everything is ordinary JVM-side DataFrame."""
    from uda_spark.sources import hadoop_kv as HKV

    path = scratch_dir("uda_fmt_vint")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    HKV.write_kv_stream(o, path, "o_orderkey", "o_orderstatus")
    back = HKV.read_kv_stream(spark, path)
    chk = portable.hash60(
        "concat(cast(key AS STRING), '|', cast(value AS STRING))", "spark"
    )
    return back.agg(
        F.count("*").alias("n_rows"), F.expr(f"bit_xor({chk})").alias("checksum")
    )


@register(
    "schema_evolution_scan",
    oracle=f"""
WITH v1 AS (
  SELECT o_orderkey, o_totalprice, NULL AS o_orderstatus
  FROM orders WHERE o_orderkey % 2 = 0
),
v2 AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 2 = 1
),
merged AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT COUNT(*)::BIGINT AS n_rows,
       COUNT(o_orderstatus)::BIGINT AS n_with_status,
       bit_xor({portable.hash60(
           "o_orderkey::VARCHAR || '|' || COALESCE(o_orderstatus, '-')", 'duck')}) AS checksum
FROM merged
""",
    tags=("formats", "io", "schema-evolution"),
)
def schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet file generations: generation 1
    lacks a column that generation 2 added; a mergeSchema scan reads both
    under one directory, null-filling the missing column — the
    append-only table-evolution pattern every long-lived 100 TB dataset
    hits.  The checksum covers the null-filled column, so the merge
    semantics (not just row counts) are what the oracle checks."""
    base = scratch_dir("uda_fmt_evolve")
    o = t(spark, sf_dir, "orders")
    v1 = o.where(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    v2 = o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    v1.write.mode("overwrite").parquet(os.path.join(base, "gen=1"))
    v2.write.mode("overwrite").parquet(os.path.join(base, "gen=2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "gen=1"), os.path.join(base, "gen=2")
    )
    chk = portable.hash60(
        "concat(cast(o_orderkey AS STRING), '|', coalesce(o_orderstatus, '-'))",
        "spark",
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.count("o_orderstatus").alias("n_with_status"),
        F.expr(f"bit_xor({chk})").alias("checksum"),
    )


@register(
    "orc_roundtrip_part",
    oracle="SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part",
    tags=("formats", "io"),
)
def orc_roundtrip_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → ORC (zstd) → scan → rows; columnar round trip with stripe
    stats, same pushdown properties as parquet."""
    src = t(spark, sf_dir, "part")
    path = scratch_dir("uda_fmt_orc")
    FMT.write_orc(src, path)
    return FMT.read_orc(spark, path, src.schema)


@register(
    "xml_roundtrip_region",
    oracle="SELECT r_regionkey, r_name FROM region",
    tags=("formats", "io"),
)
def xml_roundtrip_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region → XML (rowTag framing, Spark 4 native — the former
    spark-xml) → explicit-schema scan → rows.  Completes the text-format
    matrix (CSV/JSON/text/XML) alongside the binary one
    (parquet/ORC/SequenceFile/VInt)."""
    src = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    path = scratch_dir("uda_fmt_xml")
    FMT.write_xml(src, path)
    return FMT.read_xml(spark, path, src.schema)


@register(
    "join_dpp_partitioned_orders",
    oracle="""
SELECT o_orderpriority,
       COUNT(*)::BIGINT AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM orders
WHERE CAST(substr(o_orderpriority, 1, 1) AS INT) <= 2
GROUP BY o_orderpriority
""",
    tags=("formats", "io", "join", "pruning"),
)
def join_dpp_partitioned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning over a hive-partitioned fact: orders is
    written partitioned by o_orderpriority, then joined to a dimension
    whose filter (priority rank <= 2, a DERIVED attribute Catalyst
    cannot fold into a static partition predicate) is only knowable at
    runtime — so the fact scan must carry a ``dynamicpruning``
    subquery in its PartitionFilters and skip 3 of 5 partition
    directories without reading a row from them.  This is the
    star-schema scan-elimination mechanism that matters most at 100 TB
    (a date-dim filter pruning years of fact partitions); the plan
    shape is pinned in tests/test_operators.py.

    The oracle reduces the join to its semantic content (the fact rows
    whose priority passes the dim filter), so the VALUES are checked
    while the pruning is checked structurally.
    """
    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    path = scratch_dir("uda_fmt_dpp")
    src.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        t(spark, sf_dir, "orders")
        .select(F.col("o_orderpriority").alias("priority"))
        .distinct()
        .where(F.expr("CAST(substring(priority, 1, 1) AS INT) <= 2"))
    )
    from uda_spark.operators import agg as A

    return (
        fact.join(F.broadcast(dim), fact["o_orderpriority"] == dim["priority"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            A.dsum("o_totalprice", "total_value"),
        )
    )

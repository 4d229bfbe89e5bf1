"""The reference's acceptance workloads as library functions (SURVEY §2.3):
terasort, sort, wordcount, dfsio, pi — the five jobs UDA's regression
harness validates (scripts/regression/executeMain.sh:230-273).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uda_spark.collect import bounded_collect
from uda_spark.functions import portable
from uda_spark.operators.sort import total_order_sort, validate_sorted


def gen_terasort_records(spark: SparkSession, n_rows: int, seed: int = 42) -> DataFrame:
    """Teragen equivalent (FIXTURES.md B1): 10-byte key / 90-byte value
    random binary records, generated distributively from a range."""
    base = spark.range(n_rows).select(
        F.col("id"),
        F.sha2(F.concat(F.lit(f"k{seed}|"), F.col("id").cast("string")), 256).alias("kh"),
        F.sha2(F.concat(F.lit(f"v{seed}|"), F.col("id").cast("string")), 512).alias("vh"),
    )
    return base.select(
        F.to_binary(F.substring("kh", 1, 20), F.lit("hex")).alias("key"),
        F.to_binary(
            F.concat(F.substring("vh", 1, 128), F.substring("kh", 1, 52)), F.lit("hex")
        ).alias("value"),
    )


def terasort(df: DataFrame, key: str = "key") -> DataFrame:
    """Total-order sort of binary records; Spark range-partitions by sampled
    key boundaries — the TotalOrderPartitioner equivalent."""
    return total_order_sort(df, [key])


def teravalidate(sorted_df: DataFrame, key: str = "key") -> bool:
    return validate_sorted(sorted_df, [key])


def wordcount(df: DataFrame, text_col: str) -> DataFrame:
    """tokenize -> explode -> partial+final count (map-side combine shrinks
    the shuffle — the step MapReduce needs a combiner for)."""
    toks = portable.tokens(text_col, "spark")
    return (
        df.select(F.explode(F.expr(toks)).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .count()
        .withColumnRenamed("count", "cnt")
    )


def pi_estimate(spark: SparkSession, n_samples: int = 1_000_000) -> DataFrame:
    """Monte-Carlo pi with a deterministic integer LCG (portable to the
    DuckDB oracle; tolerance gate 0.1 per defaultsConf.sh:70-72)."""
    x = portable.lcg_unit("id", 1103515245, 12345)
    y = portable.lcg_unit("id", 69069, 1)
    return (
        spark.range(n_samples)
        .select(F.expr(f"IF(({x}) * ({x}) + ({y}) * ({y}) <= 1.0, 1L, 0L)").alias("inside"))
        .agg((F.sum("inside") * 4.0 / n_samples).alias("pi_est"))
    )


def dfsio(spark: SparkSession, path: str, n_rows: int = 1000, payload_kb: int = 64) -> dict:
    """TestDFSIO equivalent: bulk write + read-back throughput with a
    count/checksum round-trip (metric-only; no oracle)."""
    payload_hex_chars = payload_kb * 1024 * 2
    df = spark.range(n_rows).select(
        "id",
        F.to_binary(
            F.rpad(F.sha2(F.col("id").cast("string"), 256), payload_hex_chars, "ab"), F.lit("hex")
        ).alias("payload"),
    )
    t0 = time.time()
    df.write.mode("overwrite").parquet(path)
    write_s = time.time() - t0
    t1 = time.time()
    back = spark.read.parquet(path)
    (stats,) = bounded_collect(
        back.agg(F.count("*").alias("n"), F.sum(F.crc32("payload")).alias("checksum")),
        "dfsio read-back checksum",
        1,
    )
    read_s = time.time() - t1
    return {
        "rows": stats["n"],
        "checksum": int(stats["checksum"]),
        "write_sec": write_s,
        "read_sec": read_s,
        "bytes": n_rows * payload_kb * 1024,
    }


def table_digest(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Order-independent whole-table checksum — teravalidate's
    count+checksum half (SURVEY §2.3) generalized to any relation: the
    tool that validates a 100 TB migration/backfill without moving data
    (run on both sides, compare three numbers).

    Each row hashes to a 60-bit integer (portable md5 fold over the
    '|'-joined column strings, NUL-sentinel for null); the table digest
    is (count, bit_xor, sum mod 2^60) of the row hashes.  All three
    aggregates are commutative, so the result is independent of
    partitioning, ordering, and merge tree shape; the map side reduces
    to three scalars per partition — shuffle traffic is O(partitions).

    Caller chooses ``cols`` to pin cross-engine string formatting
    (integers/strings/dates are portable; raw floats are not — format
    them explicitly first).
    """
    cols = cols or df.columns
    joined = "concat_ws('|', " + ", ".join(
        f"coalesce(CAST({c} AS STRING), '\\u0000')" for c in cols
    ) + ")"
    h = portable.hash60(joined, "spark")
    return df.select(F.expr(h).alias("h")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.expr("bit_xor(h)").cast("long").alias("xor_digest"),
        F.expr(f"CAST(sum(CAST(h AS DECIMAL(38,0))) % {1 << 60} AS BIGINT)").alias(
            "sum_digest"
        ),
    )

"""Shared helpers for the query suite.

Numeric discipline (why every money aggregate goes through decimal):
double summation is order-dependent, and Spark's partial-aggregation order
is nondeterministic across runs and cluster widths.  Casting 2-dp money
columns to DECIMAL(18,2) makes the sum exact (order-independent), and the
final CAST to DOUBLE is then a deterministic function of an exact rational
— bit-identical between Spark and DuckDB.  Counts are cast to BIGINT on
both sides (DuckDB sums of INT return HUGEINT otherwise).

What a query leaves behind (persisted intermediates, scratch
directories) is not kept here: ``uda_spark.cache`` owns it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from uda_spark.sources.tables import load_table

# DuckDB/Spark-identical SQL fragments for exact money aggregation.


def dsql(col: str) -> str:
    return f"CAST({col} AS DECIMAL(18,2))"


def dsum_sql(col: str, alias: str) -> str:
    return f"CAST(SUM({dsql(col)}) AS DOUBLE) AS {alias}"


def davg_sql(col: str, alias: str) -> str:
    return f"CAST(SUM({dsql(col)}) AS DOUBLE) / COUNT({col}) AS {alias}"


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# Sum of extendedprice*(1-discount): exact decimal product then sum.
REVENUE_SQL = (
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * "
    "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"
)

CHARGE_SQL = (
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * "
    "(1 - CAST(l_discount AS DECIMAL(18,2))) * "
    "(1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE)"
)


def revenue_expr():
    """DataFrame-side twin of REVENUE_SQL: exact decimal
    extendedprice*(1-discount) — keep the two in sync."""
    from pyspark.sql import functions as F

    return F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )

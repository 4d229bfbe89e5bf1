"""Aggregation surface (SURVEY §2.2: absent from the reference — reduce
logic lives in Hadoop user code fed by the sorted iterator, O11/O13).

Spark's ``groupBy().agg()`` supplies partial (map-side) + final aggregation
through one exchange; ``rollup``/``cube``/grouping sets are planned as a
single Expand + Aggregate.  Decimal-exact money helpers keep double
aggregation deterministic across engines and partition orders (a double sum
is order-dependent; a decimal sum is exact), which matters both for the
DuckDB oracle gate and for reproducible results on a 1000-executor cluster
where partial-agg order is nondeterministic.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dec(col: str | Column, precision: int = 18, scale: int = 2) -> Column:
    """Cast a money-ish double column to exact decimal for aggregation."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def dsum(col: str | Column, alias: str) -> Column:
    """Order-independent exact sum of a 2-dp money column, returned as double."""
    return F.sum(dec(col)).cast("double").alias(alias)


def davg(col: str | Column, alias: str) -> Column:
    """avg = exact decimal sum / count, divided in double on both engines."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(dec(c)).cast("double") / F.count(c)).alias(alias)


def rollup_agg(df: DataFrame, keys: Sequence[str], *aggs: Column) -> DataFrame:
    return df.rollup(*keys).agg(*aggs)


def cube_agg(df: DataFrame, keys: Sequence[str], *aggs: Column) -> DataFrame:
    return df.cube(*keys).agg(*aggs)

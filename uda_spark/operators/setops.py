"""Set operations (SURVEY §2.2: absent from reference; required surface).

``union`` is metadata-only (no shuffle).  ``intersect``/``except`` plan as
left-semi / left-anti aggregated joins — one exchange each, broadcastable
when a side is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def union_all(*dfs: DataFrame) -> DataFrame:
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def intersect(a: DataFrame, b: DataFrame, keep_duplicates: bool = False) -> DataFrame:
    return a.intersectAll(b) if keep_duplicates else a.intersect(b)


def difference(a: DataFrame, b: DataFrame, keep_duplicates: bool = False) -> DataFrame:
    return a.exceptAll(b) if keep_duplicates else a.subtract(b)

"""Window / time-series operators (SURVEY §2.2: absent from reference).

All shapes here shuffle once on the partition key and then run a single
ordered pass per partition — the same merged-run-consumption pattern as the
reference's sorted KV feed (O5/O11), generalized to analytic functions.
Never use a global (partitionBy-less) window at scale; every helper below
requires a partition key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame, user_col: str, ts_col: str, gap_seconds: int, session_col: str = "session_id"
) -> DataFrame:
    """Assign gap-based session ids per user (batch sessionization).

    A new session starts when the gap to the previous event exceeds
    ``gap_seconds``.  One shuffle on the user key, two ordered passes —
    the standard scalable formulation (cumulative sum over a lag flag).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    gap = F.col(ts_col).cast("double") - prev_ts.cast("double")
    new_session = F.when(prev_ts.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return df.withColumn(
        session_col,
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )

"""One bounded driver collect: operators that pull a relation to the
driver (per-partition carries, kernel-closure query sets) read at most
``limit + 1`` rows and fail with a named error past the bound, instead
of exhausting the driver's memory silently."""

from __future__ import annotations

from pyspark.sql import DataFrame


class DriverCollectBoundError(ValueError):
    """A relation collected to the driver has more rows than its bound."""


def bounded_collect(df: DataFrame, what: str, limit: int) -> list:
    """Collect ``df`` to the driver, at most ``limit`` rows of it."""
    rows = df.limit(limit + 1).collect()
    if len(rows) > limit:
        raise DriverCollectBoundError(
            f"{what}: more than {limit} rows would be collected to the driver"
        )
    return rows

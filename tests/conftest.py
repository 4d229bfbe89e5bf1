from __future__ import annotations

import os

import duckdb
import pytest

from uda_spark.cache import release_persisted
from uda_spark.session import get_spark
from uda_spark.sources.tables import TABLES, table_path

# Parity tests run at sf0.001 by default (fast dev loop); set
# UDA_PARITY_SF_DIR=/root/testdata/sf0.01 to rehearse the driver's t2 gate.
SF_SMOKE = os.environ.get("UDA_PARITY_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # master and shuffle width come from SPARK_GRAFT_CPUS, as in every
    # get_spark session: a fixed local[8] oversubscribes a smaller host
    s = get_spark("uda_spark_tests")
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _release_leftovers():
    """Every test ends by releasing what it left behind: its tracked
    persists and its scratch directories."""
    yield
    release_persisted()


def make_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Mirror the driver's oracle setup: every table pre-registered as a view."""
    con = duckdb.connect()
    for name in TABLES:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM '{table_path(sf_dir, name)}'"
        )
    return con


@pytest.fixture(scope="session")
def duck_smoke():
    return make_duck(SF_SMOKE)

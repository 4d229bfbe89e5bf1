"""Oracle-parity harness — the local twin of the driver's t2 gate.

For every registered query with an oracle, run the Spark DataFrame and the
DuckDB SQL on the same parquet tables and compare row sets exactly
(sorted by all columns, column order normalized).  Exact comparison, not
approximate: the queries are designed to be engine-exact (see
functions/portable.py and queries/common.py), and this test is what
enforces that design holds.
"""

from __future__ import annotations

import math

import pytest

from uda_spark.registry import all_specs
from tests.conftest import SF_SMOKE

SPECS = all_specs()
ORACLE_NAMES = sorted(n for n, s in SPECS.items() if s.oracle is not None)


def _normalize(value):
    # Tag every value with a None-rank so sorting is total even when a
    # column mixes NULL and non-NULL (sorted() on bare None raises
    # TypeError instead of reporting a clean mismatch).
    if value is None:
        return (0, "")
    if isinstance(value, float):
        if math.isnan(value):
            return (1, "NaN")
        # collapse -0.0 / 0.0 and format deterministically
        return (1, repr(value + 0.0))
    if isinstance(value, bytes):
        return (1, value.hex())
    return (1, value)


def _rows_to_set(columns, rows):
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        out.append(tuple(_normalize(row[i]) for i in idx))
    return sorted(out)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(name, spark, duck_smoke):
    spec = SPECS[name]
    sdf = spec.fn(spark, SF_SMOKE)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]

    rel = duck_smoke.sql(spec.oracle)
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
    mismatches = [
        (a, b) for a, b in zip(s_set, d_set) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_doc_query_counts_match_registry():
    """VERDICT r12 #5: the README/SURVEY query-count claims rotted twice
    (344 and 325 against a 346-query registry) because nothing held them
    to the code.  Grep the two doc lines and fail the suite the moment a
    registration lands without the shop-window numbers following."""
    import pathlib
    import re

    from uda_spark.registry import get_oracles, get_queries

    root = pathlib.Path(__file__).parents[1]
    n_q, n_o = len(get_queries()), len(get_oracles())

    readme = (root / "README.md").read_text()
    m = re.search(r"\((\d+) queries, ALL (\d+) oracle-checked\)", readme)
    assert m, "README.md lost its '(N queries, ALL N oracle-checked)' line"
    assert (int(m.group(1)), int(m.group(2))) == (n_q, n_o), (
        f"README.md says {m.group(0)} but the registry has {n_q} queries "
        f"/ {n_o} oracles — update the README line"
    )

    survey = (root / "SURVEY.md").read_text()
    m = re.search(
        r"\((\d+) registered queries, all (\d+) DuckDB-oracle-checked", survey
    )
    assert m, "SURVEY.md lost its '(N registered queries, ...)' status line"
    assert (int(m.group(1)), int(m.group(2))) == (n_q, n_o), (
        f"SURVEY.md says {m.group(0)} but the registry has {n_q} queries "
        f"/ {n_o} oracles — update the SURVEY status line"
    )


def test_driver_window_is_lrs_rotation():
    """Round 9+ contract: the export order is this round's new
    registrations first, then this round's semantics-changed re-proofs
    (round 11+: ``_REPROVEN_THIS_ROUND`` — a query whose implementation
    AND oracle were replaced must re-earn an external row the round it
    changes), then the least-recently-sampled ordering — a pure
    function of the committed CORRECTNESS_r01..r{LRS_THROUGH_ROUND}
    key sets plus registration order (scripts/rotation.py).  Recompute
    that ordering from the committed files and fail if the frozen
    ``_LRS_ORDER`` tuple drifted (stale after new CORRECTNESS rounds
    land, a hand-edit, or a registration reorder), so external rows can
    never go permanently stale.  Also checks nothing was lost: the
    export is all registered queries exactly once, every new-this-round
    name is genuinely new (no prior external row), and every re-proof
    name genuinely has prior rows (it is a re-proof, not a smuggled
    extra new slot)."""
    import sys

    from uda_spark.registry import (
        LRS_THROUGH_ROUND,
        _LRS_ORDER,
        _NEW_THIS_ROUND,
        _REPROVEN_THIS_ROUND,
        get_queries,
    )

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parents[1]))
    from scripts.rotation import compute_lrs_order, last_sampled_rounds

    # The frozen round is pinned (not "latest file present") so this test
    # stays deterministic after this round's own CORRECTNESS file lands.
    assert LRS_THROUGH_ROUND == 12
    exclude = _NEW_THIS_ROUND + _REPROVEN_THIS_ROUND
    expected = compute_lrs_order(LRS_THROUGH_ROUND, exclude=exclude)
    assert _LRS_ORDER == expected, "regenerate with: python scripts/rotation.py"

    last = last_sampled_rounds(LRS_THROUGH_ROUND)
    assert all(n not in last for n in _NEW_THIS_ROUND)
    assert all(n in last for n in _REPROVEN_THIS_ROUND)

    names = list(get_queries())
    head = exclude + _LRS_ORDER
    assert tuple(names[: len(head)]) == head
    assert len(names) == len(set(names)) == len(SPECS)

    # Staleness bound: the post-new window slots go to the globally
    # oldest external rows (sorted ascending by last-sampled round).
    window = names[:50]
    rounds = [last.get(n, 0) for n in window[len(exclude) :]]
    assert rounds == sorted(rounds)
    outside = [last.get(n, 0) for n in names[50:] if n not in exclude]
    if rounds and outside:
        assert max(rounds) <= min(outside)

"""Self-tests of the benchmark. They need no Spark session:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))  # the engine's query registry

import run  # noqa: E402
import workloads as W  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


@pytest.fixture(scope="module")
def generated(tmp_path_factory):
    """Each workload generated once with seed 5, keyed by name."""
    out = {}
    for name, cls in W.WORKLOADS.items():
        d = tmp_path_factory.mktemp(name)
        w = cls()
        w.generate(str(d), 5)
        out[name] = (w, str(d))
    return out


@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_seed_gives_byte_identical_inputs(name, generated, tmp_path):
    _, first = generated[name]
    again = tmp_path / "again"
    other = tmp_path / "other"
    again.mkdir()
    other.mkdir()
    W.WORKLOADS[name]().generate(str(again), 5)
    W.WORKLOADS[name]().generate(str(other), 6)
    def files(root):
        return sorted(
            os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
        )

    names = files(first)
    assert names and names == files(again) == files(other)
    _, mismatch, errors = filecmp.cmpfiles(first, again, names, shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(first, other, names, shallow=False)
    assert mismatch, "a different seed must give different inputs"


def _terasort_output(w):
    w = w._part("terasort")
    t = pq.read_table(w.tera_path)
    keys = np.frombuffer(W.binary_bytes(t.column("key")), np.uint8).reshape(-1, w.KEY_BYTES)
    order = np.lexsort(keys.T[::-1])
    return t.take(pa.array(order))


def test_terasort_swapped_row_fails(generated):
    w, _ = generated["shuffle_sort"]
    table = _terasort_output(w)
    assert w.check("terasort", 0, (table, True))
    idx = np.arange(table.num_rows)
    idx[[10, 11]] = idx[[11, 10]]
    assert not w.check("terasort", 0, (table.take(pa.array(idx)), True))
    assert not w.check("terasort", 0, (table, False))


def test_sort_and_wordcount_corruption_fails(generated):
    w, _ = generated["shuffle_sort"]
    p, n, s = w._part("sort").ref_sort
    keys = np.stack([p // 256, p % 256], axis=1).astype(np.uint8)
    good = pa.table({"k": W._binary_column(keys), "n": n, "s": s})
    assert w.check("sort", 1, good)
    bad_n = n.copy()
    bad_n[3] += 1
    assert not w.check("sort", 1, pa.table({"k": good.column("k"), "n": bad_n, "s": s}))
    ref = w._part("wordcount").ref_wordcount
    words = sorted(ref)
    good_wc = pa.table({"word": words, "cnt": [ref[x] for x in words]})
    assert w.check("wordcount", 2, good_wc)
    assert not w.check("wordcount", 2, good_wc.slice(1))


def test_dedup_dropped_pair_fails(generated):
    w, _ = generated["small_jobs"]
    t = w._part("dedup")
    pairs = sorted(t.ref_pairs.items())
    labels = sorted(t.ref_labels.items())

    def output(pairs):
        pt = pa.table(
            {
                "doc_a": [a for (a, _), _ in pairs],
                "doc_b": [b for (_, b), _ in pairs],
                "jaccard": [j for _, j in pairs],
            }
        )
        lt = pa.table({"node": [x for x, _ in labels], "component": [c for _, c in labels]})
        return pt, lt, t.ref_survivors

    assert len(pairs) > 10
    assert w.check("dedup", 0, output(pairs))
    assert not w.check("dedup", 0, output(pairs[1:]))


def test_dedup_has_clusters_beyond_pairs(generated):
    w, _ = generated["small_jobs"]
    sizes = {}
    for component in w._part("dedup").ref_labels.values():
        sizes[component] = sizes.get(component, 0) + 1
    assert max(sizes.values()) >= 5, "the CC loop needs components wider than a pair"


def test_query_corruption_fails(generated):
    w, _ = generated["small_jobs"]
    q = w._part("queries")
    good = q.oracle_results()
    assert sorted(good) == sorted(W.HEADLINE_SUBSET)
    assert w.check("queries", 0, good)
    for name, table in good.items():
        assert not w.check("queries", 0, {**good, name: table.slice(1)}), name
    name = q.query_names[0]
    table = good[name]
    col = next(i for i, f in enumerate(table.schema) if pa.types.is_integer(f.type))
    bumped = pc.add(table.column(col), 1)
    assert not w.check("queries", 0, {**good, name: table.set_column(col, table.field(col), bumped)})


def test_vector_corruption_fails(generated):
    w, _ = generated["small_jobs"]
    v = w._part("build")
    ids = sorted(v.ref_clusters)
    clusters = [v.ref_clusters[i] for i in ids]
    assert w.check("build", 0, pa.table({"id": ids, "cluster": clusters}))
    clusters[7] += 1
    assert not w.check("build", 0, pa.table({"id": ids, "cluster": clusters}))

    n = 1  # the second query job reads batch 1
    batch = n % v.BATCHES
    rows = []
    for q in range(v.BATCH_QUERIES):
        qid = v.QUERY_ID0 + batch * v.BATCH_QUERIES + q
        exact = v.ref_scores[qid]
        top = np.lexsort((np.arange(len(exact)), -exact))[: v.TOP_K + 1]
        rows += [(qid, int(nb), round(float(exact[nb]), 6), r + 1) for r, nb in enumerate(top)]

    def table(rows):
        return pa.table(dict(zip(("query_id", "neighbor_id", "score", "rank"), zip(*rows))))

    good = [r for r in rows if r[3] <= v.TOP_K]
    assert w.check("query", n, table(good))
    assert not w.check("query", n + 1, table(good)), "another batch's answer must fail"
    # replace each query's last hit with its (k+1)-th neighbour
    worse = [r for r in rows if r[3] < v.TOP_K]
    worse += [(q, nb, s, v.TOP_K) for q, nb, s, r in rows if r == v.TOP_K + 1]
    assert not w.check("query", n, table(worse))


def test_metric_names_units_and_reasons():
    name_re = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit_re = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    declared = {
        "end_to_end": [(m["name"], m["unit"]) for m in BENCHMARK["end_to_end"]],
        "per_layer": [(m["name"], m["unit"]) for m in BENCHMARK["per_layer"]],
    }
    assert declared["end_to_end"] == list(run.END_TO_END)
    assert declared["per_layer"] == list(run.PER_LAYER)
    names = [n for group in declared.values() for n, _ in group]
    assert len(names) == len(set(names))
    for name, unit in declared["end_to_end"] + declared["per_layer"]:
        assert name_re.match(name), name
        assert unit_re.match(unit), (name, unit)
    # each workload's reason is recorded next to its definition
    assert {w["name"]: w["why"] for w in BENCHMARK["workloads"]} == {
        n: cls.why for n, cls in W.WORKLOADS.items()
    }


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "shuffle_sort", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout

"""The one centroid layer of the k-means / IVF / PQ family
(operators/similarity.py): ``nearest_centroids`` against a pure-numpy
reference, ``mean_centroids`` against exact integer sums, and source
checks that the relational distance fold, a second float64 fold loop, a
second int64 GEMM argmin or an inline centroid-mean chain do not come
back."""

from __future__ import annotations

import ast
import pathlib
import re

import numpy as np
import pytest

from uda_spark.operators import similarity as S

PKG = pathlib.Path(S.__file__).parents[1]
DIM = 6


def _corpus_and_centroids():
    """Seeded integer vectors and double centroids with planted ties:
    ids 9 and 4 sit at +/-3 along dimension 0 from row 0 (equidistant
    from it), and ids 2 and 12 are the same vector (equidistant from
    every row).  The relation lists centroids out of id order."""
    rng = np.random.default_rng(20)
    X = rng.integers(-50, 50, size=(40, DIM))
    e0 = np.eye(DIM)[0]
    shared = rng.integers(-50, 50, size=DIM) + 0.5
    cents = [
        (9, X[0] + 3 * e0),
        (2, shared),
        (7, rng.integers(-50, 50, size=DIM) / 3),
        (4, X[0] - 3 * e0),
        (12, shared),
        (5, rng.integers(-50, 50, size=DIM) + 0.25),
    ]
    return X, cents


def _reference(X, cents, nprobe):
    """Per row, the centroid ids ordered by (dist², id): dist² folded
    over the dimensions in ascending order in float64."""
    out = {}
    for i, x in enumerate(X.astype(np.float64)):
        d2 = []
        for cid, c in cents:
            acc = np.float64(0.0)
            for d in range(DIM):
                e = x[d] - np.float64(c[d])
                acc = acc + e * e
            d2.append((acc, cid))
        out[i] = [cid for _, cid in sorted(d2)[:nprobe]]
    return out


@pytest.mark.parametrize("id_type", ["int", "bigint"])
@pytest.mark.parametrize("nprobe", [1, 3, 8])
def test_nearest_centroids_matches_numpy_reference(spark, nprobe, id_type):
    X, cents = _corpus_and_centroids()
    df = spark.createDataFrame(
        [(i, [int(v) for v in x], f"t{i}") for i, x in enumerate(X)],
        "vid long, v array<bigint>, tag string",
    )
    cent = spark.createDataFrame(
        [(cid, [float(v) for v in c]) for cid, c in cents],
        f"cid {id_type}, centroid array<double>",
    )
    out = S.nearest_centroids(df, "vid", "v", cent, nprobe=nprobe, keep=("tag",))
    assert out.columns == ["vid", "tag", "cluster", "probe"]
    assert out.schema["cluster"].dataType == cent.schema["cid"].dataType
    got: dict[int, list] = {}
    for r in out.collect():
        assert r["tag"] == f"t{r['vid']}"
        got.setdefault(r["vid"], []).append((r["probe"], r["cluster"]))
    want = _reference(X, cents, nprobe)
    assert len(got) == len(want)
    for vid, probes in got.items():
        probes.sort()
        assert [p for p, _ in probes] == list(range(1, min(nprobe, len(cents)) + 1))
        assert [c for _, c in probes] == want[vid], f"row {vid}"
    # the planted ties go to the lower id
    assert got[0][0][1] == 4
    assert all(2 in [c for _, c in p] for p in got.values() if 12 in [c for _, c in p])


def test_nearest_centroids_rejects_an_empty_centroid_table(spark):
    df = spark.createDataFrame([(1, [1, 2])], "vid long, v array<bigint>")
    empty = spark.createDataFrame([], "cid int, centroid array<double>")
    with pytest.raises(ValueError, match="requires >= 1 centroid"):
        S.nearest_centroids(df, "vid", "v", empty)


def test_mean_centroids_are_exact_sums_divided_once(spark):
    rng = np.random.default_rng(3)
    X = rng.integers(-10**9, 10**9, size=(30, 4))
    g = [i % 3 for i in range(30)]
    df = spark.createDataFrame(
        [(gi, [int(v) for v in x]) for gi, x in zip(g, X)], "g int, v array<bigint>"
    )
    out = {r["g"]: (r["n"], r["centroid"]) for r in S.mean_centroids(df, ("g",), "v").collect()}
    for gi in range(3):
        rows = [x for x, gg in zip(X.tolist(), g) if gg == gi]
        sums = [sum(col) for col in zip(*rows)]
        assert out[gi] == (len(rows), [s / len(rows) for s in sums])


def _sources():
    return {p: p.read_text() for p in sorted(PKG.rglob("*.py"))}


def test_no_relational_distance_fold_or_inline_mean_chain():
    """The Spark-side ``aggregate(zip_with(... (x - c) * (x - c) ...))``
    fold and the inline ``sum(x) / count(*)`` centroid chain are gone;
    the DuckDB oracles spell their fold with ``list_transform``."""
    fold = re.compile(r"zip_with\(.*\((\w+), (\w+)\) -> \(\1 - \2\) \* \(\1 - \2\)")
    inline_mean = re.compile(r'F\.sum\("x"\)\.alias\("s"\),\s*F\.count\("\*"\)')
    for path, src in _sources().items():
        assert not fold.search(src), f"{path}: relational distance fold"
        assert not inline_mean.search(src), f"{path}: inline centroid-mean chain"


def _self_product_range_loops(tree) -> list[str]:
    """Functions holding a ``for … in range(…)`` loop whose body squares
    a name (``e * e``): the ascending-dimension fold shape."""
    found = []
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        for loop in ast.walk(fn):
            if not (
                isinstance(loop, ast.For)
                and isinstance(loop.iter, ast.Call)
                and getattr(loop.iter.func, "id", None) == "range"
            ):
                continue
            for node in (n for stmt in loop.body for n in ast.walk(stmt)):
                if (
                    isinstance(node, ast.BinOp)
                    and isinstance(node.op, ast.Mult)
                    and isinstance(node.left, ast.Name)
                    and isinstance(node.right, ast.Name)
                    and node.left.id == node.right.id
                ):
                    found.append(fn.name)
    return found


def _matmul_argmins(tree) -> list[str]:
    """Innermost functions that both matrix-multiply and take an argmin."""
    found = []
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        body = [n for stmt in fn.body for n in ast.walk(stmt)]
        if any(isinstance(n, ast.FunctionDef) for n in body):
            continue
        matmul = any(isinstance(n, ast.BinOp) and isinstance(n.op, ast.MatMult) for n in body)
        argmin = any(isinstance(n, ast.Attribute) and n.attr == "argmin" for n in body)
        if matmul and argmin:
            found.append(fn.name)
    return found


def test_one_float64_fold_loop_and_one_gemm_argmin():
    loops, gemms = [], []
    for src in _sources().values():
        tree = ast.parse(src)
        loops += _self_product_range_loops(tree)
        gemms += _matmul_argmins(tree)
    assert loops == ["_fold_dist2"]
    assert gemms == ["_gemm_argmin"]


def test_fold_lint_flags_a_second_loop():
    """The loop check is not vacuous: a copy of the fold under another
    name is found next to the original."""
    src = (
        "def f(X, C):\n"
        "    for d in range(3):\n"
        "        e = X[d] - C[d]\n"
        "        acc += e * e\n"
        "def g(X):\n"
        "    for b in X:\n"
        "        y = b * b\n"
    )
    assert _self_product_range_loops(ast.parse(src)) == ["f"]


def test_kmeans_runs_its_last_assignment_once(spark):
    """The last assignment feeds both the cluster stats and the last
    means: persisted, so the plan holds one assign pass over the corpus."""
    from tests.conftest import SF_SMOKE, plan_nodes
    from uda_spark.queries.advanced import kmeans_embeddings

    nodes = plan_nodes(kmeans_embeddings(spark, SF_SMOKE))
    assert nodes.count("MapInArrow") == 1
    assert "InMemoryTableScan" in nodes

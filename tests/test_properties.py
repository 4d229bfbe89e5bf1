"""Property-based tests (hypothesis) for the core dataflow invariants —
the engine-level guarantees the reference establishes end-to-end with
cluster regression runs (SURVEY §5): merge preserves the KV multiset,
total-order sort is a permutation that validates, banding loses no
near-dup candidates.

Spark-backed properties use few, large examples (a session round-trip
per example); pure-Python properties run at full hypothesis defaults.
"""

from __future__ import annotations

import random

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from uda_spark.operators import kv as KV
from uda_spark.operators import sort as SRT

SPARK_SETTINGS = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


kv_rows = st.lists(
    st.tuples(
        st.binary(min_size=1, max_size=20),
        st.binary(min_size=0, max_size=40),
    ),
    min_size=1,
    max_size=300,
)


@SPARK_SETTINGS
@given(rows=kv_rows)
def test_partition_and_merge_preserves_multiset(spark, rows):
    # Inject duplicate keys deliberately (FIXTURES.md B2: ~5% dup keys).
    rng = random.Random(7)
    rows = rows + [rows[rng.randrange(len(rows))] for _ in range(len(rows) // 20)]
    df = spark.createDataFrame(rows, "key binary, value binary")
    merged = KV.partition_and_merge(df, ["key"], num_partitions=4)
    assert sorted(map(tuple, merged.collect())) == sorted(rows)


@SPARK_SETTINGS
@given(keys=st.lists(st.binary(min_size=1, max_size=16), min_size=1, max_size=300))
def test_total_order_sort_validates_and_permutes(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], "key binary")
    out = SRT.total_order_sort(df, ["key"])
    assert SRT.validate_sorted(out, ["key"])
    assert sorted(r["key"] for r in out.collect()) == sorted(keys)


@SPARK_SETTINGS
@given(
    keys=st.lists(
        st.integers(min_value=-(2**40), max_value=2**40),
        min_size=1,
        max_size=300,
        unique=True,
    )
)
def test_global_rank_is_the_sort_permutation(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    ranked = SRT.global_rank(df, ["k"], num_partitions=4).collect()
    by_rank = [r["k"] for r in sorted(ranked, key=lambda r: r["rnk"])]
    assert by_rank == sorted(keys)
    assert sorted(r["rnk"] for r in ranked) == list(range(1, len(keys) + 1))


# ---------------------------------------------------------------------------
# pure-Python properties of the LSH band constructions (no Spark session)


@given(
    sig=st.integers(min_value=0, max_value=2**60 - 1),
    flips=st.lists(st.integers(min_value=0, max_value=59), max_size=3),
)
def test_simhash_band_pigeonhole_is_lossless(sig, flips):
    """dedup_simhash_near_pairs claims: hamming(a, b) <= 3 implies a and
    b agree on >= 3 of the 6 ten-bit bands — so the band join cannot drop
    a true pair.  Exhaustively property-checked here."""
    other = sig
    for f in flips:
        other ^= 1 << f
    bands_a = [(sig >> (b * 10)) % 1024 for b in range(6)]
    bands_b = [(other >> (b * 10)) % 1024 for b in range(6)]
    agree = sum(a == b for a, b in zip(bands_a, bands_b))
    assert agree >= 6 - len(flips) >= 3


@given(
    sig_a=st.lists(st.integers(min_value=0, max_value=2**32), min_size=16, max_size=16),
    swaps=st.lists(st.integers(min_value=0, max_value=15), max_size=4),
)
def test_minhash_banding_catches_band_equal_sigs(sig_a, swaps):
    """If two signatures agree on all 4 rows of any band, the band join
    emits the pair — band hashes are a pure function of the band rows."""
    sig_b = list(sig_a)
    for s in swaps:
        sig_b[s] += 1  # corrupt some rows
    bands_a = [tuple(sig_a[b * 4 : b * 4 + 4]) for b in range(4)]
    bands_b = [tuple(sig_b[b * 4 : b * 4 + 4]) for b in range(4)]
    shares_band = any(x == y for x, y in zip(bands_a, bands_b))
    untouched_band_exists = any(
        all(b * 4 + r not in swaps for r in range(4)) for b in range(4)
    )
    assert shares_band == untouched_band_exists or shares_band


asof_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),   # key
        st.integers(min_value=0, max_value=100), # ts
    ),
    min_size=1,
    max_size=60,
)


@SPARK_SETTINGS
@given(left=asof_events, right=asof_events)
def test_asof_join_matches_bruteforce(spark, left, right):
    from uda_spark.operators.join import asof_join

    # dedupe right on (key, ts): the operator contract (ties resolved
    # upstream, as events_asof_signup does with a groupBy)
    rmap = {}
    for i, (k, ts) in enumerate(right):
        rmap[(k, ts)] = i
    rrows = [(k, ts, v) for (k, ts), v in rmap.items()]
    lrows = [(i, k, ts) for i, (k, ts) in enumerate(left)]
    ldf = spark.createDataFrame(lrows, "lid long, k long, lts long")
    rdf = spark.createDataFrame(rrows, "k long, rts long, rv long")
    out = {
        r["lid"]: r["asof_rv"]
        for r in asof_join(
            ldf, rdf, on="k", left_ts="lts", right_ts="rts", right_values=["rv"]
        ).collect()
    }
    for lid, k, lts in lrows:
        cands = [(ts, v) for (kk, ts), v in rmap.items() if kk == k and ts <= lts]
        expect = max(cands)[1] if cands else None
        assert out[lid] == expect, (lid, k, lts, out[lid], expect)


@SPARK_SETTINGS
@given(left=asof_events, right=asof_events)
def test_asof_forward_nearest_match_bruteforce(spark, left, right):
    from uda_spark.operators.join import asof_join

    rmap = {}
    for i, (k, ts) in enumerate(right):
        rmap[(k, ts)] = i
    rrows = [(k, ts, v) for (k, ts), v in rmap.items()]
    lrows = [(i, k, ts) for i, (k, ts) in enumerate(left)]
    ldf = spark.createDataFrame(lrows, "lid long, k long, lts long")
    rdf = spark.createDataFrame(rrows, "k long, rts long, rv long")

    fwd = {
        r["lid"]: r["asof_rv"]
        for r in asof_join(
            ldf, rdf, on="k", left_ts="lts", right_ts="rts",
            right_values=["rv"], direction="forward",
        ).collect()
    }
    near = {
        r["lid"]: r["asof_rv"]
        for r in asof_join(
            ldf, rdf, on="k", left_ts="lts", right_ts="rts",
            right_values=["rv"], direction="nearest",
        ).collect()
    }
    for lid, k, lts in lrows:
        back_c = [(ts, v) for (kk, ts), v in rmap.items() if kk == k and ts <= lts]
        fwd_c = [(ts, v) for (kk, ts), v in rmap.items() if kk == k and ts >= lts]
        expect_f = min(fwd_c)[1] if fwd_c else None
        assert fwd[lid] == expect_f, ("fwd", lid, k, lts, fwd[lid], expect_f)
        b = max(back_c) if back_c else None
        f = min(fwd_c) if fwd_c else None
        if b is None and f is None:
            expect_n = None
        elif b is None:
            expect_n = f[1]
        elif f is None:
            expect_n = b[1]
        else:  # tie goes backward
            expect_n = b[1] if (lts - b[0]) <= (f[0] - lts) else f[1]
        assert near[lid] == expect_n, ("near", lid, k, lts, near[lid], expect_n)


def test_connected_components_raises_on_iteration_exhaustion(spark):
    import pytest
    from uda_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(1, 8)]  # diameter 7 path
    df = spark.createDataFrame(chain, "doc_a long, doc_b long")
    with pytest.raises(RuntimeError):
        connected_components(df, max_iterations=2)
    ok = connected_components(df, max_iterations=10).collect()
    assert {r["component"] for r in ok} == {1}


# ---------------------------------------------------------------------------
# quantization invariants (pure SQL expressions, DuckDB-evaluated at full
# hypothesis defaults — the Spark expression is textually parallel and
# value-hash checked end-to-end by the sim_quantized_knn oracle)

int_vecs = st.lists(
    st.integers(min_value=-1_000_000, max_value=1_000_000), min_size=1, max_size=16
)


@settings(deadline=None)  # pure-python, but the first example can pay a
# cold numpy/py4j import while the Spark suite saturates all cores —
# wall-clock deadlines are meaningless under that contention
@given(v=int_vecs)
def test_quant_vec_properties(v):
    import duckdb

    from uda_spark.functions import portable

    con = duckdb.connect()
    expr = portable.quant_vec("v", "m", 127, "duck")
    (q,) = con.execute(
        f"SELECT {expr} FROM (SELECT ? AS v, "
        "list_max(list_transform(? , x -> abs(x))) AS m)",
        [v, v],
    ).fetchone()
    m = max(abs(x) for x in v)
    assert len(q) == len(v)
    if m == 0:
        assert all(c == 0 for c in q)
        return
    for x, c in zip(v, q):
        # range, sign preservation, and half-away-from-zero rounding
        assert -127 <= c <= 127
        assert c * x >= 0
        exact = abs(x) * 127 / m
        assert abs(abs(c) - exact) <= 0.5 + 1e-9
    # the max-magnitude component always saturates
    assert 127 in [abs(c) for x, c in zip(v, q) if abs(x) == m]


edge_lists = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)),
    min_size=1,
    max_size=60,
)


def _union_find_components(edges):
    """Reference implementation: classic union-find over the edge list,
    labels = min node id per component (the operators' output contract)."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = set()
    for a, b in edges:
        if a == b:
            continue
        nodes.update((a, b))
        for n in (a, b):
            parent.setdefault(n, n)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict[int, int] = {}
    for n in nodes:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    return {(n, comp_min[find(n)]) for n in nodes}


@SPARK_SETTINGS
@given(edges=edge_lists)
def test_star_components_match_union_find(spark, edges):
    from uda_spark.operators.dedup import connected_components

    expected = _union_find_components(edges)
    if not expected:  # all self-loops: the operator returns no rows
        return
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        (r["node"], r["component"])
        for r in connected_components(df).collect()
    }
    assert got == expected


class TestPartitioningIndependence:
    """Results must be invariant to shuffle width — the property that
    makes a local run predictive of a 1000-executor run.  The parity
    sweep covers the tuned width (8) and the driver sweep covers the
    default (200); this pins a deliberately awkward odd width for the
    queries whose arithmetic is most partitioning-sensitive (float
    folds, order statistics, sketch minima, global ranks)."""

    SENSITIVE = [
        "events_user_entropy",        # ordered float fold
        "sim_label_centroid_dist",    # dimension-ordered float norm
        "events_value_winsorize",     # exact order statistics
        "sketch_kmv_intersection",    # hash minima + estimates
        "terasort_rank",              # global total order
        "text_bigram_logprob",        # quantized-log sums
    ]

    def test_results_stable_under_odd_partitioning(self, spark):
        from pyspark.sql import functions as F  # noqa: F401

        from tests.conftest import SF_SMOKE
        from uda_spark.cache import release_persisted
        from uda_spark.registry import all_specs

        specs = all_specs()
        before = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            results = {}
            for width in ("8", "17"):
                spark.conf.set("spark.sql.shuffle.partitions", width)
                for name in self.SENSITIVE:
                    df = specs[name].fn(spark, SF_SMOKE)
                    rows = sorted(tuple(str(v) for v in r) for r in df.collect())
                    release_persisted()
                    results.setdefault(name, []).append(rows)
            for name, (a, b) in results.items():
                assert a == b, f"{name} changed under shuffle width 17"
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)


# ---------------------------------------------------------------------------
# Round 6: property tests for the quality module's estimator tier
# (VERDICT r05 #5) — KMV error bounds + permutation/partitioning
# invariance, and the order-statistic invariants of winsorize / MAD.


class TestKmvEstimator:
    """The KMV estimator used by sketch_kmv_intersection, exercised on
    synthetic id sets built with the SAME portable hash + estimator
    expressions as the live query."""

    @staticmethod
    def _estimate(spark, ids, n_parts):
        import pyspark.sql.functions as SF
        from pyspark.sql import Window as W

        from uda_spark.functions import portable
        from uda_spark.queries.quality import KMV_K, _kmv_est

        df = spark.createDataFrame([(i,) for i in ids], "user_id string").repartition(
            n_parts
        )
        h = df.select(
            SF.expr(
                portable.hash60("concat('kmv|', CAST(user_id AS STRING))", "spark")
            ).alias("hv"),
            "user_id",
        )
        w = W.orderBy("hv", "user_id")
        kmv = h.withColumn("rk", SF.row_number().over(w)).where(SF.col("rk") <= KMV_K)
        row = kmv.agg(
            SF.count("*").cast("long").alias("cnt"),
            SF.expr(_kmv_est("max(hv)")).alias("full_est"),
        ).collect()[0]
        return int(row["cnt"]) if row["cnt"] < KMV_K else int(row["full_est"])

    @SPARK_SETTINGS
    @given(
        n=st.integers(min_value=1, max_value=1200),
        seed=st.integers(min_value=0, max_value=10**6),
    )
    def test_small_sets_exact_large_sets_bounded(self, spark, n, seed):
        import math

        from uda_spark.queries.quality import KMV_K

        ids = [f"u{seed}-{i}" for i in range(n)]
        est = self._estimate(spark, ids, 4)
        if n <= KMV_K:
            # the sketch holds the whole set -> exact by construction
            assert est == n
        else:
            # KMV standard error ~ 1/sqrt(k-2); md5-of-id hashes are
            # effectively uniform, so 6 sigma is a deterministic-safe bound
            # for these fixed (n, seed) inputs
            assert abs(est - n) <= 6 * n / math.sqrt(KMV_K - 2), (n, est)

    def test_estimate_is_partitioning_and_order_invariant(self, spark):
        rng = random.Random(11)
        ids = [f"perm-{i}" for i in range(300)]
        base = self._estimate(spark, ids, 1)
        for n_parts in (3, 17):
            rng.shuffle(ids)
            assert self._estimate(spark, ids, n_parts) == base


class TestQualityOrderStatInvariants:
    """Structural invariants of the exact-order-statistic queries on the
    live smoke tables: every returned row must satisfy the definition it
    claims (clip bounds, MAD threshold), independent of data values."""

    def test_winsorize_cut_and_sum_bounds(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.registry import all_specs

        rows = all_specs()["events_value_winsorize"].fn(spark, SF_SMOKE).collect()
        assert rows
        for r in rows:
            n = r["n"]
            assert r["p01_micros"] <= r["p99_micros"]
            # rank cut 1 + (n-1) div 100: at most that many strictly below p01
            assert 0 <= r["n_clipped_low"] <= (n - 1) // 100
            assert 0 <= r["n_clipped_high"] <= n - 1 - (99 * (n - 1)) // 100
            assert n * r["p01_micros"] <= r["sum_clipped_micros"] <= n * r["p99_micros"]

    def test_mad_anomalies_satisfy_their_threshold(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.queries.quality import MAD_K
        from uda_spark.registry import all_specs

        rows = all_specs()["events_hourly_anomalies_mad"].fn(spark, SF_SMOKE).collect()
        for r in rows:
            assert r["mad_events"] > 0
            assert abs(r["n_events"] - r["median_events"]) >= MAD_K * r["mad_events"]
            assert r["is_anomaly"] is True

    def test_kmv_live_query_error_bounds(self, spark):
        import math

        from tests.conftest import SF_SMOKE
        from uda_spark.queries.quality import KMV_K
        from uda_spark.registry import all_specs

        row = all_specs()["sketch_kmv_intersection"].fn(spark, SF_SMOKE).collect()[0]
        se = 6 / math.sqrt(KMV_K - 2)
        for est, exact in ((row["est_a"], row["exact_a"]), (row["est_b"], row["exact_b"])):
            if exact <= KMV_K:
                assert est == exact
            else:
                assert abs(est - exact) <= se * exact, (est, exact)
        assert 0 <= row["jaccard_est_ppm"] <= 1_000_000
        # intersection can never exceed the union estimate
        assert row["est_inter"] <= max(row["est_a"], row["est_b"]) * (1 + se)


@SPARK_SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)),
        min_size=1,
        max_size=120,
    )
)
def test_triangle_stats_matches_bruteforce(spark, edges):
    """triangle_stats (degree-oriented wedge closure, round-6 width
    refactor) must agree with a brute-force O(n^3) count on arbitrary
    small graphs — self-loops and duplicate pairs are normalized away by
    the same rule both sides use."""
    from itertools import combinations

    from uda_spark.operators.graph import triangle_stats

    # normalize: undirected simple graph, no self-loops
    eset = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not eset:
        return
    nodes = sorted({n for e in eset for n in e})
    tri = sum(
        1
        for x, y, z in combinations(nodes, 3)
        if ((x, y) in eset and (x, z) in eset and (y, z) in eset)
    )
    deg = {n: sum(1 for e in eset if n in e) for n in nodes}
    wedges = sum(d * (d - 1) // 2 for d in deg.values())

    df = spark.createDataFrame(sorted(eset), "doc_a long, doc_b long")
    row = triangle_stats(df).collect()[0]
    assert row["n_nodes"] == len(nodes)
    assert row["n_edges"] == len(eset)
    assert row["n_wedges"] == wedges
    assert row["n_triangles"] == tri


def test_tvd_drift_bounds_and_self_consistency(spark):
    """TVD is a metric on probability distributions: every per-source
    value must land in [0, 1e6] ppm, and a single-source corpus (each
    source alone IS the corpus) must measure 0 drift."""
    from tests.conftest import SF_SMOKE
    from uda_spark.registry import all_specs

    rows = all_specs()["text_source_drift_tvd"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r["tvd_ppm"] <= 1_000_000
        assert 1 <= r["n_terms"] <= r["n_tokens"]


def test_attribution_models_conserve_purchases(spark):
    """Both attribution models are complete partitions of the same
    purchase set: summed over channels, first- and last-touch counts
    must each equal the number of purchases, and both cents columns
    must equal total purchase value — credit is conserved, never
    double-counted or dropped."""
    from tests.conftest import SF_SMOKE
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    rows = all_specs()["events_attribution_touchpoints"].fn(spark, SF_SMOKE).collect()
    ev = load_table(spark, SF_SMOKE, "events").where(F.col("event_type") == "purchase")
    n_purchases = ev.count()
    total_cents = ev.agg(
        F.sum(F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
    ).collect()[0][0]
    assert sum(r["n_first"] for r in rows) == n_purchases
    assert sum(r["n_last"] for r in rows) == n_purchases
    assert sum(r["first_touch_cents"] for r in rows) == total_cents
    assert sum(r["last_touch_cents"] for r in rows) == total_cents


@SPARK_SETTINGS
@given(
    docs=st.lists(
        st.lists(st.integers(0, 30), min_size=1, max_size=12),
        min_size=2,
        max_size=25,
    )
)
def test_prefix_filter_join_is_complete(spark, docs):
    """Prefix filtering must find EVERY pair with Jaccard >= 3/5 (zero
    false negatives is the algorithm's theorem; an off-by-one in the
    prefix length silently breaks it).  Brute-force all-pairs Jaccard
    over random small token sets is the ground truth."""
    from itertools import combinations

    from uda_spark.queries.dedup import PFX_DEN, PFX_NUM
    from uda_spark.registry import all_specs  # noqa: F401  (import path check)

    sets = [frozenset(d) for d in docs]
    rows = [(i, " ".join(f"t{t}" for t in sorted(s))) for i, s in enumerate(sets)]
    expected = set()
    for (i, a), (j, b) in combinations(list(enumerate(sets)), 2):
        inter = len(a & b)
        if inter * PFX_DEN >= PFX_NUM * len(a | b):
            expected.add((i, j))

    # run the same pipeline the registered query uses, on this corpus
    import pyspark.sql.functions as SF
    from pyspark.sql import Window as W

    df = spark.createDataFrame(rows, "doc_id long, text string")
    from uda_spark.functions import portable

    tk = df.select(
        "doc_id",
        SF.explode(
            SF.array_distinct(SF.expr(portable.tokens("text", "spark")))
        ).alias("tok"),
    ).distinct()
    dfreq = tk.groupBy("tok").agg(SF.count("*").alias("df"))
    ranked = (
        tk.join(dfreq, on="tok")
        .withColumn("rn", SF.row_number().over(W.partitionBy("doc_id").orderBy("df", "tok")))
        .withColumn("n", SF.count("*").over(W.partitionBy("doc_id")))
    )
    pfx = ranked.where(
        SF.col("rn")
        <= SF.col("n") - SF.expr(f"({PFX_NUM} * n + {PFX_DEN} - 1) div {PFX_DEN}") + 1
    ).select("doc_id", "tok")
    cand = (
        pfx.alias("a")
        .join(pfx.alias("b"), SF.expr("a.tok = b.tok AND a.doc_id < b.doc_id"))
        .select(SF.col("a.doc_id").alias("doc_a"), SF.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    got_cand = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}
    missing = expected - got_cand
    assert not missing, f"prefix filter dropped true pairs: {sorted(missing)[:5]}"


class TestStatisticsTierInvariants:
    """Round-7 property tests for the one-pass statistics tier (VERDICT
    r06 #5): the OLS fit, the pairwise correlation matrix, and the Welch
    A/B readout are checked against an independent numpy computation on
    the SAME rows, plus the structural invariants each statistic must
    satisfy by definition (R^2 and |r| bounds, sign agreements).  The
    moments are exact integer sums (order-independent by construction),
    so partitioning invariance is inherited; the numpy cross-check
    pins the final double projection."""

    @staticmethod
    def _lineitem_xy(spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.sources.tables import load_table

        import pyspark.sql.functions as SF

        rows = (
            load_table(spark, SF_SMOKE, "lineitem")
            .select(
                SF.expr("CAST(l_quantity AS BIGINT)").alias("x"),
                SF.expr(
                    "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
                ).alias("y"),
            )
            .collect()
        )
        import numpy as np

        return (
            np.array([r["x"] for r in rows], dtype=np.float64),
            np.array([r["y"] for r in rows], dtype=np.float64),
        )

    def test_ols_matches_numpy_and_bounds(self, spark):
        import numpy as np

        from tests.conftest import SF_SMOKE
        from uda_spark.registry import all_specs

        row = all_specs()["ml_linear_fit_price_qty"].fn(spark, SF_SMOKE).collect()[0]
        x, y = self._lineitem_xy(spark)
        assert row["n_rows"] == len(x)
        assert 0.0 <= row["r2"] <= 1.0
        cov = np.cov(x, y, bias=True)[0, 1]
        # slope sign must match covariance sign
        assert (row["slope_cents_per_unit"] > 0) == (cov > 0)
        slope_np = cov / np.var(x)
        corr = np.corrcoef(x, y)[0, 1]
        assert abs(row["slope_cents_per_unit"] - slope_np) <= 1e-4 * max(
            1.0, abs(slope_np)
        )
        assert abs(row["r2"] - corr * corr) <= 1e-6
        # intercept: mean(y) - slope * mean(x), rounded to integer cents
        icpt_np = y.mean() - slope_np * x.mean()
        assert abs(row["intercept_cents"] - icpt_np) <= 1.0

    def test_correlation_matrix_matches_numpy_and_bounds(self, spark):
        import numpy as np

        from tests.conftest import SF_SMOKE
        from uda_spark.queries.quality import _CORR_MEASURES
        from uda_spark.registry import all_specs
        from uda_spark.sources.tables import load_table

        import pyspark.sql.functions as SF

        rows = all_specs()["ml_correlation_matrix"].fn(spark, SF_SMOKE).collect()
        names = [n for n, _ in _CORR_MEASURES]
        n_vars = len(names)
        assert len(rows) == n_vars * (n_vars - 1) // 2
        data = (
            load_table(spark, SF_SMOKE, "lineitem")
            .select(*[SF.expr(e).alias(n) for n, e in _CORR_MEASURES])
            .collect()
        )
        cols = {
            n: np.array([r[n] for r in data], dtype=np.float64) for n in names
        }
        for r in rows:
            assert -1.0 <= r["corr"] <= 1.0
            ref = np.corrcoef(cols[r["var_a"]], cols[r["var_b"]])[0, 1]
            assert abs(r["corr"] - ref) <= 1e-6, (r["var_a"], r["var_b"], r["corr"], ref)

    def test_welch_matches_numpy_and_sign(self, spark):
        import numpy as np

        from tests.conftest import SF_SMOKE
        from uda_spark.registry import all_specs
        from uda_spark.sources.tables import load_table

        import pyspark.sql.functions as SF

        row = all_specs()["events_ab_welch_test"].fn(spark, SF_SMOKE).collect()[0]
        data = (
            load_table(spark, SF_SMOKE, "events")
            .where(SF.col("value").isNotNull())
            .select(
                (SF.col("user_id") % 2).cast("int").alias("cohort"),
                SF.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
                    "cents"
                ),
            )
            .collect()
        )
        a = np.array([r["cents"] for r in data if r["cohort"] == 0], dtype=np.float64)
        b = np.array([r["cents"] for r in data if r["cohort"] == 1], dtype=np.float64)
        assert row["n_a"] == len(a) and row["n_b"] == len(b)
        mean_diff = a.mean() - b.mean()
        assert abs(row["mean_diff_cents"] - mean_diff) <= 1e-4 * max(1.0, abs(mean_diff))
        # t sign must equal the mean-difference sign
        assert (row["welch_t"] > 0) == (mean_diff > 0)
        t_np = mean_diff / np.sqrt(
            a.var(ddof=0) / (len(a) - 1) + b.var(ddof=0) / (len(b) - 1)
        )
        assert abs(row["welch_t"] - t_np) <= 1e-4 * max(1.0, abs(t_np))


class TestEvaluationTierInvariants:
    """Round-7 model-evaluation tier: the rank-sum AUC must equal the
    brute-force pairwise definition (P[score_pos > score_neg] + P[tie]/2)
    on the live rows, and the confusion/calibration readouts must satisfy
    their accounting identities."""

    @staticmethod
    def _base_rows(spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.queries.evaluation import _user_label_score

        return _user_label_score(spark, SF_SMOKE).collect()

    def test_auc_matches_pairwise_definition(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.registry import all_specs

        row = all_specs()["ml_auc_rank_sum"].fn(spark, SF_SMOKE).collect()[0]
        base = self._base_rows(spark)
        pos = [r["score"] for r in base if r["label"] == 1]
        neg = [r["score"] for r in base if r["label"] == 0]
        assert row["n_pos"] == len(pos) and row["n_neg"] == len(neg)
        # brute-force U in halves: win = 2, tie = 1
        u2 = sum(2 if p > n else (1 if p == n else 0) for p in pos for n in neg)
        assert row["u2"] == u2
        assert row["auc_ppm"] == u2 * 1_000_000 // (2 * len(pos) * len(neg))
        assert 0 <= row["auc_ppm"] <= 1_000_000

    def test_confusion_accounting_identities(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.queries.evaluation import CONFUSION_THRESHOLD_CENTS
        from uda_spark.registry import all_specs

        row = all_specs()["ml_confusion_report"].fn(spark, SF_SMOKE).collect()[0]
        base = self._base_rows(spark)
        assert row["tp"] + row["fp"] + row["tn"] + row["fn"] == len(base)
        tp = sum(
            1
            for r in base
            if r["score"] >= CONFUSION_THRESHOLD_CENTS and r["label"] == 1
        )
        assert row["tp"] == tp
        if row["tp"] + row["fp"]:
            assert row["precision_ppm"] == row["tp"] * 1_000_000 // (row["tp"] + row["fp"])
        if row["tp"] + row["fn"]:
            assert row["recall_ppm"] == row["tp"] * 1_000_000 // (row["tp"] + row["fn"])

    def test_calibration_bins_partition_users(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.registry import all_specs

        rows = all_specs()["ml_calibration_bins"].fn(spark, SF_SMOKE).collect()
        base = self._base_rows(spark)
        assert sum(r["n_users"] for r in rows) == len(base)
        for r in rows:
            assert 0 <= r["bin"] <= 9
            assert 0 <= r["pos_rate_ppm"] <= 1_000_000
            # mean predicted ppm must fall inside the bin's range
            assert r["bin"] * 100_000 <= r["mean_score_ppm"] < (r["bin"] + 1) * 100_000


class TestGraphDegreeHistogramInvariants:
    """graph_degree_histogram must account exactly for the pair relation
    it summarizes: sum(n_nodes) = #distinct endpoint nodes,
    sum(sum_degree) = 2 * #pairs, and each bucket's degree range must
    live inside [2^bucket, 2^(bucket+1))."""

    def test_histogram_accounts_for_pairs(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.queries.dedup import (
            BANDS,
            JACCARD_T,
            N_HASHES,
            _corpus_near,
        )
        from uda_spark.operators.dedup import minhash_near_dup_pairs
        from uda_spark.registry import all_specs

        rows = all_specs()["graph_degree_histogram"].fn(spark, SF_SMOKE).collect()
        pairs = minhash_near_dup_pairs(
            _corpus_near(spark, SF_SMOKE), "text", "doc_id",
            n_hashes=N_HASHES, bands=BANDS, k=3, jaccard_threshold=JACCARD_T,
        ).collect()
        nodes = {p["doc_a"] for p in pairs} | {p["doc_b"] for p in pairs}
        assert sum(r["n_nodes"] for r in rows) == len(nodes)
        assert sum(r["sum_degree"] for r in rows) == 2 * len(pairs)
        for r in rows:
            lo, hi = 1 << r["log2_bucket"], 1 << (r["log2_bucket"] + 1)
            assert lo <= r["min_degree"] <= r["max_degree"] < hi


class TestLshRecallEvalInvariants:
    """dedup_lsh_recall_eval's structural guarantees: verified-LSH pairs
    are a SUBSET of the exact join's output (so n_lsh == n_found and
    precision is exactly 1.0), and recall_ppm is the integer ratio."""

    def test_subset_and_ratio_identities(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.registry import all_specs

        row = all_specs()["dedup_lsh_recall_eval"].fn(spark, SF_SMOKE).collect()[0]
        assert row["n_lsh"] == row["n_found"]
        assert row["precision_ppm"] == 1_000_000
        assert row["n_found"] <= row["n_truth"]
        assert row["recall_ppm"] == row["n_found"] * 1_000_000 // row["n_truth"]


class TestHistogramQuantileSketchBracket:
    """The mergeable histogram sketch's error contract: for each q, the
    exact rank-target order statistic of the underlying cents values
    must fall inside the reported [lo_cents, hi_cents] bucket."""

    def test_bracket_contains_exact_quantile(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.registry import all_specs
        from uda_spark.sources.tables import event_micros, load_table

        import pyspark.sql.functions as SF

        rows = all_specs()["sketch_histogram_quantiles"].fn(spark, SF_SMOKE).collect()
        ev = load_table(spark, SF_SMOKE, "events")
        cents = sorted(
            r["cents"]
            for r in ev.select(
                SF.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
                    "cents"
                )
            ).collect()
            if r["cents"] is not None and r["cents"] > 0
        )
        assert rows and len(cents) == rows[0]["total_n"]
        for r in rows:
            exact = cents[r["target_rank"] - 1]  # rank is 1-based
            assert r["lo_cents"] <= exact <= r["hi_cents"], (r, exact)
            # factor-2 bracket by construction
            assert r["hi_cents"] < 2 * r["lo_cents"]

    def test_incremental_day_merges_without_recompute(self, spark, tmp_path):
        """Appending a day to the persisted sketch re-runs ONLY the
        bounded SUM-merge: the new day contributes <= 64 level-1 rows
        computed from its own events alone, the merge consumes nothing
        but the persisted relation (the plan never rescans the events
        corpus), and the result equals the full recompute exactly."""
        from tests.conftest import SF_SMOKE
        from uda_spark.plans.explain import plan_str
        from uda_spark.queries.quality import histogram_lvl1, histogram_quantiles
        from uda_spark.sources.tables import event_micros, load_table

        import pyspark.sql.functions as SF

        ev = load_table(spark, SF_SMOKE, "events")
        day = SF.expr("ts_us div 86400000000")
        with_day = ev.withColumn("ts_us", event_micros(ev))
        cutoff = with_day.agg(SF.max(day).alias("m")).collect()[0]["m"]

        path = str(tmp_path / "qhist")
        # day 0..cutoff-1: the already-persisted historical sketch
        histogram_lvl1(with_day.where(day < cutoff)).write.mode(
            "overwrite"
        ).parquet(path)
        # the appended day's level-1 rows come from ITS events only
        new_rows = histogram_lvl1(with_day.where(day == cutoff))
        assert new_rows.count() <= 64
        new_rows.write.mode("append").parquet(path)

        merged = histogram_quantiles(spark.read.parquet(path))
        assert "events.parquet" not in plan_str(merged, final_only=False)
        expect = histogram_quantiles(histogram_lvl1(ev))
        assert sorted(map(tuple, merged.collect()), key=lambda t: t[0]) == sorted(
            map(tuple, expect.collect()), key=lambda t: t[0]
        )


class TestCusumChangepointInvariants:
    """events_cusum_changepoint must return the true argmax of the
    scaled centered CUSUM over the daily series (recomputed here from
    the same rows in plain Python), with the documented tie-break."""

    def test_argmax_matches_recompute(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.registry import all_specs
        from uda_spark.sources.tables import event_micros, load_table

        import pyspark.sql.functions as SF

        row = all_specs()["events_cusum_changepoint"].fn(spark, SF_SMOKE).collect()[0]
        ev = load_table(spark, SF_SMOKE, "events")
        daily = sorted(
            (r["day"], r["n"])
            for r in ev.withColumn("ts_us", event_micros(ev))
            .groupBy(SF.expr("ts_us div 86400000000").alias("day"))
            .agg(SF.count("*").alias("n"))
            .collect()
        )
        d = len(daily)
        s = sum(n for _, n in daily)
        assert row["n_days"] == d
        cum, best = 0, None
        for t, (day, n) in enumerate(daily, start=1):
            cum += n
            dev = abs(cum * d - t * s)
            if best is None or dev > best[0] or (dev == best[0] and day < best[1]):
                best = (dev, day, cum, t)
        assert row["max_abs_cusum_scaled"] == best[0]
        assert row["changepoint_day"] == best[1]
        assert row["mean_before_milli"] == best[2] * 1000 // best[3]


@pytest.mark.slow
def test_auc_rank_sum_scale_stress(spark):
    """The grouped rank-sum AUC machinery at 2M users with 2M DISTINCT
    scores (the worst case for the distinct-score-group formulation —
    every group has size 1) and an analytically known answer:
    positives at odd scores 2i+1, negatives at even scores 2i
    (i in [0, n)), so positive i beats exactly i+1 negatives:
    U = sum(i+1) = n(n+1)/2 and AUC = (n+1)/(2n) -> 500000 ppm + eps.

    Runs the SAME code path as ml_auc_rank_sum (rank_sum_stats), and
    asserts the round-8 scale contract: the cumulative-count window is
    range-partitioned — NO single-partition exchange anywhere before
    the one-row final reduction (whose SinglePartition exchange moves
    only O(num_partitions) partial-aggregate rows)."""
    import time

    from pyspark.sql import functions as SF

    from uda_spark.operators.sort import global_cumulative_sums
    from uda_spark.plans.explain import plan_str
    from uda_spark.queries.evaluation import rank_sum_stats

    n = 1_000_000
    base = spark.range(2 * n).select(
        (F.col("id") % 2).cast("int").alias("label"),
        # even ids are negatives at score id; odd ids positives at score id
        F.col("id").alias("score"),
    )
    grp = base.groupBy("score").agg(
        SF.count("*").cast("long").alias("c"),
        SF.sum("label").cast("long").alias("p"),
    )
    # Plan contract: the cumulative relation itself never funnels the
    # 2M groups through one task.
    cum = global_cumulative_sums(grp, ["score"], ["c"], ["cum_before"])
    assert "SinglePartition" not in plan_str(cum, mode="simple")

    t0 = time.perf_counter()
    row = rank_sum_stats(grp).collect()[0]
    wall = time.perf_counter() - t0
    assert row["n_pos"] == row["n_neg"] == n
    assert row["u2"] == n * (n + 1)  # 2U where U = n(n+1)/2
    assert row["auc_ppm"] == (n + 1) * 1_000_000 // (2 * n)
    assert wall < 180, f"AUC at 2M users took {wall:.0f}s"


def test_rank_sum_ppm_past_int64_wrap(spark):
    """The ppm step beyond the int64 wrap point: with n_pos = n_neg =
    5e6 (every positive above every negative) u2 = 2*n^2 = 5e13 and
    u2 * 1e6 = 5e19 > 2^63 — round-7's BIGINT arithmetic wrapped
    silently here; the DECIMAL(38,0) path must return exactly 1e6 ppm.
    Cheap: rank_sum_stats consumes the 2-row grouped relation directly."""
    from uda_spark.queries.evaluation import rank_sum_stats

    n = 5_000_000
    grp = spark.createDataFrame(
        [(0, n, 0), (1, n, n)], "score LONG, c LONG, p LONG"
    )
    row = rank_sum_stats(grp).collect()[0]
    assert row["n_pos"] == row["n_neg"] == n
    assert row["u2"] == 2 * n * n
    assert row["auc_ppm"] == 1_000_000


def test_lift_ppm_past_int64_wrap(spark):
    """ml_lift_deciles' lift numerator n_pos * n_total * 1e6 exceeds
    int64 once positives reach ~10M at corpus scale (round-8 ADVICE):
    with 20M users, 10M positives all ranked first, decile 1 is pure
    positives so lift = n_total/pos_total = 2.0 exactly — 2_000_000 ppm.
    BIGINT arithmetic wraps (1e7 * 2e7 * 1e6 = 2e20 > 2^63) and returns
    garbage; the DECIMAL(38,0) carry must return the exact value.
    Cheap: feeds a 20-row pre-ranked relation via a run-length expand,
    skipping global_rank."""
    import pyspark.sql.functions as SF

    from uda_spark.queries.evaluation import lift_from_ranked

    n = 20_000_000
    half = n // 2
    # 20 compact (label, block) rows expand to n ranked rows lazily —
    # rnk = block*1M + offset, labels: first half positive.
    blocks = spark.range(20).select(
        SF.col("id").alias("b"),
        SF.when(SF.col("id") < 10, SF.lit(1)).otherwise(SF.lit(0)).alias("label"),
    )
    ranked = blocks.select(
        "label",
        SF.explode(
            SF.sequence(SF.col("b") * 1_000_000 + 1, (SF.col("b") + 1) * 1_000_000)
        ).alias("rnk"),
    )
    rows = {r["decile"]: r for r in lift_from_ranked(ranked).collect()}
    assert rows[1]["n_users"] == n // 10 and rows[1]["n_pos"] == n // 10
    assert rows[1]["lift_ppm"] == 2_000_000  # wraps to nonsense in BIGINT
    assert rows[10]["lift_ppm"] == 0
    assert rows[5]["cum_capture_ppm"] == 1_000_000
    assert sum(r["n_pos"] for r in rows.values()) == half


def test_reliable_checkpoint_mode(spark, tmp_path):
    """checkpoint_mode='reliable' routes the two-pass operators through
    DataFrame.checkpoint() against a fault-tolerant checkpoint dir
    (survives executor loss at cluster scale, unlike the default local
    mode — see operators/sort.py's mode tradeoff note).  Run a full
    order-statistic query under it and pin: same results as local mode,
    checkpoint files actually written, and a clear error when no
    checkpoint dir is configured."""
    import pytest as _pt

    from tests.conftest import SF_SMOKE
    from uda_spark.operators import sort as S
    from uda_spark.registry import all_specs

    fn = all_specs()["window_ntile_deciles"].fn
    baseline = sorted(map(tuple, fn(spark, SF_SMOKE).collect()))

    S.set_checkpoint_mode("reliable")
    try:
        # without a checkpoint dir: actionable failure, not a JVM error
        with _pt.raises(RuntimeError, match="setCheckpointDir"):
            fn(spark, SF_SMOKE).collect()

        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        rows = sorted(map(tuple, fn(spark, SF_SMOKE).collect()))
        assert rows == baseline
        written = list((tmp_path / "ckpt").rglob("*"))
        assert written, "reliable mode wrote no checkpoint files"
    finally:
        S.set_checkpoint_mode("local")
        spark.sparkContext.setCheckpointDir(None)

    with _pt.raises(ValueError):
        S.set_checkpoint_mode("bogus")


def test_ks_single_class_returns_null_not_error(spark):
    """ml_ks_statistic with a single-class input: n_neg = 0 makes the
    ppm denominator zero — the NULLIF guard must yield NULL ks_ppm in
    Spark (and the oracle's NULLIF keeps DuckDB from erroring), matching
    rank_sum_stats' contract for the same degenerate input."""
    from uda_spark.queries.evaluation import ks_stats

    grp = spark.createDataFrame(
        [(1, 5, 5), (2, 3, 3)], "score LONG, c LONG, p LONG"
    )
    row = ks_stats(grp).collect()[0]
    assert row["n_pos"] == 8 and row["n_neg"] == 0
    assert row["ks_ppm"] is None


class TestRound8QueryInvariants:
    """Cross-checks for the round-8 tier beyond oracle parity: recompute
    the statistic in plain Python from the same rows, or pin the
    structural invariants the SQL can't state."""

    def test_chi_square_matches_python_recompute(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.registry import all_specs
        from uda_spark.sources.tables import event_micros, load_table

        import pyspark.sql.functions as SF

        row = all_specs()["ml_chi_square_independence"].fn(spark, SF_SMOKE).collect()[0]
        ev = load_table(spark, SF_SMOKE, "events")
        cells = {
            (r["event_type"], r["dow"]): r["o"]
            for r in ev.withColumn("ts_us", event_micros(ev))
            .groupBy("event_type", SF.expr("(ts_us div 86400000000) % 7").alias("dow"))
            .agg(SF.count("*").alias("o"))
            .collect()
        }
        n = sum(cells.values())
        rm, cm = {}, {}
        for (t_, d), o in cells.items():
            rm[t_] = rm.get(t_, 0) + o
            cm[d] = cm.get(d, 0) + o
        chi2_milli = sum(
            ((o * n - rm[t_] * cm[d]) ** 2 * 1000) // (rm[t_] * cm[d] * n)
            for (t_, d), o in cells.items()
        )
        assert row["n_cells"] == len(cells)
        assert row["n_obs"] == n
        assert row["dof"] == (len(rm) - 1) * (len(cm) - 1)
        assert row["chi2_milli"] == chi2_milli

    def test_binary_hamming_matches_popcount_recompute(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.registry import all_specs
        from uda_spark.sources.tables import load_table

        rows = all_specs()["sim_binary_hamming_knn"].fn(spark, SF_SMOKE).collect()
        emb = {
            r["vec_id"]: r["embedding"]
            for r in load_table(spark, SF_SMOKE, "embeddings").collect()
        }

        def sig(v):
            return sum(1 << d for d, x in enumerate(v) if x > 0)

        assert rows
        for r in rows:
            expect = bin(sig(emb[r["query_id"]]) ^ sig(emb[r["neighbor_id"]])).count("1")
            assert r["hamming"] == expect, (r, expect)
            assert 0 <= r["hamming"] <= 64

    def test_ndcg_bounds_and_idcg_lookup(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.queries.evaluation import _CUM, NDCG_K
        from uda_spark.registry import all_specs

        rows = all_specs()["ml_ndcg_at_k"].fn(spark, SF_SMOKE).collect()
        assert rows
        for r in rows:
            assert r["idcg_ppm"] == _CUM[min(NDCG_K, r["n_rel"])]
            assert 0 <= r["dcg_ppm"] <= r["idcg_ppm"]
            assert 0 <= r["ndcg_ppm"] <= 1_000_000
            assert r["ndcg_ppm"] == r["dcg_ppm"] * 1_000_000 // r["idcg_ppm"]

    def test_compaction_plan_partitions_the_manifest(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.registry import all_specs
        from uda_spark.sources.tables import load_table

        import pyspark.sql.functions as SF

        rows = all_specs()["pipeline_compaction_plan"].fn(spark, SF_SMOKE).collect()
        files = (
            load_table(spark, SF_SMOKE, "documents")
            .groupBy("source", "lang")
            .agg(SF.sum("n_chars").alias("s"))
            .collect()
        )
        gids = sorted(r["compaction_group"] for r in rows)
        assert gids == list(range(len(rows)))  # contiguous group ids
        assert sum(r["n_files"] for r in rows) == len(files)
        assert sum(r["total_chars"] for r in rows) == sum(r["s"] for r in files)

    def test_k_anonymity_matches_python_recompute(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.queries.quality import K_ANON
        from uda_spark.registry import all_specs
        from uda_spark.sources.tables import load_table

        import collections

        import pyspark.sql.functions as SF

        row = all_specs()["dq_k_anonymity"].fn(spark, SF_SMOKE).collect()[0]
        sizes = collections.Counter()
        for r in (
            load_table(spark, SF_SMOKE, "documents")
            .select("lang", "source", SF.expr("n_chars div 100").alias("b"))
            .collect()
        ):
            sizes[(r["lang"], r["source"], r["b"])] += 1
        small = [n for n in sizes.values() if n < K_ANON]
        assert row["n_groups"] == len(sizes)
        assert row["n_small_groups"] == len(small)
        assert row["n_rows_at_risk"] == sum(small)
        assert row["min_group_size"] == min(sizes.values())
        assert row["at_risk_ppm"] == sum(small) * 1_000_000 // sum(sizes.values())


def test_survival_km_matches_python_recompute(spark):
    """events_survival_km must equal the textbook Kaplan-Meier estimator
    recomputed in plain Python (integer ppm fold, same truncating
    division) from the same per-user first-event / first-error days."""
    from tests.conftest import SF_SMOKE
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import event_micros, load_table

    import pyspark.sql.functions as SF

    rows = sorted(
        map(tuple, all_specs()["events_survival_km"].fn(spark, SF_SMOKE).collect())
    )
    ev = load_table(spark, SF_SMOKE, "events")
    per_user = (
        ev.withColumn("ts_us", event_micros(ev))
        .groupBy("user_id")
        .agg(
            SF.min(SF.expr("ts_us div 86400000000")).alias("f"),
            SF.max(SF.expr("ts_us div 86400000000")).alias("l"),
            SF.min(
                SF.expr(
                    "CASE WHEN event_type = 'error' THEN ts_us div 86400000000 END"
                )
            ).alias("e"),
        )
        .collect()
    )
    horizon = max(r["l"] for r in per_user)
    obs = [
        ((r["e"] - r["f"]) if r["e"] is not None else horizon - r["f"],
         1 if r["e"] is not None else 0)
        for r in per_user
    ]
    import collections

    tbl = collections.defaultdict(lambda: [0, 0])
    for dur, evf in obs:
        tbl[dur][0] += 1
        tbl[dur][1] += evf
    expect, s, at_risk = [], 1_000_000, len(obs)
    for dur in sorted(tbl):
        n_total, d = tbl[dur]
        s = s * (at_risk - d) // at_risk
        expect.append((dur, at_risk, d, s))
        at_risk -= n_total
    assert rows == sorted(expect)


def test_ols_two_features_matches_numpy_lstsq(spark):
    """ml_ols_two_features' closed-form coefficients must agree with
    numpy's least-squares solution on the same exact integer design
    matrix (independent algorithm: SVD vs normal equations)."""
    import numpy as np

    from tests.conftest import SF_SMOKE
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    import pyspark.sql.functions as SF

    row = all_specs()["ml_ols_two_features"].fn(spark, SF_SMOKE).collect()[0]
    rows = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select(
            SF.expr("CAST(l_quantity AS BIGINT)").alias("x1"),
            SF.expr("CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)").alias("x2"),
            SF.expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("y"),
        )
        .collect()
    )
    X = np.array([[1.0, r["x1"], r["x2"]] for r in rows])
    y = np.array([float(r["y"]) for r in rows])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert row["n_rows"] == len(rows)
    assert abs(row["b_qty_cents_per_unit"] - beta[1]) < 1e-3 * max(1, abs(beta[1]))
    assert abs(row["b_discount_cents_per_bp"] - beta[2]) < 1e-3 * max(1, abs(beta[2]))
    assert abs(row["intercept_cents"] - beta[0]) <= max(1, 1e-6 * abs(beta[0])) + 1
    resid = y - X @ beta
    r2 = 1 - (resid @ resid) / ((y - y.mean()) @ (y - y.mean()))
    assert abs(row["r2"] - r2) < 1e-4
    assert 0 <= row["r2"] <= 1


def test_maxsim_matches_python_recompute(spark):
    """sim_late_interaction_maxsim scores recomputed in plain Python
    from the fixed-point integer sub-vectors (and MaxSim >= the plain
    full-vector dot is NOT implied — only exact score equality is)."""
    from tests.conftest import SF_SMOKE
    from uda_spark.queries.similarity import MAXSIM_SUBDIM, MAXSIM_SUBVECS
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    rows = all_specs()["sim_late_interaction_maxsim"].fn(spark, SF_SMOKE).collect()
    emb = {
        r["vec_id"]: [round(x * 1_000_000) for x in r["embedding"]]
        for r in load_table(spark, SF_SMOKE, "embeddings").collect()
    }

    def subs(v):
        return [
            v[i * MAXSIM_SUBDIM : (i + 1) * MAXSIM_SUBDIM]
            for i in range(MAXSIM_SUBVECS)
        ]

    def maxsim(q, c):
        return sum(
            max(sum(a * b for a, b in zip(qs, cs)) for cs in subs(c))
            for qs in subs(q)
        )

    assert rows
    for r in rows:
        expect = maxsim(emb[r["query_id"]], emb[r["neighbor_id"]])
        assert r["maxsim_fp"] == expect, (r, expect)


@SPARK_SETTINGS
@given(
    keys=st.lists(
        st.integers(min_value=-(2**40), max_value=2**40),
        min_size=1,
        max_size=200,
        unique=True,
    ),
    n=st.integers(min_value=1, max_value=12),
)
def test_global_ntile_matches_window_ntile(spark, keys, n):
    """global_ntile (range-partitioned rank + closed-form bucket) must
    reproduce Window NTILE exactly, including the first-buckets-get-the-
    extra-row tie handling, for any bucket count and row count."""
    from pyspark.sql import Window as W

    from uda_spark.operators.sort import global_ntile

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {
        r["k"]: r["b"]
        for r in global_ntile(df, ["k"], n, alias="b", num_partitions=4).collect()
    }
    expect = {
        r["k"]: r["b"]
        for r in df.withColumn("b", F.ntile(n).over(W.orderBy("k"))).collect()
    }
    assert got == expect


@SPARK_SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),       # group
            st.integers(min_value=-(2**30), max_value=2**30),  # order key
            st.integers(min_value=0, max_value=100),     # value
        ),
        min_size=1,
        max_size=200,
    )
)
def test_grouped_global_cumsum_matches_partitioned_window(spark, rows):
    """grouped_global_cumulative_sum must equal the plain
    Window.partitionBy(group).orderBy(key) exclusive running sum for
    every (group, key) — the two-pass machinery is execution-strategy
    only."""
    from pyspark.sql import Window as W

    from uda_spark.operators.sort import grouped_global_cumulative_sum

    # unique (group, key) tuples per the contract
    uniq = {(g, k): v for g, k, v in rows}
    data = [(g, k, v) for (g, k), v in uniq.items()]
    df = spark.createDataFrame(data, "g long, k long, v long")
    got = {
        (r["g"], r["k"]): r["cum"]
        for r in grouped_global_cumulative_sum(
            df, ["g"], ["k"], "v", "cum", num_partitions=4
        ).collect()
    }
    w = (
        W.partitionBy("g").orderBy("k").rowsBetween(W.unboundedPreceding, -1)
    )
    expect = {
        (r["g"], r["k"]): r["cum"]
        for r in df.withColumn(
            "cum", F.coalesce(F.sum("v").over(w), F.lit(0))
        ).collect()
    }
    assert got == expect


@pytest.mark.slow
def test_grouped_auc_hot_segment_stress(spark):
    """The grouped rank-sum machinery with ONE hot segment: segment 0
    carries 1M users at 1M DISTINCT scores (the case where a plain
    partitionBy(segment) window funnels the whole segment through one
    task), segment 1 is tiny.  The hot segment's AUC must hit the
    analytic value and the cumulative plan must stay partitioned."""
    import time

    from pyspark.sql import functions as SF

    from uda_spark.operators.sort import grouped_global_cumulative_sum
    from uda_spark.plans.explain import plan_str

    n = 500_000
    hot = spark.range(2 * n).select(
        SF.lit(0).cast("long").alias("segment"),
        (SF.col("id") % 2).cast("long").alias("label"),
        SF.col("id").alias("score"),
    )
    # segment 1: 2 perfect-separation users -> AUC 1.0
    cold = spark.createDataFrame(
        [(1, 0, 10), (1, 1, 20)], "segment long, label long, score long"
    )
    grp = (
        hot.unionByName(cold)
        .groupBy("segment", "score")
        .agg(
            SF.count("*").cast("long").alias("c"),
            SF.sum("label").cast("long").alias("p"),
        )
    )
    t0 = time.perf_counter()
    ranked = grouped_global_cumulative_sum(grp, ["segment"], ["score"], "c", "cum_before")
    assert "SinglePartition" not in plan_str(ranked, mode="simple")
    s = ranked.groupBy("segment").agg(
        SF.sum("p").cast("long").alias("n_pos"),
        SF.sum(SF.col("c") - SF.col("p")).cast("long").alias("n_neg"),
        SF.sum(
            SF.col("p").cast("decimal(38,0)")
            * (2 * (SF.col("cum_before") + 1) + SF.col("c") - 1)
        ).alias("s2_raw"),
    )
    rows = {
        r["segment"]: r
        for r in s.selectExpr(
            "segment",
            "n_pos",
            "n_neg",
            "CAST((s2_raw - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1)) * 1000000"
            " div NULLIF(2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg, 0) AS BIGINT)"
            " AS auc_ppm",
        ).collect()
    }
    wall = time.perf_counter() - t0
    assert rows[0]["n_pos"] == rows[0]["n_neg"] == n
    assert rows[0]["auc_ppm"] == (n + 1) * 1_000_000 // (2 * n)
    assert rows[1]["auc_ppm"] == 1_000_000
    assert wall < 120, f"hot-segment AUC took {wall:.0f}s"


class TestRound8LateTierInvariants:
    """Python recomputes / structural invariants for the late round-8
    additions (lift deciles, token-budget packing, the dq audits)."""

    def test_lift_deciles_matches_python_recompute(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.queries.evaluation import LIFT_DECILES, _user_label_score
        from uda_spark.registry import all_specs

        rows = all_specs()["ml_lift_deciles"].fn(spark, SF_SMOKE).collect()
        base = [
            (r["score"], r["user_id"], r["label"])
            for r in _user_label_score(spark, SF_SMOKE).collect()
        ]
        base.sort(key=lambda x: (-x[0], x[1]))
        n = len(base)
        n_pos_total = sum(lbl for _, _, lbl in base)
        expect: dict[int, list[int]] = {}
        for i, (_, _, lbl) in enumerate(base):
            d = (i * LIFT_DECILES) // n + 1
            users_pos = expect.setdefault(d, [0, 0])
            users_pos[0] += 1
            users_pos[1] += lbl
        assert len(rows) == len(expect)
        cum = 0
        for r in sorted(rows, key=lambda r: r["decile"]):
            users, pos = expect[r["decile"]]
            cum += pos
            assert r["n_users"] == users
            assert r["n_pos"] == pos
            assert r["pos_rate_ppm"] == pos * 1_000_000 // users
            assert r["lift_ppm"] == pos * n * 1_000_000 // (users * n_pos_total)
            assert r["cum_capture_ppm"] == cum * 1_000_000 // n_pos_total
        # deciles partition the population into near-equal rank buckets
        sizes = [r["n_users"] for r in rows]
        assert sum(sizes) == n
        assert max(sizes) - min(sizes) <= 1
        # full capture at the bottom decile
        assert max(r["cum_capture_ppm"] for r in rows) == 1_000_000

    def test_token_budget_pack_matches_python_greedy(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.queries.pipelines import TOKEN_BUDGET
        from uda_spark.registry import all_specs
        from uda_spark.sources.tables import load_table

        rows = all_specs()["pipeline_token_budget_pack"].fn(spark, SF_SMOKE).collect()
        docs = [
            # python twin of portable.tokens: lowercase space split,
            # empties kept
            (r["source"], len(r["text"].lower().split(" ")), r["doc_id"])
            for r in load_table(spark, SF_SMOKE, "documents").collect()
        ]
        by_src: dict[str, list[tuple[int, int]]] = {}
        for src, ntok, did in docs:
            by_src.setdefault(src, []).append((ntok, did))
        for r in rows:
            lst = sorted(by_src[r["source"]], key=lambda x: (-x[0], x[1]))
            cum = 0
            sel_docs = sel_toks = 0
            for ntok, _ in lst:
                if cum < TOKEN_BUDGET:
                    sel_docs += 1
                    sel_toks += ntok
                cum += ntok
            assert r["docs_total"] == len(lst)
            assert r["tokens_total"] == sum(ntok for ntok, _ in lst)
            assert r["docs_selected"] == sel_docs
            assert r["tokens_selected"] == sel_toks
            assert r["budget_fill_ppm"] == sel_toks * 1_000_000 // TOKEN_BUDGET
            # greedy prefix contract: never stop while under budget, and
            # overshoot at most by the straddling document
            assert sel_toks >= min(TOKEN_BUDGET, r["tokens_total"])
            if lst:
                assert sel_toks < TOKEN_BUDGET + lst[0][0]
        assert {r["source"] for r in rows} == set(by_src)

    def test_referential_integrity_matches_python_recompute(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.queries.quality import _FK_EDGES
        from uda_spark.registry import all_specs
        from uda_spark.sources.tables import load_table

        rows = {
            r["fk_name"]: r
            for r in all_specs()["dq_referential_integrity"].fn(spark, SF_SMOKE).collect()
        }
        assert set(rows) == {e[0] for e in _FK_EDGES}
        for name, child, ck, parent, pk in _FK_EDGES:
            child_keys = [
                r[ck] for r in load_table(spark, SF_SMOKE, child).select(ck).collect()
            ]
            parent_keys = {
                r[pk] for r in load_table(spark, SF_SMOKE, parent).select(pk).collect()
            }
            orphans = [k for k in child_keys if k not in parent_keys]
            r = rows[name]
            assert r["n_rows"] == len(child_keys)
            assert r["n_orphans"] == len(orphans)
            assert r["n_orphan_keys"] == len(set(orphans))
            assert r["orphan_ppm"] == len(orphans) * 1_000_000 // len(child_keys)

    def test_schema_profile_matches_python_recompute(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.queries.quality import _PROFILE_COLS
        from uda_spark.registry import all_specs
        from uda_spark.sources.tables import load_table

        rows = {
            r["col_name"]: r
            for r in all_specs()["dq_schema_profile"].fn(spark, SF_SMOKE).collect()
        }
        assert set(rows) == {c for c, _ in _PROFILE_COLS}
        data = load_table(spark, SF_SMOKE, "orders").collect()
        for col, _ in _PROFILE_COLS:
            vals = [r[col] for r in data]
            nonnull = [v for v in vals if v is not None]
            r = rows[col]
            assert r["n_rows"] == len(vals)
            assert r["n_null"] == len(vals) - len(nonnull)
            assert r["n_distinct"] == len(set(nonnull))
            # min/max are taken on the native type, then rendered
            if col == "o_totalprice":
                assert r["min_str"] == f"{min(nonnull):.2f}"
                assert r["max_str"] == f"{max(nonnull):.2f}"
            elif col == "o_orderdate":
                assert r["min_str"] == min(nonnull).strftime("%Y-%m-%d %H:%M:%S")
                assert r["max_str"] == max(nonnull).strftime("%Y-%m-%d %H:%M:%S")
            else:
                assert r["min_str"] == str(min(nonnull))
                assert r["max_str"] == str(max(nonnull))


def test_global_cumulative_sums_matches_python_prefix_sum(spark):
    from uda_spark.operators.sort import global_cumulative_sums

    rows = [(k, (k * 7919) % 101, (k * 104729) % 53) for k in range(500)]
    df = spark.createDataFrame(rows, ["k", "a", "b"])
    expected = {}
    acc_a = acc_b = 0
    for k, a, b in rows:  # already in k order
        expected[k] = (acc_a, acc_b)
        acc_a += a
        acc_b += b
    for n in (3, 7, 11):
        got = {
            r["k"]: (r["cum_a"], r["cum_b"])
            for r in global_cumulative_sums(
                df, ["k"], ["a", "b"], ["cum_a", "cum_b"], num_partitions=n
            ).collect()
        }
        assert got == expected, f"num_partitions={n}"


class TestKsAndBenfordInvariants:
    def test_ks_statistic_matches_python_recompute(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.queries.evaluation import _user_label_score
        from uda_spark.registry import all_specs

        row = all_specs()["ml_ks_statistic"].fn(spark, SF_SMOKE).collect()[0]
        base = [
            (r["score"], r["label"])
            for r in _user_label_score(spark, SF_SMOKE).collect()
        ]
        n_pos = sum(lbl for _, lbl in base)
        n_neg = len(base) - n_pos
        per_score: dict[int, list[int]] = {}
        for s, lbl in base:
            cp = per_score.setdefault(s, [0, 0])
            cp[lbl] += 1  # index 0 = neg, 1 = pos
        cum_p = cum_n = 0
        best = (-1, None)
        for s in sorted(per_score):
            cum_n += per_score[s][0]
            cum_p += per_score[s][1]
            dd = abs(cum_p * n_neg - cum_n * n_pos)
            if dd > best[0]:
                best = (dd, s)
        assert row["n_pos"] == n_pos
        assert row["n_neg"] == n_neg
        assert row["ks_ppm"] == best[0] * 1_000_000 // (n_pos * n_neg)
        assert row["ks_at_score"] == best[1]
        # KS >= |2*AUC - 1| does NOT hold in general; but KS is in [0, 1e6]
        assert 0 <= row["ks_ppm"] <= 1_000_000

    def test_benford_matches_python_recompute(self, spark):
        from decimal import ROUND_HALF_UP, Decimal

        from tests.conftest import SF_SMOKE
        from uda_spark.queries.quality import _BENFORD_PPM
        from uda_spark.registry import all_specs
        from uda_spark.sources.tables import load_table

        rows = {
            r["digit"]: r
            for r in all_specs()["dq_benford_firstdigit"].fn(spark, SF_SMOKE).collect()
        }
        assert set(rows) == set(range(1, 10))
        assert sum(_BENFORD_PPM.values()) == 1_000_000
        vals = [
            r["o_totalprice"]
            for r in load_table(spark, SF_SMOKE, "orders").collect()
            if r["o_totalprice"] is not None and r["o_totalprice"] >= 1
        ]
        counts: dict[int, int] = {}
        for v in vals:
            # python twin of CAST(x AS DECIMAL(18,2)): HALF_UP on the
            # exact double value
            d = int(str(Decimal(v).quantize(Decimal("0.01"), ROUND_HALF_UP))[0])
            counts[d] = counts.get(d, 0) + 1
        total = len(vals)
        assert sum(r["n_obs"] for r in rows.values()) == total
        for d in range(1, 10):
            r = rows[d]
            n = counts.get(d, 0)
            assert r["n_obs"] == n
            assert r["obs_ppm"] == n * 1_000_000 // total
            assert r["exp_ppm"] == _BENFORD_PPM[d]
            assert r["dev_ppm"] == r["obs_ppm"] - r["exp_ppm"]
            assert (
                r["chi2_contrib_milli"]
                == r["dev_ppm"] * r["dev_ppm"] * 1000 // r["exp_ppm"]
            )


class TestBm25AcfBootstrapInvariants:
    """Python twins for the round-8 retrieval/statistics tail: every
    value the three queries emit is recomputed from the raw tables with
    exact integer (or IEEE-order-identical float) arithmetic."""

    def test_bm25_matches_python_recompute(self, spark):
        from decimal import ROUND_HALF_UP, Decimal

        from tests.conftest import SF_SMOKE
        from uda_spark.queries.text import BM25_QUERY_TERMS, BM25_TOP_K
        from uda_spark.registry import all_specs
        from uda_spark.sources.tables import load_table

        got = all_specs()["text_bm25_topk"].fn(spark, SF_SMOKE).collect()
        docs = [
            (r["doc_id"], (r["text"] or "").lower().split(" "))
            for r in load_table(spark, SF_SMOKE, "documents")
            .select("doc_id", "text")
            .collect()
        ]
        n_docs = len(docs)
        corpus_len = sum(len(tk) for _, tk in docs)
        tf = {
            doc_id: [tk.count(term) for term in BM25_QUERY_TERMS]
            for doc_id, tk in docs
        }
        dl = {doc_id: len(tk) for doc_id, tk in docs}
        df = [
            sum(1 for v in tf.values() if v[i] > 0)
            for i in range(len(BM25_QUERY_TERMS))
        ]
        import math

        def score(doc_id: int) -> float:
            # same IEEE op order as the shared SQL expression text
            s = 0.0
            for i in range(len(BM25_QUERY_TERMS)):
                t = tf[doc_id][i]
                if t > 0:
                    idf = math.log(
                        1.0 + (2 * (n_docs - df[i]) + 1) / float(2 * df[i] + 1)
                    )
                    s = s + idf * (22 * t) / (
                        10 * t + 12 * (1.0 / 4 + 3.0 / 4 * dl[doc_id] * n_docs / corpus_len)
                    )
            # Spark/DuckDB ROUND(double, 6) is HALF_UP on the exact value
            return float(
                Decimal(s).quantize(Decimal("0.000001"), ROUND_HALF_UP)
            )

        matches = [d for d, v in tf.items() if sum(v) > 0]
        expected = sorted(
            ((score(d), d) for d in matches), key=lambda p: (-p[0], p[1])
        )[:BM25_TOP_K]
        assert [(r["doc_id"], r["bm25"]) for r in got] == [
            (d, s) for s, d in expected
        ]
        assert all(r["dl"] == dl[r["doc_id"]] for r in got)

    def test_acf_matches_python_recompute_and_is_bounded(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.queries.events import ACF_MAX_LAG, _with_us
        from uda_spark.registry import all_specs
        from uda_spark.sources.tables import load_table

        rows = {
            r["lag"]: r
            for r in all_specs()["events_acf_daily"].fn(spark, SF_SMOKE).collect()
        }
        day_us = 86400 * 1_000_000
        daily: dict[int, int] = {}
        for r in (
            _with_us(load_table(spark, SF_SMOKE, "events")).select("ts_us").collect()
        ):
            d = r["ts_us"] // day_us
            daily[d] = daily.get(d, 0) + 1
        n = len(daily)
        s = sum(daily.values())
        den = sum((n * x - s) ** 2 for x in daily.values())
        for h in range(1, ACF_MAX_LAG + 1):
            num = sum(
                (n * daily[d] - s) * (n * daily[d + h] - s)
                for d in daily
                if d + h in daily
            )
            n_pairs = sum(1 for d in daily if d + h in daily)
            if n_pairs == 0:
                assert h not in rows
                continue
            q = (
                (num * 1_000_000) // den
                if num >= 0
                else -((-num * 1_000_000) // den)
            )
            assert rows[h]["n_pairs"] == n_pairs
            assert rows[h]["acf_ppm"] == q
            # Cauchy-Schwarz on the shared-denominator ACF
            assert abs(rows[h]["acf_ppm"]) <= 1_000_000

    def test_bootstrap_ci_matches_python_recompute(self, spark):
        import hashlib

        from tests.conftest import SF_SMOKE
        from uda_spark.queries.evaluation import BOOTSTRAP_B, _user_label_score
        from uda_spark.registry import all_specs

        row = all_specs()["ml_bootstrap_ci_mean"].fn(spark, SF_SMOKE).collect()[0]
        base = [
            (r["user_id"], r["score"])
            for r in _user_label_score(spark, SF_SMOKE).collect()
        ]
        means = []
        for r in range(BOOTSTRAP_B):
            tot = cnt = 0
            for uid, sc in base:
                h = int(hashlib.md5(f"bs|{uid}".encode()).hexdigest()[:15], 16)
                if (h >> r) % 2 == 0:
                    tot += sc
                    cnt += 1
            means.append((tot * 1_000_000) // cnt)
        means.sort()
        assert row["n_users"] == len(base)
        s_all = sum(sc for _, sc in base)
        assert row["mean_micro"] == (s_all * 1_000_000) // len(base)
        assert row["ci_lo_micro"] == means[1]
        assert row["ci_hi_micro"] == means[BOOTSTRAP_B - 2]
        assert row["ci_lo_micro"] <= row["ci_hi_micro"]
        assert row["n_replicates"] == BOOTSTRAP_B


@SPARK_SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 50), st.integers(-1000, 1000)),
        min_size=1,
        max_size=200,
        unique_by=lambda t: t[0],
    ),
    agg=st.sampled_from(["min", "max"]),
)
def test_global_cumulative_extreme_matches_naive_window(spark, rows, agg):
    """The range-partitioned exclusive running MIN/MAX equals the naive
    single-partition window on unique keys, including the NULL first row."""
    df = spark.createDataFrame(rows, "k int, v long")
    out = {
        r["k"]: r["ext"]
        for r in SRT.global_cumulative_extreme(
            df, ["k"], "v", "ext", agg=agg, num_partitions=4
        ).collect()
    }
    expected = {}
    run = None
    for k, v in sorted(rows):
        expected[k] = run
        run = v if run is None else (min(run, v) if agg == "min" else max(run, v))
    assert out == expected


class TestParetoAndFreshnessInvariants:
    def test_pareto_front_matches_bruteforce_dominance(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.registry import all_specs

        got = sorted(
            (r["user_id"], r["score_cents"], r["n_events"])
            for r in all_specs()["events_pareto_front"].fn(spark, SF_SMOKE).collect()
        )
        # brute-force O(n^2) dominance over the per-user relation
        from uda_spark.queries.events import _PARETO_CENTS
        from uda_spark.sources.tables import load_table

        u = [
            (r["user_id"], r["score_cents"], r["n_events"])
            for r in load_table(spark, SF_SMOKE, "events")
            .groupBy("user_id")
            .agg(
                F.expr(_PARETO_CENTS).alias("score_cents"),
                F.count("*").cast("long").alias("n_events"),
            )
            .collect()
        ]

        def dominated(a):
            return any(
                b[1] >= a[1]
                and b[2] >= a[2]
                and (b[1] > a[1] or b[2] > a[2])
                for b in u
                if b[0] != a[0]
            )

        expected = sorted(a for a in u if not dominated(a))
        assert got == expected
        # every pair on the front is mutually non-dominated
        for a in got:
            for b in got:
                assert not (
                    b[1] >= a[1] and b[2] >= a[2] and (b[1] > a[1] or b[2] > a[2])
                ) or (a[1] == b[1] and a[2] == b[2])

    def test_freshness_lag_matches_python_recompute(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark.queries.events import _with_us
        from uda_spark.registry import all_specs
        from uda_spark.sources.tables import load_table

        rows = {
            r["event_type"]: r
            for r in all_specs()["dq_freshness_lag"].fn(spark, SF_SMOKE).collect()
        }
        day_us = 86400 * 1_000_000
        per: dict[str, dict] = {}
        for r in (
            _with_us(load_table(spark, SF_SMOKE, "events"))
            .select("event_type", "ts_us")
            .collect()
        ):
            d = per.setdefault(r["event_type"], {"max": -1, "days": {}})
            d["max"] = max(d["max"], r["ts_us"])
            day = r["ts_us"] // day_us
            d["days"][day] = d["days"].get(day, 0) + 1
        g_max = max(d["max"] for d in per.values())
        g_last = g_max // day_us
        assert set(rows) == set(per)
        for et, d in per.items():
            r = rows[et]
            assert r["max_us"] == d["max"]
            assert r["lag_us"] == g_max - d["max"]
            assert r["n_latest_day"] == d["days"].get(g_last, 0)
            assert r["days_active"] == len(d["days"])
        assert min(r["lag_us"] for r in rows.values()) == 0


def test_conformal_interval_matches_python_recompute(spark):
    from tests.conftest import SF_SMOKE
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table
    from uda_spark.queries.events import _PARETO_CENTS

    row = all_specs()["ml_conformal_interval"].fn(spark, SF_SMOKE).collect()[0]
    u = [
        (r["x"], r["y"])
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("x"),
            F.expr(_PARETO_CENTS).alias("y"),
        )
        .collect()
    ]
    n = len(u)
    sx = sum(x for x, _ in u)
    sy = sum(y for _, y in u)
    sxy = sum(x * y for x, y in u)
    sxx = sum(x * x for x, _ in u)
    d = n * sxx - sx * sx
    b_num = n * sxy - sx * sy
    a_num = sy * sxx - sx * sxy

    def tz(num: int, den: int) -> int:
        return num // den if num >= 0 else -((-num) // den)

    res = sorted(abs(y * d - (a_num + b_num * x)) for x, y in u)
    k = (9 * (n + 1)) // 10
    q = res[k - 1]
    assert row["n_users"] == n
    assert row["slope_micro"] == tz(b_num * 1_000_000, d)
    assert row["intercept_micro"] == tz(a_num * 1_000_000, d)
    assert row["q_micro"] == (q * 1_000_000) // d
    n_within = sum(1 for r in res if r <= q)
    assert row["coverage_ppm"] == n_within * 1_000_000 // n
    # conformal guarantee: empirical coverage >= 1 - alpha - 1/n (ppm, floor)
    assert row["coverage_ppm"] >= 900_000 - 1_000_000 // n - 1


def test_cohens_kappa_matches_python_recompute(spark):
    from tests.conftest import SF_SMOKE
    from uda_spark.functions import portable as PORT
    from uda_spark.functions import text as TXT
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    row = all_specs()["ml_cohens_kappa"].fn(spark, SF_SMOKE).collect()[0]
    pairs = [
        (r["actual"], r["pred"])
        for r in load_table(spark, SF_SMOKE, "documents")
        .withColumn("toks", F.expr(PORT.tokens("text", "spark")))
        .select(
            F.col("lang").alias("actual"),
            F.expr(TXT.lang_predict("toks", "spark")).alias("pred"),
        )
        .collect()
    ]
    n = len(pairs)
    agree = sum(1 for a, p in pairs if a == p)
    from collections import Counter

    rows_c = Counter(a for a, _ in pairs)
    cols_c = Counter(p for _, p in pairs)
    exp_sum = sum(rows_c[k] * cols_c.get(k, 0) for k in rows_c)

    def tz(num: int, den: int) -> int:
        return num // den if num >= 0 else -((-num) // den)

    assert row["n_docs"] == n
    assert row["agree"] == agree
    assert row["po_ppm"] == agree * 1_000_000 // n
    assert row["pe_ppm"] == exp_sum * 1_000_000 // (n * n)
    assert row["kappa_ppm"] == tz(
        (agree * n - exp_sum) * 1_000_000, n * n - exp_sum
    )
    assert -1_000_000 <= row["kappa_ppm"] <= 1_000_000


def test_gini_tokens_matches_python_recompute(spark):
    from tests.conftest import SF_SMOKE
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    row = all_specs()["text_gini_tokens"].fn(spark, SF_SMOKE).collect()[0]
    ys = sorted(
        len((r["text"] or "").lower().split(" "))
        for r in load_table(spark, SF_SMOKE, "documents").select("text").collect()
    )
    n = len(ys)
    tot = sum(ys)
    ry = sum((i + 1) * y for i, y in enumerate(ys))
    assert row["n_docs"] == n
    assert row["total_tokens"] == tot
    assert row["gini_ppm"] == (2 * ry - (n + 1) * tot) * 1_000_000 // (n * tot)
    assert 0 <= row["gini_ppm"] < 1_000_000


def test_trend_mk_matches_python_recompute(spark):
    from tests.conftest import SF_SMOKE
    from uda_spark.queries.events import _with_us
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    row = all_specs()["events_trend_mk"].fn(spark, SF_SMOKE).collect()[0]
    day_us = 86400 * 1_000_000
    daily: dict[int, int] = {}
    for r in (
        _with_us(load_table(spark, SF_SMOKE, "events")).select("ts_us").collect()
    ):
        d = r["ts_us"] // day_us
        daily[d] = daily.get(d, 0) + 1
    xs = [x for _, x in sorted(daily.items())]
    n = len(xs)
    s = sum(
        (1 if xs[j] > xs[i] else -1 if xs[j] < xs[i] else 0)
        for i in range(n)
        for j in range(i + 1, n)
    )
    n_pairs = n * (n - 1) // 2
    assert row["n_days"] == n
    assert row["mk_s"] == s
    assert row["n_pairs"] == n_pairs
    tz = (s * 1_000_000) // n_pairs if s >= 0 else -((-s * 1_000_000) // n_pairs)
    assert row["tau_ppm"] == tz
    assert -1_000_000 <= row["tau_ppm"] <= 1_000_000


def test_psi_score_drift_matches_python_recompute(spark):
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from tests.conftest import SF_SMOKE
    from uda_spark.queries.evaluation import PSI_BIN_CENTS, PSI_BINS, _PSI_DAY_US
    from uda_spark.queries.events import _with_us
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    rows = {
        r["bin"]: r
        for r in all_specs()["ml_psi_score_drift"].fn(spark, SF_SMOKE).collect()
    }
    ev = [
        (r["user_id"], r["ts_us"] // _PSI_DAY_US,
         r["event_type"], r["value"])
        for r in _with_us(load_table(spark, SF_SMOKE, "events"))
        .select("user_id", "ts_us", "event_type", "value")
        .collect()
    ]
    days = [d for _, d, _, _ in ev]
    split = (min(days) + max(days) + 1) // 2
    scores: dict[tuple, int] = {}
    for uid, d, et, v in ev:
        key = (uid, 0 if d < split else 1)
        cents = 0
        if et == "purchase" and v is not None:
            cents = int(
                Decimal(v).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100
            )
        scores[key] = scores.get(key, 0) + cents
    cells = {(p, b): 0 for p in (0, 1) for b in range(PSI_BINS)}
    for (uid, p), sc in scores.items():
        cells[(p, min(PSI_BINS - 1, sc // PSI_BIN_CENTS))] += 1
    n0 = sum(c for (p, _), c in cells.items() if p == 0)
    n1 = sum(c for (p, _), c in cells.items() if p == 1)
    assert set(rows) == set(range(PSI_BINS))
    for b in range(PSI_BINS):
        c0, c1 = cells[(0, b)], cells[(1, b)]
        assert rows[b]["n_base"] == c0
        assert rows[b]["n_curr"] == c1
        part = (
            (c0 + 1) / float(n0 + PSI_BINS) - (c1 + 1) / float(n1 + PSI_BINS)
        ) * math.log(
            ((c0 + 1) * float(n1 + PSI_BINS)) / ((c1 + 1) * float(n0 + PSI_BINS))
        )
        expect = float(Decimal(part).quantize(Decimal("0.000001"), ROUND_HALF_UP))
        assert rows[b]["psi_part"] == expect
        assert rows[b]["psi_part"] >= 0  # each PSI term is (p-q)ln(p/q) >= 0


def test_lorenz_deciles_matches_python_recompute(spark):
    from tests.conftest import SF_SMOKE
    from uda_spark.queries.text import LORENZ_BUCKETS
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    rows = {
        r["decile"]: r
        for r in all_specs()["pipeline_lorenz_deciles"].fn(spark, SF_SMOKE).collect()
    }
    ys = sorted(
        (len((r["text"] or "").lower().split(" ")), r["doc_id"])
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .collect()
    )
    n = len(ys)
    big = n // LORENZ_BUCKETS + 1
    nbig = n % LORENZ_BUCKETS
    # NTILE semantics: first n % k buckets take ceil(n/k) rows
    sizes = [big if b < nbig else n // LORENZ_BUCKETS for b in range(LORENZ_BUCKETS)]
    total = sum(y for y, _ in ys)
    idx, cum = 0, 0
    for b in range(LORENZ_BUCKETS):
        chunk = ys[idx : idx + sizes[b]]
        idx += sizes[b]
        toks = sum(y for y, _ in chunk)
        cum += toks
        r = rows[b + 1]
        assert r["n_docs"] == len(chunk)
        assert r["n_tokens"] == toks
        assert r["share_ppm"] == toks * 1_000_000 // total
        assert r["cum_share_ppm"] == cum * 1_000_000 // total
    # Lorenz curve is convex: shares non-decreasing by decile
    shares = [rows[b + 1]["share_ppm"] for b in range(LORENZ_BUCKETS)]
    assert shares == sorted(shares)
    assert rows[LORENZ_BUCKETS]["cum_share_ppm"] == 1_000_000


def test_burstiness_fano_matches_python_recompute(spark):
    from tests.conftest import SF_SMOKE
    from uda_spark.queries.events import _with_us
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    rows = {
        r["event_type"]: r
        for r in all_specs()["events_burstiness_fano"].fn(spark, SF_SMOKE).collect()
    }
    day_us = 86400 * 1_000_000
    daily: dict[tuple, int] = {}
    for r in (
        _with_us(load_table(spark, SF_SMOKE, "events"))
        .select("event_type", "ts_us")
        .collect()
    ):
        k = (r["event_type"], r["ts_us"] // day_us)
        daily[k] = daily.get(k, 0) + 1
    per: dict[str, list[int]] = {}
    for (et, _), x in daily.items():
        per.setdefault(et, []).append(x)
    assert set(rows) == set(per)
    for et, xs in per.items():
        n, sx, sxx = len(xs), sum(xs), sum(x * x for x in xs)
        r = rows[et]
        assert r["n_days"] == n
        assert r["n_events"] == sx
        if n <= 1:
            assert r["fano_ppm"] is None
        else:
            assert r["fano_ppm"] == (n * sxx - sx * sx) * 1_000_000 // ((n - 1) * sx)
            assert r["fano_ppm"] >= 0


def test_recall_curve_consistent_with_single_k_eval(spark):
    from tests.conftest import SF_SMOKE
    from uda_spark.queries.similarity import RECALL_KS, TOP_K
    from uda_spark.registry import all_specs

    curve = {
        r["k"]: r
        for r in all_specs()["sim_recall_at_k_curve"].fn(spark, SF_SMOKE).collect()
    }
    assert set(curve) == set(RECALL_KS)
    # hits grow with k; recall ppm stays within [0, 1e6]
    hits = [curve[k]["n_hits"] for k in sorted(curve)]
    assert hits == sorted(hits)
    for k, r in curve.items():
        assert 0 <= r["recall_ppm"] <= 1_000_000
    # cross-query invariant: the curve's k=TOP_K point equals the sum of
    # the per-query single-k eval's hit counts
    per_query = all_specs()["sim_ann_recall_eval"].fn(spark, SF_SMOKE).collect()
    assert curve[TOP_K]["n_hits"] == sum(r["n_hits"] for r in per_query)


def test_mixture_entropy_matches_python_recompute(spark):
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from tests.conftest import SF_SMOKE
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    row = all_specs()["pipeline_mixture_entropy"].fn(spark, SF_SMOKE).collect()[0]
    per: dict[str, int] = {}
    for r in (
        load_table(spark, SF_SMOKE, "documents").select("source", "text").collect()
    ):
        per[r["source"]] = per.get(r["source"], 0) + len(
            (r["text"] or "").lower().split(" ")
        )
    total = sum(per.values())

    def half_up(x: float) -> int:
        return int(Decimal(x).quantize(Decimal("1"), ROUND_HALF_UP))

    h = sum(
        half_up(-(t / float(total)) * math.log(t / float(total)) * 1_000_000)
        for t in per.values()
    )
    assert row["n_sources"] == len(per)
    assert row["total_tokens"] == total
    assert row["entropy_micronats"] == h
    assert row["effective_domains_milli"] == half_up(math.exp(h / 1_000_000.0) * 1000)
    assert row["max_share_ppm"] == max(per.values()) * 1_000_000 // total
    # effective domains can never exceed the source count (plus rounding)
    assert row["effective_domains_milli"] <= row["n_sources"] * 1000 + 1


def test_runs_test_matches_python_recompute(spark):
    from tests.conftest import SF_SMOKE
    from uda_spark.queries.events import _with_us
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    row = all_specs()["events_runs_test"].fn(spark, SF_SMOKE).collect()[0]
    day_us = 86400 * 1_000_000
    daily: dict[int, int] = {}
    for r in (
        _with_us(load_table(spark, SF_SMOKE, "events")).select("ts_us").collect()
    ):
        d = r["ts_us"] // day_us
        daily[d] = daily.get(d, 0) + 1
    days = sorted(daily)
    sgns = []
    for a, b in zip(days, days[1:]):
        if b == a + 1 and daily[b] != daily[a]:
            sgns.append(1 if daily[b] > daily[a] else -1)
    n_up = sgns.count(1)
    n_down = sgns.count(-1)
    n_runs = sum(
        1 for i, s in enumerate(sgns) if i == 0 or s != sgns[i - 1]
    )
    assert row["n_up"] == n_up
    assert row["n_down"] == n_down
    assert row["n_runs"] == n_runs
    assert row["expected_runs_milli"] == ((n_up + n_down) + 2 * n_up * n_down) * 1000 // (
        n_up + n_down
    )
    assert 1 <= n_runs <= n_up + n_down


def test_brier_score_matches_python_recompute(spark):
    from tests.conftest import SF_SMOKE
    from uda_spark.queries.evaluation import _user_label_score
    from uda_spark.registry import all_specs

    row = all_specs()["ml_brier_score"].fn(spark, SF_SMOKE).collect()[0]
    base = [
        (r["label"], min(999_999, r["score"] * 1_000_000 // 200_000))
        for r in _user_label_score(spark, SF_SMOKE).collect()
    ]
    n = len(base)
    sq = sum((p - y * 1_000_000) ** 2 for y, p in base)
    ab = sum((1_000_000 - p) if y == 1 else p for y, p in base)
    assert row["n_users"] == n
    assert row["brier_ppm2"] == sq // n
    assert row["mae_ppm"] == ab // n
    # proper-score bounds: brier in [0, 1e12], mae in [0, 1e6]
    assert 0 <= row["brier_ppm2"] <= 10**12
    assert 0 <= row["mae_ppm"] <= 10**6
    # Brier <= MAE in ppm^2 terms iff errors <= 1: mae^2 <= brier (Jensen)
    assert row["mae_ppm"] ** 2 <= row["brier_ppm2"] + n  # truncation slack


def test_dup_ngram_coverage_matches_python_recompute(spark):
    from tests.conftest import SF_SMOKE
    from uda_spark.queries.text import DUPGRAM_K
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    row = all_specs()["text_dup_ngram_coverage"].fn(spark, SF_SMOKE).collect()[0]
    per: dict[str, dict] = {}
    for r in (
        load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    ):
        tk = (r["text"] or "").lower().split(" ")
        grams = (
            [" ".join(tk[i : i + DUPGRAM_K]) for i in range(len(tk) - DUPGRAM_K + 1)]
            if len(tk) >= DUPGRAM_K
            else [" ".join(tk)]
        )
        for g in grams:
            d = per.setdefault(g, {})
            d[r["doc_id"]] = d.get(r["doc_id"], 0) + 1
    n_grams = len(per)
    total = sum(sum(d.values()) for d in per.values())
    dup = sum(sum(d.values()) for d in per.values() if len(d) >= 2)
    crossdoc = sum(1 for d in per.values() if len(d) >= 2)
    assert row["n_grams"] == n_grams
    assert row["total_occurrences"] == total
    assert row["dup_occurrences"] == dup
    assert row["n_crossdoc_grams"] == crossdoc
    assert row["dup_ppm"] == dup * 1_000_000 // total


def test_mcc_ece_matches_python_recompute(spark):
    from tests.conftest import SF_SMOKE
    from uda_spark.queries.evaluation import CONFUSION_THRESHOLD_CENTS, _user_label_score
    from uda_spark.registry import all_specs

    row = all_specs()["ml_mcc_ece"].fn(spark, SF_SMOKE).collect()[0]
    base = [
        (r["label"], r["score"]) for r in _user_label_score(spark, SF_SMOKE).collect()
    ]
    tp = sum(1 for y, s in base if s >= CONFUSION_THRESHOLD_CENTS and y == 1)
    fp = sum(1 for y, s in base if s >= CONFUSION_THRESHOLD_CENTS and y == 0)
    tn = sum(1 for y, s in base if s < CONFUSION_THRESHOLD_CENTS and y == 0)
    fn = sum(1 for y, s in base if s < CONFUSION_THRESHOLD_CENTS and y == 1)
    num = tp * tn - fp * fn
    den = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    q = (num * num * 1_000_000) // den
    expect_mcc2 = q if num >= 0 else -q
    bins: dict[int, list[int]] = {}
    for y, s in base:
        p = min(999_999, s * 1_000_000 // 200_000)
        b = bins.setdefault(p // 100_000, [0, 0, 0])
        b[0] += 1
        b[1] += p
        b[2] += y
    ece_num = sum(abs(sp - pos * 1_000_000) for _, sp, pos in bins.values())
    assert row["n_users"] == len(base)
    assert row["mcc2_signed_ppm"] == expect_mcc2
    assert row["ece_ppm"] == ece_num // len(base)
    assert -1_000_000 <= row["mcc2_signed_ppm"] <= 1_000_000
    assert 0 <= row["ece_ppm"] <= 1_000_000


def test_topk_diversity_bounds_and_pair_count(spark):
    from tests.conftest import SF_SMOKE
    from uda_spark.queries.similarity import N_QUERIES, TOP_K
    from uda_spark.registry import all_specs

    rows = all_specs()["sim_topk_diversity"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == N_QUERIES
    for r in rows:
        assert r["n_pairs"] == TOP_K * (TOP_K - 1) // 2
        assert -1_000_000 <= r["min_pair_cos_ppm"] <= r["mean_pair_cos_ppm"]
        assert r["mean_pair_cos_ppm"] <= r["max_pair_cos_ppm"] <= 1_000_000


def test_ttr_and_dup_rate_match_python_recompute(spark):
    from tests.conftest import SF_SMOKE
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    docs = [
        (r["source"], r["doc_id"], r["text"])
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("source", "doc_id", "text")
        .collect()
    ]
    # TTR twin
    ttr_rows = {
        r["source"]: r
        for r in all_specs()["text_ttr_by_source"].fn(spark, SF_SMOKE).collect()
    }
    per: dict[str, dict] = {}
    for src, _, text in docs:
        d = per.setdefault(src, {})
        for term in (text or "").lower().split(" "):
            d[term] = d.get(term, 0) + 1
    assert set(ttr_rows) == set(per)
    for src, terms in per.items():
        r = ttr_rows[src]
        n_types, n_tokens = len(terms), sum(terms.values())
        hapax = sum(1 for c in terms.values() if c == 1)
        assert r["n_types"] == n_types
        assert r["n_tokens"] == n_tokens
        assert r["ttr_ppm"] == n_types * 1_000_000 // n_tokens
        assert r["n_hapax"] == hapax
        assert r["hapax_ppm"] == hapax * 1_000_000 // n_types
    # dup-rate twin
    import hashlib

    dup_rows = {
        r["source"]: r
        for r in all_specs()["dedup_rate_by_source"].fn(spark, SF_SMOKE).collect()
    }
    digests: dict[str, int] = {}
    by_src: dict[str, list[str]] = {}
    for src, _, text in docs:
        if text is None:
            continue
        dg = hashlib.md5(text.encode()).hexdigest()
        digests[dg] = digests.get(dg, 0) + 1
        by_src.setdefault(src, []).append(dg)
    for src, dgs in by_src.items():
        r = dup_rows[src]
        n_dup = sum(1 for dg in dgs if digests[dg] >= 2)
        assert r["n_docs"] == len(dgs)
        assert r["n_digests"] == len(set(dgs))
        assert r["n_dup_docs"] == n_dup
        assert r["dup_ppm"] == n_dup * 1_000_000 // len(dgs)


def test_js_divergence_matches_python_recompute(spark):
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from tests.conftest import SF_SMOKE
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    rows = {
        r["source"]: r
        for r in all_specs()["text_js_divergence_sources"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    st: dict[tuple, int] = {}
    for r in (
        load_table(spark, SF_SMOKE, "documents").select("source", "text").collect()
    ):
        for tok in (r["text"] or "").lower().split(" "):
            k = (r["source"], tok)
            st[k] = st.get(k, 0) + 1
    n_s: dict[str, int] = {}
    n_t: dict[str, int] = {}
    for (src, tok), c in st.items():
        n_s[src] = n_s.get(src, 0) + c
        n_t[tok] = n_t.get(tok, 0) + c
    total = sum(n_t.values())

    def half_up(x: float) -> int:
        return int(Decimal(x).quantize(Decimal("1"), ROUND_HALF_UP))

    for src in n_s:
        js_obs = 0
        obs_mass = 0
        n_terms = 0
        for (s2, tok), c in st.items():
            if s2 != src:
                continue
            ps = c / float(n_s[src])
            p = n_t[tok] / float(total)
            m = (ps + p) / 2
            js_obs += half_up((ps * math.log(ps / m) + p * math.log(p / m)) / 2 * 1e6)
            obs_mass += n_t[tok]
            n_terms += 1
        unobs = half_up(math.log(2.0) / 2 * ((total - obs_mass) / float(total)) * 1e6)
        r = rows[src]
        assert r["n_tokens"] == n_s[src]
        assert r["n_terms"] == n_terms
        assert r["js_micronats"] == js_obs + unobs
        # JS divergence is bounded by ln 2 (plus per-term rounding slack)
        assert 0 <= r["js_micronats"] <= 693148 + n_terms


def test_log_loss_matches_python_recompute(spark):
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from tests.conftest import SF_SMOKE
    from uda_spark.queries.evaluation import _user_label_score
    from uda_spark.registry import all_specs

    row = all_specs()["ml_log_loss"].fn(spark, SF_SMOKE).collect()[0]
    base = [
        (r["label"], min(999_999, r["score"] * 1_000_000 // 200_000))
        for r in _user_label_score(spark, SF_SMOKE).collect()
    ]

    def half_up(x: float) -> int:
        return int(Decimal(x).quantize(Decimal("1"), ROUND_HALF_UP))

    ll = sum(
        half_up(
            -math.log(
                (max(p, 1) if y == 1 else 1_000_000 - min(p, 999_999)) / 1_000_000.0
            )
            * 1_000_000
        )
        for y, p in base
    )
    correct = sum(
        1 for y, p in base if (y == 1 and p >= 500_000) or (y == 0 and p < 500_000)
    )
    assert row["n_users"] == len(base)
    assert row["logloss_micronats"] == ll // len(base)
    assert row["n_correct_at_half"] == correct
    assert row["logloss_micronats"] >= 0


def test_pareto_8020_matches_python_recompute(spark):
    from decimal import ROUND_HALF_UP, Decimal

    from tests.conftest import SF_SMOKE
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    row = all_specs()["orders_pareto_8020"].fn(spark, SF_SMOKE).collect()[0]
    rev: dict[int, int] = {}
    for r in (
        load_table(spark, SF_SMOKE, "orders")
        .select("o_custkey", "o_totalprice")
        .collect()
    ):
        cents = int(Decimal(r["o_totalprice"]).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100)
        rev[r["o_custkey"]] = rev.get(r["o_custkey"], 0) + cents
    ordered = sorted(rev.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(rev.values())
    cum = 0
    m = None
    c_at_m = None
    for i, (_, cents) in enumerate(ordered, start=1):
        cum += cents
        if cum * 5 >= total * 4:
            m, c_at_m = i, cum
            break
    assert row["n_customers"] == len(rev)
    assert row["total_cents"] == total
    assert row["m_customers"] == m
    assert row["m_share_ppm"] == m * 1_000_000 // len(rev)
    assert row["revenue_at_m_ppm"] == c_at_m * 1_000_000 // total
    assert row["revenue_at_m_ppm"] >= 800_000


def test_spearman_corr_matches_python_recompute(spark):
    from tests.conftest import SF_SMOKE
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    row = all_specs()["ml_spearman_corr"].fn(spark, SF_SMOKE).collect()[0]
    rows = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_orderkey", "l_linenumber"
    ).collect()
    items = [
        (r["l_quantity"], round(r["l_extendedprice"] * 100), r["l_orderkey"], r["l_linenumber"])
        for r in rows
    ]
    n = len(items)
    by_q = sorted(range(n), key=lambda i: (items[i][0], items[i][2], items[i][3]))
    by_p = sorted(range(n), key=lambda i: (items[i][1], items[i][2], items[i][3]))
    rq = [0] * n
    rp = [0] * n
    for pos, i in enumerate(by_q):
        rq[i] = pos + 1
    for pos, i in enumerate(by_p):
        rp[i] = pos + 1
    sd2 = sum((a - b) ** 2 for a, b in zip(rq, rp))
    den = n * (n * n - 1)
    num = den - 6 * sd2
    expect = (num * 1_000_000) // den if num >= 0 else -((-num * 1_000_000) // den)
    assert row["n_rows"] == n
    assert row["sum_d2"] == sd2
    assert row["spearman_rho_ppm"] == expect
    assert -1_000_000 <= row["spearman_rho_ppm"] <= 1_000_000


def test_theil_sen_matches_python_recompute(spark):
    import math

    from tests.conftest import SF_SMOKE
    from uda_spark.queries.events import _with_us
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    row = all_specs()["events_theil_sen_trend"].fn(spark, SF_SMOKE).collect()[0]
    day_us = 86400 * 1_000_000
    daily: dict[int, int] = {}
    for r in (
        _with_us(load_table(spark, SF_SMOKE, "events")).select("ts_us").collect()
    ):
        d = r["ts_us"] // day_us
        daily[d] = daily.get(d, 0) + 1
    pts = sorted(daily.items())
    slopes = sorted(
        (x2 - x1) / float(d2 - d1)
        for i, (d1, x1) in enumerate(pts)
        for d2, x2 in pts[i + 1 :]
    )
    p = len(slopes)
    med = (slopes[(p + 1) // 2 - 1] + slopes[(p + 2) // 2 - 1]) / 2
    assert row["n_days"] == len(pts)
    assert row["n_pairs"] == p
    assert row["theil_sen_slope_micro"] == math.floor(med * 1_000_000 + 0.5)


def test_quantile_loss_matches_python_recompute(spark):
    from tests.conftest import SF_SMOKE
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    out = {
        r["o_orderpriority"]: r
        for r in all_specs()["ml_quantile_loss"].fn(spark, SF_SMOKE).collect()
    }
    groups: dict[str, list[int]] = {}
    for r in load_table(spark, SF_SMOKE, "orders").select(
        "o_orderpriority", "o_totalprice"
    ).collect():
        groups.setdefault(r["o_orderpriority"], []).append(
            round(r["o_totalprice"] * 100)
        )
    assert set(out) == set(groups)
    for prio, ys in groups.items():
        yhat = sum(ys) // len(ys)
        pb = sum(9 * (y - yhat) if y >= yhat else (yhat - y) for y in ys)
        r = out[prio]
        assert r["n_orders"] == len(ys)
        assert r["pred_cents"] == yhat
        assert r["pinball_decicents"] == pb
        assert r["pinball_cents_per_order"] == pb // (10 * len(ys))


def test_char_entropy_matches_python_recompute(spark):
    import math

    from tests.conftest import SF_SMOKE
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    out = {
        r["source"]: r
        for r in all_specs()["text_char_entropy"].fn(spark, SF_SMOKE).collect()
    }
    counts: dict[str, dict[str, int]] = {}
    for r in load_table(spark, SF_SMOKE, "documents").select(
        "source", "text"
    ).collect():
        cc = counts.setdefault(r["source"], {})
        for ch in (r["text"] or "").lower():
            cc[ch] = cc.get(ch, 0) + 1
    assert set(out) == set(counts)
    for src, cc in counts.items():
        n = sum(cc.values())
        # SQL round() is half-away-from-zero; ln(p) here is negative, so
        # match with floor(|x| + 0.5) on the magnitude
        def q(x: float) -> int:
            return int(math.floor(abs(x) * 1_000_000 + 0.5)) * (
                -1 if x < 0 else 1
            )

        ent = sum(c * -q(math.log(c / n)) for c in cc.values()) // n
        r = out[src]
        assert r["n_chars"] == n
        assert r["alphabet"] == len(cc)
        assert r["entropy_micronats"] == ent
        assert 0 <= r["entropy_micronats"] <= int(math.log(len(cc)) * 1e6) + 1


def test_heaps_fit_matches_python_recompute(spark):
    import math

    from tests.conftest import SF_SMOKE
    from uda_spark.queries.text import HEAPS_BUCKETS, HEAPS_SHINGLE_K
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    row = all_specs()["text_heaps_law_fit"].fn(spark, SF_SMOKE).collect()[0]
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    md = max(r["doc_id"] for r in docs) + 1
    nt = [0] * HEAPS_BUCKETS
    first: dict[str, int] = {}
    for r in docs:
        b = min(HEAPS_BUCKETS - 1, r["doc_id"] * HEAPS_BUCKETS // md)
        toks = (r["text"] or "").lower().split(" ")
        if len(toks) >= HEAPS_SHINGLE_K:
            sh = [
                " ".join(toks[i : i + HEAPS_SHINGLE_K])
                for i in range(len(toks) - HEAPS_SHINGLE_K + 1)
            ]
        else:
            sh = [" ".join(toks)]
        nt[b] += len(sh)
        for s in sh:
            if s not in first or first[s] > b:
                first[s] = b
    nv = [0] * HEAPS_BUCKETS
    for b in first.values():
        nv[b] += 1
    xs, ys, cn, cv = [], [], 0, 0
    for b in range(HEAPS_BUCKETS):
        cn += nt[b]
        cv += nv[b]
        xs.append(int(math.floor(math.log(cn) * 1_000_000 + 0.5)))
        ys.append(int(math.floor(math.log(cv) * 1_000_000 + 0.5)))
    k = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    beta = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    assert row["n_points"] == k
    assert abs(row["heaps_beta"] - beta) < 1e-6
    assert 0.0 < row["r2"] <= 1.0


def test_paired_bootstrap_delta_matches_python_recompute(spark):
    import hashlib

    from tests.conftest import SF_SMOKE
    from uda_spark.queries.evaluation import BOOTSTRAP_B
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    row = all_specs()["ml_paired_bootstrap_delta"].fn(spark, SF_SMOKE).collect()[0]
    rows = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_discount", "l_quantity", "l_returnflag"
    ).collect()
    ds, hs = [], []
    for r in rows:
        y = r["l_returnflag"] == "R"
        a = round(r["l_discount"] * 100) >= 6
        b = r["l_quantity"] >= 30
        d = (1 if (a == y) and (b != y) else -1 if (a != y) and (b == y) else 0)
        ds.append(d)
        hs.append(
            int(hashlib.md5(f"pb|{r['l_orderkey']}".encode()).hexdigest()[:15], 16)
        )
    n = len(ds)
    d_all = sum(ds)

    def tz(num: int, den: int) -> int:
        return (num * 1_000_000) // den if num >= 0 else -((-num * 1_000_000) // den)

    deltas = []
    for r in range(BOOTSTRAP_B):
        dd = sum(d for d, h in zip(ds, hs) if (h >> r) % 2 == 0)
        nn = sum(1 for h in hs if (h >> r) % 2 == 0)
        deltas.append((tz(dd, nn), r))
    deltas.sort()
    assert row["n_rows"] == n
    assert row["delta_ppm"] == tz(d_all, n)
    assert row["ci_lo_ppm"] == deltas[1][0]
    assert row["ci_hi_ppm"] == deltas[BOOTSTRAP_B - 2][0]
    assert row["ci_lo_ppm"] <= row["delta_ppm"] <= row["ci_hi_ppm"]


def test_kruskal_wallis_matches_python_recompute(spark):
    from tests.conftest import SF_SMOKE
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    row = all_specs()["ml_kruskal_wallis"].fn(spark, SF_SMOKE).collect()[0]
    vals = [
        (round(r["o_totalprice"] * 100), r["o_orderpriority"])
        for r in load_table(spark, SF_SMOKE, "orders")
        .select("o_totalprice", "o_orderpriority")
        .collect()
    ]
    n = len(vals)
    # exact 2x average ranks per distinct value
    from collections import Counter, defaultdict

    cnt = Counter(v for v, _ in vals)
    cum = 0
    rank2 = {}
    for v in sorted(cnt):
        rank2[v] = 2 * cum + cnt[v] + 1
        cum += cnt[v]
    s2 = defaultdict(int)
    ng = defaultdict(int)
    for v, g in vals:
        s2[g] += rank2[v]
        ng[g] += 1
    st_sum = sum((s2[g] ** 2 * 250_000) // ng[g] for g in s2)
    h_micro = (12 * st_sum) // (n * (n + 1)) - 3_000_000 * (n + 1)
    tie = sum(c**3 - c for c in cnt.values())
    n3 = n**3 - n
    if h_micro >= 0:
        h_corr = (h_micro * n3) // (n3 - tie)
    else:
        h_corr = -((-h_micro * n3) // (n3 - tie))
    assert row["n_obs"] == n
    assert row["n_groups"] == len(s2)
    assert row["tie_cubed_sum"] == tie
    assert row["h_micro"] == h_micro
    assert row["h_tie_corrected_micro"] == h_corr
    # H is non-negative up to floor slack and bounded by N-1 (its max)
    assert -12 <= h_micro <= 1_000_000 * (n - 1)


def test_wilcoxon_signed_rank_matches_python_recompute(spark):
    from collections import Counter, defaultdict

    from tests.conftest import SF_SMOKE
    from uda_spark.queries.events import _with_us
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    row = all_specs()["ml_wilcoxon_signed_rank"].fn(spark, SF_SMOKE).collect()[0]
    ev = [
        (r["user_id"], r["ts_us"], r["event_type"], r["value"])
        for r in _with_us(load_table(spark, SF_SMOKE, "events"))
        .select("user_id", "ts_us", "event_type", "value")
        .collect()
    ]
    lo = min(ts for _, ts, _, _ in ev)
    hi = max(ts for _, ts, _, _ in ev)
    mid = (lo + hi) / 2
    d = defaultdict(int)
    for u, ts, et, val in ev:
        cents = (
            int(round(float(val) * 100)) if (et == "purchase" and val is not None) else 0
        )
        if ts >= mid:
            d[u] += cents
        else:
            d[u] -= cents
    diffs = [x for x in d.values() if x != 0]
    cnt = Counter(abs(x) for x in diffs)
    pos = Counter(abs(x) for x in diffs if x > 0)
    cum = 0
    w2p = w2m = 0
    for a in sorted(cnt):
        r2 = 2 * cum + cnt[a] + 1
        w2p += pos.get(a, 0) * r2
        w2m += (cnt[a] - pos.get(a, 0)) * r2
        cum += cnt[a]
    assert row["n_pairs"] == len(diffs)
    assert row["w2_plus"] == w2p
    assert row["w2_minus"] == w2m
    # identity: W+ + W- = n(n+1) in 2x units
    n = len(diffs)
    assert w2p + w2m == n * (n + 1)
    assert row["wplus_share_ppm"] == w2p * 1_000_000 // (w2p + w2m)


def test_youden_threshold_matches_python_recompute(spark):
    from tests.conftest import SF_SMOKE
    from uda_spark.queries.evaluation import _user_label_score
    from uda_spark.registry import all_specs

    row = all_specs()["ml_youden_j_threshold"].fn(spark, SF_SMOKE).collect()[0]
    base = [
        (r["label"], r["score"]) for r in _user_label_score(spark, SF_SMOKE).collect()
    ]
    n_pos = sum(y for y, _ in base)
    n_neg = len(base) - n_pos
    best = None
    for thr in sorted({s for _, s in base}, reverse=True):
        tp = sum(1 for y, s in base if y == 1 and s >= thr)
        fp = sum(1 for y, s in base if y == 0 and s >= thr)
        j = tp * 1_000_000 // n_pos - fp * 1_000_000 // n_neg
        # ties resolve to the HIGHEST threshold: strict improvement only
        if best is None or j > best[0] or (j == best[0] and thr > best[1]):
            best = (j, thr, tp, fp)
    assert row["j_ppm"] == best[0]
    assert row["threshold_cents"] == best[1]
    assert row["tp"] == best[2]
    assert row["fp"] == best[3]
    assert row["n_pos"] == n_pos and row["n_neg"] == n_neg
    # J bounded by [-1e6, 1e6]; at the optimum J >= 0 (threshold above max has J=0)
    assert 0 <= row["j_ppm"] <= 1_000_000


def test_brier_decomposition_matches_python_recompute(spark):
    from collections import defaultdict

    from tests.conftest import SF_SMOKE
    from uda_spark.queries.evaluation import _user_label_score
    from uda_spark.registry import all_specs

    row = all_specs()["ml_brier_decomposition"].fn(spark, SF_SMOKE).collect()[0]
    base = [
        (r["label"], min(999_999, r["score"] * 1_000_000 // 200_000))
        for r in _user_label_score(spark, SF_SMOKE).collect()
    ]
    bins = defaultdict(lambda: [0, 0, 0])  # n, sum_p, sum_y
    for y, p in base:
        b = bins[p // 100_000]
        b[0] += 1
        b[1] += p
        b[2] += y
    n = sum(b[0] for b in bins.values())
    y_tot = sum(b[2] for b in bins.values())
    rel = sum((b[1] - 1_000_000 * b[2]) ** 2 // b[0] for b in bins.values()) // n
    res = (
        1_000_000_000_000
        * sum((b[2] * n - y_tot * b[0]) ** 2 // b[0] for b in bins.values())
    ) // n**3
    ybar = y_tot * 1_000_000 // n
    assert row["n_users"] == n
    assert row["n_bins"] == len(bins)
    assert row["ybar_ppm"] == ybar
    assert row["reliability_ppm2"] == rel
    assert row["resolution_ppm2"] == res
    assert row["uncertainty_ppm2"] == ybar * (1_000_000 - ybar)
    # resolution can never exceed uncertainty (variance decomposition)
    assert res <= ybar * (1_000_000 - ybar) + n  # truncation slack


def test_equalized_odds_matches_python_recompute(spark):
    from collections import defaultdict

    from tests.conftest import SF_SMOKE
    from uda_spark.queries.evaluation import (
        CONFUSION_THRESHOLD_CENTS,
        N_SEGMENTS,
        _user_label_score,
    )
    from uda_spark.registry import all_specs

    rows = {
        r["segment"]: r
        for r in all_specs()["ml_fairness_equalized_odds"].fn(spark, SF_SMOKE).collect()
    }
    seg = defaultdict(lambda: [0, 0, 0, 0])  # n, n_pos, tp, fp
    for r in _user_label_score(spark, SF_SMOKE).collect():
        s = seg[r["user_id"] % N_SEGMENTS]
        pred = 1 if r["score"] >= CONFUSION_THRESHOLD_CENTS else 0
        s[0] += 1
        s[1] += r["label"]
        if r["label"] == 1 and pred == 1:
            s[2] += 1
        if r["label"] == 0 and pred == 1:
            s[3] += 1
    tprs, fprs = [], []
    for k, (n, npos, tp, fp) in seg.items():
        tpr = tp * 1_000_000 // npos if npos else None
        fpr = fp * 1_000_000 // (n - npos) if n - npos else None
        assert rows[k]["n_users"] == n and rows[k]["n_pos"] == npos
        assert rows[k]["tpr_ppm"] == tpr and rows[k]["fpr_ppm"] == fpr
        tprs.append(tpr)
        fprs.append(fpr)
    gap_t = max(tprs) - min(tprs)
    gap_f = max(fprs) - min(fprs)
    for r in rows.values():
        assert r["tpr_gap_ppm"] == gap_t and r["fpr_gap_ppm"] == gap_f


def test_assortativity_consistent_with_degree_histogram(spark):
    from tests.conftest import SF_SMOKE
    from uda_spark.registry import all_specs

    row = all_specs()["graph_assortativity"].fn(spark, SF_SMOKE).collect()[0]
    hist = all_specs()["graph_degree_histogram"].fn(spark, SF_SMOKE).collect()
    # sum of degrees across the histogram = 2 x edge count
    assert sum(h["sum_degree"] for h in hist) == 2 * row["n_edges"]
    # Pearson r bounded; denominator-zero case yields NULL, not a bogus value
    if row["assortativity_milli"] is not None:
        assert -1000 <= row["assortativity_milli"] <= 1000
    # sum_deg over symmetrized edges = sum of squared degrees >= 2m
    assert row["sum_deg"] >= 2 * row["n_edges"]


def test_friedman_matches_python_recompute(spark):
    from collections import Counter, defaultdict

    from tests.conftest import SF_SMOKE
    from uda_spark.queries.events import _DAY_US, _with_us
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    row = all_specs()["ml_friedman_test"].fn(spark, SF_SMOKE).collect()[0]
    daily = Counter()
    for r in (
        _with_us(load_table(spark, SF_SMOKE, "events"))
        .select("ts_us", "event_type")
        .collect()
    ):
        daily[(r["ts_us"] // _DAY_US, r["event_type"])] += 1
    days = sorted({d for d, _ in daily})
    types = sorted({t for _, t in daily})
    n, k = len(days), len(types)
    r2 = defaultdict(int)
    for d in days:
        cnts = Counter(daily.get((d, t), 0) for t in types)
        cum = 0
        rank2 = {}
        for v in sorted(cnts):
            rank2[v] = 2 * cum + cnts[v] + 1
            cum += cnts[v]
        for t in types:
            r2[t] += rank2[daily.get((d, t), 0)]
    sr2 = sum(v * v for v in r2.values())
    chi = (3_000_000 * sr2) // (n * k * (k + 1)) - 3_000_000 * n * (k + 1)
    assert row["n_blocks"] == n
    assert row["k_treatments"] == k
    assert row["dof"] == k - 1
    assert row["chi2_micro"] == chi
    # chi2_F is bounded by n(k-1) and non-negative up to floor slack
    assert -12 <= chi <= 1_000_000 * n * (k - 1)
    # identity: per-block 2x rank sums total n*k*(k+1)
    assert sum(r2.values()) == n * k * (k + 1)


def test_nosplit_packing_invariants(spark):
    from tests.conftest import SF_SMOKE
    from uda_spark.queries.pipelines import NOSPLIT_CONTEXT
    from uda_spark.registry import all_specs

    rows = all_specs()["pipeline_greedy_pack_nosplit"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        # packed tokens never exceed bin capacity, never exceed raw tokens
        assert r["packed_tokens"] <= r["n_bins"] * NOSPLIT_CONTEXT
        assert r["packed_tokens"] <= r["sum_tokens"]
        # no-split lower bound: at least ceil(packed / context) bins
        assert r["n_bins"] >= -(-r["packed_tokens"] // NOSPLIT_CONTEXT)
        # and at most one bin per doc
        assert r["n_bins"] <= r["n_docs"]
        assert 0 <= r["waste_ppm"] < 1_000_000


def test_cochran_q_matches_python_recompute(spark):
    from collections import defaultdict

    from tests.conftest import SF_SMOKE
    from uda_spark.queries.events import _DAY_US, _with_us
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    row = all_specs()["ml_cochran_q"].fn(spark, SF_SMOKE).collect()[0]
    blocks = defaultdict(lambda: [0, 0, 0])
    for r in (
        _with_us(load_table(spark, SF_SMOKE, "events"))
        .select("user_id", "event_type", "ts_us")
        .collect()
    ):
        b = blocks[r["user_id"]]
        in_window = (r["ts_us"] // _DAY_US) % 28 < 2
        if r["event_type"] == "purchase" and in_window:
            b[0] = 1
        if r["event_type"] == "error" and in_window:
            b[1] = 1
        if r["event_type"] == "click" and in_window:
            b[2] = 1
    n = len(blocks)
    c = [sum(b[j] for b in blocks.values()) for j in range(3)]
    sr = sum(sum(b) for b in blocks.values())
    sr2 = sum(sum(b) ** 2 for b in blocks.values())
    den = 3 * sr - sr2
    assert row["n_blocks"] == n
    assert (row["c1"], row["c2"], row["c3"]) == tuple(c)
    if den == 0:
        # all-identical rows (every R_i in {0, k}) — Q undefined, NULLIF
        # yields NULL in both engines
        assert row["q_micro"] is None
    else:
        q = (1_000_000 * 2 * (3 * sum(x * x for x in c) - sr * sr)) // den
        assert row["q_micro"] == q
        assert q >= 0


def test_pq_distortion_bounds(spark):
    from tests.conftest import SF_SMOKE
    from uda_spark.queries.similarity import PQ_M
    from uda_spark.registry import all_specs

    rows = all_specs()["sim_pq_distortion"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == PQ_M
    n0 = rows[0]["n_vecs"]
    for r in rows:
        # every subspace scores every vector
        assert r["n_vecs"] == n0
        assert 0 <= r["mean_d2_fp2"] <= r["sum_d2_fp2"]
        # mean is the floored ratio of the exact sums
        assert r["mean_d2_fp2"] == r["sum_d2_fp2"] // r["n_vecs"]


def test_anova_oneway_matches_python_recompute(spark):
    from collections import defaultdict

    from tests.conftest import SF_SMOKE
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    row = all_specs()["ml_anova_oneway"].fn(spark, SF_SMOKE).collect()[0]
    vals = [
        (round(r["o_totalprice"] * 100), r["o_orderpriority"])
        for r in load_table(spark, SF_SMOKE, "orders")
        .select("o_totalprice", "o_orderpriority")
        .collect()
    ]
    n_g = defaultdict(int)
    s_g = defaultdict(int)
    q = 0
    s = 0
    for v, g in vals:
        n_g[g] += 1
        s_g[g] += v
        q += v * v
        s += v
    n, k = len(vals), len(n_g)
    bterm = sum((s_g[g] ** 2 * 1000) // n_g[g] for g in n_g)
    ssb = bterm - (s * s * 1000) // n
    ssw = q * 1000 - bterm
    assert row["n_obs"] == n
    assert row["n_groups"] == k

    def tz(a, b):  # truncate-toward-zero with floor building block
        return (a - a % b) // b if a >= 0 else -((-a - (-a) % b) // b)

    f = tz(ssb * (n - k) * 1000, ssw * (k - 1)) if ssw * (k - 1) else None
    eta = tz(ssb * 1_000_000, ssb + ssw) if ssb + ssw else None
    assert row["f_stat_milli"] == f
    assert row["eta2_ppm"] == eta
    # SSB/SSW are true sums of squares up to floor slack
    assert ssw >= 0 and ssb >= -1000 * k
    assert eta is None or -1 <= eta <= 1_000_000


def test_srm_check_matches_python_recompute(spark):
    from tests.conftest import SF_SMOKE
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    row = all_specs()["ml_srm_check"].fn(spark, SF_SMOKE).collect()[0]
    users = {
        r["user_id"]
        for r in load_table(spark, SF_SMOKE, "events").select("user_id").collect()
    }
    n_a = sum(1 for u in users if u % 2 == 0)
    n_b = len(users) - n_a
    assert row["n_a"] == n_a
    assert row["n_b"] == n_b
    assert row["share_a_ppm"] == n_a * 1_000_000 // len(users)
    chi2 = (n_a - n_b) ** 2 * 1_000_000 // len(users)
    assert row["srm_chi2_micro"] == chi2
    assert row["srm_flag"] == int(chi2 > 3_841_459)
    # the parity split is healthy by construction: no SRM at smoke SF
    assert row["srm_flag"] == 0


def test_fdr_bh_segments_matches_python_recompute(spark):
    from collections import defaultdict

    from tests.conftest import SF_SMOKE
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    rows = {
        r["nation"]: r
        for r in all_specs()["ml_fdr_bh_segments"].fn(spark, SF_SMOKE).collect()
    }
    cust = [
        (r["c_nationkey"], 1 if r["c_acctbal"] < 0 else 0)
        for r in load_table(spark, SF_SMOKE, "customer")
        .select("c_nationkey", "c_acctbal")
        .collect()
    ]
    n_g = defaultdict(int)
    c_g = defaultdict(int)
    for nation, d in cust:
        n_g[nation] += 1
        c_g[nation] += d
    n, c, m = len(cust), sum(c_g.values()), len(n_g)
    assert len(rows) == m
    pb = {}
    for g in n_g:
        diff = c_g[g] * n - c * n_g[g]
        t1 = (diff * diff) // n_g[g]
        den = c * (n - c)
        z2 = (t1 * 1_000_000) // den if den else None
        p = 1_000_000 if z2 is None or z2 <= 1_000_000 else 10**12 // z2
        assert rows[g]["z2_micro"] == z2
        assert rows[g]["p_bound_ppm"] == p
        pb[g] = p
    order = sorted(pb, key=lambda g: (pb[g], g))
    kstar = 0
    for i, g in enumerate(order, start=1):
        thr = i * 50_000 // m
        assert rows[g]["bh_rank"] == i
        assert rows[g]["bh_threshold_ppm"] == thr
        if pb[g] <= thr:
            kstar = i
    for i, g in enumerate(order, start=1):
        assert rows[g]["bh_rejected"] == int(i <= kstar)
    # step-up property: the rejection set is a prefix of the p-ordering
    rejected = [g for g in order if rows[g]["bh_rejected"]]
    assert rejected == order[: len(rejected)]


def _per_user_value_cents(spark):
    """Per-user total event value in exact integer cents, mirroring the
    queries' CAST(value AS DECIMAL(18,2)) * 100 with the suite's
    ROUND_HALF_UP idiom (python round() is banker's and would diverge
    at exact half-cent boundaries)."""
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    from tests.conftest import SF_SMOKE
    from uda_spark.sources.tables import load_table

    per_user = defaultdict(int)
    for r in (
        load_table(spark, SF_SMOKE, "events").select("user_id", "value").collect()
    ):
        cents = (
            0
            if r["value"] is None
            else int(Decimal(r["value"]).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100)
        )
        per_user[r["user_id"]] += cents
    return per_user


def test_ab_power_mde_matches_python_recompute(spark):
    import math

    from tests.conftest import SF_SMOKE
    from uda_spark.registry import all_specs

    row = all_specs()["ml_ab_power_mde"].fn(spark, SF_SMOKE).collect()[0]
    per_user = _per_user_value_cents(spark)
    a = [y for u, y in per_user.items() if u % 2 == 0]
    b = [y for u, y in per_user.items() if u % 2 == 1]
    assert row["n_a"] == len(a) and row["n_b"] == len(b)
    var_num_a = len(a) * sum(y * y for y in a) - sum(a) ** 2
    var_num_b = len(b) * sum(y * y for y in b) - sum(b) ** 2
    s2p = (var_num_a / len(a) + var_num_b / len(b)) / (len(a) + len(b) - 2)
    zs = 2.801585
    mde = zs * math.sqrt(s2p * (1.0 / len(a) + 1.0 / len(b)))
    assert abs(row["mean_a_cents"] - sum(a) / len(a)) <= 1e-4
    assert abs(row["pooled_sd_cents"] - math.sqrt(s2p)) <= 1e-4 * max(
        1.0, math.sqrt(s2p)
    )
    assert abs(row["mde_cents"] - mde) <= 1e-4 * max(1.0, mde)
    delta = 0.05 * sum(a) / len(a)
    n_req = math.ceil(2 * zs * zs * s2p / delta / delta)
    # ceil on a double can land one off across recompute orders only if
    # the quotient sits exactly on an integer — assert within 1
    assert abs(row["n_per_arm_5pct"] - n_req) <= 1
    # the MDE must be detectable with the planned sample: monotone sanity
    assert row["mde_cents"] > 0 and row["n_per_arm_5pct"] > 0


def test_tost_equivalence_matches_python_recompute(spark):
    import math

    from tests.conftest import SF_SMOKE
    from uda_spark.registry import all_specs

    row = all_specs()["ml_tost_equivalence"].fn(spark, SF_SMOKE).collect()[0]
    per_user = _per_user_value_cents(spark)
    a = [y for u, y in per_user.items() if u % 2 == 0]
    b = [y for u, y in per_user.items() if u % 2 == 1]
    assert row["n_a"] == len(a) and row["n_b"] == len(b)
    diff = sum(a) / len(a) - sum(b) / len(b)
    margin = 0.05 * sum(a) / len(a)
    var_num_a = len(a) * sum(y * y for y in a) - sum(a) ** 2
    var_num_b = len(b) * sum(y * y for y in b) - sum(b) ** 2
    se = math.sqrt(
        var_num_a / (len(a) ** 2 * (len(a) - 1))
        + var_num_b / (len(b) ** 2 * (len(b) - 1))
    )
    assert abs(row["diff_cents"] - diff) <= 1e-4 * max(1.0, abs(diff))
    assert abs(row["margin_cents"] - margin) <= 1e-4 * max(1.0, margin)
    t_lo, t_up = (diff + margin) / se, (diff - margin) / se
    assert abs(row["t_lower"] - t_lo) <= 1e-4 * max(1.0, abs(t_lo))
    assert abs(row["t_upper"] - t_up) <= 1e-4 * max(1.0, abs(t_up))
    assert row["equivalent"] == int(t_lo > 1.644854 and t_up < -1.644854)
    # TOST internal consistency: t_lower > t_upper always (margin > 0)
    assert row["t_lower"] > row["t_upper"]


def test_msprt_always_valid_matches_python_recompute(spark):
    import math
    from collections import defaultdict

    from tests.conftest import SF_SMOKE
    from uda_spark.queries.events import _with_us
    from uda_spark.registry import all_specs
    from uda_spark.sources.tables import load_table

    rows = (
        all_specs()["events_msprt_always_valid"].fn(spark, SF_SMOKE).collect()
    )
    from decimal import ROUND_HALF_UP, Decimal

    ev = [
        (
            r["ts_us"] // 86_400_000_000,
            r["user_id"] % 2,
            0
            if r["value"] is None
            else int(
                Decimal(r["value"]).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100
            ),
        )
        for r in _with_us(load_table(spark, SF_SMOKE, "events"))
        .select("ts_us", "user_id", "value")
        .collect()
    ]
    n = len(ev)
    s = sum(v for _, _, v in ev)
    q = sum(v * v for _, _, v in ev)
    s2 = (n * q - s * s) / (n * n)
    daily = defaultdict(lambda: [0, 0, 0, 0])
    for day, cohort, v in ev:
        d = daily[day]
        if cohort == 0:
            d[0] += 1
            d[2] += v
        else:
            d[1] += 1
            d[3] += v
    na = nb = sa = sb = 0
    pmax = 0.0
    assert len(rows) == len(daily)
    assert [r["day"] for r in rows] == sorted(daily)
    for r, day in zip(rows, sorted(daily)):
        na += daily[day][0]
        nb += daily[day][1]
        sa += daily[day][2]
        sb += daily[day][3]
        assert (r["n_a_cum"], r["n_b_cum"]) == (na, nb)
        if na > 0 and nb > 0:
            diff = sa / na - sb / nb
            kk = 1.0 / na + 1.0 / nb
            lnl = 0.5 * math.log(kk / (kk + 1.0)) + diff * diff / (
                2.0 * s2 * kk * (kk + 1.0)
            )
        else:
            diff, lnl = 0.0, 0.0
        pmax = max(pmax, max(lnl, 0.0))
        assert abs(r["mean_diff_cents"] - diff) <= 1e-4 * max(1.0, abs(diff))
        assert abs(r["ln_lambda"] - lnl) <= 1e-4 * max(1.0, abs(lnl))
        p = math.exp(-pmax)
        assert abs(r["p_always_valid"] - p) <= 1e-4
        # always-valid property: p is non-increasing and in (0, 1]
        assert 0.0 <= r["p_always_valid"] <= 1.0
    p_seq = [r["p_always_valid"] for r in rows]
    assert all(x >= y for x, y in zip(p_seq, p_seq[1:]))


# ---------------------------------------------------------------------------
# Blocked-GEMM pair dots: the numpy fast path must be value-identical to
# the naive fixed-point definition for ARBITRARY vector sets — fuzzed
# dims, signs, duplicate vectors, and thresholds (including <= -1, where
# the prefilter must keep everything).

gemm_corpus = st.lists(
    st.lists(
        st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
        min_size=4,
        max_size=4,
    ),
    min_size=2,
    max_size=40,
)


@SPARK_SETTINGS
@given(vecs=gemm_corpus, thr=st.sampled_from([-1.5, 0.0, 0.5, 0.95]))
def test_blocked_gemm_matches_naive_fixed_point(spark, vecs, thr):
    import math

    import numpy as np

    from uda_spark.operators.similarity import embedding_near_dup_pairs

    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in embedding_near_dup_pairs(
            df, "vec_id", "embedding", threshold=thr
        ).collect()
    }

    def half_up(x: float) -> int:
        return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))

    iv = {
        i: [half_up(float(np.float32(x)) * 1_000_000) for x in v]
        for i, v in rows
    }
    want = {}
    for a in range(len(rows)):
        for b in range(a + 1, len(rows)):
            dot = sum(x * y for x, y in zip(iv[a], iv[b]))
            na = sum(x * x for x in iv[a])
            nb = sum(x * x for x in iv[b])
            if na == 0 or nb == 0:
                continue  # zero vector: score is NULL/NaN, never >= thr
            score = round(dot / (math.sqrt(na) * math.sqrt(nb)), 6)
            if score >= thr:
                want[(a, b)] = score
    assert got == want


gemm_groups = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # group id
        st.lists(
            st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
            min_size=3,
            max_size=3,
        ),
    ),
    min_size=2,
    max_size=30,
)


@SPARK_SETTINGS
@given(rows=gemm_groups, thr=st.sampled_from([-1.5, 0.3, 0.9]))
def test_within_group_gemm_matches_naive(spark, rows, thr):
    """within_group_pair_dots (the SemDeDup inner loop) must equal the
    naive per-group all-pairs fixed-point computation for arbitrary
    group layouts — singleton groups, duplicate vectors, zero vectors,
    and thresholds where the prefilter must keep everything."""
    import math

    import numpy as np

    from pyspark.sql import functions as F
    from uda_spark.functions import portable
    from uda_spark.operators.similarity import within_group_pair_dots

    data = [(g, i, v) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "grp_in long, vec_id long, embedding array<float>"
    ).select(
        "grp_in",
        "vec_id",
        F.expr(portable.int_vec("embedding", "spark")).alias("v"),
    )
    score = portable.cosine_from_ints("dot", "norm_a", "norm_b")
    got = {
        (r["grp_in"], r["id_a"], r["id_b"]): r["s"]
        for r in within_group_pair_dots(df, "grp_in", "vec_id", "v", thr)
        .select("grp_in", "id_a", "id_b", F.round(F.expr(score), 6).alias("s"))
        .where(F.col("s") >= thr)
        .collect()
    }

    def half_up(x: float) -> int:
        return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))

    iv = {
        i: (g, [half_up(float(np.float32(x)) * 1_000_000) for x in v])
        for i, (g, v) in enumerate(rows)
    }
    want = {}
    for a in range(len(rows)):
        for b in range(a + 1, len(rows)):
            ga, va = iv[a]
            gb, vb = iv[b]
            if ga != gb:
                continue
            na = sum(x * x for x in va)
            nb = sum(x * x for x in vb)
            if na == 0 or nb == 0:
                continue
            dot = sum(x * y for x, y in zip(va, vb))
            s = round(dot / (math.sqrt(na) * math.sqrt(nb)), 6)
            if s >= thr:
                want[(ga, a, b)] = s
    assert got == want


# ---------------------------------------------------------------------------
# Round-11 SemDeDup quantizer pieces


vec_corpus = st.lists(
    st.lists(st.integers(-1_000_000, 1_000_000), min_size=4, max_size=4),
    min_size=2,
    max_size=60,
)


@SPARK_SETTINGS
@given(vecs=vec_corpus)
def test_assign_nearest_centroid_matches_bruteforce(spark, vecs):
    """Exact parity with a pure-python argmin (incl. duplicate vectors
    and distance ties): every row goes to the MINIMUM-dist² centroid,
    ties to the LOWEST centroid id — the same rule the SQL oracle
    spells as ORDER BY dist2, cluster."""
    from uda_spark.operators import similarity as S

    rng = random.Random(11)
    # duplicate some vectors so exact ties are guaranteed to occur
    vecs = vecs + [vecs[rng.randrange(len(vecs))] for _ in range(len(vecs) // 3)]
    cents = [(i * 3 + 1, vecs[rng.randrange(len(vecs))]) for i in range(3)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vid long, v array<bigint>"
    )
    got = {
        r["vid"]: r["cluster"]
        for r in S.assign_nearest_centroid(df, "vid", "v", cents).collect()
    }
    for i, v in enumerate(vecs):
        best = min(
            (sum((x - c) ** 2 for x, c in zip(v, cv)), cid) for cid, cv in cents
        )
        assert got[i] == best[1], f"row {i}: {got[i]} != {best[1]}"


@SPARK_SETTINGS
@given(
    sizes=st.lists(st.integers(1, 120), min_size=1, max_size=6),
    cap=st.integers(1, 50),
)
def test_cap_group_sizes_partitions_exactly(spark, sizes, cap):
    """cap_group_sizes is a pure partition refinement: every row keeps
    its group (recoverable as out div 2^31), sub ids stay inside
    [0, ceil(c/cap)), groups at/under the cap stay whole, and no row is
    lost or duplicated."""
    from uda_spark.operators import similarity as S

    rows = []
    rid = 0
    for g, c in enumerate(sizes):
        for _ in range(c):
            rows.append((rid, g))
            rid += 1
    df = spark.createDataFrame(rows, "vid long, grp long")
    out = S.cap_group_sizes(df, "grp", "vid", cap, out_col="g2").collect()
    assert len(out) == len(rows)
    assert {r["vid"] for r in out} == {r[0] for r in rows}
    by_grp: dict = {}
    for r in out:
        assert r["g2"] // 2_147_483_648 == r["grp"]
        by_grp.setdefault(r["grp"], set()).add(r["g2"] % 2_147_483_648)
    for g, c in enumerate(sizes):
        nsub = (c + cap - 1) // cap
        subs = by_grp[g]
        assert subs <= set(range(nsub))
        if c <= cap:
            assert subs == {0}


# ---------------------------------------------------------------------------
# Round-12: hierarchical two-level quantizer — full pure-python replay


def _py_hash60(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division (Spark ``div`` / DuckDB
    ``//`` on BIGINT) — python ``//`` floors instead."""
    q = abs(a) // b
    return q if a >= 0 else -q


def _py_flat_quantizer(rows, tgt, salt):
    """Pure-python replay of semdedup_coarse_quantizer (dense ids)."""
    n = len(rows)
    if n == 0:
        return {}
    min_id = min(vid for vid, _ in rows)
    k = (n + tgt - 1) // tgt
    stride = max(n // k, 1)
    seeds = sorted(
        (vid, v)
        for vid, v in rows
        if _py_hash60(f"{salt}|{vid}") % stride == 0 or vid == min_id
    )
    c0 = [(i, v) for i, (_, v) in enumerate(seeds)]

    def assign(cents):
        return {
            vid: min(
                (sum((x - c) ** 2 for x, c in zip(v, cv)), cid)
                for cid, cv in cents
            )[1]
            for vid, v in rows
        }

    a1 = assign(c0)
    byc: dict = {}
    for vid, v in rows:
        byc.setdefault(a1[vid], []).append(v)
    c1 = sorted(
        (cid, [_py_tdiv(sum(col), len(vs)) for col in zip(*vs)])
        for cid, vs in byc.items()
    )
    return assign(c1)


def _py_hier_quantizer(rows, tgt):
    """Pure-python replay of semdedup_hierarchical_quantizer."""
    import math as _math

    n = len(rows)
    if n == 0:
        return {}
    k = (n + tgt - 1) // tgt
    k1 = _math.isqrt(k - 1) + 1
    target1 = (n + k1 - 1) // k1
    sup = _py_flat_quantizer(rows, target1, "sup")
    stride2 = max(n // k, 1)
    smin: dict = {}
    for vid, _ in rows:
        s = sup[vid]
        smin[s] = min(smin.get(s, vid), vid)
    vec_by_id = dict(rows)
    seeds = sorted(
        (sup[vid], vid)
        for vid, _ in rows
        if _py_hash60(f"km|{vid}") % stride2 == 0 or vid == smin[sup[vid]]
    )
    cents_by_sup: dict = {}
    sup_of_cid: dict = {}
    for i, (s, vid) in enumerate(seeds):
        cents_by_sup.setdefault(s, []).append((i, vec_by_id[vid]))
        sup_of_cid[i] = s

    def assign(by_sup):
        return {
            vid: min(
                (sum((x - c) ** 2 for x, c in zip(v, cv)), cid)
                for cid, cv in by_sup[sup[vid]]
            )[1]
            for vid, v in rows
        }

    a1 = assign(cents_by_sup)
    byc: dict = {}
    for vid, v in rows:
        byc.setdefault(a1[vid], []).append(v)
    c1_by_sup: dict = {}
    for cid in sorted(byc):
        vs = byc[cid]
        cv = [_py_tdiv(sum(col), len(vs)) for col in zip(*vs)]
        c1_by_sup.setdefault(sup_of_cid[cid], []).append((cid, cv))
    return assign(c1_by_sup)


hier_corpus = st.lists(
    st.lists(st.integers(-1_000_000, 1_000_000), min_size=4, max_size=4),
    min_size=1,
    max_size=60,
)


@SPARK_SETTINGS
@given(vecs=hier_corpus, tgt=st.integers(1, 20), rep=st.sampled_from([1, 3]))
def test_hier_quantizer_matches_python_replay(spark, vecs, tgt, rep):
    """Bit-exact parity of the full two-level pipeline with a pure-python
    replay over degenerate corpora: duplicate vectors (guaranteed ties),
    non-contiguous 2^35-shifted ids (stresses the dense renumbering),
    n < k1, target 1 (every row its own cluster), any replication
    factor.  The replay recomputes both levels — hash-stride seeds,
    GEMM argmin with lowest-id ties, truncated-division Lloyd step —
    so any divergence in tie-breaking, id allocation, or salting
    surfaces as an exact mismatch."""
    from uda_spark.operators import similarity as S

    rng = random.Random(12)
    vecs = vecs + [vecs[rng.randrange(len(vecs))] for _ in range(len(vecs) // 3)]
    rows = [((1 << 35) + i * 7, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vid long, v array<bigint>")
    got = {
        r["vid"]: r["cluster"]
        for r in S.semdedup_hierarchical_quantizer(
            df, "vid", "v", tgt, row_replication=rep
        ).collect()
    }
    want = _py_hier_quantizer(rows, tgt)
    assert got == want


@SPARK_SETTINGS
@given(vecs=hier_corpus, tgt=st.integers(1, 20))
def test_flat_quantizer_matches_python_replay(spark, vecs, tgt):
    """Same full-replay parity for the FLAT quantizer (dense-id
    semantics, VERDICT r11 #1): seeds, renumbering, Lloyd step and
    reassignment all bit-exact vs pure python on shifted ids and
    duplicate vectors."""
    from uda_spark.operators import similarity as S

    rng = random.Random(21)
    vecs = vecs + [vecs[rng.randrange(len(vecs))] for _ in range(len(vecs) // 3)]
    rows = [((1 << 35) + i * 7, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vid long, v array<bigint>")
    got = {
        r["vid"]: r["cluster"]
        for r in S.semdedup_coarse_quantizer(df, "vid", "v", tgt).collect()
    }
    want = _py_flat_quantizer(rows, tgt, "km")
    assert got == want

"""Similarity search over embedding columns (north-star).

Two tiers, same semantics:
  * ``knn_bruteforce`` — exact top-k cosine.  The query set is broadcast
    (it is small by definition); the corpus is scanned once map-side and
    reduced with a per-query top-k window.  At 100 TB the corpus never
    shuffles — only (query, candidate, score) rows after per-partition
    pre-pruning.
  * ``lsh_knn`` — sign-random-projection LSH: deterministic pseudo-random
    hyperplanes derived from md5 bits bucket the corpus; only same-bucket
    pairs are scored.  The scale path when brute force is too wide.

Scores use exact fixed-point integer dot products (functions/portable.py)
so results are bit-stable across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from uda_spark.collect import bounded_collect
from uda_spark.functions import portable
from uda_spark.plans.partitioning import ensure_min_partitions


# Driver-collect bound for kernel-closure relations (query vectors, query
# LUTs): broadcast-material by contract, but the retired broadcast
# formulations failed LOUDLY at the broadcast threshold, so a bare
# .collect() of a caller-supplied relation must do the same instead of
# OOMing the driver silently at scale (r14; same pattern as the
# semdedup centroid-cell ceiling).
_MAX_CLOSURE_ROWS = 1 << 16


def _prep(df: DataFrame, id_col: str, vec_col: str, prefix: str) -> DataFrame:
    iv = portable.int_vec(vec_col, "spark")
    out = df.select(
        F.col(id_col).alias(f"{prefix}_id"), F.expr(iv).alias(f"{prefix}_vec")
    )
    norm = portable.int_dot(f"{prefix}_vec", f"{prefix}_vec", "spark")
    return out.withColumn(f"{prefix}_norm", F.expr(norm))


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    top_k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: broadcast queries × corpus scan, then one
    ``row_number() <= k`` window per query — the hierarchical-merge shape
    of the reference's LPQ/RPQ merger, src/Merger/MergeManager.cc:240-288.

    Catalyst plans that window as ``WindowGroupLimit`` Partial (top-k per
    query inside each map task, before the shuffle) → exchange on
    query_id → ``WindowGroupLimit`` Final, so only |partitions| × k
    survivors per query cross the shuffle and no task merges a query's
    full score list.  The Partial is planned only while k ≤
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000);
    tests/test_plan_lint.py fails a top-k query whose plan lacks it.

    Output: (query_id, neighbor_id, score) — score rounded to 6 dp, ties
    broken by neighbor id for full determinism (the partial/final split
    cannot change the result: global top-k is a subset of every
    superset-partition's local top-k).
    """
    c = _prep(corpus, id_col, vec_col, "c")
    q = _prep(queries, id_col, vec_col, "q")
    dot = portable.int_dot("q_vec", "c_vec", "spark")
    score = portable.cosine_from_ints(dot, "q_norm", "c_norm")
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            F.round(F.expr(score), 6).alias("score"),
        )
    )
    order = (F.col("score").desc(), F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def binary_signatures(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Sign-bit binary quantization: one bit per dimension (set iff the
    component is > 0), packed into two 32-bit halves carried as BIGINTs
    — 64 dims in 8 bytes, a 32× compression over float32 and the most
    aggressive quantization tier below int8/PQ.  Two halves, not one
    64-bit word, because ``1 << 63`` overflows signed ranges differently
    across engines; each half stays < 2^32, so packing is plain exact
    integer arithmetic in both.  Map-only (no shuffle), pure codegen.
    """

    def _half(start: int) -> str:
        return (
            f"aggregate(sequence({start}, {start + 31}), 0L, (acc, d) -> "
            f"acc + IF(element_at({vec_col}, CAST(d + 1 AS INT)) > 0, "
            f"shiftleft(1L, CAST(d - {start} AS INT)), 0L))"
        )

    return df.select(
        F.col(id_col),
        F.expr(_half(0)).alias("sig_lo"),
        F.expr(_half(32)).alias("sig_hi"),
    )


def binary_hamming_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    top_k: int = 10,
) -> DataFrame:
    """Hamming top-k over sign-bit signatures: broadcast query signatures
    × one corpus-signature scan; distance = popcount of the XOR'd halves
    (two ``bit_count`` calls, both codegen'd); same single top-k window
    as :func:`knn_bruteforce`, whose ``WindowGroupLimit`` Partial (k ≤
    1000) keeps any task from holding a full corpus' scores for one
    query.  At 100 TB the signature relation
    is the only thing scanned — 8 bytes/vector — which is why binary
    pre-ranking is the standard first pass before int8/PQ rerank.
    Ties (hamming is 0..64, ties are common) break by neighbor id.
    """
    c = binary_signatures(corpus, id_col, vec_col).withColumnsRenamed(
        {id_col: "neighbor_id", "sig_lo": "c_lo", "sig_hi": "c_hi"}
    )
    q = binary_signatures(queries, id_col, vec_col).withColumnsRenamed(
        {id_col: "query_id", "sig_lo": "q_lo", "sig_hi": "q_hi"}
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                F.expr("bit_count(c_lo ^ q_lo)") + F.expr("bit_count(c_hi ^ q_hi)")
            ).alias("hamming"),
        )
    )
    order = (F.col("hamming").asc(), F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "hamming", "rank")
    )


def quantize_embeddings(
    df: DataFrame, id_col: str, vec_col: str, bits: int = 8
) -> DataFrame:
    """Symmetric scalar quantization: float32 embeddings → (id, qvec
    array<int> in [-qmax, qmax], scale_fp) with qmax = 2^(bits-1) - 1.

    The 100 TB memory lever for ANN: int8 codes are 4× smaller than
    float32, so 4× more of the corpus fits per executor (and per
    broadcast).  Cosine is scale-invariant per vector, so scoring on the
    codes needs no dequantization — ``scale_fp`` (the per-vector max-abs
    in the ×1e6 fixed-point domain) is kept only for value
    reconstruction.  Map-only, pure codegen'd integer arithmetic derived
    from the exact fixed-point domain, hence bit-identical in the DuckDB
    oracle.
    """
    qmax = (1 << (bits - 1)) - 1
    iv = portable.int_vec(vec_col, "spark")
    prepped = df.select(F.col(id_col), F.expr(iv).alias("_iv")).withColumn(
        "_ma", F.expr("array_max(transform(_iv, x -> abs(x)))")
    )
    return prepped.select(
        F.col(id_col),
        F.expr(portable.quant_vec("_iv", "_ma", qmax, "spark")).alias("qvec"),
        F.col("_ma").alias("scale_fp"),
    )


def quantized_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    top_k: int = 5,
    bits: int = 8,
) -> DataFrame:
    """Approximate cosine top-k over quantized codes: the memory-bounded
    tier between brute force (exact, float-width) and LSH (sublinear
    candidates).  Same plan shape as :func:`knn_bruteforce` — broadcast
    quantized queries, scan the (4× smaller) quantized corpus once, one
    top-k window whose ``WindowGroupLimit`` Partial runs map-side for
    k ≤ 1000 — with scores computed on int8 codes.
    Deterministic: quantization and scoring are exact integer arithmetic,
    so the ranking (including its quantization error) is value-hash
    checkable."""
    qc = (
        quantize_embeddings(corpus, id_col, vec_col, bits)
        .select(F.col(id_col).alias("c_id"), F.col("qvec").alias("c_vec"))
        .withColumn("c_norm", F.expr(portable.int_dot("c_vec", "c_vec", "spark")))
    )
    qq = (
        quantize_embeddings(queries, id_col, vec_col, bits)
        .select(F.col(id_col).alias("q_id"), F.col("qvec").alias("q_vec"))
        .withColumn("q_norm", F.expr(portable.int_dot("q_vec", "q_vec", "spark")))
    )
    dot = portable.int_dot("q_vec", "c_vec", "spark")
    score = portable.cosine_from_ints(dot, "q_norm", "c_norm")
    scored = (
        qc.crossJoin(F.broadcast(qq))
        .where(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            F.round(F.expr(score), 6).alias("score"),
        )
    )
    order = (F.col("score").desc(), F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def srp_sign(t: int, p: int, d: int) -> int:
    """Hyperplane (table t, plane p)'s ±1 component for dimension d —
    deterministic md5 bit, shared by the Spark operator and the SQL
    oracles (which embed the resulting sign matrix as literals)."""
    import hashlib

    h = hashlib.md5(f"{t}|{p}|{d}".encode()).hexdigest()
    return 1 if h[0] >= "8" else -1


def srp_buckets_duck_sql(
    n_planes: int, n_tables: int, dim: int, id_col: str = "vec_id"
) -> str:
    """DuckDB oracle twin of :func:`srp_buckets`: (id, tbl, bucket) rows
    over a CTE named ``iv`` with columns (``id_col``, v fixed-point list).

    The sign matrix is deterministic (:func:`srp_sign`), so it is embedded
    as ±1 literals — the oracle recomputes the EXACT buckets the Spark
    operator assigns, making LSH-based queries value-hash checkable.
    """
    selects = []
    for t in range(n_tables):
        plane_terms = []
        for p in range(n_planes):
            signs = ", ".join(str(srp_sign(t, p, d)) for d in range(dim))
            dot = (
                f"list_sum(list_transform(range(1, {dim + 1}), "
                f"i -> v[i] * ([{signs}])[i]))"
            )
            plane_terms.append(
                f"CASE WHEN {dot} >= 0 THEN {1 << (n_planes - 1 - p)} ELSE 0 END"
            )
        selects.append(
            f"SELECT {id_col}, {t} AS tbl, {' + '.join(plane_terms)} AS bucket FROM iv"
        )
    return "\nUNION ALL\n".join(selects)


def srp_sign_bits_duck_sql(
    max_planes: int, n_tables: int, dim: int, id_col: str = "vec_id"
) -> str:
    """DuckDB relation of UNPACKED sign bits: (id, tbl, bits) where
    ``bits`` is the list of the first ``max_planes`` sign bits (1/0) of
    :func:`srp_sign`'s deterministic hyperplanes, over a CTE ``iv``.

    Unlike :func:`srp_buckets_duck_sql` (which packs a FIXED plane count
    into an integer bucket at SQL-generation time), this keeps the bits
    as a list so the CONSUMING query can pick the plane count at QUERY
    time — ``list_slice(bits, 1, planes)`` equality over the first
    ``planes`` bits is exactly bucket equality at that plane count.
    That is what lets the data-scaled :func:`scaled_n_planes` default be
    oracle-replayed: the oracle derives ``planes`` from the row count
    with the same exact integer formula and slices, instead of baking
    one plane count into the sign matrix."""
    selects = []
    for t in range(n_tables):
        bits = []
        for p in range(max_planes):
            signs = ", ".join(str(srp_sign(t, p, d)) for d in range(dim))
            dot = (
                f"list_sum(list_transform(range(1, {dim + 1}), "
                f"i -> v[i] * ([{signs}])[i]))"
            )
            bits.append(f"CASE WHEN {dot} >= 0 THEN 1 ELSE 0 END")
        selects.append(
            f"SELECT {id_col}, {t} AS tbl, [{', '.join(bits)}] AS bits FROM iv"
        )
    return "\nUNION ALL\n".join(selects)


def srp_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Sign-random-projection buckets, one per hash table (multi-table
    LSH): rows (id, table, bucket).

    Hyperplane (t, p)'s component for dimension d is +1/-1 from a portable
    hash bit (md5(t|p|d) first hex char >= '8') — deterministic, no stored
    model.  Bucket = the n_planes sign bits packed into an int.  A pair is
    a candidate if it shares a bucket in ANY table: recall ~ 1-(1-p^k)^L
    — the (k=n_planes, L=n_tables) pair is the recall/cost knob.

    The sign matrix depends only on (table, plane, dim), so it is hashed
    ONCE driver-side (hashlib md5 — same family as SQL md5) and shipped
    in the task closure; per-vector work is then ONE numpy int64 GEMM
    against the (L·k × dim) sign matrix per Arrow batch (guide §4.2;
    r13).  Earlier formulations, kept for the record: md5 inside the row
    expression — corpus × L × k × dim md5 calls, 30× slower; sign
    literals in interpreted HOF lambdas (L·k `aggregate(zip_with(...))`
    per row) — measured 0.47s vs 0.18s at sf0.1, 2.6× slower than the
    GEMM.  The exact ×1e6 fixed-point conversion stays in SQL
    (``portable.int_vec`` — SQL round is HALF_UP, numpy's is half-even,
    so the conversion must NOT move into the kernel); the kernel sees
    exact int64 vectors, so dots and packed sign bits are bit-identical
    to the HOF formulation and the embedded-literal oracle.
    """
    import numpy as np
    import pyarrow as pa

    if dim is None:
        # one-row probe job; pass dim explicitly to skip it (and to make
        # empty input well-defined)
        dim_row = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if dim_row is None:  # empty input: no vectors, no buckets
            # Preserve the actual id type (string doc ids, ints, ...) so
            # downstream joins/unions in lsh_knn stay type-correct.
            id_type = df.schema[id_col].dataType.simpleString()
            return df.sparkSession.createDataFrame(
                [], f"{id_col} {id_type}, table int, bucket long"
            )
        dim = int(dim_row["d"])

    S = np.array(
        [
            [srp_sign(t, p, d) for d in range(dim)]
            for t in range(n_tables)
            for p in range(n_planes)
        ],
        dtype=np.int64,
    )
    W = (1 << np.arange(n_planes - 1, -1, -1)).astype(np.int64)
    L = n_tables
    iv = portable.int_vec(vec_col, "spark")
    prepped = df.select(F.col(id_col), F.expr(iv).alias("_v"))
    id_type = df.schema[id_col].dataType.simpleString()

    def buckets(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            X = _vec_matrix(b.column("_v"))
            bits = (X @ S.T >= 0).astype(np.int64).reshape(n, L, len(W))
            buck = (bits * W).sum(axis=2)
            # id passthrough via take keeps arbitrary id types working
            idx = pa.array(np.repeat(np.arange(n), L))
            yield pa.record_batch(
                [
                    b.column(id_col).take(idx),
                    pa.array(np.tile(np.arange(L, dtype=np.int32), n)),
                    pa.array(buck.reshape(-1)),
                ],
                names=[id_col, "table", "bucket"],
            )

    return prepped.mapInArrow(
        buckets, f"{id_col} {id_type}, table int, bucket long"
    )


def _lsh_scored_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    n_tables: int,
) -> DataFrame:
    """Shared SRP-LSH candidate generation + exact scoring: (query_id,
    neighbor_id, score) for every candidate sharing a bucket with
    the query in at least one table — consumed by :func:`lsh_knn`
    (top-k) and :func:`radius_search` (threshold)."""
    # Probe the dimensionality ONCE (tiny driver job) and share it with
    # both srp_buckets calls — each would otherwise run its own probe.
    dim_row = queries.select(F.size(F.col(vec_col)).alias("d")).first()
    dim = int(dim_row["d"]) if dim_row is not None else None
    cb = srp_buckets(corpus, id_col, vec_col, n_planes, n_tables, dim=dim).withColumnRenamed(
        id_col, "c_id"
    )
    qb = srp_buckets(queries, id_col, vec_col, n_planes, n_tables, dim=dim).withColumnRenamed(
        id_col, "q_id"
    )
    cand = (
        cb.join(F.broadcast(qb), on=["table", "bucket"])
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
        .distinct()
    )
    c = _prep(corpus, id_col, vec_col, "c")
    q = _prep(queries, id_col, vec_col, "q")
    # Per-candidate exact dots as a numpy kernel (guide §4.2; r13): the
    # query relation was broadcast already, so collecting it into the
    # task closure is the same footprint; the candidate×corpus join is
    # unchanged, and the retired interpreted `aggregate(zip_with(...))`
    # per candidate becomes one vectorized (C · Q[idx]) row-sum per
    # Arrow batch.  Dots are exact int64, so the SQL
    # round(cosine_from_ints(...), 6) downstream is bit-identical.
    import numpy as np
    import pyarrow as pa

    # The kernel keys queries by int64 (searchsorted over the sorted id
    # array; output schema q_id/c_id long) — require an integral id up
    # front instead of failing inside the collect (r14, ADVICE).
    id_type = dict(queries.dtypes).get(id_col)
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"_lsh_scored_candidates requires an integral {id_col!r} "
            f"(got {id_type}); srp_buckets itself preserves arbitrary id "
            "types — use it directly for non-integer ids"
        )
    qrows = sorted(
        (int(r["q_id"]), list(r["q_vec"]), int(r["q_norm"]))
        for r in bounded_collect(q, "_lsh_scored_candidates queries", _MAX_CLOSURE_ROWS)
    )
    qids = np.array([x for x, _, _ in qrows], dtype=np.int64)
    qnorms = np.array([n for _, _, n in qrows], dtype=np.int64)
    Q = (
        np.array([v for _, v, _ in qrows], dtype=np.int64)
        if qrows
        else np.empty((0, 0), dtype=np.int64)
    )

    def cdots(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0 or len(qids) == 0:
                continue
            C = _vec_matrix(b.column("c_vec"))
            rq = _i64(b.column("q_id"))
            idx = np.searchsorted(qids, rq)
            dot = (C * Q[idx]).sum(axis=1)
            yield pa.record_batch(
                [
                    b.column("q_id"),
                    b.column("c_id"),
                    pa.array(dot),
                    pa.array(qnorms[idx]),
                    b.column("c_norm"),
                ],
                names=["q_id", "c_id", "dot", "q_norm", "c_norm"],
            )

    score = portable.cosine_from_ints("dot", "q_norm", "c_norm")
    return (
        cand.join(c, on="c_id")
        .select("q_id", "c_id", "c_vec", "c_norm")
        .mapInArrow(
            cdots, "q_id long, c_id long, dot long, q_norm long, c_norm long"
        )
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            F.round(F.expr(score), 6).alias("score"),
        )
    )


def radius_search(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_planes: int = 4,
    n_tables: int = 8,
) -> DataFrame:
    """Range query: ALL candidates with cosine >= threshold per query —
    the radius dual of :func:`lsh_knn`'s top-k (recall bounded by the
    LSH bucket recall, like every multi-table SRP op here).

    Same one-exchange candidate generation, but the reduction is a
    map-side filter instead of a top-k merge: output size is
    data-dependent (all matches), which is exactly when a top-k
    contract would silently truncate.
    """
    scored = _lsh_scored_candidates(
        corpus, queries, id_col, vec_col, n_planes, n_tables
    )
    return (
        scored.where(F.col("score") >= threshold)
        .select("query_id", "neighbor_id", "score")
    )


def lsh_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    top_k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
) -> DataFrame:
    """Approximate top-k via multi-table SRP LSH: score only candidates
    sharing a bucket with the query in at least one table.

    One exchange on (table, bucket); candidates dedup before scoring so
    each pair is scored once.  At 100 TB the candidate set per query is
    ~L * corpus/2^k — the tunable fraction of a full scan.  Top-k is one
    window like :func:`knn_bruteforce`: candidates for a hot query can
    still be corpus-sized in the worst case, so Catalyst's
    ``WindowGroupLimit`` Partial (planned for k ≤ 1000) bounds each map
    task's output at k per query before the exchange, and the Final
    after it merges the survivors.
    """
    scored = _lsh_scored_candidates(
        corpus, queries, id_col, vec_col, n_planes, n_tables
    )
    order = (F.col("score").desc(), F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


EXACT_PAIRS_ROW_CAP = 100_000

# Largest dot-matrix (left-chunk × right-block) a single GEMM task
# materializes before filtering — 10M int64 cells ≈ 80 MB, well inside an
# executor's working memory even with the Arrow input batches resident.
_GEMM_CHUNK_CELLS = 10_000_000


def _vec_matrix(col):
    """An (n × d) int64 view of a ``list<int64>`` Arrow column.

    Optimization guide §4.2: a list column in a record batch is one
    contiguous values buffer plus offsets, so the matrix is a reshape of
    the values window, not n row copies the way
    ``np.vstack(pandas_series.to_numpy())`` is — measured 2.6× on the
    grouped GEMM at sf0.1 (r13).  Guards (cheap, O(n) on the offsets
    only): NULL vectors and ragged widths raise instead of silently
    misaligning the reshape.
    """
    import numpy as np

    la = col.combine_chunks() if hasattr(col, "combine_chunks") else col
    n = len(la)
    if n == 0:
        return np.empty((0, 0), dtype=np.int64)
    if la.null_count:
        raise ValueError(
            "GEMM kernel received NULL vectors — filter them upstream"
        )
    offs = np.asarray(la.offsets)
    widths = np.diff(offs)
    if widths.min() != widths.max():
        raise ValueError(
            f"GEMM kernel requires fixed-width vectors; widths span "
            f"[{widths.min()}, {widths.max()}]"
        )
    flat = np.asarray(la.values)[offs[0] : offs[-1]]
    return flat.astype(np.int64, copy=False).reshape(n, -1)


def _i64(col):
    """An int64 view of an integer Arrow column."""
    import numpy as np

    la = col.combine_chunks() if hasattr(col, "combine_chunks") else col
    return np.asarray(la).astype(np.int64, copy=False)


def _exact_pair_dots_blocked(
    iv: DataFrame, threshold: float, n_blocks: int = 8
) -> DataFrame:
    """All-pairs exact int64 dot products as a BLOCKED integer GEMM.

    The naive formulation (self-join on ``id_a < id_b`` + a per-pair
    ``aggregate(zip_with(...))``) evaluates an interpreted lambda per
    vector element per pair — O(n²·d) Catalyst-interpreter calls.  This
    operator keeps the identical exact-integer semantics but does the
    O(n²·d) multiply-adds inside numpy's int64 matrix product:

      1. every row is hashed into one of ``n_blocks`` blocks;
      2. each row is replicated to every block-pair it participates in
         (row in block b joins pairs (b, j>=b) on the left and (i<=b, b)
         on the right — each unordered row pair meets in EXACTLY one
         block-pair task);
      3. a cogrouped Arrow task stacks each side into an (n×d) int64
         matrix and emits ``A @ B.T`` entries (chunked so no task ever
         materializes more than ~80 MB of dot cells);
      4. a CONSERVATIVE candidate filter (``dot >= (t - 2e-6)·√(na·nb)``)
         drops the hopeless pairs inside the task, so the task output is
         ~|matches|, not n²/blocks² — the exact threshold decision is
         re-made downstream in Spark SQL with the bit-stable
         ``cosine_from_ints`` expression, so the numpy prefilter can
         never change the result, only shrink the exchange.

    Scale: replication factor is ~n_blocks/2 per side, per-task pair
    count is (n/n_blocks)² — pick n_blocks ≈ n/√(cells-per-task) so each
    GEMM fits in memory; int64 dots are exact for d·1e12 < 2^63
    (d ≤ ~9·10⁶ at the ×1e6 fixed-point scale).

    Input: the ``_prep`` frame (a_id, a_vec, a_norm).  Output:
    (id_a, id_b, dot, norm_a, norm_b) with id_a < id_b.
    """
    from typing import Tuple

    import pyarrow as pa

    nb = n_blocks
    # Zero-norm vectors are dropped up front: their cosine is undefined
    # (NULL downstream, never >= any threshold), and keeping them would
    # turn the exact-score division into DIVIDE_BY_ZERO under ANSI mode
    # (the Spark 4 default).  Value-identical to the NULL-score path.
    base = iv.where(F.col("a_norm") > 0).select(
        F.col("a_id").alias("id"),
        F.col("a_vec").alias("vec"),
        F.col("a_norm").alias("nrm"),
        F.pmod(F.xxhash64(F.col("a_id")), F.lit(nb)).alias("blk"),
    )
    left = (
        base.withColumn("bj", F.explode(F.expr(f"sequence(blk, {nb - 1})")))
        .withColumnRenamed("blk", "bi")
    )
    # The right side MUST re-alias its data columns: both sides of this
    # self-cogroup descend from the same plan, so without fresh aliases
    # the right child's (id, vec, nrm) carry the left's attribute IDs and
    # Spark prunes them out of the right Arrow batch entirely (the UDF
    # would receive only the grouping keys).
    right = (
        base.select(
            F.col("id").alias("rid"),
            F.col("vec").alias("rvec"),
            F.col("nrm").alias("rnrm"),
            F.col("blk"),
        )
        .withColumn("bi", F.explode(F.expr("sequence(0, blk)")))
        .withColumnRenamed("blk", "bj")
    )
    out_schema = "id_a long, id_b long, dot long, norm_a long, norm_b long"
    thr = float(threshold)
    _names = ("id_a", "id_b", "dot", "norm_a", "norm_b")

    def _tbl(cols) -> pa.Table:
        return pa.table({n: pa.array(c, type=pa.int64())
                         for n, c in zip(_names, cols)})

    # Arrow-native kernel (guide §4.2): the list<int64> vec columns are
    # reshaped from their contiguous values buffers (_vec_matrix) instead
    # of np.vstack over a pandas object Series — measured 2.6× on the
    # grouped-GEMM shape at sf0.1 (r13); arithmetic and output values are
    # bit-identical.
    def gemm(key: Tuple[pa.Scalar, ...], l: pa.Table, r: pa.Table) -> pa.Table:
        import numpy as np

        if l.num_rows == 0 or r.num_rows == 0:
            return _tbl([[]] * 5)
        A = _vec_matrix(l.column("vec"))
        Bm = _vec_matrix(r.column("rvec"))
        ia = _i64(l.column("id"))
        ib = _i64(r.column("rid"))
        na = _i64(l.column("nrm"))
        nbm = _i64(r.column("rnrm"))
        same_block = key[0].as_py() == key[1].as_py()
        rdenom = np.sqrt(nbm.astype(np.float64))
        ldenom = np.sqrt(na.astype(np.float64))
        chunk = max(1, _GEMM_CHUNK_CELLS // max(1, len(ib)))
        outs = []
        for s in range(0, len(ia), chunk):
            e = min(s + chunk, len(ia))
            dots = A[s:e] @ Bm.T
            keep = dots >= (thr - 2e-6) * (ldenom[s:e, None] * rdenom[None, :])
            if same_block:
                keep &= ia[s:e, None] < ib[None, :]
            rows, cols = np.nonzero(keep)
            if rows.size == 0:
                continue
            id_a = ia[s:e][rows]
            id_b = ib[cols]
            swap = id_a > id_b
            outs.append(
                (
                    np.where(swap, id_b, id_a),
                    np.where(swap, id_a, id_b),
                    dots[rows, cols],
                    np.where(swap, nbm[cols], na[s:e][rows]),
                    np.where(swap, na[s:e][rows], nbm[cols]),
                )
            )
        if not outs:
            return _tbl([[]] * 5)
        return _tbl([np.concatenate([o[i] for o in outs]) for i in range(5)])

    return (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInArrow(gemm, out_schema)
    )


def within_group_pair_dots(
    df: DataFrame,
    group_col: str,
    id_col: str,
    vec_col: str,
    threshold: float,
    nrm_col: str | None = None,
) -> DataFrame:
    """Exact int64 dot products for every WITHIN-GROUP pair — the
    SemDeDup inner loop (all-pairs comparison restricted to a cluster).

    One grouped-Arrow task per group runs the upper-triangle GEMM in
    numpy int64 (row-chunked so no task materializes more than
    ~80 MB of dot cells) with the same conservative prefilter /
    exact-decision-downstream contract as
    :func:`_exact_pair_dots_blocked`.  Output: (group, id_a, id_b, dot,
    norm_a, norm_b) with id_a < id_b, both ids in the same group.

    CONTRACT: ``group_col`` and ``id_col`` must be integral (the Arrow
    output schema is ``grp long, id_a long``); non-integral columns are
    rejected up front with a clear error instead of an opaque Arrow cast
    failure inside the task.  ``nrm_col`` optionally names a precomputed
    self-dot column (e.g. the ``a_norm`` `_prep` already paid for) so
    callers that replicate rows across groups — the LSH path replicates
    ×n_tables — don't re-pay an interpreted per-row aggregate per copy.

    Scale: per-group work is O(c²·d) — inherent to within-cluster exact
    dedup — so the clustering that feeds this must keep groups bounded
    (SemDeDup uses k ≈ n/target_cluster_size and `cap_group_sizes`
    enforces a hard per-group ceiling; the IVF balance audit measures
    exactly the imbalance that would break this).  Groups are
    independent tasks, so 1000 executors process 1000 clusters
    concurrently.
    """
    from typing import Tuple

    import pyarrow as pa

    _INTEGRAL = ("tinyint", "smallint", "int", "bigint", "long")
    dtypes = dict(df.dtypes)
    for role, col in (("group_col", group_col), ("id_col", id_col)):
        if dtypes.get(col, "").split("(")[0] not in _INTEGRAL:
            raise TypeError(
                f"within_group_pair_dots requires an integral {role} "
                f"(output schema is 'grp long, id_a long'); "
                f"{col!r} has type {dtypes.get(col)!r}"
            )
    sel = [
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("_wv"),
    ]
    if nrm_col is not None:
        sel.append(F.col(nrm_col).cast("long").alias("nrm"))
    base = df.select(*sel)
    if nrm_col is None:
        base = base.withColumn(
            "nrm", F.expr(portable.int_dot("_wv", "_wv", "spark"))
        )
    # zero-norm vectors: cosine undefined, and the exact-score
    # division would raise under ANSI mode — drop, value-identical
    base = base.where(F.col("nrm") > 0)
    out_schema = (
        "grp long, id_a long, id_b long, dot long, norm_a long, norm_b long"
    )
    thr = float(threshold)
    _names = ("grp", "id_a", "id_b", "dot", "norm_a", "norm_b")

    def _tbl(cols) -> pa.Table:
        return pa.table({n: pa.array(c, type=pa.int64())
                         for n, c in zip(_names, cols)})

    # Arrow-native kernel (guide §4.2): list<int64> vecs reshape from the
    # contiguous Arrow values buffer (_vec_matrix) instead of np.vstack
    # over a pandas object Series — measured 2.6× at sf0.1 (r13), output
    # bit-identical.  The type annotations are REQUIRED: pyspark 4.1.2's
    # grouped applyInArrow hits an UnboundLocalError when hint inference
    # fails, so an un-annotated kernel cannot run at all.
    def gemm(key: Tuple[pa.Scalar, ...], g: pa.Table) -> pa.Table:
        import numpy as np

        if g.num_rows < 2:
            return _tbl([[]] * 6)
        A = _vec_matrix(g.column("_wv"))
        ids = _i64(g.column("id"))
        nrm = _i64(g.column("nrm"))
        denom = np.sqrt(nrm.astype(np.float64))
        gval = key[0].as_py()
        chunk = max(1, _GEMM_CHUNK_CELLS // max(1, len(ids)))
        outs = []
        for s in range(0, len(ids), chunk):
            e = min(s + chunk, len(ids))
            dots = A[s:e] @ A.T
            keep = dots >= (thr - 2e-6) * (denom[s:e, None] * denom[None, :])
            keep &= ids[s:e, None] < ids[None, :]
            rows, cols = np.nonzero(keep)
            if rows.size == 0:
                continue
            outs.append(
                (
                    np.full(rows.size, gval, dtype="int64"),
                    ids[s:e][rows],
                    ids[cols],
                    dots[rows, cols],
                    nrm[s:e][rows],
                    nrm[cols],
                )
            )
        if not outs:
            return _tbl([[]] * 6)
        return _tbl([np.concatenate([o[i] for o in outs]) for i in range(6)])

    return (
        base.groupBy("grp")
        .applyInArrow(gemm, out_schema)
        .withColumnRenamed("grp", group_col)
    )


def assign_nearest_centroid(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[int]]],
    out_col: str = "cluster",
) -> DataFrame:
    """Map-side nearest-centroid assignment over EXACT integer vectors —
    the coarse-quantizer inner loop of SemDeDup / IVF training, run as a
    vectorized int64 GEMM instead of an interpreted per-(row, centroid)
    lambda.

    ``centroids`` is a driver-side list of (cluster_id, int_vector) —
    k·d int64s, metadata-scale for k = n/target_cluster_size at bench
    sizes and closure-broadcast to every task (the same k×d doubles
    `kmeans_embeddings` broadcasts; at extreme k a hierarchical
    two-level quantizer over these same pieces is the seam).  Each Arrow
    batch computes ``dist² = ‖x‖² − 2·X@Cᵀ + ‖c‖²`` in exact int64 —
    identical to the per-dimension Σ(x−c)² a SQL oracle evaluates — and
    takes the argmin with ties to the LOWEST cluster id (centroid rows
    are sorted by id, so numpy's first-min tie rule IS the SQL
    ``ORDER BY dist2, cluster`` rule).  No shuffle: one map pass.

    Output: the input frame (id, vec) plus ``out_col`` (long).
    """
    import numpy as np
    import pyarrow as pa

    if not centroids:
        raise ValueError("assign_nearest_centroid requires >= 1 centroid")
    cents = sorted(centroids, key=lambda t: t[0])
    C = np.array([v for _, v in cents], dtype=np.int64)
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    cn = (C * C).sum(axis=1)
    schema = f"{id_col} long, {vec_col} array<bigint>, {out_col} long"

    # Arrow-native (guide §4.2): the vec column reshapes from its values
    # buffer (_vec_matrix) and PASSES THROUGH to the output unchanged —
    # no pandas object Series in either direction (r13; bit-identical).
    def assign(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            X = _vec_matrix(b.column(vec_col))
            xn = (X * X).sum(axis=1)
            d2 = xn[:, None] - 2 * (X @ C.T) + cn[None, :]
            yield pa.record_batch(
                [
                    b.column(id_col),
                    b.column(vec_col),
                    pa.array(cids[np.argmin(d2, axis=1)], type=pa.int64()),
                ],
                names=[id_col, vec_col, out_col],
            )

    # spread the CPU-heavy GEMM across cores even when the input is a
    # 1-3 split parquet scan (no-op at real scale)
    return ensure_min_partitions(df.select(id_col, vec_col)).mapInArrow(
        assign, schema
    )


def assign_nearest_centroid_f64(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    cent: DataFrame,
    cluster_col: str = "cluster",
    centroid_col: str = "centroid",
) -> DataFrame:
    """Map-side nearest-centroid assignment against DOUBLE-mean centroids
    (the ``sim_ivf_knn`` convention: exact integer sums divided once) —
    the f64 sibling of :func:`assign_nearest_centroid`, replacing the
    interpreted per-(row, centroid) ``aggregate(zip_with(...))`` fold +
    per-row top-1 window with one Arrow pass.

    Bit-identical to the SQL formulation: dist² accumulates per
    DIMENSION in ascending order (an explicit d-loop of IEEE float64
    adds — numpy's pairwise ``sum`` would round differently), and the
    argmin ties to the LOWEST cluster id (centroid rows sorted by id, so
    numpy's first-min rule IS ``ORDER BY dist2, cluster``).  The
    centroid relation is k rows by contract — collected with the
    bounded-collect guard and closure-shipped.

    Input columns must be (long id, array<bigint> vec, int label);
    output: ``(id_col long, label_col int, cluster_col int)``.
    """
    rows = bounded_collect(cent, "assign_nearest_centroid_f64 centroids", _MAX_CLOSURE_ROWS)
    if not rows:
        raise ValueError("assign_nearest_centroid_f64 requires >= 1 centroid")
    cs = sorted((int(r[cluster_col]), list(r[centroid_col])) for r in rows)
    cent_vecs = [v for _, v in cs]
    cids = [c for c, _ in cs]
    widths = {len(v) for v in cent_vecs}
    if len(widths) != 1:
        raise ValueError(f"ragged centroid widths: {sorted(widths)}")

    def assign(batches):
        import numpy as np
        import pyarrow as pa

        C = np.array(cent_vecs, dtype=np.float64)
        ids = np.array(cids, dtype=np.int32)
        for b in batches:
            if b.num_rows == 0:
                continue
            X = _vec_matrix(b.column(vec_col)).astype(np.float64, copy=False)
            if X.shape[1] != C.shape[1]:
                raise ValueError(
                    f"vector width {X.shape[1]} != centroid width {C.shape[1]}"
                )
            acc = np.zeros((X.shape[0], C.shape[0]))
            for d in range(C.shape[1]):
                diff = X[:, d : d + 1] - C[None, :, d].reshape(1, -1)
                acc = acc + diff * diff
            yield pa.record_batch(
                [
                    b.column(id_col),
                    b.column(label_col),
                    pa.array(ids[np.argmin(acc, axis=1)], type=pa.int32()),
                ],
                names=[id_col, label_col, cluster_col],
            )

    return ensure_min_partitions(df.select(id_col, label_col, vec_col)).mapInArrow(
        assign, f"{id_col} long, {label_col} int, {cluster_col} int"
    )


# Ceiling on the driver-side centroid relation (k·d int64 cells): 50M
# cells ≈ 400 MB — generous for a driver, and a hard stop well before a
# silent OOM.  k = n/target, so at corpus sizes where this trips, the
# caller must either raise target_cluster_size (SemDeDup at LAION scale
# runs thousands of points per cluster) or build a hierarchical
# two-level quantizer from these same operators (assign to sqrt(k)
# super-clusters first, then quantize within each).
SEMDEDUP_MAX_CENTROID_CELLS = 50_000_000


def _corpus_count_min(df: DataFrame, id_col: str, vec_col: str):
    """ONE metadata pass shared by both quantizers: (row count, min id,
    vector dim), plus the NULL-vector guard.  A NULL ``vec_col`` anywhere
    would surface later as an opaque ``TypeError`` inside a seed collect
    or a GEMM ``np.vstack`` (ADVICE r12: the old first()-based probe only
    caught the ALL-null column) — count them in the same aggregate and
    raise a named error up front, covering partial-NULL corpora too.
    dim rides along as max(size) so the flat quantizer's cell-ceiling
    check needs no separate first() job (ragged dims fail later in the
    GEMM's contiguous-buffer reshape exactly as before)."""
    n, min_id, n_null, dim = df.agg(
        F.count("*"),
        F.min(id_col),
        F.sum(F.col(vec_col).isNull().cast("long")),
        F.max(F.size(vec_col)),
    ).first()
    if n and n_null:
        raise ValueError(
            f"semdedup quantizer: {n_null} of {n} rows have a NULL "
            f"{vec_col} — NULL vectors cannot be quantized; filter them "
            f"out (or fix the upstream projection) first"
        )
    return n, min_id, dim


def semdedup_coarse_quantizer(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    target_cluster_size: int,
    seed_salt: str = "km",
    max_centroid_cells: int = SEMDEDUP_MAX_CENTROID_CELLS,
    corpus_meta: tuple | None = None,
) -> DataFrame:
    """Data-scaled coarse quantizer for SemDeDup-style within-cluster
    dedup: k = ceil(n / target_cluster_size) hash-seeded integer
    k-means with ONE Lloyd refinement.  k grows with n, so downstream
    Σc² pair work stays ~n·target·d instead of n²/k (VERDICT r10 #1).

    Deterministic and SQL-replayable end to end:
      * seeds — rows whose hash60(salt|id) is ≡ 0 mod stride
        (stride = n div k ≈ target), plus the min id so the seed set is
        never empty: a map-only pseudo-random sample, no global sort;
      * assignment — exact int64 GEMM (:func:`assign_nearest_centroid`),
        ties to the lower cluster id;
      * centroid update — SUM(x_d) div COUNT per (cluster, d): truncated
        integer division, bit-identical in Spark and DuckDB, so the
        refined centroids stay on the exact-integer grid.

    The two O(1) scalar collects (n, min id) and the O(k·d) centroid
    collects are driver metadata, not data paths — the same k×d relation
    ``kmeans_embeddings`` broadcasts.  Output: (id, vec, cluster) with
    cluster = the DENSE RANK (0-based, ordered by seed row id) of the
    seed that won — NOT the raw seed id.  Dense ids satisfy
    :func:`cap_group_sizes`' ``0 <= group < 2^32`` packing contract by
    construction (k <= max_centroid_cells/dim <= 50M < 2^32) even when
    the corpus ids are snowflake/UUID-derived 63-bit values, where raw
    seed ids would overflow ``group * 2^31 + sub`` (VERDICT r11 #1).
    """
    tgt = int(target_cluster_size)
    # ADVICE r12: the hierarchical caller already paid this metadata
    # pass — accept it instead of re-scanning the corpus.  dim rides in
    # the same aggregate (r14: the separate first() probe was one whole
    # job per quantizer call for one scalar).
    n, min_id, dim = (
        _corpus_count_min(df, id_col, vec_col)
        if corpus_meta is None
        else corpus_meta
    )
    if n == 0:
        # empty corpus (a legitimate incremental batch): empty result
        # with the output schema, not a k=0 division
        return df.select(
            id_col, vec_col, F.lit(None).cast("long").alias("cluster")
        ).where(F.lit(False))
    k = (n + tgt - 1) // tgt
    if k * dim > max_centroid_cells:
        raise ValueError(
            f"semdedup_coarse_quantizer: k·d = {k}·{dim} = {k * dim} centroid "
            f"cells exceeds max_centroid_cells={max_centroid_cells} — the "
            f"driver-side centroid relation would not be metadata-scale. "
            f"Raise target_cluster_size (k = ceil(n/target)) or use "
            f"semdedup_hierarchical_quantizer (same semantics, all collects "
            f"O(sqrt(k)·d), level-2 centroids never driver-resident)."
        )
    stride = max(n // k, 1)
    seed_hash = portable.hash60(
        f"concat('{seed_salt}|', CAST({id_col} AS STRING))", "spark"
    )
    seeds = df.where(
        (F.expr(seed_hash) % stride == 0) | (F.col(id_col) == min_id)
    )
    # dense renumber: cluster id = 0-based rank of the seed's row id.
    # The hash-stride seed count is only ~k in expectation, so re-check
    # the ACTUAL collected size against the cell ceiling too (the k·d
    # pre-check bounds the expectation, not the realization).
    seed_rows = sorted(
        (r[id_col], list(r[vec_col]))
        for r in seeds.select(id_col, vec_col).collect()
    )
    if len(seed_rows) * dim > max_centroid_cells:
        raise ValueError(
            f"semdedup_coarse_quantizer: the hash-stride seed draw yielded "
            f"{len(seed_rows)} seeds · dim {dim} = {len(seed_rows) * dim} "
            f"cells, exceeding max_centroid_cells={max_centroid_cells} "
            f"(expected ~k={k}) — raise target_cluster_size or use "
            f"semdedup_hierarchical_quantizer."
        )
    c0 = [(i, vec) for i, (_, vec) in enumerate(seed_rows)]
    a1 = assign_nearest_centroid(df, id_col, vec_col, c0)
    upd = (
        a1.select("cluster", F.posexplode(vec_col).alias("d", "x"))
        .groupBy("cluster", "d")
        .agg(F.expr("sum(x) div count(*)").alias("c"))
    )
    byc: dict[int, dict[int, int]] = {}
    for r in upd.collect():
        byc.setdefault(r["cluster"], {})[r["d"]] = r["c"]
    c1 = [(cid, [dv[d] for d in range(len(dv))]) for cid, dv in byc.items()]
    return assign_nearest_centroid(df, id_col, vec_col, c1)


def semdedup_hierarchical_quantizer(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    target_cluster_size: int,
    seed_salt: str = "km",
    super_salt: str = "sup",
    row_replication: int = 8,
    max_centroid_cells: int = SEMDEDUP_MAX_CENTROID_CELLS,
    keep_super: bool = False,
) -> DataFrame:
    """Two-level coarse quantizer for the k·d > ``max_centroid_cells``
    regime the flat :func:`semdedup_coarse_quantizer` refuses (VERDICT
    r11 missing #1): level 1 assigns every row to one of
    k1 = ceil(sqrt(k)) SUPER-clusters via the flat quantizer (its
    driver collects are O(k1·d) = O(sqrt(k)·d)); level 2 then quantizes
    WITHIN each super-cluster with the level-2 centroids held in a
    DataFrame and joined by super-cluster — they are never
    driver-resident, so no collect anywhere scales past O(sqrt(k)·d).

    Same semantic recipe as the flat quantizer, replayable in SQL:
      * level-2 seeds — rows with hash60(seed_salt|id) ≡ 0 mod stride
        (stride = n div k, k = ceil(n/target)), plus each super-cluster's
        min id so every super has >= 1 seed;
      * cluster ids — the seeds' dense 0-based ranks ordered by
        (super, id): ``offset[super] + rank_within_super - 1``, computed
        from a bounded per-super window over the k-row seed relation
        plus an O(k1) offset collect — never a global single-partition
        window, and always < 2^32 for :func:`cap_group_sizes`;
      * assignment — the same exact int64 GEMM arithmetic, run per
        (super, salt) cogroup task: rows hash-salted ``row_replication``
        ways and seeds replicated to every salt, so one giant super
        never funnels through a single task;
      * ONE Lloyd refinement — SUM(x_d) div COUNT centroid update
        (exact integer grid), reassignment through the same cogroup.
        The update aggregates by (super, cluster, d): super is
        functionally determined by cluster (dense per-super id ranges),
        so the groups are identical to a (cluster, d) rollup, and the
        refined centroid relation comes out already tagged with its
        super-cluster — the second cogroup needs NO join to recover the
        cluster→super mapping.  (VERDICT r12 #1: the first cut rebuilt
        that mapping by broadcasting the k-row seed relation, quietly
        re-introducing the O(k) executor residency this operator exists
        to avoid; now nothing O(k) is ever broadcast or collected — the
        only broadcasts are the O(k1)=O(sqrt(k)) per-super min-id and
        offset tables.)

    Cost shape: two GEMM map passes of n·k1·d at level 1 plus two
    cogrouped passes of ~n·(k/k1)·d at level 2 ≈ 4·n·sqrt(k)·d total —
    CHEAPER than the flat quantizer's 2·n·k·d once k > ~4, on top of
    removing the O(k·d) driver collect.  Exchanges: the level-1
    aggregation, plus two (super, salt) cogroups and one
    (super, cluster, d) aggregation at level 2 — all on bounded keys.

    Output: (id, vec, cluster) — same relation contract as the flat
    quantizer, composable with :func:`cap_group_sizes` +
    :func:`within_group_pair_dots`.  ``keep_super=True`` appends the
    level-1 ``super`` column (audits / stress tests that need to see the
    salting spread).
    """
    import math

    import numpy as np
    import pyarrow as pa

    from uda_spark.cache import tracked_persist

    tgt = int(target_cluster_size)
    rep = max(int(row_replication), 1)
    # ONE metadata scan for (n, min id) + the NULL-vector guard, shared
    # with the level-1 flat quantizer below (ADVICE r12: this used to be
    # a df.count() here plus a second full agg inside the flat call)
    n, min_id, dim = _corpus_count_min(df, id_col, vec_col)
    if n == 0:
        return df.select(
            id_col, vec_col, F.lit(None).cast("long").alias("cluster")
        ).where(F.lit(False))
    k = (n + tgt - 1) // tgt
    k1 = math.isqrt(k - 1) + 1  # exact ceil(sqrt(k))
    target1 = (n + k1 - 1) // k1
    sup = tracked_persist(
        semdedup_coarse_quantizer(
            df,
            id_col,
            vec_col,
            target1,
            seed_salt=super_salt,
            max_centroid_cells=max_centroid_cells,
            corpus_meta=(n, min_id, dim),
        ).withColumnRenamed("cluster", "_sup")
    )
    stride2 = max(n // k, 1)
    seed_hash = portable.hash60(
        f"concat('{seed_salt}|', CAST({id_col} AS STRING))", "spark"
    )
    smin = sup.groupBy("_sup").agg(F.min(id_col).alias("_mid"))
    # dense level-2 ids: rank within super (bounded window over the
    # k-row seed relation) + an O(k1) per-super offset collect
    seeds = (
        sup.join(F.broadcast(smin), on="_sup")
        .where(
            (F.expr(seed_hash) % stride2 == 0)
            | (F.col(id_col) == F.col("_mid"))
        )
        .select(
            # fresh ExprIds vs the rows side of the cogroup below —
            # shared attribute ids across a self-cogroup are ambiguous
            # (and get the right side's data columns pruned)
            F.col("_sup").alias("_ssup"),
            F.col(id_col).alias("_sid"),
            F.col(vec_col).alias("_sv"),
        )
        .withColumn(
            "_lr",
            F.row_number().over(
                Window.partitionBy("_ssup").orderBy("_sid")
            ),
        )
    )
    seeds = tracked_persist(seeds)
    per_sup = sorted(
        (r["_ssup"], r["cnt"])
        for r in seeds.groupBy("_ssup").agg(F.count("*").alias("cnt")).collect()
    )
    offsets, acc = {}, 0
    for s, cnt in per_sup:
        offsets[s] = acc
        acc += cnt
    spark = df.sparkSession
    offs = spark.createDataFrame(
        [(int(s), int(o)) for s, o in offsets.items()], "_ssup long, _off long"
    )
    seeds2 = seeds.join(F.broadcast(offs), on="_ssup").select(
        "_ssup",
        (F.col("_off") + F.col("_lr") - 1).alias("_cid"),
        "_sv",
    )
    salt_hash = portable.hash60(
        f"concat('hr|', CAST({id_col} AS STRING))", "spark"
    )
    rows = sup.withColumn("_salt", F.expr(f"pmod({salt_hash}, {rep})"))
    # super always rides the assignment output: the Lloyd update below
    # groups by it (free — cluster determines super), which is what lets
    # the refined centroids re-enter the cogroup without any
    # cluster→super join.  Dropped at the end unless keep_super.
    out_schema = f"{id_col} long, {vec_col} array<bigint>, cluster long, super long"

    def _cogroup_assign(cents: DataFrame) -> DataFrame:
        # _salt2 MUST be BIGINT like the rows side's pmod(hash60, rep):
        # cogroup hash-partitions each side by ITS OWN key types, and
        # Murmur3(int 3) != Murmur3(bigint 3) — an int salt here
        # co-locates with the bigint rows salt only when AQE happens to
        # coalesce both sides to one partition (true at tiny SF, silently
        # false at scale; caught by the planted-giant stress).
        cr = cents.withColumn(
            "_salt2",
            F.explode(F.expr(f"sequence(0L, {rep - 1}L)")),
        )

        # Arrow-native cogroup kernel (guide §4.2): both vec columns
        # reshape from their contiguous Arrow buffers (_vec_matrix) and
        # the rows side's vec column passes through to the output
        # untouched — no pandas object Series in either direction
        # (r13; assignment arithmetic unchanged, output bit-identical).
        def assign(key: tuple, left: pa.Table, right: pa.Table) -> pa.Table:
            if left.num_rows == 0:
                return pa.table(
                    {
                        id_col: pa.array([], type=pa.int64()),
                        vec_col: pa.array([], type=pa.list_(pa.int64())),
                        "cluster": pa.array([], type=pa.int64()),
                        "super": pa.array([], type=pa.int64()),
                    }
                )
            if right.num_rows == 0:
                raise RuntimeError(
                    f"semdedup_hierarchical_quantizer: super-cluster "
                    f"{key[0].as_py()} has rows but no level-2 centroids "
                    f"— the per-super min-id seed guarantee was violated"
                )
            cids_raw = _i64(right.column("_cid"))
            order = np.argsort(cids_raw, kind="stable")
            C = _vec_matrix(right.column("_sv"))[order]
            cids = cids_raw[order]
            cn = (C * C).sum(axis=1)
            X = _vec_matrix(left.column(vec_col))
            xn = (X * X).sum(axis=1)
            d2 = xn[:, None] - 2 * (X @ C.T) + cn[None, :]
            return pa.table(
                {
                    id_col: left.column(id_col),
                    vec_col: left.column(vec_col),
                    "cluster": pa.array(
                        cids[np.argmin(d2, axis=1)], type=pa.int64()
                    ),
                    "super": pa.array(
                        np.full(left.num_rows, key[0].as_py(), dtype="int64")
                    ),
                }
            )

        return (
            rows.groupBy("_sup", "_salt")
            .cogroup(cr.groupBy("_ssup", "_salt2"))
            .applyInArrow(assign, out_schema)
        )

    a1 = _cogroup_assign(seeds2)
    # Lloyd update keyed by (super, cluster, d): super is functionally
    # determined by cluster, so the groups (and the exact SUM div COUNT
    # arithmetic) are identical to a plain (cluster, d) rollup — but the
    # refined centroids emerge already carrying _ssup, so NO
    # cluster→super join (the first cut broadcast the k-row seed
    # relation here — an O(k) executor residency in exactly the large-k
    # regime this operator exists for; VERDICT r12 #1).
    upd = (
        a1.select("super", "cluster", F.posexplode(vec_col).alias("d", "x"))
        .groupBy("super", "cluster", "d")
        .agg(F.expr("sum(x) div count(*)").alias("c"))
    )
    refined = (
        upd.groupBy("super", "cluster")
        .agg(F.array_sort(F.collect_list(F.struct("d", "c"))).alias("dc"))
        .select(
            F.col("super").alias("_ssup"),
            F.col("cluster").alias("_cid"),
            F.expr("transform(dc, e -> e.c)").alias("_sv"),
        )
    )
    out = _cogroup_assign(refined)
    return out if keep_super else out.drop("super")


def cap_group_sizes(
    df: DataFrame,
    group_col: str,
    id_col: str,
    cap: int,
    out_col: str = "capped_grp",
    salt: str = "cap",
) -> DataFrame:
    """Hard anti-hotspot guard for within-group pair stages: split every
    group larger than ``cap`` into ``nsub = ceil(c / cap)`` hash
    sub-groups, so downstream Σc² pair work per task is bounded by
    ~cap²·d regardless of how skewed the grouping is (one giant k-means
    cluster, one template-spam family).

    ``out_col = group · 2³¹ + sub`` where ``sub = hash60(salt|id) mod
    nsub`` — a pure function of the data, reproducible in a SQL oracle
    (contract: 0 ≤ group < 2³², integral id — ENFORCED at runtime with a
    per-row ``raise_error`` branch, since a 63-bit group id would wrap
    silently under a non-ANSI session and merge unrelated sub-groups;
    ``semdedup_coarse_quantizer`` emits dense ids that satisfy it by
    construction).  Groups at or under the
    cap keep nsub = 1 (sub = 0), so the guard is a no-op until it is
    needed.  Expected sub-group size is c/nsub ≤ cap; hash placement
    concentrates tightly for cap ≳ 50 (Chernoff: P[size > 2·cap] <
    e^(−cap/3) per sub-group).

    The trade, stated plainly: pairs SPANNING two sub-groups of the same
    oversized group are forgone — the same bounded-recall trade as the
    LSH ``cap_buckets`` / posting-cap guards (reference anti-hotspot
    scheduling, src/TaskTracker parity noted at operators/dedup.py:125).
    The group count is the knob that keeps this rare: with k ∝ n the
    quantizer holds E[c] ≈ cap, so splitting touches only the skew tail.

    Cost: one O(#groups) count aggregate broadcast back — no data
    shuffle, no per-group global sort (a row_number chop would funnel a
    giant group through ONE window task; the hash split stays map-side).
    """
    counts = df.groupBy(group_col).agg(F.count("*").alias("_gc"))
    sub = (
        F.expr(
            portable.hash60(
                f"concat('{salt}|', CAST({id_col} AS STRING))", "spark"
            )
        )
        % F.expr(f"(_gc + {cap - 1}) div {cap}")
    )
    gcol = F.col(group_col)
    checked = F.when(
        (gcol >= 0) & (gcol < F.lit(4_294_967_296)), gcol
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"cap_group_sizes: {group_col}="),
                gcol.cast("string"),
                F.lit(
                    " is outside [0, 2^32) — group*2^31+sub packing would "
                    "collide; dense-renumber group ids first (e.g. via "
                    "semdedup_coarse_quantizer)"
                ),
            )
        ).cast("long")
    )
    return (
        df.join(F.broadcast(counts), on=group_col)
        .withColumn(out_col, checked * F.lit(2_147_483_648) + sub)
        .drop("_gc")
    )


LSH_TARGET_BUCKET_ROWS = 250


def scaled_n_planes(
    n_rows: int, target_bucket: int = LSH_TARGET_BUCKET_ROWS
) -> int:
    """Production default for the SRP bucket width: ``max(4,
    ceil(log2(n / target_bucket)))`` sign planes, so the EXPECTED
    per-(table, bucket) population stays ~``target_bucket`` as the
    corpus grows — per-bucket pair work (Σ bucket²·d per task) is then
    scale-invariant instead of quadratic-in-n at a frozen 2^4 buckets.
    MEASURED, not hand-waved (LSHKNOB.json, round 12): at the 10× tier
    the frozen 4-plane parameterization grew candidates 100.8×; the
    value this formula picks there (7 planes) held them to 14.7× (≈ the
    12.5× theoretical floor).  Exact integer arithmetic — ceil(log2(r))
    = (r-1).bit_length() — so the knob is reproducible in an oracle.

    Recall trade, stated plainly: each extra plane halves per-table
    collision probability at equal cosine, so production pairs +planes
    with more tables (the L knob) to hold recall — graded by the
    registered ``dedup_lsh_recall_eval`` / ``sim_recall_at_k_curve``
    audits and the 10×-tier recall rows in LSHKNOB.json."""
    if n_rows <= 0:
        return 4
    r = -(-int(n_rows) // int(target_bucket))  # ceil division
    return max(4, (r - 1).bit_length())


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    use_lsh: bool = False,
    n_planes: int | None = None,
    n_tables: int = 8,
    max_exact_rows: int = EXACT_PAIRS_ROW_CAP,
    n_rows: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine: (id_a, id_b, score) with
    id_a < id_b and score >= threshold.

    ``use_lsh=True`` is the PRIMARY, scale-safe path: multi-table SRP
    buckets produce the candidate pairs (one exchange on (table, bucket),
    candidate count ~ L·n²/2^k per-bucket quadratic instead of global),
    and the exact cosine filter runs only on candidates.  Same output
    schema; recall < 1 is the documented trade.

    ``n_planes=None`` (the default) applies the data-scaled knob
    :func:`scaled_n_planes` — expected bucket population pinned at
    ``LSH_TARGET_BUCKET_ROWS`` so per-bucket pair work does not grow
    quadratically under a frozen plane count (VERDICT r12 #6; cost side
    measured in LSHKNOB.json).  Callers whose DuckDB oracle embeds a
    fixed sign matrix pass an explicit ``n_planes`` to pin replay.

    Exact mode is the quadratic self-join — it exists as the correctness
    oracle for the LSH path and is GATED: inputs larger than
    ``max_exact_rows`` raise instead of silently planning an O(n²)
    nested-loop join over a 100 TB corpus.  Pass a larger cap explicitly
    to accept the quadratic cost on a deliberately blocked subset.
    ``n_rows``: a caller that already counted ``df`` (e.g. the threshold
    sweep's ppm denominator) passes the count through so neither the
    gate nor the scaled-planes default re-scans the table (ADVICE r11).
    """
    a = _prep(df, id_col, vec_col, "a")
    if not use_lsh:
        n = df.count() if n_rows is None else int(n_rows)
        if n > max_exact_rows:
            raise ValueError(
                f"exact embedding_near_dup_pairs is O(n²) and the input has "
                f"{n} rows (> max_exact_rows={max_exact_rows}); use "
                f"use_lsh=True for the scale path, or raise max_exact_rows "
                f"for a deliberately blocked subset"
            )
        dots = _exact_pair_dots_blocked(a, threshold)
        score = portable.cosine_from_ints("dot", "norm_a", "norm_b")
        return (
            dots.select(
                "id_a", "id_b", F.round(F.expr(score), 6).alias("score")
            )
            .where(F.col("score") >= threshold)
        )
    # LSH path: score candidates with the SAME per-group GEMM the
    # SemDeDup inner loop uses, one group per (table, bucket) — work is
    # exactly Σ bucket² (the LSH candidate count), each bucket is an
    # independent vectorized task, and the interpreted per-pair
    # zip_with/aggregate dot is gone (was ~3s of the 4.7s at sf0.1 with
    # 810k candidates).  A pair sharing buckets in several tables is
    # scored once per table and deduped on the (identical) dot row.
    # Ids must be integral for the GEMM schema (every caller uses the
    # long vec_id).
    if n_planes is None:
        n_planes = scaled_n_planes(
            df.count() if n_rows is None else int(n_rows)
        )
    buckets = srp_buckets(df, id_col, vec_col, n_planes, n_tables)
    grouped = buckets.join(a.withColumnRenamed("a_id", id_col), on=id_col).select(
        (F.col("table") * (1 << n_planes) + F.col("bucket")).alias("gkey"),
        F.col(id_col),
        F.col("a_vec"),
        F.col("a_norm"),
    )
    dots = (
        within_group_pair_dots(
            grouped, "gkey", id_col, "a_vec", threshold, nrm_col="a_norm"
        )
        .select("id_a", "id_b", "dot", "norm_a", "norm_b")
        .distinct()
    )
    score = portable.cosine_from_ints("dot", "norm_a", "norm_b")
    return (
        dots.select("id_a", "id_b", F.round(F.expr(score), 6).alias("score"))
        .where(F.col("score") >= threshold)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the 32x-compression ANN tier


def _pq_subvectors(df: DataFrame, id_col: str, vec_col: str, m: int, sub: int) -> DataFrame:
    """(id, m, sv) rows: fixed-point integer subvectors, one per subspace."""
    iv = portable.int_vec(vec_col, "spark")
    return df.select(F.col(id_col).alias("_id"), F.expr(iv).alias("_v")).select(
        "_id",
        F.posexplode(
            F.expr(f"transform(sequence(0, {m - 1}), s -> slice(_v, s * {sub} + 1, {sub}))")
        ).alias("m", "sv"),
    )


_PQ_DIST2 = (
    "aggregate(zip_with(sv, cent, (x, c) -> (x - c) * (x - c)), "
    "CAST(0 AS DOUBLE), (acc, e) -> acc + e)"
)


def _collect_codebook(codebook: DataFrame, m: int) -> list:
    """Driver-side pos-ordered centroid matrices, one (k_m × sub) float64
    array per subspace — m·k·sub cells (1024 at the bench parameters), the
    same metadata scale as ``assign_nearest_centroid``'s centroid list.
    Kernel argmin over a pos-ordered matrix IS the SQL ``_PQ_ARGMIN``
    tie rule (first occurrence of the min = lowest pos)."""
    import numpy as np

    by_m: dict[int, list] = {mm: [] for mm in range(m)}
    for r in codebook.select("m", "pos", "cent").collect():
        by_m[r["m"]].append((r["pos"], list(r["cent"])))
    out = []
    for mm in range(m):
        rows = sorted(by_m[mm])
        if not rows:
            raise ValueError(f"PQ codebook has no centroids for subspace {mm}")
        out.append(np.array([c for _, c in rows], dtype=np.float64))
    return out


def _pq_assign_codes(
    prepped: DataFrame,
    cbs: list,
    m: int,
    sub: int,
    keep_vec: bool = False,
    extra_cols: tuple = (),
) -> DataFrame:
    """Arrow-native PQ assignment (guide §4.2): per batch, one numpy
    distance pass per subspace against the driver-collected pos-ordered
    codebook; emits ``codes`` (array<int> of per-subspace argmin
    positions).  Replaces the ``_pq_dists_expr`` projection — m·k
    interpreted ``aggregate(zip_with(...))`` lambdas per row — measured
    0.72–1.14s → ~0.2s for the sf0.1 encode (4–5×), codes identical.

    Float contract: d² folds (x−c)² over the sub dimensions in ascending
    order with a float64 accumulator on both sides — numpy's last-axis
    sum is sequential below its 128-element pairwise threshold, so the
    doubles (and therefore every argmin and tie) are bit-identical to the
    SQL fold.  ``_id`` (and ``_v``/extras when kept) pass through the
    batch untouched.
    """
    import numpy as np
    import pyarrow as pa

    dtypes = dict(prepped.dtypes)
    out_names = ["_id"] + (["_v"] if keep_vec else []) + ["codes"] + [
        c for c in extra_cols
    ]
    out_schema = f"_id {dtypes['_id']}, " + (
        "_v array<bigint>, " if keep_vec else ""
    )
    out_schema += "codes array<int>"
    for c in extra_cols:
        out_schema += f", `{c}` {dtypes[c]}"

    def assign(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            X = _vec_matrix(b.column("_v")).astype(np.float64)
            codes = np.empty((n, m), dtype=np.int32)
            for mm in range(m):
                sv = X[:, mm * sub : (mm + 1) * sub]
                # fold (x-c)^2 over dims STRICTLY in ascending order —
                # numpy's .sum(axis=-1) uses an unrolled multi-
                # accumulator order whose doubles differ from the SQL
                # fold by 1 ulp at quantization boundaries (caught by
                # the sim_pq_distortion oracle)
                d2 = np.zeros((n, cbs[mm].shape[0]), dtype=np.float64)
                for dd in range(sub):
                    e = sv[:, dd : dd + 1] - cbs[mm][None, :, dd]
                    d2 += e * e
                codes[:, mm] = np.argmin(d2, axis=1)
            la = pa.FixedSizeListArray.from_arrays(
                pa.array(codes.reshape(-1)), m
            ).cast(pa.list_(pa.int32()))
            cols = [b.column("_id")]
            if keep_vec:
                cols.append(b.column("_v"))
            cols.append(la)
            for c in extra_cols:
                cols.append(b.column(c))
            yield pa.record_batch(cols, names=out_names)

    return prepped.mapInArrow(assign, out_schema)


def pq_min_dists(prepped: DataFrame, cbs: list, m: int, sub: int) -> DataFrame:
    """(m, d2) rows — each input vector's per-subspace min distance to
    its nearest centroid, the distortion readout of the PQ index.  Same
    Arrow kernel shape and float contract as :func:`_pq_assign_codes`
    (d² folds (x−c)² in ascending dim order, float64 accumulator), with
    ``min`` instead of ``argmin`` — min over the k centroid distances is
    order-insensitive for doubles, so the emitted d2 equals the SQL
    ``array_min`` over the retired ``_pq_dists_expr`` arrays bit for
    bit."""

    def mind2(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            X = _vec_matrix(b.column("_v")).astype(np.float64)
            out = np.empty((n, m), dtype=np.float64)
            for mm in range(m):
                sv = X[:, mm * sub : (mm + 1) * sub]
                # same strict ascending-dim fold as _pq_assign_codes
                d2 = np.zeros((n, cbs[mm].shape[0]), dtype=np.float64)
                for dd in range(sub):
                    e = sv[:, dd : dd + 1] - cbs[mm][None, :, dd]
                    d2 += e * e
                out[:, mm] = d2.min(axis=1)
            yield pa.record_batch(
                [
                    pa.array(np.tile(np.arange(m, dtype=np.int32), n)),
                    pa.array(out.reshape(-1)),
                ],
                names=["m", "d2"],
            )

    return prepped.mapInArrow(mind2, "m int, d2 double")


def pq_train_codebooks(
    corpus: DataFrame, id_col: str, vec_col: str, m: int = 8, k: int = 16, dim: int = 64
) -> DataFrame:
    """Train per-subspace PQ codebooks: (m, cid, cent array<double>, pos).

    Deterministic single Lloyd iteration per subspace — init = the
    subvectors of the first ``k`` vectors (exact fixed-point integers),
    assign every subvector to its nearest init centroid (exact integer
    distances, ties to the lower cid), recompute means.  ``pos`` is the
    centroid's dense rank within its subspace (codebooks may lose empty
    clusters), so codes index positionally into a cid-ordered distance
    table.

    Scale: training is one corpus pass — a broadcast of m·k tiny
    centroids, assignment as a pure projection (no join, no shuffle of
    the corpus), and one partial-aggregated (m, cid, d) rollup whose
    group count is m·k·sub, independent of corpus size.  The analog of
    the reference's fixed-at-INIT comparator/codec setup
    (src/Merger/reducer.cc:56-133): the codebook is job-level metadata,
    not data-path state.
    """
    sub = dim // m
    iv = portable.int_vec(vec_col, "spark")
    civ = corpus.select(F.col(id_col).alias("_id"), F.expr(iv).alias("_v"))
    c0 = _pq_subvectors(corpus.where(F.col(id_col) < k), id_col, vec_col, m, sub).select(
        "m",
        F.col("_id").alias("cid"),
        F.expr("transform(sv, x -> CAST(x AS DOUBLE))").alias("cent"),
        # init centroids are the first k vectors' subvectors, so cid is
        # already the dense 0..k-1 position
        F.col("_id").cast("int").alias("pos"),
    )
    # Arrow assignment against the driver-collected init codebook (guide
    # §4.2; r13): the init centroids are exact fixed-point integers cast
    # to double, so every kernel distance is an exactly-representable
    # integer — argmin/ties identical to the retired _pq_dists_expr
    # projection (m·k interpreted lambdas per corpus row).  pos == cid
    # for the init codebook (first-k dense ids), so the argmin position
    # IS the cid the Lloyd rollup groups by.
    a1 = (
        _pq_assign_codes(civ, _collect_codebook(c0, m), m, sub, keep_vec=True)
        .select(
            "_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, {m - 1}), mm -> struct("
                    f"element_at(codes, mm + 1) AS cid, "
                    f"slice(_v, mm * {sub} + 1, {sub}) AS sv))"
                )
            ).alias("m", "cs"),
        )
        .select("_id", "m", F.col("cs.cid").alias("cid"), F.col("cs.sv").alias("sv"))
    )
    c1 = (
        a1.select("m", "cid", F.posexplode("sv").alias("d", "x"))
        .groupBy("m", "cid", "d")
        .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
        .groupBy("m", "cid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("d", (F.col("s") / F.col("n")).alias("mu")))
            ).alias("cm")
        )
        .select("m", "cid", F.expr("transform(cm, e -> e.mu)").alias("cent"))
    )
    # The codebook is m×k rows but its lineage is a full corpus training
    # pass; every consumer (encoding, query LUTs, composed IVF-PQ) would
    # otherwise re-run that pass.  Tracked persist caches the tiny
    # relation so training happens exactly once per index build.
    from uda_spark import cache

    return cache.tracked_persist(
        c1.withColumn(
            "pos", F.row_number().over(Window.partitionBy("m").orderBy("cid")) - 1
        )
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    dim: int = 64,
    extra_cols: tuple = (),
) -> DataFrame:
    """Encode vectors to PQ codes: (id, codes array<int> of length m).

    Each float32 vector becomes m small integers — 8 codes vs 64 floats
    is a 32× compression, the lever that fits a 100 TB corpus's index in
    executor memory.  Genuinely map-only: the m·k·sub-cell codebook is
    collected once (metadata scale, the same contract as
    ``assign_nearest_centroid``) and shipped in the task closure; the
    corpus is never joined, exploded, or shuffled, and the per-row
    argmin runs as a numpy distance pass per Arrow batch instead of the
    retired m·k interpreted lambdas (guide §4.2; 4–5× at sf0.1, codes
    bit-identical — see ``_pq_assign_codes`` for the float contract).
    """
    sub = dim // m
    iv = portable.int_vec(vec_col, "spark")
    civ = corpus.select(
        F.col(id_col).alias("_id"), F.expr(iv).alias("_v"), *extra_cols
    )
    return _pq_assign_codes(
        civ, _collect_codebook(codebook, m), m, sub, extra_cols=extra_cols
    ).select(F.col("_id").alias(id_col), "codes", *extra_cols)


def pq_query_luts(
    queries: DataFrame,
    codebook: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Per-query ADC lookup tables: (q_id, lut array<array<double>>) —
    lut[m][pos] = exact subspace distance from the query's m-th
    subvector to centroid pos.  |queries| × m × k doubles: broadcast
    material, computed once per query batch."""
    sub = dim // m
    qsubs = _pq_subvectors(queries, id_col, vec_col, m, sub)
    return (
        qsubs.join(F.broadcast(codebook), "m")
        .withColumn("d2", F.expr(_PQ_DIST2))
        .groupBy("_id", "m")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "d2"))).alias("cd"))
        .select("_id", "m", F.expr("transform(cd, e -> e.d2)").alias("dl"))
        .groupBy("_id")
        .agg(F.array_sort(F.collect_list(F.struct("m", "dl"))).alias("md"))
        .select(
            F.col("_id").alias("q_id"), F.expr("transform(md, e -> e.dl)").alias("lut")
        )
    )


def pq_build_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Build the PQ index: returns (codebook, coded corpus) — BOTH
    tracked-persisted, because at scale the index is built once and
    served many times; benchmarking and serving paths must not re-run
    codebook training or encoding per query batch.  The coded relation
    is (c_id, codes array<int>) — 32× smaller than the float corpus.
    """
    from uda_spark import cache

    codebook = pq_train_codebooks(corpus, id_col, vec_col, m, k, dim)
    coded = cache.tracked_persist(
        pq_encode(corpus, codebook, id_col, vec_col, m, dim).select(
            F.col(id_col).alias("c_id"), "codes"
        )
    )
    return codebook, coded


def pq_search(
    coded: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    top_k: int = 5,
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """ADC search against a built PQ index (see :func:`pq_build_index`).

    Each query precomputes an (m × k) table of exact subspace distances
    to every centroid, and a candidate's approximate distance is m table
    lookups summed in subspace order — no float vector math per
    candidate.  The coded corpus never shuffles: LUTs broadcast, scoring
    is map-side, and the top-k window is planned as ``WindowGroupLimit``
    Partial per map task → exchange → Final for k ≤ 1000 (the
    reference's LPQ/RPQ hierarchical-merge shape,
    src/Merger/MergeManager.cc:240-288).
    """
    import numpy as np
    import pyarrow as pa

    # Query LUTs are |queries| × m × k doubles — broadcast material by
    # the operator's own contract, so collecting them to the driver and
    # shipping them in the ADC kernel's closure is the same footprint as
    # the broadcast relation they replace (guide §4.2; r13).  The ADC
    # sum folds the m table lookups in ascending subspace order with a
    # float64 accumulator on both sides (numpy's sum over m=8 elements
    # is sequential), so every `approx` double — and therefore the
    # top-k ranking — is bit-identical to the retired
    # interpreted `aggregate(sequence(...))` per-candidate lambda.
    lut = pq_query_luts(queries, codebook, id_col, vec_col, m, dim)
    lrows = bounded_collect(lut, "pq_search query LUTs", _MAX_CLOSURE_ROWS)
    qids = np.array([r["q_id"] for r in lrows], dtype=np.int64)
    luts = [
        [np.array(list(r["lut"][mm]), dtype=np.float64) for mm in range(m)]
        for r in lrows
    ]
    nq = len(qids)

    def adc_score(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0 or nq == 0:
                continue
            codes = _vec_matrix(b.column("codes"))  # (n, m) int64 view
            cids = _i64(b.column("c_id"))
            approx = np.empty((nq, n), dtype=np.float64)
            for qi in range(nq):
                acc = np.zeros(n, dtype=np.float64)
                for mm in range(m):
                    acc += luts[qi][mm][codes[:, mm]]
                approx[qi] = acc
            yield pa.record_batch(
                [
                    pa.array(np.repeat(qids, n)),
                    pa.array(np.tile(cids, nq)),
                    pa.array(approx.reshape(-1)),
                ],
                names=["q_id", "c_id", "approx"],
            )

    scored = (
        coded.select("c_id", "codes")
        .mapInArrow(adc_score, "q_id long, c_id long, approx double")
        .where(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            "approx",
        )
    )
    order = (F.col("approx").asc(), F.col("neighbor_id").asc())
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.sqrt("approx") / portable.FIXED_POINT, 6).alias("adc_dist"),
            "rank",
        )
    )


def pq_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    top_k: int = 5,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Approximate L2 top-k via product quantization with asymmetric
    distance computation: build (:func:`pq_build_index`) + search
    (:func:`pq_search`) in one call — Jégou et al.'s IVFADC scoring
    half, composable with the IVF coarse quantizer
    (queries/advanced.py sim_ivf_knn) for the full IVF-PQ index.

    Deterministic end to end (exact integer subvectors, fixed
    dimension/subspace summation order, ties to lower id), so the DuckDB
    oracle value-hash-checks the approximation itself; recall vs brute
    force is asserted separately in tests/test_approx_ops.py.
    """
    codebook, coded = pq_build_index(corpus, id_col, vec_col, m, k, dim)
    return pq_search(coded, codebook, queries, id_col, vec_col, top_k, m, dim)

"""Similarity-search queries over the embeddings table (north-star).

Scores are exact fixed-point integer dot products (functions/portable.py)
— order-independent, so identical across engines and partitionings; the
final cosine double is a deterministic function of exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from uda_spark.functions import portable
from uda_spark.operators import similarity as SIM
from uda_spark.queries.common import t
from uda_spark.registry import register

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors

_IV = portable.int_vec("embedding", "duck")


@register(
    "sim_embedding_norms",
    oracle=f"""
WITH iv AS (SELECT vec_id, label, {_IV} AS v FROM embeddings)
SELECT vec_id, label,
       CAST({portable.int_dot('v', 'v', 'duck')} AS BIGINT) AS norm_sq_fp,
       round(sqrt(CAST({portable.int_dot('v', 'v', 'duck')} AS DOUBLE)) / {portable.FIXED_POINT}, 6)
         AS l2_norm
FROM iv
""",
    tags=("similarity", "north-star"),
)
def sim_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm via exact fixed-point arithmetic (map-only)."""
    emb = t(spark, sf_dir, "embeddings")
    iv = emb.select(
        "vec_id", "label", F.expr(portable.int_vec("embedding", "spark")).alias("v")
    )
    norm_sq = F.expr(portable.int_dot("v", "v", "spark"))
    return iv.select(
        "vec_id",
        "label",
        norm_sq.alias("norm_sq_fp"),
        F.round(F.sqrt(norm_sq.cast("double")) / portable.FIXED_POINT, 6).alias("l2_norm"),
    )


@register(
    "sim_knn_bruteforce",
    oracle=f"""
WITH iv AS (SELECT vec_id, {_IV} AS v FROM embeddings),
n AS (SELECT vec_id, v, {portable.int_dot('v', 'v', 'duck')} AS nsq FROM iv),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({portable.cosine_from_ints(portable.int_dot('q.v', 'c.v', 'duck'), 'q.nsq', 'c.nsq')}, 6)
           AS score
  FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, score, CAST(rnk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
      FROM scored)
WHERE rnk <= {TOP_K}
""",
    tags=("similarity", "north-star", "join"),
)
def sim_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast query set × one corpus scan + windowed
    top-k (operators/similarity.py).  The corpus never shuffles."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    out = SIM.knn_bruteforce(emb, queries, "vec_id", "embedding", top_k=TOP_K)
    return out.select("query_id", "neighbor_id", "score", F.col("rank").cast("int").alias("rank"))


@register(
    "sim_label_centroid_dist",
    oracle=f"""
WITH iv AS (SELECT vec_id, label, {_IV} AS v FROM embeddings),
-- exact integer per-label centroid numerators (×FIXED_POINT), dims unrolled
dims AS (
  SELECT label, d, SUM(v[d + 1]) AS s, COUNT(*)::BIGINT AS n
  FROM iv, range(0, 64) r(d)
  GROUP BY label, d
),
means AS (
  SELECT label, d, n, CAST(s AS DOUBLE) / n / {portable.FIXED_POINT} AS m FROM dims
)
SELECT label, CAST(max(n) AS BIGINT) AS n_vectors,
       round(sqrt(list_sum(list_transform(list(m ORDER BY d), x -> x * x))), 6)
         AS centroid_l2
FROM means GROUP BY label
""",
    tags=("similarity", "north-star", "aggregation"),
)
def sim_label_centroid_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid L2 norm — the IVF coarse-quantizer building block
    (centroids are what an IVF index partitions the corpus by).

    Numerators stay exact integers through the aggregation; the division
    is a deterministic double op on exact inputs, and the norm's square
    sum runs as an ORDERED fold over the dimension-sorted means (a bare
    float SUM's merge order varies with partitioning).
    """
    emb = t(spark, sf_dir, "embeddings")
    iv = emb.select("label", F.expr(portable.int_vec("embedding", "spark")).alias("v"))
    dims = (
        iv.select("label", F.posexplode("v").alias("d", "x"))
        .groupBy("label", "d")
        .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
    )
    means = dims.withColumn(
        "m", F.col("s").cast("double") / F.col("n") / portable.FIXED_POINT
    )
    g = means.groupBy("label").agg(
        F.max("n").cast("long").alias("n_vectors"),
        F.expr("transform(array_sort(collect_list(struct(d, m))), e -> e.m)").alias(
            "ms"
        ),
    )
    norm = (
        "round(sqrt(aggregate(ms, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x)), 6)"
    )
    return g.select("label", "n_vectors", F.expr(norm).alias("centroid_l2"))


LSH_PLANES = 4
LSH_TABLES = 8
EMB_DIM = 64

_SRP_BUCKETS_SQL = SIM.srp_buckets_duck_sql(LSH_PLANES, LSH_TABLES, EMB_DIM)


@register(
    "sim_lsh_knn",
    oracle=f"""
WITH iv AS (SELECT vec_id, {_IV} AS v FROM embeddings),
n AS (SELECT vec_id, v, {portable.int_dot('v', 'v', 'duck')} AS nsq FROM iv),
buckets AS ({_SRP_BUCKETS_SQL}),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
  FROM buckets q JOIN buckets c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
),
scored AS (
  SELECT cand.q_id AS query_id, cand.c_id AS neighbor_id,
         round({portable.cosine_from_ints(portable.int_dot('q.v', 'c.v', 'duck'), 'q.nsq', 'c.nsq')}, 6)
           AS score
  FROM cand JOIN n q ON q.vec_id = cand.q_id JOIN n c ON c.vec_id = cand.c_id
)
SELECT query_id, neighbor_id, score, CAST(rnk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
      FROM scored)
WHERE rnk <= {TOP_K}
""",
    tags=("similarity", "north-star", "approx"),
)
def sim_lsh_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via sign-random-projection buckets (the scale path
    — candidates shrink ~2^n_planes-fold per table).

    The hyperplanes are deterministic md5 bits, so the oracle embeds the
    sign matrix as literals and recomputes the same buckets, candidates,
    and ranking — the approximation itself is value-hash checked, not
    just recall-tested (recall >= 0.4 vs brute force is still asserted
    in tests/test_approx_ops.py)."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    out = SIM.lsh_knn(
        emb, queries, "vec_id", "embedding",
        top_k=TOP_K, n_planes=LSH_PLANES, n_tables=LSH_TABLES,
    )
    return out.select(
        "query_id", "neighbor_id", "score", F.col("rank").cast("int").alias("rank")
    )


QUANT_BITS = 8
_QMAX = (1 << (QUANT_BITS - 1)) - 1


@register(
    "sim_quantized_knn",
    oracle=f"""
WITH iv AS (SELECT vec_id, {_IV} AS v FROM embeddings),
ma AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m FROM iv),
qv AS (SELECT vec_id, {portable.quant_vec('v', 'm', _QMAX, 'duck')} AS q FROM ma),
n AS (SELECT vec_id, q, {portable.int_dot('q', 'q', 'duck')} AS nsq FROM qv),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({portable.cosine_from_ints(portable.int_dot('q.q', 'c.q', 'duck'), 'q.nsq', 'c.nsq')}, 6)
           AS score
  FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, score, CAST(rnk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
      FROM scored)
WHERE rnk <= {TOP_K}
""",
    tags=("similarity", "north-star", "approx"),
)
def sim_quantized_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine over int8-quantized embeddings — the memory-bounded
    ANN tier (4× smaller codes, 4× more corpus per executor).

    Quantization is exact integer arithmetic from the fixed-point
    domain, so the oracle recomputes the identical codes and ranking:
    the quantization error itself is value-hash checked.  Recall vs the
    float-width exact ranking is asserted in tests/test_approx_ops.py.
    """
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    out = SIM.quantized_knn(
        emb, queries, "vec_id", "embedding", top_k=TOP_K, bits=QUANT_BITS
    )
    return out.select(
        "query_id", "neighbor_id", "score", F.col("rank").cast("int").alias("rank")
    )


PQ_M = 8  # subspaces
PQ_K = 16  # centroids per subspace
PQ_SUB = EMB_DIM // PQ_M

_PQ_D2 = (
    f"list_sum(list_transform(range(1, {PQ_SUB + 1}), "
    f"i -> (s.sv[i] - c.cent[i]) * (s.sv[i] - c.cent[i])))"
)


# Shared oracle CTE chain for the PQ family: codebook training (one
# Lloyd iteration), positional encoding, and per-query ADC lookup
# tables.  ``label_col`` threads an extra corpus column (IVF partition
# key) through subs/codes so composed indexes can filter candidates.
def _pq_oracle_ctes(label_col: str = "", train_where: str = "") -> str:
    """PQ pipeline CTEs.  ``train_where`` (e.g. " WHERE s.vec_id < 400")
    restricts the codebook TRAINING pass (the a1 assignment) to a base
    corpus while encoding still covers every vector — the incremental-
    index case.  Default "" trains on everything (byte-identical to the
    original CTEs)."""
    lbl = f", {label_col}" if label_col else ""
    slbl = f", s.{label_col}" if label_col else ""
    return f"""iv AS (SELECT vec_id{lbl}, {_IV} AS v FROM embeddings),
subs AS (
  SELECT vec_id{lbl}, m, list_slice(v, m * {PQ_SUB} + 1, m * {PQ_SUB} + {PQ_SUB}) AS sv
  FROM iv, range(0, {PQ_M}) r(m)
),
c0 AS (
  SELECT m, vec_id AS cid, list_transform(sv, x -> CAST(x AS DOUBLE)) AS cent
  FROM subs WHERE vec_id < {PQ_K}
),
a1 AS (
  SELECT vec_id, m, sv, cid FROM (
    SELECT s.vec_id, s.m, s.sv, c.cid,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
             ORDER BY {_PQ_D2}, c.cid) AS rn
    FROM subs s JOIN c0 c ON s.m = c.m{train_where}
  ) WHERE rn = 1
),
c1 AS (
  SELECT m, cid, cent,
         ROW_NUMBER() OVER (PARTITION BY m ORDER BY cid) - 1 AS pos
  FROM (
    SELECT m, cid, list(CAST(s AS DOUBLE) / n ORDER BY d) AS cent FROM (
      SELECT m, cid, d, SUM(sv[d + 1]) AS s, COUNT(*)::BIGINT AS n
      FROM a1, range(0, {PQ_SUB}) r(d) GROUP BY m, cid, d
    ) GROUP BY m, cid
  )
),
codes AS (
  SELECT vec_id{lbl}, m, pos FROM (
    SELECT s.vec_id{slbl}, s.m, c.pos,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
             ORDER BY {_PQ_D2}, c.cid) AS rn
    FROM subs s JOIN c1 c ON s.m = c.m
  ) WHERE rn = 1
),
codes_l AS (SELECT vec_id{lbl}, list(pos ORDER BY m) AS codes
            FROM codes GROUP BY vec_id{lbl}),
lut0 AS (
  SELECT s.vec_id AS q_id, s.m, c.cid, {_PQ_D2} AS d2
  FROM subs s JOIN c1 c ON s.m = c.m
  WHERE s.vec_id < {N_QUERIES}
),
lut_m AS (SELECT q_id, m, list(d2 ORDER BY cid) AS dl FROM lut0 GROUP BY q_id, m),
lut AS (SELECT q_id, list(dl ORDER BY m) AS lt FROM lut_m GROUP BY q_id)"""


_PQ_ADC = (
    f"list_sum(list_transform(range(0, {PQ_M}), "
    f"m -> l.lt[m + 1][c.codes[m + 1] + 1]))"
)

_PQ_FINAL = f"""SELECT query_id, neighbor_id,
       round(sqrt(approx) / {portable.FIXED_POINT}, 6) AS adc_dist,
       CAST(rnk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY approx, neighbor_id) AS rnk
      FROM scored)
WHERE rnk <= {TOP_K}"""


@register(
    "sim_pq_knn",
    oracle=f"""
WITH {_pq_oracle_ctes()},
scored AS (
  SELECT l.q_id AS query_id, c.vec_id AS neighbor_id, {_PQ_ADC} AS approx
  FROM codes_l c CROSS JOIN lut l
  WHERE l.q_id <> c.vec_id
)
{_PQ_FINAL}
""",
    tags=("similarity", "north-star", "approx"),
)
def sim_pq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k — the 32× compression ANN tier
    (8 one-byte codes stand in for 64 floats per corpus vector).

    Codebooks are a deterministic single Lloyd iteration per subspace;
    queries score candidates via a broadcast (m × k) lookup table, so
    the coded corpus is scanned map-side and never shuffles.  Both the
    training and the ADC approximation are exact enough to value-hash:
    the oracle unrolls codebook training, encoding, and table lookups in
    SQL.  Recall vs brute force is asserted in tests/test_approx_ops.py.
    """
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    out = SIM.pq_knn(
        emb, queries, "vec_id", "embedding",
        top_k=TOP_K, m=PQ_M, k=PQ_K, dim=EMB_DIM,
    )
    return out.select(
        "query_id", "neighbor_id", "adc_dist", F.col("rank").cast("int").alias("rank")
    )


IVFPQ_NPROBE = 3

_IVFPQ_CDIST = (
    "list_sum(list_transform(range(1, 65), "
    "i -> (q.v[i] - c.centroid[i]) * (q.v[i] - c.centroid[i])))"
)


@register(
    "sim_ivfpq_knn",
    oracle=f"""
WITH {_pq_oracle_ctes(label_col="label")},
dims AS (
  SELECT label, d, SUM(v[d + 1]) AS s, COUNT(*)::BIGINT AS n
  FROM iv, range(0, {EMB_DIM}) r(d) GROUP BY label, d
),
cent AS (
  SELECT label, list(CAST(s AS DOUBLE) / n ORDER BY d) AS centroid
  FROM dims GROUP BY label
),
q AS (SELECT vec_id, v FROM iv WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT vec_id AS q_id, label AS probe_label FROM (
    SELECT q.vec_id, c.label,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_IVFPQ_CDIST}, c.label) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {IVFPQ_NPROBE}
),
scored AS (
  SELECT p.q_id AS query_id, c.vec_id AS neighbor_id, {_PQ_ADC} AS approx
  FROM codes_l c
  JOIN probes p ON c.label = p.probe_label AND c.vec_id <> p.q_id
  JOIN lut l ON l.q_id = p.q_id
)
{_PQ_FINAL}
""",
    tags=("similarity", "north-star", "approx"),
)
def sim_ivfpq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed index (the IVFADC shape, Jégou et al.): the IVF
    coarse quantizer prunes the corpus to nprobe=3 partitions, and PQ
    asymmetric-distance scoring ranks only the probed candidates — the
    standard billion-scale ANN architecture, assembled from this repo's
    two index halves (sim_ivf_knn's probe stage + sim_pq_knn's ADC
    stage).

    Scale profile: coarse centroids are one tiny rollup; PQ codes are a
    map-only projection carrying the partition label; search touches
    ~nprobe/k of the coded corpus (8 bytes/vector) via a broadcast of
    probes + lookup tables; top-k stays partial-then-final.  Exact
    fixed-point arithmetic throughout, so the oracle replays the whole
    composed index and value-hashes the result.
    """
    cent, codebook, coded = ivfpq_build(spark, sf_dir)
    return ivfpq_search(spark, sf_dir, cent, codebook, coded)


def ivfpq_build(spark: SparkSession, sf_dir: str):
    """IVF-PQ index build: (coarse centroids, PQ codebook, coded corpus
    carrying its IVF label) — each tracked-persisted, because at scale
    the index is built once and served many times.  bench.py times this
    phase separately from the search phase (VERDICT r05 #3)."""
    from uda_spark.cache import tracked_persist

    emb = t(spark, sf_dir, "embeddings")
    iv = emb.select(
        "vec_id", "label", F.expr(portable.int_vec("embedding", "spark")).alias("v")
    )
    cent = tracked_persist(
        iv.select("label", F.posexplode("v").alias("d", "x"))
        .groupBy("label", "d")
        .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
        .groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("d", (F.col("s") / F.col("n")).alias("mu")))
            ).alias("cm")
        )
        .select("label", F.expr("transform(cm, e -> e.mu)").alias("centroid"))
    )
    codebook = SIM.pq_train_codebooks(emb, "vec_id", "embedding", PQ_M, PQ_K, EMB_DIM)
    coded = tracked_persist(
        SIM.pq_encode(
            emb, codebook, "vec_id", "embedding", PQ_M, EMB_DIM, extra_cols=("label",)
        ).select(F.col("vec_id").alias("c_id"), "codes", "label")
    )
    return cent, codebook, coded


def ivfpq_search(
    spark: SparkSession,
    sf_dir: str,
    cent: DataFrame,
    codebook: DataFrame,
    coded: DataFrame,
) -> DataFrame:
    """IVF-PQ search against a built index: coarse-probe nprobe=3
    partitions, ADC-score only the probed codes, partial-then-final
    top-k."""
    emb = t(spark, sf_dir, "embeddings")
    iv = emb.select(
        "vec_id", F.expr(portable.int_vec("embedding", "spark")).alias("v")
    )
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    qv = iv.where(F.col("vec_id") < N_QUERIES).select("vec_id", "v")
    probes = (
        qv.crossJoin(F.broadcast(cent))
        .withColumn(
            "dist2",
            F.expr(
                "aggregate(zip_with(v, centroid, (x, c) -> (x - c) * (x - c)), "
                "CAST(0 AS DOUBLE), (acc, e) -> acc + e)"
            ),
        )
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("vec_id").orderBy("dist2", "label")),
        )
        .where(F.col("rn") <= IVFPQ_NPROBE)
        .select(F.col("vec_id").alias("q_id"), F.col("label").alias("probe_label"))
    )
    luts = SIM.pq_query_luts(queries, codebook, "vec_id", "embedding", PQ_M, EMB_DIM)
    probe_luts = probes.join(luts, on="q_id")
    adc = (
        f"aggregate(sequence(0, {PQ_M - 1}), CAST(0 AS DOUBLE), "
        f"(acc, i) -> acc + lut[i][codes[i]])"
    )
    scored = (
        coded.join(
            F.broadcast(probe_luts), F.col("label") == F.col("probe_label")
        )
        .where(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            F.expr(adc).alias("approx"),
        )
    )
    order = (F.col("approx").asc(), F.col("neighbor_id").asc())
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.sqrt("approx") / portable.FIXED_POINT, 6).alias("adc_dist"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


RADIUS_T = 0.3


@register(
    "sim_radius_search",
    oracle=f"""
WITH iv AS (SELECT vec_id, {_IV} AS v FROM embeddings),
n AS (SELECT vec_id, v, {portable.int_dot('v', 'v', 'duck')} AS nsq FROM iv),
buckets AS ({_SRP_BUCKETS_SQL}),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
  FROM buckets q JOIN buckets c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, score FROM (
  SELECT cand.q_id AS query_id, cand.c_id AS neighbor_id,
         round({portable.cosine_from_ints(portable.int_dot('q.v', 'c.v', 'duck'), 'q.nsq', 'c.nsq')}, 6)
           AS score
  FROM cand JOIN n q ON q.vec_id = cand.q_id JOIN n c ON c.vec_id = cand.c_id
) WHERE score >= {RADIUS_T}
""",
    tags=("similarity", "north-star", "approx"),
)
def sim_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (radius) query: every corpus vector with cosine >= 0.3 of
    each query — the ANN family's threshold dual of top-k, for
    workloads where "all sufficiently similar" is the contract (near-dup
    expansion, recall-first retrieval) and a top-k would silently
    truncate.  Same SRP bucket candidates as sim_lsh_knn, reduced by a
    map-side filter instead of a top-k merge.
    """
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    return SIM.radius_search(
        emb, queries, "vec_id", "embedding",
        threshold=RADIUS_T, n_planes=LSH_PLANES, n_tables=LSH_TABLES,
    )


@register(
    "sim_ann_recall_eval",
    oracle=f"""
WITH iv AS (SELECT vec_id, {_IV} AS v FROM embeddings),
n AS (SELECT vec_id, v, {portable.int_dot('v', 'v', 'duck')} AS nsq FROM iv),
bf_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({portable.cosine_from_ints(portable.int_dot('q.v', 'c.v', 'duck'), 'q.nsq', 'c.nsq')}, 6)
           AS score
  FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
),
bf AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
        FROM bf_scored)
  WHERE rnk <= {TOP_K}
),
buckets AS ({_SRP_BUCKETS_SQL}),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
  FROM buckets q JOIN buckets c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
),
lsh_scored AS (
  SELECT cand.q_id AS query_id, cand.c_id AS neighbor_id,
         round({portable.cosine_from_ints(portable.int_dot('q.v', 'c.v', 'duck'), 'q.nsq', 'c.nsq')}, 6)
           AS score
  FROM cand JOIN n q ON q.vec_id = cand.q_id JOIN n c ON c.vec_id = cand.c_id
),
lsh AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
        FROM lsh_scored)
  WHERE rnk <= {TOP_K}
)
SELECT bf.query_id,
       COUNT(lsh.neighbor_id)::BIGINT AS n_hits,
       CAST({TOP_K} AS INT) AS k,
       CAST(COUNT(lsh.neighbor_id) * 100 // {TOP_K} AS INT) AS recall_pct
FROM bf LEFT JOIN lsh ON bf.query_id = lsh.query_id AND bf.neighbor_id = lsh.neighbor_id
GROUP BY bf.query_id
""",
    tags=("similarity", "north-star", "evaluation"),
)
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the SRP-LSH index against exact brute-force ground
    truth, per query — the index-quality evaluation every ANN deployment
    runs before trusting the approximate path (and re-runs as the corpus
    drifts: recall decays silently when new data stops matching the
    hyperplane geometry).

    Both tiers are the ALREADY-REGISTERED operators (`sim_knn_bruteforce`
    ground truth, `sim_lsh_knn` candidate), so this measures the exact
    production configuration, not a toy copy; the overlap count is pure
    integer arithmetic on two deterministic top-k sets (identical
    tie-breaks on both engines), so even the evaluation itself is
    value-hash checkable.

    Scale shape: ground truth is the gated brute-force tier — at 100 TB
    you run the eval on a SAMPLED query set (this query's pattern with a
    hash-sampled N_QUERIES), never corpus×corpus; the overlap join is
    top-k-sized (queries × k rows), i.e. negligible next to either kNN.
    """
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    bf = SIM.knn_bruteforce(emb, queries, "vec_id", "embedding", top_k=TOP_K).select(
        "query_id", "neighbor_id"
    )
    lsh = SIM.lsh_knn(
        emb, queries, "vec_id", "embedding",
        top_k=TOP_K, n_planes=LSH_PLANES, n_tables=LSH_TABLES,
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    return (
        bf.join(lsh, on=["query_id", "neighbor_id"], how="left")
        .groupBy("query_id")
        .agg(
            F.count("hit").cast("long").alias("n_hits"),
            F.lit(TOP_K).cast("int").alias("k"),
            F.expr(f"CAST(count(hit) * 100 div {TOP_K} AS INT)").alias("recall_pct"),
        )
    )


MRL_PREFIX_DIM = 16   # coarse tier scores only the first 16 of 64 dims
MRL_CANDIDATES = 20   # coarse top-C kept per query for exact rerank

_PFX_DU = f"list_slice(v, 1, {MRL_PREFIX_DIM})"
_PFX_SP = f"slice(v, 1, {MRL_PREFIX_DIM})"


@register(
    "sim_matryoshka_knn",
    oracle=f"""
WITH iv AS (SELECT vec_id, {_IV} AS v FROM embeddings),
n AS (SELECT vec_id, v, {_PFX_DU} AS p,
             {portable.int_dot('v', 'v', 'duck')} AS nsq,
             {portable.int_dot(_PFX_DU, _PFX_DU, 'duck')} AS psq
      FROM iv),
coarse AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({portable.cosine_from_ints(portable.int_dot('q.p', 'c.p', 'duck'), 'q.psq', 'c.psq')}, 6)
           AS pscore
  FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
),
cand AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY pscore DESC, neighbor_id) AS crk
        FROM coarse)
  WHERE crk <= {MRL_CANDIDATES}
),
exact AS (
  SELECT cand.query_id, cand.neighbor_id,
         round({portable.cosine_from_ints(portable.int_dot('q.v', 'c.v', 'duck'), 'q.nsq', 'c.nsq')}, 6)
           AS score
  FROM cand JOIN n q ON q.vec_id = cand.query_id JOIN n c ON c.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, score, CAST(rnk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
      FROM exact)
WHERE rnk <= {TOP_K}
""",
    tags=("similarity", "north-star", "approx"),
)
def sim_matryoshka_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-dimension (matryoshka-style) two-tier kNN: rank ALL corpus
    vectors by cosine over only the first {MRL_PREFIX_DIM} of 64
    dimensions (4x cheaper per pair, and at 100 TB, 4x less index I/O —
    the reason MRL-trained embeddings front-load their information),
    keep the top {MRL_CANDIDATES} candidates per query, then rerank
    exactly with full-dimension cosine.

    Unlike SRP-LSH (bucket recall is probabilistic), the coarse tier
    here scores EVERY vector — approximation comes only from candidate
    truncation, so recall degrades gracefully with the candidate budget
    and the whole cascade stays value-hash checkable (exact integer
    dots at both tiers, rounding-then-order discipline).

    Scale shape: one corpus pass for the coarse scores (queries
    broadcast), partial-then-final top-C merge, then an exact rescore
    of queries x C rows — the same gated-brute-force shape as
    `sim_knn_bruteforce` but over a candidate set instead of the
    corpus.
    """
    emb = t(spark, sf_dir, "embeddings")
    iv = emb.select("vec_id", F.expr(portable.int_vec("embedding", "spark")).alias("v"))
    n = iv.select(
        "vec_id",
        "v",
        F.expr(_PFX_SP).alias("p"),
        F.expr(portable.int_dot("v", "v", "spark")).alias("nsq"),
        F.expr(portable.int_dot(_PFX_SP, _PFX_SP, "spark")).alias("psq"),
    )
    q = n.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("p").alias("qp"),
        F.col("nsq").alias("qnsq"),
        F.col("psq").alias("qpsq"),
    )
    coarse = (
        n.join(F.broadcast(q), on=F.expr("query_id <> vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                F.expr(
                    portable.cosine_from_ints(
                        portable.int_dot("qp", "p", "spark"), "qpsq", "psq"
                    )
                ),
                6,
            ).alias("pscore"),
            "qv",
            "qnsq",
            F.col("v").alias("cv"),
            F.col("nsq").alias("cnsq"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("pscore"), F.col("neighbor_id"))
    cand = coarse.withColumn("crk", F.row_number().over(wc)).where(
        F.col("crk") <= MRL_CANDIDATES
    )
    exact = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            F.expr(
                portable.cosine_from_ints(
                    portable.int_dot("qv", "cv", "spark"), "qnsq", "cnsq"
                )
            ),
            6,
        ).alias("score"),
    )
    we = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(we).cast("int"))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "score", "rank")
    )


RRF_K = 60          # standard RRF dampening constant
RRF_TIER_N = 50     # per-tier candidate depth
RRF_TOP = 10
RRF_TERMS = ("data", "model")   # the lexical "query"
RRF_QVEC_ID = 0                 # the vector "query"

_RRF_TERMS_DU = "('data', 'model')"


@register(
    "sim_hybrid_rrf",
    oracle=f"""
WITH tscore AS (
  SELECT doc_id, COUNT(*)::BIGINT AS hits
  FROM (SELECT doc_id, unnest({portable.tokens('text', 'duck')}) AS tok FROM documents)
  WHERE tok IN {_RRF_TERMS_DU}
  GROUP BY doc_id
),
trank AS (
  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY hits DESC, doc_id) AS BIGINT) AS tr
  FROM tscore QUALIFY tr <= {RRF_TIER_N}
),
iv AS (SELECT vec_id, {_IV} AS v FROM embeddings),
n AS (SELECT vec_id, v, {portable.int_dot('v', 'v', 'duck')} AS nsq FROM iv),
vscore AS (
  SELECT c.vec_id AS doc_id,
         round({portable.cosine_from_ints(portable.int_dot('q.v', 'c.v', 'duck'), 'q.nsq', 'c.nsq')}, 6)
           AS cos
  FROM n q JOIN n c ON q.vec_id = {RRF_QVEC_ID} AND c.vec_id <> {RRF_QVEC_ID}
),
vrank AS (
  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS vr
  FROM vscore QUALIFY vr <= {RRF_TIER_N}
),
fused AS (
  SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id, t.tr, v.vr,
         COALESCE(1000000 // ({RRF_K} + t.tr), 0)
         + COALESCE(1000000 // ({RRF_K} + v.vr), 0) AS rrf_ppm
  FROM trank t FULL OUTER JOIN vrank v ON t.doc_id = v.doc_id
)
SELECT doc_id, CAST(tr AS BIGINT) AS text_rank, CAST(vr AS BIGINT) AS vec_rank,
       CAST(rrf_ppm AS BIGINT) AS rrf_ppm, CAST(rnk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_ppm DESC, doc_id) AS rnk FROM fused)
WHERE rnk <= {RRF_TOP}
""",
    tags=("similarity", "text", "north-star", "retrieval"),
)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: a lexical tier
    (term-hit ranking over the documents) and a vector tier (cosine to
    a query embedding) each nominate their top candidates, fused by the
    standard RRF formula 1/(k + rank) — the shape of every production
    RAG / hybrid-search stack, where neither BM25-style matching nor
    dense retrieval alone is robust.

    Fusion math stays exact: ranks are integers, each tier contributes
    ``1e6 div (60 + rank)`` (integer floor division, identical in both
    engines), absent-from-tier contributes zero via the outer join —
    so the fused ordering is engine-identical with doc_id tiebreaks.

    Scale shape: each tier is an independent top-N (window over scored
    candidates; the vector tier is the gated brute-force pattern —
    swap in `sim_lsh_knn`/`sim_matryoshka_knn` at corpus scale); the
    fusion join touches only 2N candidate rows.  Text and embedding
    relations join on the shared document id, never by content.
    """
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.expr(portable.tokens("text", "spark"))).alias("tok")
    )
    tscore = (
        toks.where(F.col("tok").isin(*RRF_TERMS))
        .groupBy("doc_id")
        .agg(F.count("*").alias("hits"))
    )
    # top-N via TakeOrderedAndProject first; the rank window then sees
    # only the N survivors (their ranks equal the full-relation ranks)
    wt = Window.orderBy(F.desc("hits"), F.col("doc_id"))
    ttop = tscore.orderBy(F.desc("hits"), F.col("doc_id")).limit(RRF_TIER_N)
    trank = ttop.withColumn("tr", F.row_number().over(wt).cast("long")).select(
        "doc_id", "tr"
    )

    emb = t(spark, sf_dir, "embeddings")
    iv = emb.select("vec_id", F.expr(portable.int_vec("embedding", "spark")).alias("v"))
    n = iv.select(
        "vec_id", "v", F.expr(portable.int_dot("v", "v", "spark")).alias("nsq")
    )
    q = n.where(F.col("vec_id") == RRF_QVEC_ID).select(
        F.col("v").alias("qv"), F.col("nsq").alias("qnsq")
    )
    vscore = (
        n.where(F.col("vec_id") != RRF_QVEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                F.expr(
                    portable.cosine_from_ints(
                        portable.int_dot("qv", "v", "spark"), "qnsq", "nsq"
                    )
                ),
                6,
            ).alias("cos"),
        )
    )
    wv = Window.orderBy(F.desc("cos"), F.col("doc_id"))
    vtop = vscore.orderBy(F.desc("cos"), F.col("doc_id")).limit(RRF_TIER_N)
    vrank = vtop.withColumn("vr", F.row_number().over(wv).cast("long")).select(
        "doc_id", "vr"
    )

    fused = (
        trank.join(vrank, on="doc_id", how="full_outer")
        .select(
            "doc_id",
            "tr",
            "vr",
            (
                F.coalesce(F.expr(f"1000000 div ({RRF_K} + tr)"), F.lit(0))
                + F.coalesce(F.expr(f"1000000 div ({RRF_K} + vr)"), F.lit(0))
            ).alias("rrf_ppm"),
        )
    )
    wf = Window.orderBy(F.desc("rrf_ppm"), F.col("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(wf).cast("int"))
        .where(F.col("rank") <= RRF_TOP)
        .select(
            "doc_id",
            F.col("tr").alias("text_rank"),
            F.col("vr").alias("vec_rank"),
            F.col("rrf_ppm").cast("long").alias("rrf_ppm"),
            "rank",
        )
    )


OUTLIER_MAD_K = 3


@register(
    "sim_embedding_outliers",
    oracle=f"""
WITH iv AS (SELECT vec_id, label, {_IV} AS v FROM embeddings),
n AS (SELECT vec_id, label, v, {portable.int_dot('v', 'v', 'duck')} AS nsq FROM iv),
cent AS (
  SELECT label, d, SUM(v[d + 1]) AS s, COUNT(*)::BIGINT AS cnt
  FROM iv, range(0, 64) r(d)
  GROUP BY label, d
),
cstat AS (
  SELECT label, MAX(cnt) AS cnt, SUM(s * s) AS ssq FROM cent GROUP BY label
),
sv AS (
  SELECT label, list(s ORDER BY d) AS svec FROM cent GROUP BY label
),
dots AS (
  SELECT n.vec_id, n.label, n.nsq,
         list_sum(list_transform(range(1, 65), i -> n.v[i] * sv.svec[i])) AS vdots
  FROM n JOIN sv USING (label)
),
dist AS (
  SELECT d.vec_id, d.label,
         CAST(floor((CAST(d.nsq AS DOUBLE)
                     - 2 * CAST(d.vdots AS DOUBLE) / c.cnt
                     + CAST(c.ssq AS DOUBLE) / (c.cnt * c.cnt))
                    / 1000000.0 + 0.5) AS BIGINT) AS dist2_fp
  FROM dots d JOIN cstat c USING (label)
),
ranked AS (
  SELECT label, vec_id, dist2_fp,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist2_fp, vec_id) AS rk,
         COUNT(*) OVER (PARTITION BY label) AS n
  FROM dist
),
med AS (
  SELECT label, MAX(CASE WHEN rk = 1 + (n - 1) // 2 THEN dist2_fp END) AS med_d
  FROM ranked GROUP BY label
),
adev AS (
  SELECT d.label, d.vec_id, d.dist2_fp, abs(d.dist2_fp - m.med_d) AS ad, m.med_d
  FROM dist d JOIN med m USING (label)
),
aranked AS (
  SELECT label, ad, ROW_NUMBER() OVER (PARTITION BY label ORDER BY ad, vec_id) AS rk,
         COUNT(*) OVER (PARTITION BY label) AS n
  FROM adev
),
mad AS (
  SELECT label, MAX(CASE WHEN rk = 1 + (n - 1) // 2 THEN ad END) AS mad_d
  FROM aranked GROUP BY label
)
SELECT a.label, a.vec_id, a.dist2_fp, CAST(a.med_d AS BIGINT) AS med_dist2_fp,
       CAST(m.mad_d AS BIGINT) AS mad_dist2_fp
FROM adev a JOIN mad m USING (label)
WHERE m.mad_d > 0 AND a.ad >= {OUTLIER_MAD_K} * m.mad_d AND a.dist2_fp > a.med_d
""",
    tags=("similarity", "quality", "robust"),
)
def sim_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection: per-label distance-to-centroid
    with robust MAD flagging — the curation filter that catches
    mis-embedded items (encoder failures, mislabeled rows, corrupted
    vectors) BEFORE they poison an ANN index or a training mix; only
    the far tail (beyond median + K*MAD) is flagged, never the tight
    side.

    Exactness: centroid numerators stay exact integer sums;
    ||v - s/n||^2 expands to nsq - 2*(v.s)/n + ssq/n^2 — deterministic
    doubles over exact integers, quantized once to fixed-point units;
    median and MAD are then exact order statistics over those
    integers, so the flagged SET is engine-exact.

    Scale shape: centroids are a (label x dim) aggregate; the per-vector
    distance pass is one broadcast join of centroid sums back onto the
    corpus; both ranking passes run per label over (vec, distance)
    pairs — the same keyed order-statistic shape as winsorize/MAD.
    """
    emb = t(spark, sf_dir, "embeddings")
    iv = emb.select(
        "vec_id", "label", F.expr(portable.int_vec("embedding", "spark")).alias("v")
    )
    n = iv.withColumn("nsq", F.expr(portable.int_dot("v", "v", "spark")))
    cent = (
        iv.select("label", F.posexplode("v").alias("d", "x"))
        .groupBy("label", "d")
        .agg(F.sum("x").alias("s"))
    )
    cstat = (
        cent.groupBy("label").agg(F.sum(F.col("s") * F.col("s")).alias("ssq"))
        .join(iv.groupBy("label").agg(F.count("*").alias("cnt")), on="label")
    )
    svec = cent.groupBy("label").agg(
        F.expr("transform(array_sort(collect_list(struct(d, s))), e -> e.s)").alias(
            "sv"
        )
    )
    dots = n.join(F.broadcast(svec), on="label").withColumn(
        "vdots", F.expr(portable.int_dot("v", "sv", "spark"))
    )
    dist = dots.join(F.broadcast(cstat), on="label").select(
        "vec_id",
        "label",
        F.expr(
            "CAST(floor((CAST(nsq AS DOUBLE)"
            " - 2 * CAST(vdots AS DOUBLE) / cnt"
            " + CAST(ssq AS DOUBLE) / (cnt * cnt))"
            " / 1000000.0 + 0.5) AS BIGINT)"
        ).alias("dist2_fp"),
    )
    w1 = Window.partitionBy("label").orderBy("dist2_fp", "vec_id")
    ranked = dist.select(
        "label",
        "dist2_fp",
        F.row_number().over(w1).alias("rk"),
        F.count("*").over(Window.partitionBy("label")).alias("n"),
    )
    med = ranked.groupBy("label").agg(
        F.max(
            F.when(F.col("rk") == 1 + F.expr("(n - 1) div 2"), F.col("dist2_fp"))
        ).alias("med_d")
    )
    adev = dist.join(F.broadcast(med), on="label").withColumn(
        "ad", F.abs(F.col("dist2_fp") - F.col("med_d"))
    )
    w2 = Window.partitionBy("label").orderBy("ad", "vec_id")
    aranked = adev.select(
        "label",
        "ad",
        F.row_number().over(w2).alias("rk"),
        F.count("*").over(Window.partitionBy("label")).alias("n"),
    )
    mad = aranked.groupBy("label").agg(
        F.max(F.when(F.col("rk") == 1 + F.expr("(n - 1) div 2"), F.col("ad"))).alias(
            "mad_d"
        )
    )
    return (
        adev.join(F.broadcast(mad), on="label")
        .where(
            (F.col("mad_d") > 0)
            & (F.col("ad") >= OUTLIER_MAD_K * F.col("mad_d"))
            & (F.col("dist2_fp") > F.col("med_d"))
        )
        .select(
            "label",
            "vec_id",
            "dist2_fp",
            F.col("med_d").cast("long").alias("med_dist2_fp"),
            F.col("mad_d").cast("long").alias("mad_dist2_fp"),
        )
    )


FILTER_LABEL = 2  # the metadata predicate for filtered search


@register(
    "sim_filtered_knn",
    oracle=f"""
WITH iv AS (SELECT vec_id, label, {_IV} AS v FROM embeddings),
n AS (SELECT vec_id, label, v, {portable.int_dot('v', 'v', 'duck')} AS nsq FROM iv),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({portable.cosine_from_ints(portable.int_dot('q.v', 'c.v', 'duck'), 'q.nsq', 'c.nsq')}, 6)
           AS score
  FROM n q JOIN n c
    ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id AND c.label = {FILTER_LABEL}
)
SELECT query_id, neighbor_id, score, CAST(rnk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
      FROM scored)
WHERE rnk <= {TOP_K}
""",
    tags=("similarity", "north-star", "retrieval"),
)
def sim_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search (the vector-DB "filtered ANN"
    pattern): top-k cosine neighbors restricted to candidates whose
    metadata passes a predicate (label = 2) — PRE-filter strategy: the
    predicate prunes the corpus BEFORE any scoring, so cost scales with
    the filtered fraction and the result can never come up short of k
    the way post-filtering a fixed candidate list does.

    Scale shape: the label predicate is pushed into the corpus scan
    (PushedFilters), queries broadcast against the filtered corpus,
    top-k stays partial-then-final; with an IVF/PQ index the same
    pre-filter applies to the coded corpus since codes carry their
    metadata columns (`pq_encode(extra_cols=...)`).
    """
    emb = t(spark, sf_dir, "embeddings")
    iv = emb.select(
        "vec_id", "label", F.expr(portable.int_vec("embedding", "spark")).alias("v")
    )
    n = iv.select(
        "vec_id", "label", "v",
        F.expr(portable.int_dot("v", "v", "spark")).alias("nsq"),
    )
    queries = n.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nsq").alias("qnsq"),
    )
    cands = n.where(F.col("label") == FILTER_LABEL).select(
        F.col("vec_id").alias("neighbor_id"), "v", "nsq"
    )
    scored = (
        cands.crossJoin(F.broadcast(queries))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.expr(
                    portable.cosine_from_ints(
                        portable.int_dot("qv", "v", "spark"), "qnsq", "nsq"
                    )
                ),
                6,
            ).alias("score"),
        )
    )
    order = (F.col("score").desc(), F.col("neighbor_id").asc())
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TOP_K)
    )


PQ_BASE_MAX = 400  # codebook trains on vec_id < 400; the rest is the increment


@register(
    "sim_pq_incremental_serve",
    oracle=f"""
WITH {_pq_oracle_ctes(train_where=f" WHERE s.vec_id < {PQ_BASE_MAX}")},
scored AS (
  SELECT l.q_id AS query_id, c.vec_id AS neighbor_id, {_PQ_ADC} AS approx
  FROM codes_l c CROSS JOIN lut l
  WHERE l.q_id <> c.vec_id
)
{_PQ_FINAL}
""",
    tags=("similarity", "north-star", "approx", "retrieval"),
)
def sim_pq_incremental_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental vector-index maintenance: the codebook is trained ONCE
    on the base corpus (vec_id < 400); a later shard arrives and is
    encoded against that FROZEN codebook — a map-only projection, no
    retraining pass — and search serves the union of base + increment
    codes.  This is how a production PQ/IVF-PQ index absorbs a new
    crawl: train rarely, encode per shard, serve the concatenation
    (codes are position-stable because the codebook never moved).

    The oracle replays the same split: its training CTE is restricted
    to the base corpus while encoding covers every vector, so the
    frozen-codebook semantics are value-hash checked — retraining on
    the union would produce different centroids and hash-mismatch.

    Scale shape: encode of the increment touches ONLY the new shard
    (scan -> broadcast codebook -> projection); the serve path is the
    standard zero-corpus-exchange ADC scan over base ∪ increment.
    """
    emb = t(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") < PQ_BASE_MAX)
    increment = emb.where(F.col("vec_id") >= PQ_BASE_MAX)
    codebook = SIM.pq_train_codebooks(base, "vec_id", "embedding", PQ_M, PQ_K, EMB_DIM)
    coded_base = SIM.pq_encode(base, codebook, "vec_id", "embedding", PQ_M, EMB_DIM)
    coded_inc = SIM.pq_encode(increment, codebook, "vec_id", "embedding", PQ_M, EMB_DIM)
    coded = coded_base.unionByName(coded_inc).select(
        F.col("vec_id").alias("c_id"), "codes"
    )
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    return SIM.pq_search(
        coded, codebook, queries, "vec_id", "embedding", TOP_K, PQ_M, EMB_DIM
    ).select(
        "query_id", "neighbor_id", "adc_dist", F.col("rank").cast("int").alias("rank")
    )


BINARY_TOP_K = 10

_BIN_SIG_DUCK = """
  SELECT vec_id,
         CAST(list_sum(list_transform(range(0, 32), d ->
           CASE WHEN embedding[CAST(d + 1 AS INT)] > 0
                THEN (1::BIGINT << CAST(d AS INT)) ELSE 0::BIGINT END)) AS BIGINT) AS sig_lo,
         CAST(list_sum(list_transform(range(32, 64), d ->
           CASE WHEN embedding[CAST(d + 1 AS INT)] > 0
                THEN (1::BIGINT << CAST(d - 32 AS INT)) ELSE 0::BIGINT END)) AS BIGINT) AS sig_hi
  FROM embeddings
"""


@register(
    "sim_binary_hamming_knn",
    oracle=f"""
WITH sig AS ({_BIN_SIG_DUCK}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(bit_count(xor(c.sig_lo, q.sig_lo))
              + bit_count(xor(c.sig_hi, q.sig_hi)) AS INT) AS hamming
  FROM sig q JOIN sig c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, hamming, CAST(rnk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY hamming, neighbor_id) AS rnk
      FROM scored)
WHERE rnk <= {BINARY_TOP_K}
""",
    tags=("similarity", "quantization", "north-star"),
)
def sim_binary_hamming_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign-bit) quantized nearest neighbours: 64 dims packed
    into two 32-bit halves (8 bytes/vector, 32x smaller than float32),
    ranked by Hamming distance = popcount of the XOR'd halves — the
    standard cheap first-pass retriever below the int8 and PQ tiers
    (operators/similarity.binary_signatures / binary_hamming_knn).

    Scale shape: signatures are map-only; the search is broadcast
    queries x one 8-byte-per-row signature scan with partial-then-final
    top-k — the corpus never shuffles, and the scan is ~32x lighter than
    the float corpus the brute-force tier reads.
    """
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    out = SIM.binary_hamming_knn(
        emb, queries, "vec_id", "embedding", top_k=BINARY_TOP_K
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("hamming").cast("int").alias("hamming"),
        F.col("rank").cast("int").alias("rank"),
    )


MAXSIM_SUBVECS = 4
MAXSIM_SUBDIM = 16
MAXSIM_TOP_K = 5


@register(
    "sim_late_interaction_maxsim",
    oracle=f"""
WITH iv AS (SELECT vec_id, {_IV} AS v FROM embeddings),
subs AS (
  SELECT vec_id,
         list_transform(range(0, {MAXSIM_SUBVECS}),
           i -> list_slice(v, CAST(i * {MAXSIM_SUBDIM} + 1 AS INT),
                              CAST(i * {MAXSIM_SUBDIM} + {MAXSIM_SUBDIM} AS INT))) AS sv
  FROM iv
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(q.sv, qs ->
           list_max(list_transform(c.sv, cs ->
             list_sum(list_transform(range(1, {MAXSIM_SUBDIM} + 1),
               d -> qs[CAST(d AS INT)] * cs[CAST(d AS INT)])))))) AS BIGINT) AS maxsim_fp
  FROM subs q JOIN subs c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, maxsim_fp, CAST(rnk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY maxsim_fp DESC, neighbor_id) AS rnk
      FROM scored)
WHERE rnk <= {MAXSIM_TOP_K}
""",
    tags=("similarity", "north-star", "multivector"),
)
def sim_late_interaction_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) retrieval over
    multi-vector documents: each embedding is treated as 4 sub-vectors
    of 16 dims (the shape of per-token/per-patch multi-vector indexes),
    and score(q, d) = sum over query sub-vectors of the MAX dot product
    against any document sub-vector — the interaction that single-vector
    cosine cannot express (a doc matching each query aspect with a
    DIFFERENT region outranks one matching all aspects weakly).  All
    dot products are exact fixed-point integers, so ranking ties out
    identically in both engines.

    Scale shape: sub-vector splitting is map-only (nested array HOFs,
    no explode — the corpus row count never multiplies); the search is
    broadcast queries x one corpus scan with the same single top-k window
    as `sim_knn_bruteforce` (``WindowGroupLimit`` Partial per map task →
    exchange → Final, planned for k ≤ 1000).  A production multi-vector index adds
    the IVF/PQ tiers this module already provides per sub-vector.
    """
    emb = t(spark, sf_dir, "embeddings")
    iv = emb.select(
        "vec_id", F.expr(portable.int_vec("embedding", "spark")).alias("v")
    )
    subs = iv.select(
        "vec_id",
        F.expr(
            f"transform(sequence(0, {MAXSIM_SUBVECS - 1}),"
            f" i -> slice(v, CAST(i * {MAXSIM_SUBDIM} + 1 AS INT), {MAXSIM_SUBDIM}))"
        ).alias("sv"),
    )
    q = subs.withColumnsRenamed({"vec_id": "query_id", "sv": "q_sv"}).where(
        F.col("query_id") < N_QUERIES
    )
    maxsim = (
        "aggregate(q_sv, CAST(0 AS BIGINT), (acc, qs) -> acc +"
        " array_max(transform(sv, cs ->"
        "   aggregate(zip_with(qs, cs, (a, b) -> a * b),"
        "             CAST(0 AS BIGINT), (s, x) -> s + x))))"
    )
    scored = (
        subs.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(maxsim).alias("maxsim_fp"),
        )
    )
    order = (F.col("maxsim_fp").desc(), F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= MAXSIM_TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "maxsim_fp",
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Recall@k curve for the SRP-LSH index

RECALL_KS = (1, 3, 5)

_RECALL_DUCK_ARMS = "\nUNION ALL ".join(
    f"""SELECT {k} AS k,
       SUM(CASE WHEN bf.rnk <= {k} AND lsh.rnk <= {k} THEN 1 ELSE 0 END)::BIGINT AS n_hits
FROM bf JOIN lsh ON bf.query_id = lsh.query_id AND bf.neighbor_id = lsh.neighbor_id"""
    for k in RECALL_KS
)


@register(
    "sim_recall_at_k_curve",
    oracle=f"""
WITH iv AS (SELECT vec_id, list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT)) AS v FROM embeddings),
n AS (SELECT vec_id, v, list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * v[i])) AS nsq FROM iv),
bf_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(CAST(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) AS DOUBLE) / (sqrt(CAST(q.nsq AS DOUBLE)) * sqrt(CAST(c.nsq AS DOUBLE))), 6) AS score
  FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
),
bf AS (
  SELECT query_id, neighbor_id, rnk
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
        FROM bf_scored)
  WHERE rnk <= 5
),
buckets AS (SELECT vec_id, 0 AS tbl, CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([-1, -1, -1, -1, -1, 1, -1, -1, -1, -1, -1, 1, 1, 1, 1, -1, -1, -1, -1, -1, 1, 1, -1, 1, -1, -1, 1, -1, 1, 1, 1, -1, 1, -1, -1, -1, 1, -1, 1, -1, -1, 1, -1, 1, 1, 1, -1, -1, 1, 1, -1, 1, -1, -1, 1, 1, -1, -1, 1, -1, 1, -1, 1, -1])[i])) >= 0 THEN 8 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([-1, 1, 1, 1, -1, 1, 1, -1, 1, -1, 1, 1, -1, -1, 1, -1, 1, -1, 1, -1, -1, 1, 1, -1, 1, 1, 1, -1, 1, -1, -1, -1, -1, -1, -1, 1, 1, 1, -1, 1, 1, 1, -1, 1, -1, -1, 1, -1, 1, -1, 1, -1, -1, -1, 1, 1, 1, 1, -1, -1, 1, 1, 1, 1])[i])) >= 0 THEN 4 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([-1, 1, 1, 1, 1, 1, 1, -1, -1, 1, -1, -1, -1, 1, -1, 1, -1, -1, 1, 1, 1, 1, -1, -1, -1, -1, -1, -1, 1, 1, -1, -1, -1, 1, -1, 1, -1, 1, 1, 1, -1, -1, 1, -1, -1, 1, -1, 1, -1, 1, -1, -1, 1, 1, 1, -1, -1, 1, 1, -1, 1, 1, -1, 1])[i])) >= 0 THEN 2 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([1, 1, -1, 1, -1, 1, -1, -1, -1, -1, 1, 1, 1, 1, -1, 1, 1, 1, -1, -1, 1, -1, -1, 1, -1, 1, -1, 1, 1, 1, -1, 1, -1, -1, 1, -1, 1, 1, 1, 1, 1, -1, -1, 1, -1, -1, 1, 1, -1, 1, -1, -1, -1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, 1])[i])) >= 0 THEN 1 ELSE 0 END AS bucket FROM iv
UNION ALL
SELECT vec_id, 1 AS tbl, CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([1, 1, 1, -1, -1, -1, 1, -1, -1, -1, -1, 1, 1, 1, 1, -1, 1, 1, -1, -1, 1, 1, -1, 1, 1, -1, 1, -1, 1, -1, -1, 1, -1, 1, 1, -1, 1, -1, 1, -1, 1, -1, -1, 1, 1, 1, 1, -1, -1, -1, -1, -1, 1, -1, 1, -1, -1, -1, -1, -1, -1, -1, -1, 1])[i])) >= 0 THEN 8 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([1, -1, 1, 1, -1, 1, 1, 1, 1, 1, -1, -1, -1, 1, 1, 1, 1, 1, -1, -1, -1, 1, 1, 1, 1, -1, -1, 1, 1, 1, -1, 1, -1, -1, 1, 1, -1, -1, -1, -1, -1, -1, -1, 1, 1, -1, -1, 1, -1, -1, -1, -1, -1, -1, -1, -1, -1, 1, 1, -1, 1, 1, -1, -1])[i])) >= 0 THEN 4 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([-1, 1, 1, -1, 1, 1, -1, -1, -1, -1, 1, -1, -1, 1, 1, -1, 1, 1, 1, -1, 1, -1, -1, 1, -1, -1, -1, 1, 1, -1, 1, 1, -1, 1, -1, 1, 1, 1, 1, -1, 1, 1, 1, 1, -1, 1, -1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1, 1, 1, -1, -1, 1, -1])[i])) >= 0 THEN 2 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([-1, 1, -1, -1, 1, -1, -1, 1, 1, -1, -1, -1, -1, -1, 1, -1, -1, -1, 1, 1, -1, -1, 1, -1, 1, -1, 1, 1, 1, -1, 1, 1, 1, 1, 1, -1, -1, 1, -1, -1, 1, 1, 1, 1, -1, 1, -1, 1, -1, -1, -1, -1, 1, 1, 1, 1, 1, -1, -1, 1, 1, 1, -1, 1])[i])) >= 0 THEN 1 ELSE 0 END AS bucket FROM iv
UNION ALL
SELECT vec_id, 2 AS tbl, CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([-1, -1, -1, -1, 1, 1, 1, 1, 1, 1, -1, 1, -1, -1, 1, 1, 1, 1, 1, -1, -1, 1, 1, 1, -1, 1, -1, -1, -1, -1, 1, 1, 1, -1, 1, 1, 1, 1, 1, -1, -1, -1, -1, 1, -1, 1, -1, -1, 1, -1, -1, 1, -1, 1, 1, 1, 1, -1, 1, 1, -1, -1, 1, 1])[i])) >= 0 THEN 8 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([-1, -1, 1, -1, -1, -1, -1, -1, 1, 1, -1, 1, 1, -1, 1, 1, 1, 1, -1, -1, -1, 1, 1, -1, -1, -1, 1, 1, 1, 1, -1, -1, 1, -1, -1, -1, -1, 1, -1, -1, 1, -1, -1, 1, -1, -1, 1, 1, 1, 1, 1, 1, -1, -1, -1, 1, -1, -1, -1, 1, 1, 1, 1, 1])[i])) >= 0 THEN 4 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([1, 1, 1, -1, -1, 1, 1, 1, -1, 1, -1, 1, -1, -1, 1, -1, 1, -1, -1, 1, 1, -1, -1, -1, -1, -1, -1, 1, 1, -1, -1, -1, 1, -1, 1, 1, 1, 1, 1, -1, 1, -1, 1, 1, -1, 1, 1, -1, 1, 1, -1, 1, -1, -1, 1, -1, 1, -1, -1, -1, 1, 1, -1, 1])[i])) >= 0 THEN 2 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([1, -1, 1, -1, 1, 1, -1, -1, 1, 1, 1, -1, -1, -1, -1, -1, -1, 1, 1, 1, 1, -1, 1, 1, -1, 1, -1, -1, -1, -1, -1, 1, -1, 1, -1, -1, 1, -1, 1, -1, 1, -1, 1, -1, 1, 1, 1, -1, 1, 1, -1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, 1, 1])[i])) >= 0 THEN 1 ELSE 0 END AS bucket FROM iv
UNION ALL
SELECT vec_id, 3 AS tbl, CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([1, -1, 1, 1, 1, -1, 1, -1, -1, -1, 1, 1, -1, 1, 1, -1, -1, -1, 1, -1, 1, -1, -1, -1, -1, 1, 1, -1, -1, 1, 1, -1, -1, -1, -1, -1, -1, -1, -1, 1, 1, 1, 1, 1, -1, -1, 1, 1, -1, -1, 1, -1, -1, -1, 1, -1, -1, 1, -1, -1, -1, 1, 1, 1])[i])) >= 0 THEN 8 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([-1, 1, 1, 1, -1, -1, 1, 1, 1, 1, -1, 1, 1, 1, -1, 1, -1, 1, -1, -1, -1, -1, 1, -1, 1, 1, -1, 1, -1, -1, 1, -1, -1, -1, 1, -1, 1, -1, 1, 1, -1, 1, -1, -1, -1, -1, 1, -1, -1, -1, 1, -1, 1, 1, -1, -1, -1, -1, -1, 1, 1, 1, -1, -1])[i])) >= 0 THEN 4 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([1, 1, -1, -1, -1, -1, 1, -1, -1, 1, -1, 1, -1, -1, 1, 1, -1, -1, 1, -1, 1, -1, 1, 1, -1, -1, 1, -1, 1, -1, -1, 1, -1, 1, 1, 1, 1, 1, -1, -1, 1, -1, -1, 1, 1, 1, 1, -1, -1, -1, 1, 1, 1, 1, -1, -1, -1, 1, 1, -1, 1, -1, -1, 1])[i])) >= 0 THEN 2 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([-1, 1, 1, 1, 1, -1, 1, 1, -1, -1, -1, -1, -1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1, 1, -1, -1, 1, -1, -1, 1, 1, 1, -1, 1, -1, 1, -1, 1, -1, -1, -1, -1, 1, -1, 1, -1, -1, -1, 1, 1, 1, 1, 1, -1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1])[i])) >= 0 THEN 1 ELSE 0 END AS bucket FROM iv
UNION ALL
SELECT vec_id, 4 AS tbl, CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([1, -1, 1, 1, -1, 1, 1, 1, -1, -1, 1, 1, 1, 1, -1, -1, 1, -1, 1, 1, 1, 1, 1, 1, 1, -1, -1, 1, -1, -1, -1, 1, 1, 1, -1, -1, -1, -1, 1, 1, 1, 1, 1, -1, -1, -1, -1, 1, -1, -1, 1, -1, -1, 1, -1, 1, 1, -1, -1, 1, 1, 1, 1, 1])[i])) >= 0 THEN 8 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([-1, 1, 1, 1, -1, -1, 1, -1, 1, 1, -1, -1, -1, -1, 1, -1, -1, -1, 1, -1, -1, -1, 1, 1, 1, -1, -1, -1, 1, 1, 1, -1, 1, 1, 1, -1, 1, 1, 1, -1, -1, 1, -1, 1, 1, 1, -1, 1, -1, 1, 1, -1, 1, 1, -1, 1, 1, 1, -1, 1, 1, -1, -1, -1])[i])) >= 0 THEN 4 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([1, -1, -1, -1, 1, -1, 1, -1, 1, -1, -1, 1, 1, 1, -1, -1, 1, -1, -1, -1, -1, 1, 1, 1, 1, 1, 1, 1, 1, -1, 1, -1, -1, 1, -1, 1, -1, -1, 1, -1, -1, -1, 1, -1, -1, -1, 1, 1, 1, 1, 1, -1, -1, 1, 1, 1, -1, 1, 1, 1, 1, -1, -1, 1])[i])) >= 0 THEN 2 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([-1, 1, 1, 1, -1, -1, -1, 1, -1, -1, 1, -1, -1, -1, -1, 1, 1, 1, -1, -1, -1, -1, -1, -1, -1, 1, 1, 1, 1, 1, 1, 1, -1, -1, 1, -1, -1, -1, -1, 1, -1, 1, -1, 1, -1, 1, -1, -1, 1, 1, 1, -1, -1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1])[i])) >= 0 THEN 1 ELSE 0 END AS bucket FROM iv
UNION ALL
SELECT vec_id, 5 AS tbl, CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([-1, -1, 1, -1, -1, -1, 1, 1, 1, 1, -1, -1, 1, -1, 1, -1, 1, -1, 1, 1, -1, 1, -1, -1, 1, -1, -1, -1, -1, 1, -1, -1, -1, -1, 1, -1, -1, 1, -1, 1, -1, 1, -1, 1, -1, -1, 1, 1, 1, 1, 1, 1, -1, 1, -1, -1, 1, 1, 1, 1, -1, 1, -1, 1])[i])) >= 0 THEN 8 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([-1, -1, -1, 1, -1, -1, -1, 1, 1, -1, 1, -1, -1, -1, -1, -1, -1, -1, 1, 1, -1, 1, -1, 1, 1, -1, -1, 1, 1, -1, 1, 1, -1, -1, -1, -1, -1, -1, -1, 1, -1, -1, 1, 1, -1, 1, 1, -1, -1, -1, 1, -1, -1, -1, 1, -1, 1, 1, -1, -1, -1, -1, 1, -1])[i])) >= 0 THEN 4 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([1, -1, 1, -1, 1, 1, 1, -1, 1, 1, 1, 1, 1, 1, -1, 1, -1, -1, 1, 1, 1, 1, -1, 1, 1, 1, 1, 1, -1, -1, 1, 1, 1, 1, 1, -1, -1, 1, 1, 1, -1, -1, -1, -1, -1, 1, -1, -1, 1, 1, 1, 1, -1, 1, -1, -1, 1, -1, -1, -1, 1, -1, 1, -1])[i])) >= 0 THEN 2 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([-1, 1, -1, -1, 1, 1, -1, 1, 1, 1, -1, -1, -1, -1, 1, 1, 1, 1, 1, -1, -1, 1, -1, 1, -1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1, -1, 1, -1, 1, -1, -1, -1, 1, 1, -1, 1, -1, -1, 1, 1, -1, -1, -1, -1, 1, -1, 1, -1, -1, -1, -1])[i])) >= 0 THEN 1 ELSE 0 END AS bucket FROM iv
UNION ALL
SELECT vec_id, 6 AS tbl, CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([-1, -1, 1, -1, -1, -1, 1, 1, -1, -1, -1, -1, 1, -1, 1, 1, 1, -1, -1, 1, -1, 1, 1, -1, -1, 1, -1, 1, -1, 1, -1, 1, 1, -1, 1, -1, 1, -1, 1, 1, -1, -1, -1, 1, -1, -1, 1, 1, -1, 1, 1, -1, -1, 1, 1, -1, -1, 1, 1, -1, -1, -1, -1, -1])[i])) >= 0 THEN 8 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([1, -1, 1, 1, -1, -1, 1, -1, -1, 1, 1, -1, -1, 1, 1, 1, 1, 1, 1, 1, -1, -1, 1, 1, -1, 1, 1, -1, -1, 1, -1, -1, 1, -1, -1, 1, -1, -1, 1, 1, -1, -1, -1, 1, -1, -1, -1, 1, 1, -1, -1, 1, 1, 1, -1, 1, -1, 1, -1, 1, -1, -1, 1, -1])[i])) >= 0 THEN 4 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([-1, 1, 1, -1, -1, -1, 1, -1, -1, 1, -1, -1, 1, -1, -1, 1, -1, 1, 1, -1, -1, -1, -1, -1, -1, -1, -1, 1, 1, -1, -1, 1, 1, 1, 1, 1, 1, 1, -1, -1, 1, 1, 1, 1, -1, 1, -1, 1, 1, -1, -1, 1, -1, 1, -1, -1, 1, -1, 1, -1, -1, -1, -1, -1])[i])) >= 0 THEN 2 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([-1, 1, 1, -1, 1, -1, -1, 1, -1, 1, -1, 1, 1, -1, -1, 1, 1, 1, -1, -1, -1, -1, 1, 1, -1, 1, 1, 1, 1, -1, 1, -1, -1, -1, -1, -1, -1, -1, 1, -1, 1, -1, 1, -1, 1, -1, -1, -1, 1, 1, 1, -1, 1, -1, -1, -1, 1, 1, -1, -1, 1, 1, 1, -1])[i])) >= 0 THEN 1 ELSE 0 END AS bucket FROM iv
UNION ALL
SELECT vec_id, 7 AS tbl, CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([-1, -1, -1, -1, 1, 1, 1, -1, 1, 1, 1, 1, 1, -1, 1, -1, -1, 1, -1, 1, 1, 1, 1, 1, -1, -1, 1, -1, -1, 1, -1, -1, 1, 1, 1, 1, 1, 1, -1, 1, 1, -1, -1, -1, -1, -1, 1, 1, 1, -1, 1, -1, 1, -1, -1, 1, 1, -1, 1, 1, 1, 1, -1, -1])[i])) >= 0 THEN 8 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([-1, -1, 1, 1, -1, -1, -1, -1, -1, 1, 1, -1, -1, -1, -1, 1, 1, -1, -1, 1, -1, -1, 1, 1, 1, 1, -1, -1, -1, -1, 1, 1, 1, -1, -1, 1, -1, -1, -1, 1, -1, -1, 1, 1, 1, 1, -1, 1, -1, -1, 1, -1, 1, -1, -1, -1, 1, -1, 1, 1, 1, -1, 1, -1])[i])) >= 0 THEN 4 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([1, -1, 1, 1, 1, -1, 1, 1, -1, -1, 1, 1, 1, -1, -1, 1, 1, 1, -1, -1, -1, -1, 1, -1, 1, 1, -1, 1, 1, 1, -1, -1, 1, 1, -1, 1, 1, -1, 1, -1, -1, -1, 1, 1, 1, 1, 1, -1, -1, 1, 1, -1, 1, 1, 1, 1, 1, 1, -1, 1, -1, -1, 1, -1])[i])) >= 0 THEN 2 ELSE 0 END + CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ([-1, 1, -1, 1, -1, 1, -1, -1, -1, -1, -1, -1, -1, 1, -1, -1, -1, -1, 1, 1, -1, 1, 1, -1, 1, 1, 1, -1, -1, 1, -1, 1, -1, -1, -1, 1, -1, -1, -1, -1, 1, -1, -1, 1, 1, -1, -1, 1, 1, 1, 1, -1, -1, 1, 1, -1, -1, 1, -1, -1, 1, -1, 1, -1])[i])) >= 0 THEN 1 ELSE 0 END AS bucket FROM iv),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
  FROM buckets q JOIN buckets c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
),
lsh_scored AS (
  SELECT cand.q_id AS query_id, cand.c_id AS neighbor_id,
         round(CAST(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) AS DOUBLE) / (sqrt(CAST(q.nsq AS DOUBLE)) * sqrt(CAST(c.nsq AS DOUBLE))), 6) AS score
  FROM cand JOIN n q ON q.vec_id = cand.q_id JOIN n c ON c.vec_id = cand.c_id
),
lsh AS (
  SELECT query_id, neighbor_id, rnk
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
        FROM lsh_scored)
  WHERE rnk <= 5
),
arms AS ({_RECALL_DUCK_ARMS})
SELECT CAST(k AS INT) AS k, n_hits,
       CAST(n_hits * 1000000 // (10 * k) AS BIGINT) AS recall_ppm
FROM arms ORDER BY k
""",
    tags=("similarity", "evaluation", "north-star"),
)
def sim_recall_at_k_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k CURVE of the SRP-LSH index against exact brute-force
    ground truth, micro-averaged over the query set at k ∈ {1, 3, 5} —
    the full quality profile an ANN deployment tunes against
    (sim_ann_recall_eval reports the single-k per-query view; this is
    the aggregate curve: recall@1 says whether the TOP answer survives
    approximation, recall@5 whether the candidate pool does).

    Both tiers are the already-registered production operators with
    identical deterministic tie-breaks, so the hit counts are exact
    integers and even the curve itself value-hash checks.

    Scale shape: the expensive parts are the two kNN tiers already
    audited (broadcast-queries corpus scans, banded LSH buckets); the
    curve itself is one inner join of two (queries × k)-row relations
    plus three conditional sums — negligible at any corpus size, and at
    100 TB the query set is hash-sampled exactly as in the single-k
    eval.
    """
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    bf = SIM.knn_bruteforce(emb, queries, "vec_id", "embedding", top_k=TOP_K).select(
        "query_id", "neighbor_id", F.col("rank").alias("bf_rk")
    )
    lsh = SIM.lsh_knn(
        emb, queries, "vec_id", "embedding",
        top_k=TOP_K, n_planes=LSH_PLANES, n_tables=LSH_TABLES,
    ).select("query_id", "neighbor_id", F.col("rank").alias("lsh_rk"))
    both = bf.join(lsh, on=["query_id", "neighbor_id"])
    one = both.agg(
        *[
            F.sum(
                F.when((F.col("bf_rk") <= k) & (F.col("lsh_rk") <= k), 1).otherwise(0)
            )
            .cast("long")
            .alias(f"h{k}")
            for k in RECALL_KS
        ]
    )
    stack = "stack({n}, {args}) AS (k, n_hits)".format(
        n=len(RECALL_KS), args=", ".join(f"{k}, h{k}" for k in RECALL_KS)
    )
    return (
        one.selectExpr(stack)
        .selectExpr(
            "CAST(k AS INT) AS k",
            "n_hits",
            f"CAST(n_hits * 1000000 div ({N_QUERIES} * k) AS BIGINT) AS recall_ppm",
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Intra-list similarity (result-set redundancy) of the exact top-k


@register(
    "sim_topk_diversity",
    oracle=f"""
WITH iv AS (SELECT vec_id, {_IV} AS v FROM embeddings),
n AS (SELECT vec_id, v, {portable.int_dot('v', 'v', 'duck')} AS nsq FROM iv),
bf_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({portable.cosine_from_ints(portable.int_dot('q.v', 'c.v', 'duck'), 'q.nsq', 'c.nsq')}, 6)
           AS score
  FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
),
bf AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
        FROM bf_scored)
  WHERE rnk <= {TOP_K}
),
pairs AS (
  SELECT a.query_id, a.neighbor_id AS i, b.neighbor_id AS j
  FROM bf a JOIN bf b ON a.query_id = b.query_id AND a.neighbor_id < b.neighbor_id
),
scored AS (
  SELECT pairs.query_id,
         CAST(ROUND({portable.cosine_from_ints(portable.int_dot('x.v', 'y.v', 'duck'), 'x.nsq', 'y.nsq')} * 1000000, 0) AS BIGINT)
           AS cos_ppm
  FROM pairs JOIN n x ON x.vec_id = pairs.i JOIN n y ON y.vec_id = pairs.j
)
SELECT query_id, COUNT(*)::BIGINT AS n_pairs,
       CAST(SUM(cos_ppm) // COUNT(*) AS BIGINT) AS mean_pair_cos_ppm,
       MIN(cos_ppm)::BIGINT AS min_pair_cos_ppm,
       MAX(cos_ppm)::BIGINT AS max_pair_cos_ppm
FROM scored GROUP BY query_id
""",
    tags=("similarity", "evaluation"),
)
def sim_topk_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-list similarity of each query's exact top-k result set —
    the redundancy metric retrieval tuning tracks against recall: a
    result list whose members are all near-duplicates of each other
    wastes its k slots (high mean pairwise cosine), which is what MMR /
    diversity re-ranking then fixes.  Reported per query with the
    min/max pair so pathological lists are visible.

    Exactness: each pairwise cosine is a deterministic double from
    exact integer vectors, rounded to integer ppm PER PAIR so the
    per-query mean is an order-independent integer sum (the float-SUM
    accumulation-order trap again).

    Scale shape: the k(k−1)/2 pairs per query come from a self-join of
    the already-audited (queries × k)-row top-k relation, re-joined to
    the int-vector relation for scoring — all bounded by the SAMPLED
    query count, never the corpus; the corpus cost is the one audited
    brute-force pass.
    """
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    bf = SIM.knn_bruteforce(emb, queries, "vec_id", "embedding", top_k=TOP_K).select(
        "query_id", "neighbor_id"
    )
    pairs = bf.alias("a").join(
        bf.alias("b"),
        (F.col("a.query_id") == F.col("b.query_id"))
        & (F.col("a.neighbor_id") < F.col("b.neighbor_id")),
    ).select(
        F.col("a.query_id").alias("query_id"),
        F.col("a.neighbor_id").alias("i"),
        F.col("b.neighbor_id").alias("j"),
    )
    iv = portable.int_vec("embedding", "spark")
    nsq = portable.int_dot("v", "v", "spark")
    nvec = emb.selectExpr("vec_id", f"{iv} AS v").selectExpr(
        "vec_id", "v", f"{nsq} AS nsq"
    )
    cos = portable.cosine_from_ints(
        portable.int_dot("x.v", "y.v", "spark"), "x.nsq", "y.nsq"
    )
    scored = (
        pairs.join(nvec.alias("x"), F.col("x.vec_id") == F.col("i"))
        .join(nvec.alias("y"), F.col("y.vec_id") == F.col("j"))
        .select(
            "query_id",
            F.expr(f"CAST(ROUND(({cos}) * 1000000, 0) AS BIGINT)").alias("cos_ppm"),
        )
    )
    return scored.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr("CAST(SUM(cos_ppm) div COUNT(*) AS BIGINT)").alias(
            "mean_pair_cos_ppm"
        ),
        F.min("cos_ppm").cast("long").alias("min_pair_cos_ppm"),
        F.max("cos_ppm").cast("long").alias("max_pair_cos_ppm"),
    )


# ---------------------------------------------------------------------------
# Lowe-ratio / margin audit of the exact kNN top-2


@register(
    "sim_knn_margin_audit",
    oracle=f"""
WITH iv AS (SELECT vec_id, {_IV} AS v FROM embeddings),
n AS (SELECT vec_id, v, {portable.int_dot('v', 'v', 'duck')} AS nsq FROM iv),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({portable.cosine_from_ints(portable.int_dot('q.v', 'c.v', 'duck'), 'q.nsq', 'c.nsq')}, 6)
           AS score
  FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
),
top2 AS (
  SELECT query_id, neighbor_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id,
       MAX(CASE WHEN rnk = 1 THEN neighbor_id END)::BIGINT AS top1_id,
       MAX(CASE WHEN rnk = 1 THEN score END) AS top1_score,
       MAX(CASE WHEN rnk = 2 THEN score END) AS top2_score,
       round(MAX(CASE WHEN rnk = 1 THEN score END)
             - MAX(CASE WHEN rnk = 2 THEN score END), 6) AS margin,
       CAST(CASE WHEN MAX(CASE WHEN rnk = 1 THEN score END)
                      - MAX(CASE WHEN rnk = 2 THEN score END) >= 0.05
                 THEN 1 ELSE 0 END AS BIGINT) AS confident
FROM top2 WHERE rnk <= 2
GROUP BY query_id
""",
    tags=("similarity", "evaluation"),
)
def sim_knn_margin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor margin (Lowe-ratio) audit: for each query, the
    gap between the best and second-best exact cosine — the standard
    match-confidence test retrieval systems run before trusting a
    nearest neighbor (a top hit barely ahead of the runner-up is noise;
    a wide margin is a real match).  Feeds ANN tuning too: corpora with
    thin margins need higher-recall index settings.

    Exactness: scores are the repo's fixed-point integer cosines
    (order-independent dot products), rounded once to 6 dp; the margin
    is ONE deterministic subtraction of those rounded doubles, and the
    confidence flag is an exact threshold test on it.

    Scale shape: the audited broadcast-queries × one-corpus-scan kNN
    (operators/similarity.py) at k=2 — the corpus never shuffles;
    per-query top-2 via partial-then-final top-k; output is O(queries).
    """
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    top2 = SIM.knn_bruteforce(emb, queries, "vec_id", "embedding", top_k=2)
    return (
        top2.groupBy("query_id")
        .agg(
            F.max(F.when(F.col("rank") == 1, F.col("neighbor_id")))
            .cast("long")
            .alias("top1_id"),
            F.max(F.when(F.col("rank") == 1, F.col("score"))).alias("top1_score"),
            F.max(F.when(F.col("rank") == 2, F.col("score"))).alias("top2_score"),
        )
        .selectExpr(
            "query_id",
            "top1_id",
            "top1_score",
            "top2_score",
            "round(top1_score - top2_score, 6) AS margin",
            "CAST(CASE WHEN top1_score - top2_score >= 0.05 THEN 1 ELSE 0 END"
            " AS BIGINT) AS confident",
        )
    )


# ---------------------------------------------------------------------------
# IVF partition-balance audit (inverted-list health check)


@register(
    "sim_ivf_balance_audit",
    oracle=f"""
WITH iv AS (SELECT vec_id, label, {_IV} AS v FROM embeddings),
dims AS (
  SELECT label, d, SUM(v[d + 1]) AS s, COUNT(*)::BIGINT AS n
  FROM iv, range(0, 64) r(d) GROUP BY label, d
),
cent AS (
  SELECT label AS cluster, list(CAST(s AS DOUBLE) / n ORDER BY d) AS centroid
  FROM dims GROUP BY label
),
assigned AS (
  SELECT vec_id, label, cluster
  FROM (
    SELECT i.vec_id, i.label, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY i.vec_id ORDER BY
             list_sum(list_transform(range(1, 65),
               k -> (i.v[k] - c.centroid[k]) * (i.v[k] - c.centroid[k]))),
             c.cluster) AS rn
    FROM iv i CROSS JOIN cent c
  ) WHERE rn = 1
),
tot AS (SELECT COUNT(*)::BIGINT AS n_total, COUNT(DISTINCT cluster)::BIGINT AS k
        FROM assigned)
SELECT a.cluster,
       COUNT(*)::BIGINT AS n_assigned,
       SUM(CASE WHEN a.label = a.cluster THEN 1 ELSE 0 END)::BIGINT AS n_native,
       CAST(SUM(CASE WHEN a.label = a.cluster THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS native_ppm,
       CAST(COUNT(*)::HUGEINT * MIN(tot.k) * 1000000 // MIN(tot.n_total)
            AS BIGINT) AS load_ppm_of_ideal
FROM assigned a, tot
GROUP BY a.cluster
""",
    tags=("similarity", "evaluation", "approx"),
)
def sim_ivf_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list balance audit: assign EVERY corpus vector to its
    nearest coarse centroid and report per-list occupancy vs the ideal
    n/k, plus how many members sit in their own label's list — the index
    health check that predicts ANN latency (a hot list serves most
    probes; at 100 TB a 10× overloaded list is a straggler task) and
    recall (low native share means the coarse quantizer disagrees with
    the labels the corpus was built from).

    Exactness: centroids are exact integer sums divided once (the
    sim_ivf_knn convention); assignment distances are deterministic
    doubles evaluated in the same dimension order; occupancy ratios are
    integer ppm with the count·k product carried in DECIMAL(38,0)/
    HUGEINT.

    Scale shape: one corpus scan against a BROADCAST k-row centroid
    table (map-only assignment, per-vector bounded top-1 window keyed by
    vec_id), then an O(k) rollup — the corpus never shuffles by data
    volume, only the k-row result does.
    """
    emb = t(spark, sf_dir, "embeddings")
    iv = emb.select(
        "vec_id", "label", F.expr(portable.int_vec("embedding", "spark")).alias("v")
    )
    # exact per-dimension integer sums -> double means, the sim_ivf_knn shape
    cent = (
        iv.select("label", F.posexplode("v").alias("d", "x"))
        .groupBy("label", "d")
        .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
        .groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("d", (F.col("s") / F.col("n")).alias("m")))
            ).alias("cm")
        )
        .select(
            F.col("label").alias("cluster"),
            F.expr("transform(cm, e -> e.m)").alias("centroid"),
        )
    )
    # Full-corpus assignment via the Arrow f64 kernel (r14, guide §4.2):
    # this is the one IVF query where EVERY corpus vector pays the
    # per-(row, centroid) interpreted dist² fold + a per-row top-1 window
    # (2.6M interpreted lambda evals at sf0.1; the probe-side folds in
    # sim_ivf_knn / sim_recall_vs_nprobe touch only N_QUERIES rows and
    # stay relational).  Bit-identical: ascending-dimension IEEE fold,
    # argmin ties to the lowest cluster id — measured 1.2s → 0.7s on the
    # stage, row-for-row equal at sf0.1.
    assigned = SIM.assign_nearest_centroid_f64(
        iv, "vec_id", "v", "label", cent
    )
    from uda_spark.cache import tracked_persist

    assigned = tracked_persist(assigned)
    tot = assigned.agg(
        F.count("*").cast("long").alias("n_total"),
        F.countDistinct("cluster").cast("long").alias("k"),
    )
    return (
        assigned.crossJoin(F.broadcast(tot))
        .groupBy("cluster")
        .agg(
            F.count("*").cast("long").alias("n_assigned"),
            F.sum(F.when(F.col("label") == F.col("cluster"), 1).otherwise(0))
            .cast("long")
            .alias("n_native"),
            F.expr(
                "CAST(SUM(CASE WHEN label = cluster THEN 1 ELSE 0 END) * 1000000"
                " div COUNT(*) AS BIGINT)"
            ).alias("native_ppm"),
            F.expr(
                "CAST(CAST(COUNT(*) AS DECIMAL(38,0)) * MIN(k) * 1000000"
                " div MIN(n_total) AS BIGINT)"
            ).alias("load_ppm_of_ideal"),
        )
    )


# ---------------------------------------------------------------------------
# Recall-vs-nprobe tuning curve for the IVF coarse quantizer

NPROBES = (1, 2, 3, 5)

_NP_QDOT = portable.int_dot("q_vec", "c_vec", "spark")
_NP_DUCK_QDOT = portable.int_dot("q.v", "c.v", "duck")


@register(
    "sim_recall_vs_nprobe",
    oracle=f"""
WITH iv AS (SELECT vec_id, label, {_IV} AS v FROM embeddings),
n AS (SELECT vec_id, label, v, {portable.int_dot('v', 'v', 'duck')} AS nsq FROM iv),
dims AS (
  SELECT label, d, SUM(v[d + 1]) AS s, COUNT(*)::BIGINT AS cnt
  FROM iv, range(0, 64) r(d) GROUP BY label, d
),
cent AS (
  SELECT label, list(CAST(s AS DOUBLE) / cnt ORDER BY d) AS centroid
  FROM dims GROUP BY label
),
q AS (SELECT vec_id, v FROM iv WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT vec_id AS q_id, label AS plabel,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, label) AS pr
  FROM (
    SELECT q.vec_id, c.label,
           list_sum(list_transform(range(1, 65),
             i -> (q.v[i] - c.centroid[i]) * (q.v[i] - c.centroid[i]))) AS dist2
    FROM q CROSS JOIN cent c
  )
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS nlabel,
         round({portable.cosine_from_ints(_NP_DUCK_QDOT, 'q.nsq', 'c.nsq')}, 6)
           AS score
  FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
),
truth AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY score DESC, neighbor_id) AS rnk FROM scored)
  WHERE rnk <= {TOP_K}
),
nps AS (SELECT * FROM (VALUES {', '.join(f'({np})' for np in NPROBES)}) v(np)),
ann AS (
  SELECT np, query_id, neighbor_id
  FROM (
    SELECT nps.np, s.query_id, s.neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY nps.np, s.query_id
             ORDER BY s.score DESC, s.neighbor_id) AS rnk
    FROM scored s
    JOIN probes p ON p.q_id = s.query_id AND p.plabel = s.nlabel
    JOIN nps ON p.pr <= nps.np
  ) WHERE rnk <= {TOP_K}
),
sizes AS (SELECT label, COUNT(*)::BIGINT AS n_l FROM iv GROUP BY label),
tot AS (SELECT COUNT(*)::BIGINT AS n_total FROM iv),
scan AS (
  SELECT nps.np, SUM(sizes.n_l)::BIGINT AS n_scanned
  FROM probes JOIN sizes ON sizes.label = probes.plabel
  JOIN nps ON probes.pr <= nps.np
  GROUP BY nps.np
),
hits AS (
  SELECT ann.np, COUNT(*)::BIGINT AS n_hits
  FROM ann JOIN truth ON ann.query_id = truth.query_id
                     AND ann.neighbor_id = truth.neighbor_id
  GROUP BY ann.np
)
SELECT CAST(nps.np AS INT) AS np,
       COALESCE(hits.n_hits, 0)::BIGINT AS n_hits,
       CAST(COALESCE(hits.n_hits, 0) * 1000000 // ({N_QUERIES} * {TOP_K})
            AS BIGINT) AS recall_ppm,
       CAST(scan.n_scanned * 1000000 // ({N_QUERIES} * tot.n_total)
            AS BIGINT) AS scanned_ppm
FROM nps LEFT JOIN hits ON hits.np = nps.np
         JOIN scan ON scan.np = nps.np, tot
""",
    tags=("similarity", "evaluation", "approx", "north-star"),
)
def sim_recall_vs_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} versus nprobe for the IVF coarse quantizer, with
    the corpus share each setting scans — THE tuning curve an IVF
    deployment reads before picking nprobe (recall_at_k_curve profiles
    the LSH arm; this profiles the partition-probing arm): each extra
    probed list buys recall at a linear scan-cost price, and the knee
    of this curve is the production setting.

    Exactness: both tiers are the audited deterministic operators —
    exact fixed-point cosines, exact integer-sum centroids, identical
    tie-breaks — so hit counts, recall, and the scanned share are exact
    integers on both engines.

    Scale shape: ONE broadcast-queries corpus scan produces the scored
    relation; the probe assignment is a (queries × k)-row bounded
    relation; the truth top-{TOP_K} and each nprobe's ANN top-{TOP_K} are
    one ``row_number()`` window each, which Catalyst plans as
    ``WindowGroupLimit`` Partial per map task → exchange → Final (k ≤
    1000, the default threshold) — no single task ever sees a query's
    full score stream; the scanned-share arithmetic is O(k) metadata.
    Cites the reference's LPQ/RPQ hierarchical merge
    (src/Merger/MergeManager.cc:240-288) for the two-level shape.
    """
    emb = t(spark, sf_dir, "embeddings")
    iv = emb.select(
        "vec_id", "label", F.expr(portable.int_vec("embedding", "spark")).alias("v")
    )
    nsq = iv.select(
        "vec_id", "label", "v",
        F.expr(portable.int_dot("v", "v", "spark")).alias("nsq"),
    )
    cent = (
        iv.select("label", F.posexplode("v").alias("d", "x"))
        .groupBy("label", "d")
        .agg(F.sum("x").alias("s"), F.count("*").alias("cnt"))
        .groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("d", (F.col("s") / F.col("cnt")).alias("m")))
            ).alias("cm")
        )
        .select("label", F.expr("transform(cm, e -> e.m)").alias("centroid"))
    )
    q = nsq.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q_vec"),
        F.col("nsq").alias("q_nsq"),
    )
    probes = (
        q.select("q_id", "q_vec")
        .crossJoin(F.broadcast(cent))
        .withColumn(
            "dist2",
            F.expr(
                "aggregate(zip_with(q_vec, centroid, (x, c) -> (x - c) * (x - c)), "
                "CAST(0 AS DOUBLE), (acc, e) -> acc + e)"
            ),
        )
        .withColumn(
            "pr",
            F.row_number().over(Window.partitionBy("q_id").orderBy("dist2", "label")),
        )
        .select("q_id", F.col("label").alias("plabel"), "pr")
    )
    score = portable.cosine_from_ints(_NP_QDOT, "q_nsq", "c_nsq")
    scored = (
        nsq.select(
            F.col("vec_id").alias("c_id"),
            F.col("label").alias("nlabel"),
            F.col("v").alias("c_vec"),
            F.col("nsq").alias("c_nsq"),
        )
        .crossJoin(F.broadcast(q))
        .where(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            "nlabel",
            F.round(F.expr(score), 6).alias("score"),
        )
    )
    order = (F.col("score").desc(), F.col("neighbor_id"))
    truth = (
        scored.withColumn(
            "rnk",
            F.row_number().over(Window.partitionBy("query_id").orderBy(*order)),
        )
        .where(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    nps = spark.range(1).selectExpr(
        f"explode(array({', '.join(str(np) for np in NPROBES)})) AS np"
    )
    cand = (
        scored.join(
            F.broadcast(probes),
            (F.col("q_id") == F.col("query_id"))
            & (F.col("plabel") == F.col("nlabel")),
        )
        .crossJoin(F.broadcast(nps))
        .where(F.col("pr") <= F.col("np"))
    )
    ann = (
        cand.withColumn(
            "rnk",
            F.row_number().over(Window.partitionBy("np", "query_id").orderBy(*order)),
        )
        .where(F.col("rnk") <= TOP_K)
        .select("np", "query_id", "neighbor_id")
    )
    sizes = iv.groupBy("label").agg(F.count("*").alias("n_l"))
    tot = iv.agg(F.count("*").cast("long").alias("n_total"))
    scan = (
        probes.join(F.broadcast(sizes), probes.plabel == sizes.label)
        .crossJoin(F.broadcast(nps.selectExpr("np AS np2")))
        .where(F.col("pr") <= F.col("np2"))
        .groupBy("np2")
        .agg(F.sum("n_l").cast("long").alias("n_scanned"))
    )
    hits = (
        ann.join(truth, on=["query_id", "neighbor_id"])
        .groupBy("np")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    return (
        nps.join(hits, on="np", how="left")
        .join(scan, nps.np == scan.np2)
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "CAST(np AS INT) AS np",
            "CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits",
            f"CAST(COALESCE(n_hits, 0) * 1000000 div ({N_QUERIES} * {TOP_K})"
            " AS BIGINT) AS recall_ppm",
            f"CAST(n_scanned * 1000000 div ({N_QUERIES} * n_total)"
            " AS BIGINT) AS scanned_ppm",
        )
    )


@register(
    "sim_centroid_drift",
    oracle=f"""
WITH iv AS (SELECT vec_id, label, {_IV} AS v FROM embeddings),
dims AS (
  SELECT iv.label, u.i AS dim, SUM(iv.v[u.i])::HUGEINT AS s
  FROM iv, LATERAL unnest(range(1, len(iv.v) + 1)) u(i)
  GROUP BY iv.label, u.i
),
cnt AS (SELECT label, COUNT(*)::HUGEINT AS n_l FROM iv GROUP BY label),
gdim AS (SELECT dim, SUM(s)::HUGEINT AS gs FROM dims GROUP BY dim),
tot AS (SELECT SUM(n_l)::HUGEINT AS n FROM cnt),
num AS (
  SELECT dims.label,
         SUM((dims.s * tot.n - gdim.gs * cnt.n_l)
             * (dims.s * tot.n - gdim.gs * cnt.n_l))::HUGEINT AS d2_num
  FROM dims JOIN gdim USING (dim) JOIN cnt USING (label) CROSS JOIN tot
  GROUP BY dims.label
)
SELECT num.label, CAST(cnt.n_l AS BIGINT) AS n_vecs,
       CAST(num.d2_num // (cnt.n_l * cnt.n_l * tot.n * tot.n) AS BIGINT)
         AS centroid_dist2_fp2
FROM num JOIN cnt USING (label) CROSS JOIN tot
""",
    tags=("similarity", "evaluation", "drift"),
)
def sim_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor: squared L2 distance between each
    label's centroid and the global corpus centroid, in exact
    fixed-point² units — the readout a pipeline tracks across snapshots
    to catch a source/class whose embedding distribution is moving
    (upstream model change, crawl contamination) before any downstream
    metric shifts.  Per-dim means never materialize as floats: the
    difference is the cross-multiplied integer s_ld·N − S_d·n_l, squared
    and summed in DECIMAL(38,0)/HUGEINT, then floor-divided by
    (n_l·N)² — both engines floor the same non-negative quotient.
    Contract bound: the squared term stays inside 38 digits for
    n·|v|_fp ≲ 1e18 (≈1e12 vectors at this fixed-point scale).

    Scale shape: ONE posexplode pass over the corpus feeds a
    (label × 64-dim) bounded aggregation; global sums, counts, and the
    distance arithmetic all operate on bounded relations (|labels|·64
    rows).  The corpus is scanned once and never shuffled — the
    explode's groupBy is map-side combinable on the bounded key.
    """
    emb = t(spark, sf_dir, "embeddings")
    iv = emb.select(
        "label", F.expr(portable.int_vec("embedding", "spark")).alias("v")
    )
    dims = (
        iv.select("label", F.posexplode("v").alias("dim0", "x"))
        .groupBy("label", "dim0")
        .agg(F.sum("x").cast("decimal(38,0)").alias("s"))
    )
    cnt = iv.groupBy("label").agg(F.count("*").cast("decimal(38,0)").alias("n_l"))
    dims.createOrReplaceTempView("_cd_dims")
    cnt.createOrReplaceTempView("_cd_cnt")
    return t(spark, sf_dir, "embeddings").sparkSession.sql(
        """
WITH gdim AS (SELECT dim0, CAST(SUM(s) AS DECIMAL(38,0)) AS gs FROM _cd_dims GROUP BY dim0),
tot AS (SELECT CAST(SUM(n_l) AS DECIMAL(38,0)) AS n FROM _cd_cnt),
num AS (
  SELECT d.label,
         CAST(SUM((d.s * tot.n - gdim.gs * c.n_l)
                  * (d.s * tot.n - gdim.gs * c.n_l)) AS DECIMAL(38,0)) AS d2_num
  FROM _cd_dims d JOIN gdim USING (dim0) JOIN _cd_cnt c USING (label) CROSS JOIN tot
  GROUP BY d.label
)
SELECT num.label, CAST(c.n_l AS BIGINT) AS n_vecs,
       CAST(num.d2_num div (c.n_l * c.n_l * tot.n * tot.n) AS BIGINT)
         AS centroid_dist2_fp2
FROM num JOIN _cd_cnt c USING (label) CROSS JOIN tot
"""
    )


@register(
    "sim_pq_distortion",
    oracle=f"""
WITH {_pq_oracle_ctes()},
mins AS (
  SELECT s.vec_id, s.m, MIN({_PQ_D2}) AS d2
  FROM subs s JOIN c1 c ON s.m = c.m
  GROUP BY s.vec_id, s.m
)
SELECT m,
       COUNT(*)::BIGINT AS n_vecs,
       CAST(SUM(CAST(floor(d2 + 0.5) AS HUGEINT)) AS BIGINT) AS sum_d2_fp2,
       CAST(SUM(CAST(floor(d2 + 0.5) AS HUGEINT)) // COUNT(*) AS BIGINT)
         AS mean_d2_fp2
FROM mins GROUP BY m
""",
    tags=("similarity", "evaluation"),
)
def sim_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace PQ quantization distortion — the index-quality
    audit behind every ADC recall number: mean squared distance from
    each vector's subvector to its assigned (nearest) centroid, per
    subspace.  A subspace with outsized distortion is where the
    codebook is starving (needs more centroids or a rotation) and
    where ADC ranking error concentrates — the tuning readout next to
    `sim_ivf_balance_audit`'s cluster-balance view.  Per-(vector,
    subspace) min-distances are deterministic doubles from exact
    fixed-point integers and codebook means, quantized ONCE via
    floor(d2 + 0.5) (the repo's rounding convention) so the per-m sums
    are order-independent exact integers in DECIMAL(38,0)/HUGEINT.

    Scale shape: the trained codebook (m·k tiny rows, one corpus
    training pass shared via tracked_persist) broadcasts onto ONE
    corpus scan; the min-distance is a codegen'd HOF projection (no
    join, no explode of the corpus) and the readout is a bounded
    groupBy(m) over m rows' worth of partial sums.
    """
    from uda_spark.operators.similarity import (
        _collect_codebook,
        pq_min_dists,
        pq_train_codebooks,
    )

    emb = t(spark, sf_dir, "embeddings")
    cb = pq_train_codebooks(emb, "vec_id", "embedding", m=PQ_M, k=PQ_K, dim=EMB_DIM)
    civ = emb.select(
        F.col("vec_id").alias("_id"),
        F.expr(portable.int_vec("embedding", "spark")).alias("_v"),
    )
    # r13 (guide §4.2): per-(vector, subspace) min distances via the
    # Arrow kernel against the driver-collected codebook — replaces the
    # broadcast-row crossJoin + m*k interpreted-lambda _pq_dists_expr
    # projection; d2 doubles bit-identical (see pq_min_dists).
    mins = pq_min_dists(civ, _collect_codebook(cb, PQ_M), PQ_M, PQ_SUB)
    return (
        mins.select(
            "m", F.expr("CAST(floor(d2 + 0.5) AS DECIMAL(38,0))").alias("dq")
        )
        .groupBy("m")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.expr("CAST(SUM(dq) AS BIGINT)").alias("sum_d2_fp2"),
            F.expr("CAST(SUM(dq) div COUNT(*) AS BIGINT)").alias("mean_d2_fp2"),
        )
    )

"""Composed end-to-end retrieval pipeline (round 6, north-star).

The round-5 tiers exercised individually — near-dup clustering, survivor
selection, PQ index build, hybrid RRF search — composed into ONE query
the way a production corpus actually flows: dedup the crawl, keep one
canonical doc per near-dup family, index ONLY the survivors, then serve
a hybrid (lexical + PQ-vector) query over the curated corpus.  This is
the `pipeline_training_data` analog for the retrieval stack.

Stage shapes at 100 TB (each inherited from its proven component):
  1. MinHash banded candidate gen — bucketed, never all-pairs
     (operators/dedup.py:45).
  2. Connected components — O(log n) large-star/small-star rounds,
     lineage truncated (operators/dedup.connected_components).
  3. Survivor selection — one integer-packed MAX per component
     (queries/dedup.py dedup_cluster_survivor).
  4. PQ codebook train + encode — one corpus pass, then a map-only
     projection against a broadcast codebook (operators/similarity.py:491).
  5. ADC search + RRF fusion — coded survivors never shuffle; LUTs
     broadcast; fusion joins 2N candidate rows
     (queries/similarity.py sim_hybrid_rrf).

Everything is exact integer / fixed-point arithmetic, so the DuckDB
oracle replays the entire five-stage pipeline and value-hashes the
final ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from uda_spark.functions import portable
from uda_spark.operators import dedup as D
from uda_spark.operators import similarity as SIM
from uda_spark.queries.common import t
from uda_spark.queries.dedup import (
    BANDS,
    CC_HOT_DEGREE,
    JACCARD_T,
    N_HASHES,
    _corpus_near,
    _DUCK_CORPUS_NEAR,
    _MINHASH_PAIRS_SQL,
)
from uda_spark.queries.similarity import (
    EMB_DIM,
    PQ_K,
    PQ_M,
    RRF_K,
    RRF_QVEC_ID,
    RRF_TERMS,
    RRF_TIER_N,
    RRF_TOP,
    _PQ_ADC,
    _pq_oracle_ctes,
    _RRF_TERMS_DU,
)
from uda_spark.registry import register

# Near-dup corpus ids are base (+0), exact (+1e6) or perturbed (+2e6)
# copies of a stored document; % BASE_MOD resolves any survivor back to
# the stored doc that owns the embedding row.
BASE_MOD = 2_000_000


@register(
    "pipeline_retrieval_e2e",
    oracle=f"""
WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, r) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
),
comp AS (
  SELECT node, LEAST(node, MIN(r))::BIGINT AS component
  FROM reach GROUP BY node
),
corpus AS ({_DUCK_CORPUS_NEAR}),
scored_surv AS (
  SELECT c.component,
         length(corpus.text)::BIGINT * 10000000 + (9999999 - c.node) AS packed
  FROM comp c JOIN corpus ON corpus.doc_id = c.node
),
cluster_surv AS (
  SELECT CAST((9999999 - MAX(packed) % 10000000) % {BASE_MOD} AS BIGINT) AS base
  FROM scored_surv GROUP BY component
),
singles AS (
  SELECT CAST(doc_id % {BASE_MOD} AS BIGINT) AS base FROM corpus
  WHERE doc_id NOT IN (SELECT node FROM comp)
),
surv AS (
  SELECT DISTINCT base FROM (
    SELECT base FROM cluster_surv UNION ALL SELECT base FROM singles
  )
),
{_pq_oracle_ctes()},
vscore AS (
  SELECT c.vec_id AS doc_id, {_PQ_ADC} AS approx
  FROM codes_l c
  JOIN surv s ON c.vec_id = s.base
  JOIN lut l ON l.q_id = {RRF_QVEC_ID}
  WHERE c.vec_id <> {RRF_QVEC_ID}
),
vrank AS (
  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY approx, doc_id) AS BIGINT) AS vr
  FROM vscore QUALIFY vr <= {RRF_TIER_N}
),
tscore AS (
  SELECT tok_t.doc_id, COUNT(*)::BIGINT AS hits
  FROM (SELECT doc_id, unnest({portable.tokens('text', 'duck')}) AS tok
        FROM documents) tok_t
  JOIN surv s ON tok_t.doc_id = s.base
  WHERE tok IN {_RRF_TERMS_DU}
  GROUP BY tok_t.doc_id
),
trank AS (
  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY hits DESC, doc_id) AS BIGINT) AS tr
  FROM tscore QUALIFY tr <= {RRF_TIER_N}
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
    tags=("pipeline", "similarity", "dedup", "north-star", "retrieval"),
)
def pipeline_retrieval_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup -> survivor -> PQ index -> hybrid RRF search, end to end.

    The survivor relation is tiny (one id per stored doc at most) and
    feeds three consumers (vector-tier semi-join, lexical-tier
    semi-join, and its own distinct), so it is broadcast into both
    tiers; the coded survivor corpus never shuffles (ADC scoring is a
    map-side projection against one broadcast LUT row).
    """
    corpus, labels = _retrieval_dedup_cc(spark, sf_dir)
    surv = _retrieval_survivors(corpus, labels)
    coded, lut = _retrieval_index(spark, sf_dir, surv)
    return _retrieval_search(spark, sf_dir, coded, lut, surv)


def _retrieval_dedup_cc(spark: SparkSession, sf_dir: str):
    """Stages 1-2: near-dup candidate pairs -> connected components
    (O(log n) star rounds, round-bounded on chainy graphs)."""
    corpus = _corpus_near(spark, sf_dir)
    pairs = D.minhash_near_dup_pairs(
        corpus, "text", "doc_id",
        n_hashes=N_HASHES, bands=BANDS, k=3, jaccard_threshold=JACCARD_T,
    )
    return corpus, D.connected_components(
        pairs, hot_degree_threshold=CC_HOT_DEGREE
    )  # (node, component)


def _retrieval_survivors(corpus: DataFrame, labels: DataFrame) -> DataFrame:
    """Stage 3: longest-member survivor per cluster, resolved back to
    the stored doc id; singleton docs survive as themselves."""
    scored = labels.join(
        corpus.select(
            F.col("doc_id").alias("node"),
            (F.length("text").cast("long") * 10_000_000
             + (9_999_999 - F.col("doc_id"))).alias("packed"),
        ),
        on="node",
    )
    cluster_surv = scored.groupBy("component").agg(
        ((9_999_999 - F.max("packed") % 10_000_000) % BASE_MOD)
        .cast("long")
        .alias("base")
    ).select("base")
    singles = corpus.join(
        labels, corpus["doc_id"] == labels["node"], "left_anti"
    ).select((F.col("doc_id") % BASE_MOD).cast("long").alias("base"))
    return cluster_surv.unionByName(singles).distinct()


def _retrieval_index(spark: SparkSession, sf_dir: str, surv: DataFrame):
    """Stage 4: PQ index over the survivors only (codebook trained on
    the full embedding corpus — index metadata, one pass)."""
    emb = t(spark, sf_dir, "embeddings")
    codebook = SIM.pq_train_codebooks(emb, "vec_id", "embedding", PQ_M, PQ_K, EMB_DIM)
    surv_emb = emb.join(
        F.broadcast(surv), emb["vec_id"] == surv["base"], "left_semi"
    )
    coded = SIM.pq_encode(surv_emb, codebook, "vec_id", "embedding", PQ_M, EMB_DIM)
    lut = SIM.pq_query_luts(
        emb.where(F.col("vec_id") == RRF_QVEC_ID),
        codebook, "vec_id", "embedding", PQ_M, EMB_DIM,
    )
    return coded, lut


def _retrieval_search(
    spark: SparkSession, sf_dir: str, coded: DataFrame, lut: DataFrame, surv: DataFrame
) -> DataFrame:
    """Stage 5: ADC vector tier + lexical tier + reciprocal-rank fusion."""
    # --- stage 5a: vector tier (ADC over coded survivors) ---
    adc = (
        f"aggregate(sequence(0, {PQ_M - 1}), CAST(0 AS DOUBLE), "
        f"(acc, i) -> acc + lut[i][codes[i]])"
    )
    vscore = (
        coded.crossJoin(F.broadcast(lut))
        .where(F.col("vec_id") != RRF_QVEC_ID)
        .select(F.col("vec_id").alias("doc_id"), F.expr(adc).alias("approx"))
    )
    wv = Window.orderBy(F.col("approx"), F.col("doc_id"))
    vtop = vscore.orderBy(F.col("approx"), F.col("doc_id")).limit(RRF_TIER_N)
    vrank = vtop.withColumn("vr", F.row_number().over(wv).cast("long")).select(
        "doc_id", "vr"
    )

    # --- stage 5b: lexical tier over survivor documents ---
    docs = t(spark, sf_dir, "documents")
    sdocs = docs.join(F.broadcast(surv), docs["doc_id"] == surv["base"], "left_semi")
    toks = sdocs.select(
        "doc_id", F.explode(F.expr(portable.tokens("text", "spark"))).alias("tok")
    )
    tscore = (
        toks.where(F.col("tok").isin(*RRF_TERMS))
        .groupBy("doc_id")
        .agg(F.count("*").alias("hits"))
    )
    wt = Window.orderBy(F.desc("hits"), F.col("doc_id"))
    ttop = tscore.orderBy(F.desc("hits"), F.col("doc_id")).limit(RRF_TIER_N)
    trank = ttop.withColumn("tr", F.row_number().over(wt).cast("long")).select(
        "doc_id", "tr"
    )

    # --- stage 5c: reciprocal-rank fusion (exact integer math) ---
    fused = trank.join(vrank, on="doc_id", how="full_outer").select(
        "doc_id",
        "tr",
        "vr",
        (
            F.coalesce(F.expr(f"1000000 div ({RRF_K} + tr)"), F.lit(0))
            + F.coalesce(F.expr(f"1000000 div ({RRF_K} + vr)"), F.lit(0))
        ).alias("rrf_ppm"),
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


# ---------------------------------------------------------------------------
# Round-6 capstone #2: the UPDATE path.  pipeline_retrieval_e2e builds the
# index from scratch; this one refreshes it — dedup a new crawl against the
# base corpus, admit only the genuinely-new docs, encode them against the
# FROZEN codebook, and serve the union.

from uda_spark.queries.dedup import _INCR_ORACLE
from uda_spark.queries.similarity import _PQ_FINAL, N_QUERIES, TOP_K


@register(
    "pipeline_corpus_refresh_e2e",
    oracle=f"""
WITH verdicts AS ({_INCR_ORACLE}),
admitted AS (
  SELECT doc_id AS new_id, doc_id % 1000000 AS base_id
  FROM verdicts WHERE verdict = 'keep'
),
{_pq_oracle_ctes()},
new_codes AS (
  SELECT a.new_id AS vec_id, c.codes
  FROM codes_l c JOIN admitted a ON c.vec_id = a.base_id
),
serve AS (
  SELECT vec_id, codes FROM codes_l
  UNION ALL
  SELECT vec_id, codes FROM new_codes
),
scored AS (
  SELECT l.q_id AS query_id, c.vec_id AS neighbor_id, {_PQ_ADC} AS approx
  FROM serve c CROSS JOIN lut l
  WHERE l.q_id <> c.vec_id
)
{_PQ_FINAL}
""",
    tags=("pipeline", "dedup", "similarity", "north-star", "retrieval"),
)
def pipeline_corpus_refresh_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus refresh, end to end: a new crawl batch (exact copies, near
    copies, fresh docs) is deduped against the base corpus
    (`incremental_dedup` — digests and band triples shuffle, never
    bodies), only 'keep' verdicts are admitted, the admitted docs'
    vectors are PQ-encoded against the base-trained codebook (map-only,
    no retraining — `sim_pq_incremental_serve`'s contract), and search
    serves base ∪ admitted.  Together with `pipeline_retrieval_e2e`
    (the build path) this closes the index lifecycle: build once,
    refresh per crawl.

    Embeddings for admitted docs come from the upstream embedding job
    keyed by source doc id (modeled as the base vector of the doc the
    new id derives from); admitted docs whose source has no vector are
    not indexed — the real behavior when embedding lags the crawl.

    Scale shape: the dedup tier touches the new batch + the base
    SIGNATURE store (never base bodies); the encode tier touches only
    admitted rows against a broadcast codebook; the serve tier is the
    zero-corpus-exchange ADC scan.
    """
    admitted = _refresh_admitted(spark, sf_dir)
    codebook, serve = _refresh_serve_set(spark, sf_dir, admitted)
    return _refresh_search(spark, sf_dir, codebook, serve)


def _refresh_admitted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refresh stage 1: incremental dedup of the new crawl batch against
    the base corpus; only 'keep' verdicts are admitted."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    new_docs = (
        docs.where(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
        .unionByName(
            docs.where(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" extra extra extra")).alias("text"),
            )
        )
        .unionByName(
            docs.where(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 3_000_000).alias("doc_id"),
                F.md5(F.col("doc_id").cast("string")).alias("text"),
            )
        )
    )
    verdicts = D.incremental_dedup(
        new_docs, docs, "text", "doc_id",
        n_hashes=N_HASHES, bands=BANDS, k=3, jaccard_threshold=JACCARD_T,
    )
    return verdicts.where(F.col("verdict") == "keep").select(
        F.col("doc_id").alias("new_id"),
        (F.col("doc_id") % 1_000_000).alias("base_id"),
    )


def _refresh_serve_set(spark: SparkSession, sf_dir: str, admitted: DataFrame):
    """Refresh stage 2: encode admitted docs against the FROZEN
    base-trained codebook (map-only, no retraining) and union with the
    base codes."""
    emb = t(spark, sf_dir, "embeddings")
    codebook, coded = SIM.pq_build_index(
        emb, "vec_id", "embedding", PQ_M, PQ_K, EMB_DIM
    )
    new_codes = coded.join(
        F.broadcast(admitted), coded["c_id"] == admitted["base_id"]
    ).select(F.col("new_id").alias("c_id"), "codes")
    return codebook, coded.unionByName(new_codes)


def _refresh_search(
    spark: SparkSession, sf_dir: str, codebook: DataFrame, serve: DataFrame
) -> DataFrame:
    """Refresh stage 3: serve base ∪ admitted via the zero-corpus-
    exchange ADC scan."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    return SIM.pq_search(
        serve, codebook, queries, "vec_id", "embedding", TOP_K, PQ_M, EMB_DIM
    ).select(
        "query_id", "neighbor_id", "adc_dist", F.col("rank").cast("int").alias("rank")
    )

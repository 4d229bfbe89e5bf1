"""Streaming and multimodal pipeline queries — first-class registry
entries for the non-batch-relational modules.

Streaming queries execute a real Structured Streaming graph (readStream →
watermark → windowed/session agg → memory sink, availableNow trigger) and
return the sink table; because one availableNow pass over a static input
must equal the batch computation, the *batch* oracle SQL checks the
*streaming* result — the strongest correctness statement available for a
stream.

Multimodal queries run the blob plumbing end-to-end (binary column +
typed metadata struct → ``mapInArrow`` decode / feature extraction →
downstream relational or similarity ops).  The codec is a deterministic
stub by design (see uda_spark/multimodal/blob.py) and md5-derived on
purpose: the DuckDB oracles below recompute the synthetic decode/feature
outputs from the same md5 hex algebra, so even the Python kernels are
value-hash checked end-to-end.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from uda_spark import multimodal as MM
from uda_spark import streaming as ST
from uda_spark.functions import portable
from uda_spark.operators import dedup as D
from uda_spark.operators.sort import grouped_global_cumulative_sum
from uda_spark.queries.common import t
from uda_spark.queries.events import _DUCK_US, SESSION_GAP_S
from uda_spark.registry import register

_SINK_IDS = itertools.count()


def _sink_name(prefix: str) -> str:
    return f"{prefix}_{next(_SINK_IDS)}"


def _ev_parts(spark, sf_dir: str) -> int:
    """Scale-adaptive state-partition count for the event-stream queries
    (streaming/windows.py:scaled_state_partitions over the events input)."""
    from uda_spark.sources.tables import table_path

    return ST.scaled_state_partitions(spark, table_path(sf_dir, "events"))


# ---------------------------------------------------------------------------
# Flagship end-to-end training-data pipeline

PIPE_QMIN_PPM = 350_000  # quality floor (ppm); drops the bottom ~15%
PIPE_SAMPLE_PCT = 8  # keep hash%10 < 8 => deterministic 80% sample
_PIPE_N_HASHES, _PIPE_BANDS, _PIPE_K, _PIPE_JACCARD = 16, 4, 3, 0.4

_PIPE_DUCK_CORPUS = """
  SELECT doc_id, lang, source, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, lang, source, text
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, lang, source,
         text || ' extra extra extra' AS text
  FROM documents WHERE doc_id % 5 = 0
"""


def _pipe_oracle() -> str:
    from uda_spark.functions import text as TXT

    toks = portable.tokens("text", "duck")
    quality = TXT.quality_score_ppm("toks", "length(text)", "duck")
    fp = TXT.fingerprint("toks", "duck")
    rows_per_band = _PIPE_N_HASHES // _PIPE_BANDS
    return f"""
WITH corpus AS ({_PIPE_DUCK_CORPUS}),
tk AS (SELECT doc_id, lang, source, text, {toks} AS toks FROM corpus),
scoredq AS (SELECT *, {quality} AS q_ppm FROM tk),
filt AS (SELECT * FROM scoredq WHERE q_ppm >= {PIPE_QMIN_PPM}),
kept AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM filt
  ) WHERE rn = 1
),
sh AS (SELECT doc_id, {portable.shingles('toks', _PIPE_K, 'duck')} AS shingles FROM kept),
sig AS (SELECT doc_id,
               {portable.minhash_sig_duck('shingles', _PIPE_N_HASHES)} AS sig,
               list_distinct(shingles) AS sset
        FROM sh),
banded AS (
  SELECT doc_id, b,
         md5(array_to_string(list_slice(sig, b * {rows_per_band} + 1, b * {rows_per_band} + {rows_per_band}), '|')) AS bh
  FROM sig, range(0, {_PIPE_BANDS}) r(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b
  FROM (SELECT doc_a, doc_b,
               len(list_filter(sa.sset, x -> list_contains(sb.sset, x))) AS n_inter,
               len(sa.sset) AS na, len(sb.sset) AS nb
        FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b)
  WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= CAST({_PIPE_JACCARD * 10:.0f} AS DOUBLE) / 10
),
surv AS (
  SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
),
samp AS (
  SELECT * FROM surv
  WHERE {portable.hash60("'smp|' || doc_id::VARCHAR", 'duck')} % 10 < {PIPE_SAMPLE_PCT}
)
SELECT lang, source, COUNT(*)::BIGINT AS n_docs,
       SUM(len(toks))::BIGINT AS sum_tokens,
       SUM(q_ppm)::BIGINT AS sum_quality_ppm,
       bit_xor({TXT.fingerprint('toks', 'duck')}) AS fp_xor
FROM samp GROUP BY lang, source
"""


@register(
    "pipeline_training_data",
    oracle=_pipe_oracle(),
    tags=("pipeline", "dedup", "text", "north-star"),
)
def pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end LLM training-data pipeline in ONE declarative
    DataFrame chain — the composite every large-scale corpus build runs:

      1. quality + language scoring (map-side HOFs, zero shuffle),
      2. quality filter (floor at {PIPE_QMIN_PPM} ppm),
      3. exact dedup (min doc_id per content digest — one digest shuffle),
      4. near-dup removal via MinHash banding (drop the later doc of each
         verified pair; greedy pairwise rule, the cluster-canonical
         variant is dedup_cluster_canonical),
      5. deterministic 80% hash sample (reproducible splits, no RNG),
      6. per-(lang, source) corpus stats incl. a fingerprint XOR that
         pins the exact surviving content, not just counts.

    Every stage is engine-portable, so the DuckDB oracle replays the
    whole pipeline and value-hashes the result.  Scale: stages 1-2 and 5
    are map-only; 3 shuffles digests; 4 is the banded LSH exchange
    (never all-pairs); 6 is a tiny agg.  Corpus = documents + injected
    exact copies + near-dup perturbations so every stage provably bites.
    """
    from uda_spark.functions import text as TXT

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    copies = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "lang", "source", "text"
    )
    near = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        "lang",
        "source",
        F.concat(F.col("text"), F.lit(" extra extra extra")).alias("text"),
    )
    corpus = docs.unionByName(copies).unionByName(near)

    toks = portable.tokens("text", "spark")
    quality = TXT.quality_score_ppm("toks", "length(text)", "spark")
    scored = corpus.withColumn("toks", F.expr(toks)).withColumn(
        "q_ppm", F.expr(quality)
    )
    filt = scored.where(F.col("q_ppm") >= PIPE_QMIN_PPM)

    w_digest = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    kept = (
        filt.withColumn("_rn", F.row_number().over(w_digest))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )

    pairs = D.minhash_near_dup_pairs(
        kept.select("doc_id", "text"),
        "text",
        "doc_id",
        n_hashes=_PIPE_N_HASHES,
        bands=_PIPE_BANDS,
        k=_PIPE_K,
        jaccard_threshold=_PIPE_JACCARD,
    )
    drop = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    surv = kept.join(drop, on="doc_id", how="left_anti")

    keep_hash = portable.hash60("concat('smp|', CAST(doc_id AS STRING))", "spark")
    samp = surv.where(F.expr(f"pmod({keep_hash}, 10) < {PIPE_SAMPLE_PCT}"))

    fp = TXT.fingerprint("toks", "spark")
    return samp.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("toks")).alias("sum_tokens"),
        F.sum("q_ppm").alias("sum_quality_ppm"),
        F.expr(f"bit_xor({fp})").alias("fp_xor"),
    )


@register(
    "streaming_hourly_rollup",
    oracle=f"""
SELECT ({_DUCK_US} // 3600000000) * 3600 AS bucket_epoch,
       event_type,
       COUNT(*)::BIGINT AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("streaming", "window", "aggregation"),
)
def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed counts over the event *stream* — executed
    as a real streaming query (watermarked state store, availableNow) and
    checked against the batch SQL oracle.

    Scale shape: state is O(open windows × types); the watermark closes
    and evicts windows 2 h behind the max event time, so an unbounded
    stream runs in bounded memory.
    """
    ev = ST.events_file_stream(spark, sf_dir)
    result = ST.hourly_counts_stream(ev)
    return ST.run_stream_to_memory(
        result, _sink_name("hourly_sink"), state_partitions=_ev_parts(spark, sf_dir)
    )


@register(
    "streaming_sessionize",
    oracle=f"""
WITH base AS (
  SELECT user_id, event_id, {_DUCK_US} AS ts_us FROM events
),
flagged AS (
  SELECT user_id, event_id, ts_us,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w >= {SESSION_GAP_S} * 1000000
              THEN 1 ELSE 0 END AS new_s
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
sess AS (
  SELECT user_id, ts_us,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id,
       COUNT(*)::BIGINT AS n_events,
       min(ts_us) // 1000000 AS session_start,
       max(ts_us) // 1000000 AS session_end
FROM sess GROUP BY user_id, session_id
""",
    tags=("streaming", "session", "window"),
)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30-min gap) over the event stream,
    checked against the batch gap-sessionization oracle.

    Note the boundary rule: ``session_window`` starts a new session when
    the gap is >= the gap duration (window end is exclusive), so the
    oracle uses >= — the batch events_sessionize query documents the
    strict-> variant of the same rule.
    """
    ev = ST.events_file_stream(spark, sf_dir)
    result = ST.sessionize_stream(ev, gap_seconds=SESSION_GAP_S)
    return ST.run_stream_to_memory(
        result, _sink_name("session_sink"), state_partitions=_ev_parts(spark, sf_dir)
    )


@register(
    "streaming_sliding_rollup",
    oracle=f"""
WITH ev AS (
  SELECT event_type, {_DUCK_US} // 3600000000 AS h, value FROM events
),
expanded AS (
  SELECT event_type, (h - k) AS ws, value FROM ev, range(0, 2) r(k)
)
SELECT ws * 3600 AS window_epoch, event_type,
       COUNT(*)::BIGINT AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM expanded GROUP BY 1, 2
""",
    tags=("streaming", "window", "aggregation"),
)
def streaming_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2-hour/1-hour windowed rollup over the event STREAM — the
    overlapping-window (moving aggregate) shape: every event lands in
    duration/slide = 2 windows.  The batch oracle expands each event to
    its two member windows (hour h -> starts h-1 and h, matching Spark's
    slide-aligned window starts) and must equal the one-pass streaming
    result."""
    ev = ST.events_file_stream(spark, sf_dir)
    result = ST.sliding_counts_stream(ev, duration="2 hours", slide="1 hour")
    return ST.run_stream_to_memory(
        result, _sink_name("sliding_sink"), state_partitions=_ev_parts(spark, sf_dir)
    )


@register(
    "streaming_running_totals",
    oracle="""
SELECT user_id, COUNT(*)::BIGINT AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY user_id
""",
    tags=("streaming", "stateful"),
)
def streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    (count, value-total) across triggers — the arbitrary-state escape
    hatch for operators session/tumbling windows can't express.

    The state accumulates exact integer cents (order-independent), and
    update mode emits one row per key per trigger, so the FINAL row per
    user (the one with the highest running count) must equal the batch
    aggregate — that is the oracle.  The final-row filter is a window
    over the tiny sink table, not the stream.
    """
    from uda_spark.streaming.stateful import running_totals_stream

    ev = ST.events_file_stream(spark, sf_dir)
    result = running_totals_stream(ev)
    sink = ST.run_stream_to_memory(
        result, _sink_name("running_sink"), mode="update",
        state_partitions=_ev_parts(spark, sf_dir),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        sink.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


@register(
    "multimodal_frame_sample",
    oracle=f"""
WITH b AS (
  SELECT doc_id, md5(CAST(text AS VARCHAR)) || md5('x' || CAST(text AS VARCHAR)) AS bhex
  FROM documents WHERE doc_id < 200
),
-- blob is 32 bytes; 4 frames => step 8 bytes = 16 hex chars per frame
frames AS (
  SELECT doc_id, f AS frame_no, substr(bhex, f * 16 + 1, 16) AS fhex
  FROM b, range(0, 4) r(f)
)
SELECT doc_id, frame_no::INT AS frame_no,
       {portable.hash60('fhex', 'duck')} AS frame_fp
FROM frames
""",
    tags=("multimodal", "north-star"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling: each blob fans out to 4 equally-spaced
    frame chunks via mapInArrow (one row in → n rows out, still
    map-only; ffmpeg would replace the byte-slicing stub).  Each frame's
    fingerprint is ``portable.hash60`` over its lower-case hex in SQL,
    and the oracle recomputes it from the same hex algebra — fan-out
    plumbing is value-hash checked."""
    docs = t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    blobs = MM.attach_blob_column(docs, "text", "doc_id")
    frames = MM.sample_frames(blobs, n_frames=4, id_col="doc_id")
    return frames.select(
        F.col("id").alias("doc_id"),
        "frame_no",
        F.expr(portable.hash60("lower(hex(frame))", "spark")).alias("frame_fp"),
    )


@register(
    "streaming_foreachbatch_sink",
    oracle="""
SELECT user_id, COUNT(*)::BIGINT AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents
FROM events GROUP BY user_id
""",
    tags=("streaming", "sink", "io"),
)
def streaming_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production streaming SINK path: foreachBatch lands every
    micro-batch in parquet under ``epoch=<id>`` with per-epoch dynamic
    OVERWRITE — the idempotent exactly-once-per-epoch pattern (a task
    retry rewrites its epoch directory instead of double-appending).
    The memory sinks used elsewhere are test harness conveniences; this
    query exercises the real durable path end-to-end: stream → batch
    writer → storage → scan → aggregate, checked against the batch
    oracle."""
    import os

    from uda_spark.cache import scratch_dir

    root = scratch_dir("uda_fb_sink")
    path, ckpt = os.path.join(root, "sink"), os.path.join(root, "ckpt")

    ev = ST.events_file_stream(spark, sf_dir).select(
        "user_id",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS LONG)").alias("cents"),
    )

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(os.path.join(path, f"epoch={epoch_id}"))

    q = (
        ev.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    landed = spark.read.option("basePath", path).parquet(path + "/epoch=*")
    return landed.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("cents").alias("total_cents")
    )


PACK_CONTEXT_TOKENS = 2048
PACK_SHARDS = 4


@register(
    "pipeline_sequence_packing",
    oracle=f"""
WITH tk AS (
  SELECT doc_id, lang,
         len({portable.tokens('text', 'duck')}) AS n_tokens,
         {portable.hash60("'shard|' || doc_id::VARCHAR", 'duck')} % {PACK_SHARDS} AS shard
  FROM documents
),
packed AS (
  SELECT lang, shard, doc_id, n_tokens,
         (SUM(n_tokens) OVER w - n_tokens) // {PACK_CONTEXT_TOKENS} AS bin_id
  FROM tk
  WINDOW w AS (PARTITION BY lang, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT lang, shard::INT AS shard, bin_id::BIGINT AS bin_id,
       COUNT(*)::BIGINT AS n_docs, SUM(n_tokens)::BIGINT AS sum_tokens,
       bit_xor({portable.hash60("'p|' || doc_id::VARCHAR", 'duck')}) AS member_fp
FROM packed GROUP BY lang, shard, bin_id
""",
    tags=("pipeline", "text", "north-star"),
)
def pipeline_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: assign documents to
    fixed-budget context bins ({PACK_CONTEXT_TOKENS} tokens) by a running
    token cumsum — bin = floor(start_offset / budget), the contiguous
    greedy packing every pretraining data loader performs up front.

    Scale: packing is sequential BY DESIGN within a stream, so the
    parallelism knob is sharding — docs are hash-split into
    {PACK_SHARDS} deterministic shards per language and packed within
    (lang, shard); each shard's window is an independent partition, so
    1000 executors pack 1000 streams concurrently.  A per-bin member
    fingerprint (xor of doc-id hashes) pins exact membership in the
    oracle, not just counts.
    """
    toks = portable.tokens("text", "spark")
    shard_h = portable.hash60("concat('shard|', CAST(doc_id AS STRING))", "spark")
    tk = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.expr(toks)).alias("n_tokens"),
        F.expr(f"pmod({shard_h}, {PACK_SHARDS})").cast("int").alias("shard"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = tk.withColumn(
        "_start", (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long")
    ).withColumn("bin_id", F.expr(f"_start div {PACK_CONTEXT_TOKENS}"))
    member_h = portable.hash60("concat('p|', CAST(doc_id AS STRING))", "spark")
    return packed.groupBy("lang", "shard", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.expr(f"bit_xor({member_h})").alias("member_fp"),
    )


# Oracle-side algebra for the deterministic multimodal codec stubs
# (multimodal/blob.py): blob hex, salted hash60 dims, md5-expanded pixel
# buffer, md5-byte feature vector — all recomputable in DuckDB.
_MM_BHEX = "md5(CAST(text AS VARCHAR)) || md5('x' || CAST(text AS VARCHAR))"
_MM_HEXDIG = "'0123456789abcdef'"


def _mm_byte(fh: str, i: int) -> str:
    """DuckDB value of byte ``i`` (0-based) of hex string ``fh``."""
    return (
        f"((strpos({_MM_HEXDIG}, substr({fh}, {2 * i + 1}, 1)) - 1) * 16 + "
        f"(strpos({_MM_HEXDIG}, substr({fh}, {2 * i + 2}, 1)) - 1))"
    )


@register(
    "multimodal_decode_stats",
    oracle=f"""
WITH b AS (SELECT {_MM_BHEX} AS bhex FROM documents),
m AS (SELECT bhex,
        1 + {portable.hash60('bhex', 'duck')} % 1919 AS w,
        1 + {portable.hash60("'h|' || bhex", 'duck')} % 1079 AS h
      FROM b),
d AS (SELECT w, h,
        {portable.hash60("substr(repeat(md5(bhex), (2 * w * h) // 32 + 1), 1, 2 * w * h)", 'duck')} AS fp
      FROM m)
SELECT (w % 16)::INT AS width_bucket, COUNT(*)::BIGINT AS n_images,
       SUM(w::BIGINT * h)::BIGINT AS total_pixels,
       COUNT(DISTINCT fp)::BIGINT AS distinct_payloads
FROM d GROUP BY 1
""",
    tags=("multimodal", "north-star"),
)
def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob decode pipeline: documents → synthesized binary blobs + typed
    metadata → mapInArrow decode → per-dimension-bucket stats.  Map-only
    until the final tiny aggregation; blobs never shuffle.

    The decode runs in Python (where a real codec would go), but its
    stub output is md5-derived, so the oracle recomputes the identical
    pixel fingerprints in SQL — the Arrow kernel itself is value-hash
    checked, not just row-counted.
    """
    docs = t(spark, sf_dir, "documents")
    blobs = MM.attach_blob_column(docs, "text", "doc_id")
    decoded = MM.decode_images(blobs, id_col="doc_id")
    return (
        decoded.groupBy((F.col("width") % 16).alias("width_bucket"))
        .agg(
            F.count("*").alias("n_images"),
            F.sum(F.col("width").cast("long") * F.col("height")).alias("total_pixels"),
            F.countDistinct("pixels_fp").alias("distinct_payloads"),
        )
    )


_MM_FEATURE_VEC = "[" + ", ".join(
    f"{_mm_byte('fh', i)} * 1000000" for i in range(8)
) + "]"


@register(
    "multimodal_feature_knn",
    oracle=f"""
WITH b AS (SELECT doc_id, {_MM_BHEX} AS bhex FROM documents WHERE doc_id < 100),
f AS (SELECT doc_id, md5(bhex) AS fh FROM b),
vec AS (SELECT doc_id, {_MM_FEATURE_VEC} AS v FROM f),
n AS (SELECT doc_id, v, {portable.int_dot('v', 'v', 'duck')} AS nsq FROM vec),
scored AS (
  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
         round({portable.cosine_from_ints(portable.int_dot('q.v', 'c.v', 'duck'), 'q.nsq', 'c.nsq')}, 6)
           AS score
  FROM n q JOIN n c ON q.doc_id < 10 AND q.doc_id <> c.doc_id
)
SELECT query_id, neighbor_id, score, CAST(rnk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
      FROM scored)
WHERE rnk <= 3
""",
    tags=("multimodal", "similarity", "north-star"),
)
def multimodal_feature_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal similarity: blobs → feature vectors (stubbed
    vision encoder via mapInArrow) → exact cosine top-3 neighbors for the
    first 10 items.  Demonstrates the binary-column → embedding-column →
    similarity-operator composition on real Spark plumbing; the md5-byte
    stub features let the oracle rebuild the same vectors and rankings.
    """
    from uda_spark.operators import similarity as SIM

    docs = t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    blobs = MM.attach_blob_column(docs, "text", "doc_id")
    feats = MM.extract_features(blobs, id_col="doc_id").select(
        F.col("id").alias("doc_id"), "embedding"
    )
    queries = feats.where(F.col("doc_id") < 10)
    out = SIM.knn_bruteforce(feats, queries, "doc_id", "embedding", top_k=3)
    return out.select(
        "query_id", "neighbor_id", "score", F.col("rank").cast("int").alias("rank")
    )


@register(
    "streaming_distinct_users",
    oracle="SELECT DISTINCT user_id FROM events",
    tags=("streaming", "dedup"),
)
def streaming_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: dropDuplicates over the event stream —
    first arrival wins, later duplicates are suppressed by keyed state.
    The emitted SET is order-independent, so the batch DISTINCT oracle
    checks it exactly.  Production streams bound the dedup state with
    dropDuplicatesWithinWatermark; one availableNow pass has no late
    data, so the unbounded variant is exact here.
    """
    ev = ST.events_file_stream(spark, sf_dir)
    result = ev.select("user_id").dropDuplicates(["user_id"])
    return ST.run_stream_to_memory(
        result, _sink_name("distinct_sink"), mode="append",
        state_partitions=_ev_parts(spark, sf_dir),
    )


@register(
    "streaming_dedup_watermarked",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup"),
)
def streaming_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production streaming dedup: dropDuplicatesWithinWatermark — the
    BOUNDED-state variant (keyed state is evicted once the watermark
    passes, so an unbounded stream runs in bounded memory, unlike the
    unbounded dropDuplicates above).

    The oracle is exact because the watermark delay here (365 days)
    spans the whole test stream: no key's state is evicted mid-pass, so
    the emitted set equals batch DISTINCT.  Production deployments set
    the delay to the duplicate-arrival horizon; correctness then holds
    per-horizon by the same argument.
    """
    ev = ST.events_file_stream(spark, sf_dir)
    result = (
        ev.withWatermark("event_time", "365 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return ST.run_stream_to_memory(
        result, _sink_name("dedup_wm_sink"), mode="append",
        state_partitions=_ev_parts(spark, sf_dir),
    )


@register(
    "streaming_stream_stream_join",
    oracle=f"""
WITH purchases AS (
  SELECT event_id AS purchase_id, user_id, {_DUCK_US} AS p_ts_us
  FROM events WHERE event_type = 'purchase'
),
signups AS (
  SELECT event_id AS signup_id, user_id, {_DUCK_US} AS s_ts_us
  FROM events WHERE event_type = 'signup'
)
SELECT p.purchase_id, p.user_id, s.signup_id,
       (p.p_ts_us - s.s_ts_us) // 1000000 AS lag_seconds
FROM purchases p JOIN signups s
  ON p.user_id = s.user_id
 AND s.s_ts_us <= p.p_ts_us
 AND p.p_ts_us <= s.s_ts_us + 3600000000::BIGINT
""",
    tags=("streaming", "join"),
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks on both sides and a
    time-bounded condition (purchases × signups of the same user within
    the preceding hour) — state on both sides is expirable, the required
    shape for unbounded streams.  One availableNow pass equals the batch
    range join, which is the oracle.
    """
    ev1 = ST.events_file_stream(spark, sf_dir)
    ev2 = ST.events_file_stream(spark, sf_dir)
    result = ST.purchase_after_signup_stream(ev1, ev2, window_s=3600)
    return ST.run_stream_to_memory(
        result, _sink_name("ssj_sink"), mode="append",
        state_partitions=_ev_parts(spark, sf_dir),
    )


RESIZE_W, RESIZE_H = 64, 64


@register(
    "multimodal_resize_stats",
    oracle=f"""
WITH b AS (SELECT doc_id, {_MM_BHEX} AS bhex FROM documents),
m AS (SELECT doc_id, bhex,
        1 + {portable.hash60('bhex', 'duck')} % 1919 AS w,
        1 + {portable.hash60("'h|' || bhex", 'duck')} % 1079 AS h
      FROM b),
o AS (SELECT doc_id, w, h,
        substr(repeat(md5(bhex), (2 * w * h) // 32 + 1), 1, 2 * w * h) AS ohex
      FROM m),
r AS (SELECT doc_id, w, h,
        {portable.hash60(
            f"substr(repeat(md5(ohex || '|{RESIZE_W}x{RESIZE_H}'), "
            f"(2 * {RESIZE_W} * {RESIZE_H}) // 32 + 1), 1, 2 * {RESIZE_W} * {RESIZE_H})",
            'duck')} AS fp
      FROM o)
SELECT doc_id, w::INT AS src_width, h::INT AS src_height,
       CAST({RESIZE_W} AS INT) AS width, CAST({RESIZE_H} AS INT) AS height,
       fp AS pixels_fp
FROM r
""",
    tags=("multimodal", "north-star"),
)
def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob resize pipeline: documents → synthesized blobs → mapInArrow
    decode+resize to {RESIZE_W}×{RESIZE_H} → per-image resampled-buffer
    fingerprint.  Map-only, blobs never shuffle.

    The resample stub derives the target buffer deterministically from
    the source buffer + target dims (multimodal/blob.py:_fake_resize_hex),
    so the oracle recomputes the identical fingerprints in SQL — the
    Arrow kernel is value-hash checked per document.
    """
    docs = t(spark, sf_dir, "documents")
    blobs = MM.attach_blob_column(docs, "text", "doc_id")
    resized = MM.resize_images(blobs, RESIZE_W, RESIZE_H, id_col="doc_id")
    return resized.select(
        F.col("id").alias("doc_id"),
        "src_width",
        "src_height",
        "width",
        "height",
        "pixels_fp",
    )


@register(
    "streaming_enrich_static",
    oracle=f"""
SELECT ({_DUCK_US} // 3600000000) * 3600 AS bucket_epoch,
       CAST(c_nationkey AS BIGINT) AS nation_key,
       COUNT(*)::BIGINT AS n_events
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
""",
    tags=("streaming", "join", "window"),
)
def streaming_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched with the (static,
    broadcast) customer dimension, rolled up hourly per nation — executed
    as a real streaming query and checked against the batch join oracle.

    Completes the streaming join surface alongside the stream-stream
    purchase/signup join: static side re-broadcast per micro-batch (no
    join state), windowed agg state watermark-bounded.
    """
    from uda_spark.sources.tables import load_table

    ev = ST.events_file_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    result = ST.enrich_static_stream(ev, dim)
    return ST.run_stream_to_memory(
        result, _sink_name("enrich_sink"), state_partitions=_ev_parts(spark, sf_dir)
    )


STRAT_PER_SOURCE = 12  # balanced per-stratum budget


@register(
    "pipeline_stratified_sample",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY {portable.hash60("'strat|' || CAST(doc_id AS VARCHAR)", 'duck')}, doc_id
         ) AS rk
  FROM documents
)
SELECT doc_id, source, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {STRAT_PER_SOURCE}
""",
    tags=("pipeline", "north-star", "sampling"),
)
def pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced stratified sample: a deterministic, reproducible
    fixed-size draw per source — the training-mix balancing step that
    stops one crawl domain from dominating the corpus (complementing the
    corpus-wide hash%10 sample in the flagship pipeline).

    The "random" order inside each stratum is a salted hash of doc_id —
    no RNG, so the draw is identical on both engines and across reruns
    (resumable pipelines re-derive the same sample).  Scale shape: one
    exchange on source + in-partition window, and Catalyst inserts
    WindowGroupLimit on BOTH sides of the exchange (plan verified in
    PLANS.md): each input partition keeps only its local top-budget rows
    per source before shuffling, so a billion-row stratum ships
    O(partitions × budget) rows, never the stratum — no task ever sorts
    a mega-stratum.
    """
    docs = t(spark, sf_dir, "documents")
    h = portable.hash60("concat('strat|', CAST(doc_id AS STRING))", "spark")
    w = Window.partitionBy("source").orderBy(F.expr(h).asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= STRAT_PER_SOURCE)
        .select("doc_id", "source", F.col("rk").cast("int").alias("rk"))
    )


CMS_D = 4
CMS_W = 256
CMS_TOP = 20

_CMS_UB_DUCK = (
    "(" + portable.hash60(
        "'cms' || CAST({d} AS VARCHAR) || '|' || CAST({uid} AS VARCHAR)", "duck"
    ) + f") % {CMS_W}"
)


@register(
    "streaming_cms_user_sketch",
    oracle=f"""
WITH occ AS (SELECT user_id, d FROM events, range(0, {CMS_D}) r(d)),
sketch AS (
  SELECT d, {_CMS_UB_DUCK.format(d='d', uid='user_id')} AS bucket, COUNT(*)::BIGINT AS c
  FROM occ GROUP BY 1, 2
),
exact AS (SELECT user_id, COUNT(*)::BIGINT AS exact_n FROM events GROUP BY user_id),
top AS (SELECT user_id, exact_n FROM exact ORDER BY exact_n DESC, user_id LIMIT {CMS_TOP}),
est0 AS (
  SELECT t.user_id, t.exact_n, r.d,
         {_CMS_UB_DUCK.format(d='r.d', uid='t.user_id')} AS bucket
  FROM top t, range(0, {CMS_D}) r(d)
),
est AS (
  SELECT e.user_id, e.exact_n, MIN(s.c)::BIGINT AS cms_n
  FROM est0 e JOIN sketch s ON s.d = e.d AND s.bucket = e.bucket
  GROUP BY e.user_id, e.exact_n
)
SELECT user_id, exact_n, cms_n, (cms_n - exact_n)::BIGINT AS overcount FROM est
""",
    tags=("streaming", "sketch", "north-star"),
)
def streaming_cms_user_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch maintained BY THE STREAM: each micro-batch
    increments the (row, bucket) counter grid, so streaming state is
    bounded at d×w = 1,024 counters FOREVER — heavy-hitter tracking
    over an unbounded key domain with O(1) memory, where exact
    per-key streaming counts (streaming_running_totals) grow state with
    the key universe.

    The sketch aggregation runs as a real Structured Streaming query
    (complete mode, availableNow); estimation then reads the streamed
    sketch and compares the top-20 users' estimates against exact batch
    counts — value-hash checked via the batch oracle, one-sided error
    included.
    """
    ev = ST.events_file_stream(spark, sf_dir)
    bucket = (
        "("
        + portable.hash60(
            "concat('cms', CAST(d AS STRING), '|', CAST(user_id AS STRING))", "spark"
        )
        + f") % {CMS_W}"
    )
    sk_stream = ST.cms_sketch_stream(ev, d=CMS_D, w=CMS_W)
    sketch = ST.run_stream_to_memory(
        sk_stream, _sink_name("cms_sketch_sink"),
        state_partitions=_ev_parts(spark, sf_dir),
    )
    exact = t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count("*").alias("exact_n")
    )
    top = exact.orderBy(F.desc("exact_n"), "user_id").limit(CMS_TOP)
    est0 = top.select(
        "user_id", "exact_n", F.explode(F.expr(f"sequence(0, {CMS_D - 1})")).alias("d")
    ).select("user_id", "exact_n", "d", F.expr(bucket).alias("bucket"))
    est = (
        est0.join(F.broadcast(sketch), on=["d", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").alias("cms_n"))
    )
    return est.select(
        "user_id",
        "exact_n",
        "cms_n",
        (F.col("cms_n") - F.col("exact_n")).alias("overcount"),
    )


SCENE_FRAMES = 8  # 32-byte blob -> 8 frames of 4 bytes (8 hex chars)
SCENE_HAMMING_T = 30  # >= half the 60 fingerprint bits flipped


@register(
    "multimodal_scene_changes",
    oracle=f"""
WITH b AS (
  SELECT doc_id, md5(CAST(text AS VARCHAR)) || md5('x' || CAST(text AS VARCHAR)) AS bhex
  FROM documents WHERE doc_id < 100
),
frames AS (
  SELECT doc_id, f AS frame_no,
         {portable.hash60("substr(bhex, f * 8 + 1, 8)", 'duck')} AS fp
  FROM b, range(0, {SCENE_FRAMES}) r(f)
),
seq AS (
  SELECT doc_id, frame_no, fp,
         LAG(fp) OVER (PARTITION BY doc_id ORDER BY frame_no) AS prev_fp
  FROM frames
)
SELECT doc_id, CAST(frame_no AS INT) AS frame_no,
       CAST(bit_count(xor(fp, prev_fp)) AS INT) AS hamming,
       (bit_count(xor(fp, prev_fp)) >= {SCENE_HAMMING_T}) AS is_scene_change
FROM seq WHERE prev_fp IS NOT NULL
""",
    tags=("multimodal", "north-star", "window"),
)
def multimodal_scene_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-change detection on sampled video frames: consecutive frame
    fingerprints compared by Hamming distance, a change flagged when at
    least half the bits flip — the shot-boundary primitive that decides
    which frames of a video corpus are worth decoding/captioning.

    Pipeline shape: blob → mapInArrow frame fan-out (map-only; ffmpeg
    would replace the byte-slicing stub) → per-frame ``portable.hash60``
    fingerprint in SQL → one tiny window per video (state = previous
    frame fingerprint).  The stub codec's hex algebra lets the oracle
    recompute identical fingerprints, so the Python fan-out AND the
    JVM-side sequential comparison are value-hash checked together.
    """
    docs = t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    blobs = MM.attach_blob_column(docs, "text", "doc_id")
    frames = MM.sample_frames(blobs, n_frames=SCENE_FRAMES, id_col="doc_id")
    fps = frames.select(
        F.col("id").alias("doc_id"),
        "frame_no",
        F.expr(portable.hash60("lower(hex(frame))", "spark")).alias("fp"),
    )
    w = Window.partitionBy("doc_id").orderBy("frame_no")
    seq = fps.withColumn("prev_fp", F.lag("fp").over(w)).where(
        F.col("prev_fp").isNotNull()
    )
    hamming = F.expr("bit_count(fp ^ prev_fp)")
    return seq.select(
        "doc_id",
        F.col("frame_no").cast("int").alias("frame_no"),
        hamming.cast("int").alias("hamming"),
        (hamming >= SCENE_HAMMING_T).alias("is_scene_change"),
    )


SPLIT_PCT = (80, 10, 10)  # train / val / test


@register(
    "pipeline_train_val_test_split",
    oracle=f"""
WITH h AS (
  SELECT doc_id, {portable.hash60("'split|' || CAST(doc_id AS VARCHAR)", 'duck')} % 100 AS hmod,
         n_chars
  FROM documents
),
tagged AS (
  SELECT doc_id, n_chars,
         CASE WHEN hmod < {SPLIT_PCT[0]} THEN 'train'
              WHEN hmod < {SPLIT_PCT[0] + SPLIT_PCT[1]} THEN 'val'
              ELSE 'test' END AS split
  FROM h
)
SELECT split, COUNT(*)::BIGINT AS n_docs,
       SUM(n_chars)::BIGINT AS total_chars,
       CAST(SUM(doc_id % 1000003) AS BIGINT) AS member_checksum
FROM tagged GROUP BY split
""",
    tags=("pipeline", "north-star", "sampling"),
)
def pipeline_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by salted content-id
    hash — the assignment every training pipeline needs to be STABLE
    across reruns, engines, and partitionings (a random split silently
    leaks val docs into train on the next ingest; a hash split never
    moves a document between splits as the corpus grows).

    Map-only tag + tiny aggregate; the member checksum pins the exact
    assignment, not just the split sizes.
    """
    docs = t(spark, sf_dir, "documents")
    hmod = (
        "("
        + portable.hash60("concat('split|', CAST(doc_id AS STRING))", "spark")
        + ") % 100"
    )
    tagged = docs.select(
        "doc_id",
        "n_chars",
        F.when(F.expr(hmod) < SPLIT_PCT[0], "train")
        .when(F.expr(hmod) < SPLIT_PCT[0] + SPLIT_PCT[1], "val")
        .otherwise("test")
        .alias("split"),
    )
    return tagged.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.col("doc_id") % 1000003).cast("long").alias("member_checksum"),
    )


BALANCE_PPM_MOD = 1_000_000


@register(
    "pipeline_domain_balance",
    oracle=f"""
WITH cnt AS (SELECT source, COUNT(*)::BIGINT AS n_docs FROM documents GROUP BY source),
m AS (SELECT MIN(n_docs)::BIGINT AS min_docs FROM cnt),
rate AS (
  SELECT source, n_docs,
         CAST((SELECT min_docs FROM m) * {BALANCE_PPM_MOD} // n_docs AS BIGINT) AS rate_ppm
  FROM cnt
),
tagged AS (
  SELECT d.source, r.n_docs, r.rate_ppm,
         CASE WHEN {portable.hash60("'bal|' || CAST(doc_id AS VARCHAR)", 'duck')}
                   % {BALANCE_PPM_MOD} < r.rate_ppm
              THEN 1 ELSE 0 END AS keep,
         d.doc_id
  FROM documents d JOIN rate r USING (source)
)
SELECT source, n_docs, rate_ppm,
       SUM(keep)::BIGINT AS n_sampled,
       CAST(SUM(CASE WHEN keep = 1 THEN doc_id % 1000003 ELSE 0 END) AS BIGINT)
         AS member_checksum
FROM tagged GROUP BY source, n_docs, rate_ppm
""",
    tags=("pipeline", "north-star", "sampling"),
)
def pipeline_domain_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-based domain balancing: downsample every source to (about)
    the size of the smallest one by per-source acceptance RATES — the
    mixture-weighting step of a training-data pipeline expressed the way
    it must be at 100 TB: no per-stratum window, no global sort, just a
    per-row salted-hash threshold test against a tiny broadcast rate
    table (contrast `pipeline_stratified_sample`, which draws an exact
    fixed budget via a window and pays an exchange for it).

    Acceptance is ``hash60('bal|' || doc_id) % 1e6 < rate_ppm`` with
    ``rate_ppm = min_count * 1e6 div n_source`` — pure integer
    arithmetic, so the sample is deterministic, engine-identical, and
    STABLE under corpus growth within a source (a document flips only
    when its source's rate changes).  The member checksum pins the exact
    membership, not just the sizes.

    Scale shape: one count aggregate (tiny), broadcast of the per-source
    rates back onto the corpus, map-side filter + tiny final aggregate —
    the corpus is scanned once and never shuffled.
    """
    docs = t(spark, sf_dir, "documents")
    cnt = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    min_docs = cnt.agg(F.min("n_docs")).collect()[0][0]
    rate = cnt.select(
        "source",
        "n_docs",
        F.expr(f"CAST({min_docs} * {BALANCE_PPM_MOD} div n_docs AS BIGINT)").alias(
            "rate_ppm"
        ),
    )
    h = portable.hash60("concat('bal|', CAST(doc_id AS STRING))", "spark")
    tagged = docs.join(F.broadcast(rate), on="source").select(
        "source",
        "n_docs",
        "rate_ppm",
        F.when(F.expr(h) % BALANCE_PPM_MOD < F.col("rate_ppm"), 1)
        .otherwise(0)
        .alias("keep"),
        "doc_id",
    )
    return tagged.groupBy("source", "n_docs", "rate_ppm").agg(
        F.sum("keep").cast("long").alias("n_sampled"),
        F.sum(F.when(F.col("keep") == 1, F.col("doc_id") % 1000003).otherwise(0))
        .cast("long")
        .alias("member_checksum"),
    )


EPOCH_SEED = 7
EPOCH_SHARDS = 8


@register(
    "pipeline_epoch_shuffle",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id,
         md5('epoch{EPOCH_SEED}|' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
         CAST({portable.hash60("'shard" + str(EPOCH_SEED) + "|' || CAST(doc_id AS VARCHAR)", 'duck')}
              % {EPOCH_SHARDS} AS INT) AS shard
  FROM documents
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY shuffle_key, doc_id) AS BIGINT)
         AS pos
FROM keyed
""",
    tags=("pipeline", "north-star", "sampling"),
)
def pipeline_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: assign every document a shard and a
    position within that shard from a seeded hash — the global
    training-order shuffle that must be reproducible (resume a crashed
    epoch at the same order) and seed-parameterized (epoch N+1 is a
    different permutation: bump ``EPOCH_SEED``).

    Scale shape: ONE exchange keyed on shard, then an in-partition sort
    by the md5 shuffle key — each shard's order is derived locally, so
    the global permutation costs exactly one shuffle of (doc_id, key)
    pairs, never a global sort.  Shard count is the downstream reader
    parallelism (data-loader workers); within-shard order is the md5 of
    a seeded salt, bytewise-identical across engines, with doc_id as the
    collision tiebreak.
    """
    docs = t(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(F.concat(F.lit(f"epoch{EPOCH_SEED}|"), F.col("doc_id").cast("string"))).alias(
            "shuffle_key"
        ),
        (
            F.expr(
                portable.hash60(
                    f"concat('shard{EPOCH_SEED}|', CAST(doc_id AS STRING))", "spark"
                )
            )
            % EPOCH_SHARDS
        )
        .cast("int")
        .alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return keyed.select(
        "doc_id", "shard", F.row_number().over(w).cast("long").alias("pos")
    )


WSAMPLE_K = 32


@register(
    "pipeline_weighted_sample",
    oracle=f"""
WITH pri AS (
  SELECT doc_id, source, n_chars,
         CAST(floor(
           ln(({portable.hash60("'wsamp|' || CAST(doc_id AS VARCHAR)", 'duck')} + 1)
              / 1152921504606846976.0)
           / n_chars * 1000000000 + 0.5) AS BIGINT) AS priority_nano
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, source, n_chars, priority_nano, CAST(rk AS INT) AS rk
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY priority_nano DESC, doc_id) AS rk
      FROM pri)
WHERE rk <= {WSAMPLE_K}
""",
    tags=("pipeline", "north-star", "sampling"),
)
def pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    priority sampling): each document draws priority ln(u)/w from a
    salted-hash uniform u and weight w = n_chars; the global top-k by
    priority IS a weight-proportional sample — the draw a token-budget-
    aware mixer needs (long documents are more of the training budget,
    so they must be proportionally likelier per draw).

    Determinism discipline: u derives from the 60-bit doc hash
    ((h+1)/2^60 — never 0), the priority is quantized to integer
    nano-units via the repo's floor(x*1e9 + 1/2) convention (same
    rounding-then-order pattern as tfidf), and ties break on doc_id —
    reruns, engines, and partitionings all draw the identical sample.

    Scale shape: map-side priority + TakeOrderedAndProject top-k (the
    same partial-then-final merge as `topk_orders`) — no global sort,
    no per-stratum window; the full relation never shuffles, only each
    partition's local top-k candidates.
    """
    h = portable.hash60("concat('wsamp|', CAST(doc_id AS STRING))", "spark")
    pri = (
        t(spark, sf_dir, "documents")
        .where(F.col("n_chars") > 0)
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.expr(
                f"CAST(floor(ln((({h}) + 1) / 1152921504606846976.0)"
                " / n_chars * 1000000000 + 0.5) AS BIGINT)"
            ).alias("priority_nano"),
        )
    )
    # TakeOrderedAndProject top-k first (partial per-partition top-k +
    # merge — the full relation never hits one task); the rank window
    # then runs over only the K surviving rows.
    top = pri.orderBy(F.desc("priority_nano"), F.col("doc_id")).limit(WSAMPLE_K)
    w = Window.orderBy(F.desc("priority_nano"), F.col("doc_id"))
    return top.withColumn("rk", F.row_number().over(w).cast("int"))


_MM_AHASH_BITS = " + ".join(
    f"(CASE WHEN 16 * ({_mm_byte('fh', i)}) >= bsum THEN {1 << i} ELSE 0 END)"
    for i in range(16)
)
_MM_BSUM = " + ".join(f"({_mm_byte('fh', i)})" for i in range(16))


@register(
    "multimodal_phash_near_dup",
    oracle=f"""
WITH b AS (SELECT doc_id, {_MM_BHEX} AS bhex FROM documents),
f AS (SELECT doc_id, md5(bhex) AS fh FROM b),
sums AS (SELECT doc_id, fh, {_MM_BSUM} AS bsum FROM f),
ah AS (SELECT doc_id, CAST({_MM_AHASH_BITS} AS INT) AS ahash FROM sums),
halves AS (SELECT doc_id, ahash, ahash % 256 AS lo, ahash // 256 AS hi FROM ah),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.ahash AS ha, b.ahash AS hb
  FROM halves a JOIN halves b
    ON (a.lo = b.lo OR a.hi = b.hi) AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 1
""",
    tags=("multimodal", "dedup", "north-star"),
)
def multimodal_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate image pairs: 16-bit average-hash per
    blob (mapInArrow over the stub codec —
    multimodal/blob.py:ahash_images), then hamming <= 1 pairs found by
    the pigeonhole band trick (hamming <= 1 means at least one 8-bit
    half matches exactly) — the image twin of SimHash text dedup,
    completing the dedup story across modalities.

    Scale shape: the hash is map-only over blobs (bodies never
    shuffle — 2 ints per image leave the scan); candidates come from
    two half-key equi-joins, never an all-pairs pass; verification is
    one integer xor/bit_count per candidate.  A real codec changes
    only the region averaging inside the kernel, not the plan.
    """
    docs = t(spark, sf_dir, "documents")
    blobs = MM.attach_blob_column(docs, "text", "doc_id")
    ah = MM.ahash_images(blobs, id_col="doc_id").select(
        F.col("id").alias("doc_id"),
        "ahash",
        (F.col("ahash") % 256).alias("lo"),
        F.expr("ahash div 256").alias("hi"),
    )
    a, b = ah.alias("a"), ah.alias("b")
    cand = (
        a.join(
            b,
            on=F.expr(
                "(a.lo = b.lo OR a.hi = b.hi) AND a.doc_id < b.doc_id"
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.ahash").alias("ha"),
            F.col("b.ahash").alias("hb"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.expr("CAST(bit_count(ha ^ hb) AS INT)").alias("hamming"),
    ).where(F.col("hamming") <= 1)


@register(
    "pipeline_shard_manifest",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, n_chars,
         CAST({portable.hash60("'shard" + str(EPOCH_SEED) + "|' || CAST(doc_id AS VARCHAR)", 'duck')}
              % {EPOCH_SHARDS} AS INT) AS shard
  FROM documents
)
SELECT shard, COUNT(*)::BIGINT AS n_docs,
       SUM(n_chars)::BIGINT AS total_chars,
       bit_xor({portable.hash60("CAST(doc_id AS VARCHAR)", 'duck')}) AS member_fp
FROM keyed GROUP BY shard
""",
    tags=("pipeline", "io", "north-star", "sampling"),
)
def pipeline_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard export with a verified manifest: assign documents
    to shards (the epoch-shuffle hash), WRITE them as a shard-
    partitioned parquet dataset (directory per shard — the layout a
    data-loader fleet mounts, one worker per shard), then read the
    dataset BACK and emit one manifest row per shard (count, size,
    membership fingerprint).

    The manifest is computed from the round-tripped files, not the
    in-memory frame, so what is value-hash checked is the exported
    artifact itself — count drift, lost rows, or partition
    misassignment in the sink all surface as a checksum mismatch.
    Reading back through a `shard = k` filter prunes to single
    directories (asserted for this layout family in
    tests/test_operators.py zorder/partition suites).
    """
    from uda_spark.cache import scratch_dir
    from uda_spark.sources.formats import write_parquet

    path = scratch_dir("uda_shards")
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        (
            F.expr(
                portable.hash60(
                    f"concat('shard{EPOCH_SEED}|', CAST(doc_id AS STRING))", "spark"
                )
            )
            % EPOCH_SHARDS
        )
        .cast("int")
        .alias("shard"),
    )
    write_parquet(docs, path, partition_by=("shard",))
    back = spark.read.parquet(path)
    fp = portable.hash60("CAST(doc_id AS STRING)", "spark")
    return back.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.expr(f"bit_xor({fp})").alias("member_fp"),
    ).select(F.col("shard").cast("int").alias("shard"), "n_docs", "total_chars", "member_fp")


MIX_ALPHA_NOTE = "temperature = 0.5 (square-root scaling), quantized to fp micro-units"


@register(
    "pipeline_temperature_mixture",
    oracle=f"""
WITH cnt AS (SELECT source, COUNT(*)::BIGINT AS n_docs FROM documents GROUP BY source),
tot AS (SELECT SUM(n_docs)::BIGINT AS total FROM cnt),
w AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS weight_fp
  FROM cnt
),
sw AS (SELECT SUM(weight_fp)::BIGINT AS sum_w FROM w),
rate AS (
  -- HUGEINT (128-bit) keeps budget*weight_fp*ppm exact far past the
  -- BIGINT bound (it wraps at only ~1e5 total docs); mirrors the Spark
  -- side's arbitrary-precision driver computation.
  SELECT source, n_docs, weight_fp,
         LEAST(
           {BALANCE_PPM_MOD}::HUGEINT,
           ((SELECT total FROM tot)::HUGEINT // 2) * weight_fp * {BALANCE_PPM_MOD}
             // ((SELECT sum_w FROM sw)::HUGEINT * n_docs)
         )::BIGINT AS rate_ppm
  FROM w
),
tagged AS (
  SELECT d.source, r.n_docs, r.weight_fp, r.rate_ppm,
         CASE WHEN {portable.hash60("'mix|' || CAST(doc_id AS VARCHAR)", 'duck')}
                   % {BALANCE_PPM_MOD} < r.rate_ppm
              THEN 1 ELSE 0 END AS keep,
         d.doc_id
  FROM documents d JOIN rate r USING (source)
)
SELECT source, n_docs, weight_fp, rate_ppm,
       SUM(keep)::BIGINT AS n_sampled,
       CAST(SUM(CASE WHEN keep = 1 THEN doc_id % 1000003 ELSE 0 END) AS BIGINT)
         AS member_checksum
FROM tagged GROUP BY source, n_docs, weight_fp, rate_ppm
""",
    tags=("pipeline", "north-star", "sampling"),
)
def pipeline_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixture — the standard LLM-pretraining
    data-mixing rule (sample source s with probability ∝ n_s^T, T=0.5):
    square-root scaling upweights small domains relative to their raw
    share without flattening the mixture entirely (T=0 is
    `pipeline_domain_balance`'s equal-size limit; T=1 is the raw
    corpus).  The total budget is half the corpus; per-source
    acceptance rates are capped at 1.

    Exactness: the only float is sqrt(n) on an integer — IEEE-exact in
    both engines — quantized once to fp micro-units; rates and the
    membership test are pure integer arithmetic from there
    (``hash60('mix|'||doc_id) % 1e6 < rate_ppm``), so membership is
    deterministic, engine-identical, and stable under per-source
    growth.  The member checksum pins exact membership.

    Scale shape: identical to `pipeline_domain_balance` — one tiny
    count aggregate, one O(#sources) collect from which the scalars AND
    the per-source rates are derived driver-side, broadcast of the rate
    table, map-side filter, tiny final aggregate; the corpus is scanned
    once and never shuffled.  Overflow budget: the rate arithmetic runs
    in Python arbitrary-precision integers (Spark side) and HUGEINT
    (oracle side), so it is exact to ~1e16 docs per source (the
    128-bit oracle bound); the previous engine-side BIGINT product
    wrapped at only ~1e5 total docs.
    """
    docs = t(spark, sf_dir, "documents")
    cnt = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    w = cnt.select(
        "source",
        "n_docs",
        F.expr(
            "CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)"
        ).alias("weight_fp"),
    )
    # O(#sources) rows — collect once, derive the budget/sum_w scalars AND
    # the per-source rates driver-side in Python arbitrary-precision
    # integers: budget*weight_fp*ppm wraps BIGINT at only ~1e5 total docs,
    # so the engine-side formulation silently overflowed; Python ints (and
    # HUGEINT in the oracle) are exact at any corpus size.
    wrows = w.collect()
    budget = sum(int(r["n_docs"]) for r in wrows) // 2
    sum_w = sum(int(r["weight_fp"]) for r in wrows)
    rate = spark.createDataFrame(
        [
            (
                r["source"],
                int(r["n_docs"]),
                int(r["weight_fp"]),
                min(
                    BALANCE_PPM_MOD,
                    budget
                    * int(r["weight_fp"])
                    * BALANCE_PPM_MOD
                    // (sum_w * int(r["n_docs"])),
                ),
            )
            for r in wrows
        ],
        "source string, n_docs long, weight_fp long, rate_ppm long",
    )
    h = portable.hash60("concat('mix|', CAST(doc_id AS STRING))", "spark")
    tagged = docs.join(F.broadcast(rate), on="source").select(
        "source",
        "n_docs",
        "weight_fp",
        "rate_ppm",
        F.when(F.expr(h) % BALANCE_PPM_MOD < F.col("rate_ppm"), 1)
        .otherwise(0)
        .alias("keep"),
        "doc_id",
    )
    return tagged.groupBy("source", "n_docs", "weight_fp", "rate_ppm").agg(
        F.sum("keep").cast("long").alias("n_sampled"),
        F.sum(F.when(F.col("keep") == 1, F.col("doc_id") % 1000003).otherwise(0))
        .cast("long")
        .alias("member_checksum"),
    )


@register(
    "pipeline_curriculum_phases",
    oracle=f"""
WITH scored AS (
  SELECT source, doc_id,
         len({portable.tokens('text', 'duck')})::BIGINT AS n_tokens,
         CAST(length(text) AS BIGINT) * 1000000
           // GREATEST(1, len({portable.tokens('text', 'duck')})) AS score_fp
  FROM documents
),
phased AS (
  SELECT source, doc_id, n_tokens, score_fp,
         NTILE(4) OVER (PARTITION BY source ORDER BY score_fp, doc_id) AS phase
  FROM scored
)
SELECT source, CAST(phase AS INT) AS phase,
       COUNT(*)::BIGINT AS n_docs,
       SUM(n_tokens)::BIGINT AS sum_tokens,
       MIN(score_fp)::BIGINT AS min_score_fp,
       MAX(score_fp)::BIGINT AS max_score_fp,
       CAST(SUM(doc_id % 1000003) AS BIGINT) AS member_checksum
FROM phased GROUP BY source, phase
""",
    tags=("pipeline", "north-star", "curriculum"),
)
def pipeline_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum bucketing: assign every document to one of four
    training phases by a difficulty proxy (mean token length in fp
    micro-units — longer words ≈ harder text), quartiled WITHIN each
    source so no domain is starved from any phase — the ordering step
    of curriculum-learning data prep, with per-phase token budgets as
    the output (those budgets are what the training scheduler
    consumes).

    Exactness: the score is pure integer arithmetic; NTILE group sizes
    and the (score_fp, doc_id) tiebreak are engine-identical, so phase
    MEMBERSHIP (pinned by the checksum) is exact, not just the counts.

    Scale shape: the ranking pass sorts per SOURCE (one exchange keyed
    by source, same exact-order-statistic tier as
    events_value_winsorize) — never a global single-partition sort; a
    skewed mega-source salts into the same pattern every per-key sort
    here uses.  The per-phase rollup rides the same partitioning.
    """
    toks = portable.tokens("text", "spark")
    scored = t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.expr(f"CAST(size({toks}) AS BIGINT)").alias("n_tokens"),
        F.expr(
            f"CAST(length(text) AS BIGINT) * 1000000"
            f" div GREATEST(1, size({toks}))"
        ).alias("score_fp"),
    )
    wp = Window.partitionBy("source").orderBy("score_fp", "doc_id")
    phased = scored.withColumn("phase", F.ntile(4).over(wp))
    return phased.groupBy("source", F.col("phase").cast("int").alias("phase")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.min("score_fp").cast("long").alias("min_score_fp"),
        F.max("score_fp").cast("long").alias("max_score_fp"),
        F.sum(F.col("doc_id") % 1000003).cast("long").alias("member_checksum"),
    )


AUDIO_SILENCE_AMP = 2048  # frame amp (16 bytes) below this counts as silent


@register(
    "multimodal_audio_loudness",
    oracle=f"""
WITH b AS (SELECT doc_id, {_MM_BHEX} AS bhex FROM documents),
s AS (SELECT doc_id, substr(repeat(md5(bhex), 5), 1, 128) AS sh FROM b),
fr AS (
  SELECT doc_id, f,
         list_sum(list_transform(range(0, 16), i ->
           (strpos({_MM_HEXDIG}, substr(sh, 2 * (f * 16 + i) + 1, 1)) - 1) * 16
           + (strpos({_MM_HEXDIG}, substr(sh, 2 * (f * 16 + i) + 2, 1)) - 1)
         ))::BIGINT AS amp
  FROM s, range(0, 4) r(f)
)
SELECT doc_id,
       COUNT(*)::BIGINT AS n_frames,
       SUM(amp)::BIGINT AS total_amp,
       MAX(amp)::BIGINT AS peak_amp,
       SUM(CASE WHEN amp < {AUDIO_SILENCE_AMP} THEN 1 ELSE 0 END)::BIGINT AS n_silent
FROM fr GROUP BY doc_id
""",
    tags=("multimodal", "north-star", "audio"),
)
def multimodal_audio_loudness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality analysis: blobs → mapInArrow PCM
    decode → per-frame amplitudes → per-clip loudness profile (frame
    count, total/peak amplitude, silent-frame count) — the
    voice-activity / silence-trim screening step of an audio training
    pipeline, completing the modality triple (image decode, video frame
    sampling, audio framing) on the same blob plumbing.

    The codec is the deterministic md5 stub, so the oracle recomputes
    the identical frame amplitudes in SQL — the Arrow kernel is
    value-hash checked end to end.

    Scale shape: map-only decode (blobs never shuffle), one exchange for
    the per-clip rollup keyed by id.
    """
    docs = t(spark, sf_dir, "documents")
    blobs = MM.attach_blob_column(docs, "text", "doc_id", mime="audio/pcm")
    frames = MM.decode_audio_frames(blobs, id_col="doc_id")
    return frames.groupBy(F.col("id").alias("doc_id")).agg(
        F.count("*").cast("long").alias("n_frames"),
        F.sum("amp").cast("long").alias("total_amp"),
        F.max("amp").cast("long").alias("peak_amp"),
        F.sum(F.when(F.col("amp") < AUDIO_SILENCE_AMP, 1).otherwise(0))
        .cast("long")
        .alias("n_silent"),
    )


COMPACT_TARGET_CHARS = 200_000


@register(
    "pipeline_compaction_plan",
    oracle=f"""
WITH files AS (
  SELECT source, lang, SUM(n_chars)::BIGINT AS size_chars
  FROM documents GROUP BY source, lang
),
ordered AS (
  SELECT *, COALESCE(SUM(size_chars) OVER (
              ORDER BY size_chars DESC, source, lang
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM files
),
planned AS (
  SELECT *, CAST(cum_before // {COMPACT_TARGET_CHARS} AS INT) AS compaction_group
  FROM ordered
)
SELECT compaction_group, COUNT(*)::BIGINT AS n_files,
       SUM(size_chars)::BIGINT AS total_chars,
       MIN(size_chars)::BIGINT AS min_file_chars,
       MAX(size_chars)::BIGINT AS max_file_chars
FROM planned GROUP BY compaction_group
""",
    tags=("pipeline", "io", "layout"),
)
def pipeline_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the lakehouse maintenance job
    (Delta OPTIMIZE / Iceberg rewrite_data_files): take the per-fragment
    size manifest (here: per-(source, lang) document fragments), order
    largest-first, and band the running total into target-size
    compaction groups, so each group rewrites into ~one well-sized file.
    Exact integer arithmetic; groups and their membership are identical
    in both engines.

    Scale shape: ONE corpus-sized aggregation builds the fragment
    manifest; the plan itself (window + banding) runs over the manifest,
    which is metadata-sized (file counts, not rows), so the global
    ordering window is bounded the same way the shard-manifest and
    validate_sorted boundary checks are.
    """
    t(spark, sf_dir, "documents").createOrReplaceTempView("_compact_docs")
    return spark.sql(
        f"""
WITH files AS (
  SELECT source, lang, CAST(SUM(n_chars) AS BIGINT) AS size_chars
  FROM _compact_docs GROUP BY source, lang
),
ordered AS (
  SELECT *, COALESCE(SUM(size_chars) OVER (
              ORDER BY size_chars DESC, source, lang
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM files
),
planned AS (
  SELECT *, CAST(cum_before div {COMPACT_TARGET_CHARS} AS INT) AS compaction_group
  FROM ordered
)
SELECT compaction_group, CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(size_chars) AS BIGINT) AS total_chars,
       CAST(MIN(size_chars) AS BIGINT) AS min_file_chars,
       CAST(MAX(size_chars) AS BIGINT) AS max_file_chars
FROM planned GROUP BY compaction_group
"""
    )


@register(
    "streaming_histogram_quantiles",
    oracle=None,  # set just below to quality._QHIST_ORACLE (same contract
    # as the batch and persisted twins); deferred import avoids a module-
    # level import cycle risk at registration time.
    tags=("streaming", "sketch", "quality"),
)
def streaming_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable quantile sketch on the STREAMING path: each
    micro-batch's per-day level-1 log2-bucket histogram lands in parquet
    under ``epoch=<id>`` (idempotent per-epoch overwrite — the same
    exactly-once-per-epoch pattern as `streaming_foreachbatch_sink`),
    and the final p50/p90/p99 SUM-merge over ALL epochs' partials equals
    the batch recompute exactly — the mergeability property is what
    makes the sketch streamable at all (percentile_approx state cannot
    be merged across batches).

    Scale shape: per batch, one bounded aggregation (<= 64 buckets x
    days-in-batch rows land); the merge reads only the tiny persisted
    sketch relation.
    """
    import os

    from uda_spark.cache import scratch_dir
    from uda_spark.queries.quality import histogram_lvl1, histogram_quantiles

    root = scratch_dir("uda_qhist_stream")
    path, ckpt = os.path.join(root, "sink"), os.path.join(root, "ckpt")

    ev = ST.events_file_stream(spark, sf_dir)

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        histogram_lvl1(batch_df).write.mode("overwrite").parquet(
            os.path.join(path, f"epoch={epoch_id}")
        )

    q = (
        ev.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    stored = spark.read.option("basePath", path).parquet(path + "/epoch=*")
    return histogram_quantiles(stored.select("day", "bucket", "c"))


def _attach_streaming_qhist_oracle() -> None:
    from uda_spark import registry as _reg
    from uda_spark.queries.quality import _QHIST_ORACLE

    spec = _reg._REGISTRY["streaming_histogram_quantiles"]
    _reg._REGISTRY["streaming_histogram_quantiles"] = _reg.QuerySpec(
        name=spec.name, fn=spec.fn, oracle=_QHIST_ORACLE, tags=spec.tags, doc=spec.doc
    )


_attach_streaming_qhist_oracle()


TOKEN_BUDGET = 40_000  # per-source token budget for the packing report


@register(
    "pipeline_token_budget_pack",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len({portable.tokens('text', 'duck')}) AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT source, doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY n_tokens DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM toks
)
SELECT source,
       COUNT(*)::BIGINT AS docs_total,
       SUM(n_tokens)::BIGINT AS tokens_total,
       SUM(CASE WHEN cum_before < {TOKEN_BUDGET} THEN 1 ELSE 0 END)::BIGINT
         AS docs_selected,
       SUM(CASE WHEN cum_before < {TOKEN_BUDGET} THEN n_tokens ELSE 0 END)::BIGINT
         AS tokens_selected,
       CAST(SUM(CASE WHEN cum_before < {TOKEN_BUDGET} THEN n_tokens ELSE 0 END)
            * 1000000 // {TOKEN_BUDGET} AS BIGINT) AS budget_fill_ppm
FROM cum GROUP BY source ORDER BY source
""",
    tags=("pipelines", "curation"),
)
def pipeline_token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-source token-budget packing — the mixture-construction
    step that fills each source's token allowance with its longest
    documents first (longest-first is the deterministic stand-in for
    quality-first; ties broken by doc_id): a document is selected while
    the tokens already packed from its source are still under the
    budget, i.e. the selection is the maximal prefix of the
    (n_tokens DESC, doc_id) order whose EXCLUSIVE running total is
    below TOKEN_BUDGET.  Reports per-source totals, selected counts,
    and the exact budget-fill ppm (can exceed 1e6: the straddling
    document is taken whole).

    Scale shape: the per-source running total uses round 8's
    :func:`grouped_global_cumulative_sum` — range-partitioned on
    (source, order keys), windowed per (physical partition, source),
    per-(partition, source) subtotals broadcast back — so one giant
    source (the common corpus shape: one crawl dominates) spans as many
    partitions as its size demands instead of funneling through a
    single ``partitionBy(source)`` window task.  The final readout is a
    per-source aggregation over bounded groups.
    """
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr(f"CAST(size({portable.tokens('text', 'spark')}) AS BIGINT)").alias(
            "n_tokens"
        ),
    )
    cum = grouped_global_cumulative_sum(
        docs.withColumn("neg_tokens", -F.col("n_tokens")),
        group_keys=["source"],
        order_keys=["neg_tokens", "doc_id"],
        value_col="n_tokens",
        alias="cum_before",
    )
    sel = F.col("cum_before") < TOKEN_BUDGET
    return (
        cum.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("docs_total"),
            F.sum("n_tokens").cast("long").alias("tokens_total"),
            F.sum(F.when(sel, 1).otherwise(0)).cast("long").alias("docs_selected"),
            F.sum(F.when(sel, F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("tokens_selected"),
        )
        .withColumn(
            "budget_fill_ppm",
            F.expr(f"CAST(tokens_selected * 1000000 div {TOKEN_BUDGET} AS BIGINT)"),
        )
        .orderBy("source")
    )


@register(
    "streaming_freshness_lag",
    oracle=f"""
WITH per AS (
  SELECT event_type, MAX({_DUCK_US})::BIGINT AS max_us, COUNT(*)::BIGINT AS n_events
  FROM events GROUP BY 1
),
g AS (SELECT MAX(max_us) AS g_max FROM per)
SELECT event_type, max_us,
       CAST(g.g_max - max_us AS BIGINT) AS lag_us,
       n_events
FROM per, g
""",
    tags=("streaming", "dq", "quality"),
)
def streaming_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the dq_freshness_lag audit: per-stream max
    event time and row count maintained as a LIVE complete-mode
    aggregation over the event stream, with each stream's lag behind the
    freshest stream computed on the bounded sink — the always-on
    stale-feed monitor (the batch twin answers "was the snapshot fresh";
    this one answers "is the feed dead RIGHT NOW").

    Scale shape: streaming state is O(streams) — two scalars per event
    type — the cheapest stateful query in the streaming tier; the lag
    arithmetic (global max broadcast as one row) runs on the
    streams-sized sink table, never on the stream itself.  Exact integer
    microseconds end to end, same exactness class as the batch twin.
    """
    ev = ST.events_file_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.max("ts_us").cast("long").alias("max_us"),
        F.count("*").cast("long").alias("n_events"),
    )
    sink = ST.run_stream_to_memory(
        agg, _sink_name("freshness_sink"), mode="complete",
        state_partitions=_ev_parts(spark, sf_dir),
    )
    g = sink.agg(F.max("max_us").alias("g_max"))
    return sink.crossJoin(F.broadcast(g)).select(
        "event_type",
        "max_us",
        F.expr("CAST(g_max - max_us AS BIGINT)").alias("lag_us"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# Source-mixture entropy: the effective number of domains

# Per-source entropy contribution in integer MICRO-NATS: the float
# -p·ln(p) is computed from exact integers with the same expression text
# in both engines (bitwise-equal doubles), rounded to an integer PER
# SOURCE, then summed as integers — float SUM across rows would be
# accumulation-order-dependent; integer SUM is not.
_ENT_CONTRIB = (
    "CAST(ROUND(-(toks / CAST(total AS DOUBLE))"
    " * ln(toks / CAST(total AS DOUBLE)) * 1000000, 0) AS BIGINT)"
)


@register(
    "pipeline_mixture_entropy",
    oracle=f"""
WITH per AS (
  SELECT source, SUM(len(string_split(lower(text), ' ')))::BIGINT AS toks
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(toks)::BIGINT AS total, COUNT(*)::BIGINT AS n_sources,
               MAX(toks)::BIGINT AS max_toks FROM per),
c AS (
  SELECT SUM({_ENT_CONTRIB})::BIGINT AS entropy_micronats
  FROM per, tot
)
SELECT tot.n_sources, tot.total AS total_tokens,
       c.entropy_micronats,
       CAST(ROUND(exp(c.entropy_micronats / CAST(1000000 AS DOUBLE)) * 1000, 0)
            AS BIGINT) AS effective_domains_milli,
       CAST(tot.max_toks * 1000000 // tot.total AS BIGINT) AS max_share_ppm
FROM tot, c
""",
    tags=("pipeline", "text", "statistics", "sampling"),
)
def pipeline_mixture_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the source mixture's token mass and the
    EFFECTIVE number of domains exp(H) — the single number that says
    whether a "10-source" corpus is really 10 sources or 2 giants plus
    noise; domain-balance and temperature-mixture decisions key off it.

    Exactness: per-source −p·ln(p) is a deterministic double from exact
    integer inputs (same expression text both engines), rounded to
    integer micro-nats PER SOURCE and summed as integers — a float SUM
    across sources would be accumulation-order-dependent, an integer
    SUM is not.  exp(H) is then a deterministic function of that one
    integer.  Max share is exact ppm.

    Scale shape: one map-only pass to per-source token sums (bounded by
    the source count forever); everything downstream is arithmetic over
    that tiny relation with a 1-row broadcast total.
    """
    docs = t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.expr(
            f"SUM(size({portable.tokens('text', 'spark')}))"
        ).cast("long").alias("toks")
    )
    tot = per.agg(
        F.sum("toks").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_sources"),
        F.max("toks").cast("long").alias("max_toks"),
    )
    c = (
        per.crossJoin(F.broadcast(tot))
        .agg(F.expr(f"SUM({_ENT_CONTRIB})").cast("long").alias("entropy_micronats"))
    )
    return c.crossJoin(F.broadcast(tot)).selectExpr(
        "n_sources",
        "total AS total_tokens",
        "entropy_micronats",
        "CAST(ROUND(exp(entropy_micronats / CAST(1000000 AS DOUBLE)) * 1000, 0)"
        " AS BIGINT) AS effective_domains_milli",
        "CAST(CAST(max_toks AS DECIMAL(38,0)) * 1000000 div total AS BIGINT)"
        " AS max_share_ppm",
    )


# ---------------------------------------------------------------------------
# Token savings from exact dedup, attributed per source


@register(
    "pipeline_dedup_token_savings",
    oracle=f"""
WITH docs AS (
  SELECT doc_id, source, md5(text) AS h,
         len(list_filter({portable.tokens('text', 'duck')}, x -> x <> ''))::BIGINT
           AS n_tok
  FROM documents
),
canon AS (SELECT h, MIN(doc_id) AS keep_id FROM docs GROUP BY h)
SELECT d.source,
       COUNT(*)::BIGINT AS n_docs,
       SUM(d.n_tok)::BIGINT AS total_tokens,
       SUM(CASE WHEN d.doc_id <> c.keep_id THEN 1 ELSE 0 END)::BIGINT
         AS dup_docs,
       SUM(CASE WHEN d.doc_id <> c.keep_id THEN d.n_tok ELSE 0 END)::BIGINT
         AS dup_tokens,
       CAST(SUM(CASE WHEN d.doc_id <> c.keep_id THEN d.n_tok ELSE 0 END)
            * 1000000 // NULLIF(SUM(d.n_tok), 0) AS BIGINT) AS savings_ppm
FROM docs d JOIN canon c USING (h)
GROUP BY d.source
""",
    tags=("pipeline", "dedup", "north-star"),
)
def pipeline_dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-token savings from exact dedup, attributed per source —
    the number a curation team actually budgets with: dedup_exact says
    HOW MANY documents collapse; this says how many TOKENS (≈ training
    FLOPs) each source would shed, with duplicates charged to the
    non-canonical copy's source (min-doc_id canonicalization, the
    dedup_cluster_canonical convention) so cross-source duplication
    shows up where it would be dropped.

    Exactness: pure integer counts; the savings ratio is integer ppm
    with a NULLIF guard for an all-empty source.

    Scale shape: one map-only pass computes (digest, source, tokens)
    triples — document BODIES never shuffle; the canonical relation
    groups 16-byte digests and joins back on the digest key (both
    exchanges carry hashes + two ints per row).  At 100 TB this is the
    same audited shape as dedup_exact/dedup_rate_by_source with one
    extra integer column.
    """
    docs = t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "source",
        "md5(text) AS h",
        f"CAST(size(filter({portable.tokens('text', 'spark')}, x -> x <> ''))"
        " AS BIGINT) AS n_tok",
    )
    canon = docs.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    return (
        docs.join(canon, on="h")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum(F.when(F.col("doc_id") != F.col("keep_id"), 1).otherwise(0))
            .cast("long")
            .alias("dup_docs"),
            F.sum(
                F.when(F.col("doc_id") != F.col("keep_id"), F.col("n_tok")).otherwise(0)
            )
            .cast("long")
            .alias("dup_tokens"),
            F.expr(
                "CAST(SUM(CASE WHEN doc_id <> keep_id THEN n_tok ELSE 0 END)"
                " * 1000000 div NULLIF(SUM(n_tok), 0) AS BIGINT)"
            ).alias("savings_ppm"),
        )
    )


EPOCH_CAP_MILLI = 4000  # max 4 epochs of any single source
EPOCH_BUDGET_X = 2  # token budget = 2x the corpus


@register(
    "pipeline_epoch_repetition",
    oracle=f"""
WITH cnt AS (
  SELECT source, SUM(len({portable.tokens('text', 'duck')}))::HUGEINT AS t
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(t)::HUGEINT AS st, {EPOCH_BUDGET_X} * SUM(t)::HUGEINT AS b FROM cnt),
w AS (
  SELECT source, t,
         CAST(floor(sqrt(CAST(t AS DOUBLE)) * 1000000) AS HUGEINT) AS wfp
  FROM cnt
),
sw AS (SELECT SUM(wfp)::HUGEINT AS sumw FROM w),
p1 AS (
  SELECT w.source, w.t, w.wfp,
         (tot.b * w.wfp) // sw.sumw AS target,
         LEAST((tot.b * w.wfp) // sw.sumw, {EPOCH_CAP_MILLI} * w.t // 1000) AS alloc1
  FROM w, tot, sw
),
surplus AS (
  SELECT (SELECT b FROM tot) - SUM(alloc1)::HUGEINT AS sp,
         SUM(CASE WHEN target > alloc1 THEN 0 ELSE wfp END)::HUGEINT AS sumw_u
  FROM p1
),
p2 AS (
  SELECT p1.source, p1.t,
         p1.alloc1 + CASE WHEN p1.target > p1.alloc1 THEN 0
           ELSE COALESCE((surplus.sp * p1.wfp) // NULLIF(surplus.sumw_u, 0), 0) END
           AS alloc2
  FROM p1, surplus
)
SELECT source, CAST(t AS BIGINT) AS n_tokens,
       CAST(LEAST(alloc2 * 1000 // t, {EPOCH_CAP_MILLI}) AS BIGINT) AS epochs_milli,
       CAST(LEAST(alloc2 * 1000 // t, {EPOCH_CAP_MILLI}) * t // 1000 AS BIGINT)
         AS alloc_tokens
FROM p2
""",
    tags=("pipeline", "north-star", "curation"),
)
def pipeline_epoch_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch/repetition plan under a fixed token budget — the
    LLaMA-style mixing table: budget = 2× the corpus, target share ∝
    sqrt(tokens) (temperature 0.5 upweights small sources), but no
    source may repeat more than 4 epochs; surplus from capped sources
    is redistributed to uncapped ones proportional to weight in ONE
    round (the standard single-round water-fill; any residual from
    newly-binding caps is deliberately left unallocated and visible as
    Σ alloc_tokens < budget).  The only float is sqrt of an integer —
    IEEE-exact in both engines, quantized once to fp micro-units; every
    rate and allocation after that is exact integer floor arithmetic in
    DECIMAL(38,0)/HUGEINT (budget × weight products pass int64 at
    ~1e8 tokens).

    Scale shape: one map-only token-count pass over the corpus into a
    bounded per-source aggregate; ALL mixing arithmetic runs on
    O(#sources) rows (cross joins are 1-row scalars).  The corpus is
    scanned once and never shuffled.
    """
    docs = t(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            "source",
            F.size(F.expr(portable.tokens("text", "spark"))).alias("ntok"),
        )
        .groupBy("source")
        .agg(F.sum("ntok").cast("decimal(38,0)").alias("t"))
    )
    cnt.createOrReplaceTempView("_er_cnt")
    return spark.sql(
        f"""
WITH tot AS (
  SELECT CAST(SUM(t) AS DECIMAL(38,0)) AS st,
         CAST({EPOCH_BUDGET_X} * SUM(t) AS DECIMAL(38,0)) AS b
  FROM _er_cnt
),
w AS (
  SELECT source, t,
         CAST(floor(sqrt(CAST(t AS DOUBLE)) * 1000000) AS DECIMAL(38,0)) AS wfp
  FROM _er_cnt
),
sw AS (SELECT CAST(SUM(wfp) AS DECIMAL(38,0)) AS sumw FROM w),
p1 AS (
  SELECT w.source, w.t, w.wfp,
         (tot.b * w.wfp) div sw.sumw AS target,
         LEAST((tot.b * w.wfp) div sw.sumw,
               ({EPOCH_CAP_MILLI} * w.t) div 1000) AS alloc1
  FROM w CROSS JOIN tot CROSS JOIN sw
),
surplus AS (
  SELECT (SELECT b FROM tot) - CAST(SUM(alloc1) AS DECIMAL(38,0)) AS sp,
         CAST(SUM(CASE WHEN target > alloc1 THEN 0 ELSE wfp END)
              AS DECIMAL(38,0)) AS sumw_u
  FROM p1
),
p2 AS (
  SELECT p1.source, p1.t,
         p1.alloc1 + CASE WHEN p1.target > p1.alloc1 THEN 0
           ELSE COALESCE((surplus.sp * p1.wfp) div NULLIF(surplus.sumw_u, 0), 0) END
           AS alloc2
  FROM p1 CROSS JOIN surplus
)
SELECT source, CAST(t AS BIGINT) AS n_tokens,
       CAST(LEAST((alloc2 * 1000) div t, {EPOCH_CAP_MILLI}) AS BIGINT)
         AS epochs_milli,
       CAST((LEAST((alloc2 * 1000) div t, {EPOCH_CAP_MILLI}) * t) div 1000
         AS BIGINT) AS alloc_tokens
FROM p2
"""
    )


NOSPLIT_CONTEXT = 256  # whitespace tokens per bin
NOSPLIT_SHARDS = 8

_NSP_DUCK_SHARD = portable.hash60("'nsp|' || doc_id::VARCHAR", "duck")
_NSP_SPARK_SHARD = portable.hash60("concat('nsp|', CAST(doc_id AS STRING))", "spark")


@register(
    "pipeline_greedy_pack_nosplit",
    oracle=f"""
WITH RECURSIVE base AS (
  SELECT doc_id, lang,
         {_NSP_DUCK_SHARD} % {NOSPLIT_SHARDS} AS shard,
         len({portable.tokens('text', 'duck')}) AS n_tokens
  FROM documents
),
tk AS (
  SELECT lang, shard, doc_id, n_tokens,
         LEAST(n_tokens, {NOSPLIT_CONTEXT}) AS take,
         ROW_NUMBER() OVER (PARTITION BY lang, shard ORDER BY doc_id) AS rn
  FROM base
),
walk AS (
  SELECT lang, shard, rn, 1::BIGINT AS n_bins, take AS fill, take AS packed
  FROM tk WHERE rn = 1
  UNION ALL
  SELECT t.lang, t.shard, t.rn,
         CASE WHEN w.fill + t.take <= {NOSPLIT_CONTEXT}
              THEN w.n_bins ELSE w.n_bins + 1 END,
         CASE WHEN w.fill + t.take <= {NOSPLIT_CONTEXT}
              THEN w.fill + t.take ELSE t.take END,
         w.packed + t.take
  FROM walk w JOIN tk t
    ON t.lang = w.lang AND t.shard = w.shard AND t.rn = w.rn + 1
),
fin AS (
  SELECT lang, shard, rn AS n_docs, n_bins, packed,
         ROW_NUMBER() OVER (PARTITION BY lang, shard ORDER BY rn DESC) AS rr
  FROM walk
),
tot AS (SELECT lang, shard, SUM(n_tokens)::BIGINT AS sum_tokens FROM tk GROUP BY lang, shard)
SELECT fin.lang, CAST(fin.shard AS INT) AS shard,
       CAST(fin.n_docs AS BIGINT) AS n_docs,
       tot.sum_tokens,
       CAST(fin.packed AS BIGINT) AS packed_tokens,
       CAST(fin.n_bins AS BIGINT) AS n_bins,
       CAST((fin.n_bins * {NOSPLIT_CONTEXT} - fin.packed) * 1000000
            // (fin.n_bins * {NOSPLIT_CONTEXT}) AS BIGINT) AS waste_ppm
FROM fin JOIN tot ON tot.lang = fin.lang AND tot.shard = fin.shard
WHERE fin.rr = 1
""",
    tags=("pipeline", "text", "stateful"),
)
def pipeline_greedy_pack_nosplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-split greedy sequence packing — the OTHER packing discipline
    next to `pipeline_sequence_packing`'s offset scheme: a document
    never straddles bins (attention masking stays trivial), so a doc
    that doesn't fit the current {NOSPLIT_CONTEXT}-token bin opens a new
    one and overlong docs are truncated to one bin.  Packing is a
    genuine per-stream RECURRENCE (bin fill depends on every prior
    doc), expressed Spark-side as a grouped ``applyInArrow`` over
    (lang, shard) streams — the stateful-operator escape hatch the
    built-in window algebra cannot cover — and oracle-side as a DuckDB
    RECURSIVE CTE stepping the identical transition, so even the
    sequential state machine is value-hash checked.  The readout is the
    per-stream padding-waste table a pipeline uses to pick its context
    length.

    Scale shape: parallelism is sharding, exactly like
    pipeline_sequence_packing — {NOSPLIT_SHARDS} deterministic
    hash-shards per language, each stream's recurrence runs inside one
    Arrow batch while 1000 executors pack 1000 streams concurrently;
    the exchange carries (doc_id, lang, shard, n_tokens) only, never
    text.
    """
    from typing import Tuple

    import pyarrow as pa

    toks = portable.tokens("text", "spark")
    tk = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr(f"CAST(pmod({_NSP_SPARK_SHARD}, {NOSPLIT_SHARDS}) AS INT)").alias(
            "shard"
        ),
        F.size(F.expr(toks)).cast("long").alias("n_tokens"),
    )

    size = NOSPLIT_CONTEXT

    # The type annotations are required: pyspark 4.1.2's grouped
    # applyInArrow fails with an UnboundLocalError when hint inference
    # fails (see operators/similarity.py within_group_pair_dots).
    def pack(key: Tuple[pa.Scalar, ...], g: pa.Table) -> pa.Table:
        ntok = g.sort_by("doc_id").column("n_tokens").to_pylist()
        fill = bins = packed = 0
        for n in ntok:
            take = min(n, size)
            if bins == 0 or fill + take > size:
                bins += 1
                fill = take
            else:
                fill += take
            packed += take
        waste = (bins * size - packed) * 1_000_000 // (bins * size)
        return pa.table(
            {
                "lang": pa.array([key[0].as_py()], pa.string()),
                "shard": pa.array([key[1].as_py()], pa.int32()),
                "n_docs": pa.array([len(ntok)], pa.int64()),
                "sum_tokens": pa.array([sum(ntok)], pa.int64()),
                "packed_tokens": pa.array([packed], pa.int64()),
                "n_bins": pa.array([bins], pa.int64()),
                "waste_ppm": pa.array([waste], pa.int64()),
            }
        )

    return tk.groupBy("lang", "shard").applyInArrow(
        pack,
        schema=(
            "lang string, shard int, n_docs long, sum_tokens long, "
            "packed_tokens long, n_bins long, waste_ppm long"
        ),
    )

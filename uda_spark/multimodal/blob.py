"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Convention: a modality column is ``binary`` data alongside a
``struct<mime, width, height, duration_ms, n_bytes>`` metadata column.
Heavy per-item work (decode, resize, feature extraction, aHash, frame
sampling, audio framing) runs as ``mapInArrow`` kernels over pyarrow
RecordBatches, the one buffer format this engine hands its Python
workers.  The Spark-side plumbing (schema, partitioning, batch shape) is
real and tested; the codec step is a deterministic md5-derived stub, so
results never depend on the environment and the multimodal queries carry
exact DuckDB oracles.  A real codec (PIL, ffmpeg, soundfile) would
replace the stub call inside the kernel, at the same spot.

Scale notes: blobs never act as shuffle keys; all operators here are
map-only (zero shuffle), so throughput scales linearly with executors.
Real deployments store large blobs out-of-line (object store) and keep a
pointer + metadata in the table; ``attach_blob_column`` models the inline
case.  The kernels need the bytes inline: a pointer table must fetch them
into ``data`` first, and a NULL ``data`` row raises a ValueError that
names the operator.  Every output ``id`` is ``long``; the kernels cast
the input id column to int64, so narrower integer ids widen as the
schemas declare.
"""

from __future__ import annotations

import hashlib

import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uda_spark.functions import portable
from uda_spark.plans import partitioning as PART
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

BLOB_META_SCHEMA = StructType(
    [
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)

def attach_blob_column(
    df: DataFrame, payload_col: str, id_col: str, mime: str = "image/png"
) -> DataFrame:
    """Synthesize a deterministic binary blob + metadata from any string
    column (test stand-in for reading real media files).

    Everything derives from the md5 family (functions/portable.py
    discipline) so downstream decode/feature outputs stay engine-portable
    and the multimodal queries carry REAL DuckDB oracles: blob bytes =
    unhex(md5(payload) || md5('x' || payload)), width/height = salted
    hash60 of the blob hex, never zero.
    """
    hex_expr = (
        f"concat(md5(CAST({payload_col} AS STRING)), "
        f"md5(concat('x', CAST({payload_col} AS STRING))))"
    )
    data = F.unhex(F.expr(hex_expr))
    salted = f"concat('h|', {hex_expr})"
    w = f"1 + pmod({portable.hash60(hex_expr, 'spark')}, 1919)"
    h = f"1 + pmod({portable.hash60(salted, 'spark')}, 1079)"
    return df.select(
        F.col(id_col),
        data.alias("data"),
        F.struct(
            F.lit(mime).alias("mime"),
            F.expr(w).cast("int").alias("width"),
            F.expr(h).cast("int").alias("height"),
            F.lit(0).cast("int").alias("duration_ms"),
            F.length(data).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


DECODED_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("pixels_fp", LongType()),
    ]
)


def _fake_decode_hex(blob: bytes, width: int, height: int) -> str:
    """Deterministic stand-in for an image codec: expand the blob into a
    pseudo-pixel buffer of the metadata-declared dimensions, expressed in
    the hex-string domain so a SQL oracle can recompute it
    (``substr(repeat(md5(hex(blob)), ...), 1, 2*w*h)``)."""
    seed_hex = hashlib.md5(blob.hex().encode()).hexdigest()  # 32 chars = 16 px
    need_chars = 2 * max(width * height, 1)
    return (seed_hex * (need_chars // len(seed_hex) + 1))[:need_chars]


def _hash60_py(s: str) -> int:
    """Python twin of portable.hash60: fold md5's first 15 hex chars."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def decode_images(df: DataFrame, id_col: str = "id") -> DataFrame:
    """Decode blobs to pixel buffers and emit per-image stats
    (``pixels_fp`` = 60-bit fingerprint of the pixel buffer).

    Map-only ``mapInArrow`` — no shuffle.  The codec is the
    deterministic stub :func:`_fake_decode_hex`, so query results never
    depend on what libraries happen to be installed.  Its output is
    md5-derived, so queries over it carry exact DuckDB oracles
    (queries/pipelines.py multimodal_decode_stats).
    """

    def decode(batches):
        for batch in batches:
            data = batch.column("data")
            if data.null_count:
                raise ValueError(
                    "decode_images received a NULL blob — filter NULL blobs upstream"
                )
            meta = batch.column("meta")
            widths, heights = meta.field("width"), meta.field("height")
            fps = [
                _hash60_py(_fake_decode_hex(blob, w, h))
                for blob, w, h in zip(
                    data.to_pylist(), widths.to_pylist(), heights.to_pylist()
                )
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("_id").cast(pa.int64()),
                    widths,
                    heights,
                    pa.array(fps, pa.int64()),
                ],
                names=["id", "width", "height", "pixels_fp"],
            )

    src = PART.ensure_min_partitions(
        df.select(F.col(id_col).alias("_id"), "data", "meta")
    )
    return src.mapInArrow(decode, schema=DECODED_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("src_width", IntegerType()),
        StructField("src_height", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("pixels_fp", LongType()),
    ]
)


def _fake_resize_hex(orig_hex: str, tw: int, th: int) -> str:
    """Deterministic stand-in for a resampling kernel: derive the target
    pixel buffer from the source buffer + target dims, in the hex-string
    domain so a SQL oracle can recompute it
    (``substr(repeat(md5(ohex || '|WxH'), ...), 1, 2*W*H)``)."""
    seed = hashlib.md5(f"{orig_hex}|{tw}x{th}".encode()).hexdigest()
    need = 2 * max(tw * th, 1)
    return (seed * (need // len(seed) + 1))[:need]


def resize_images(
    df: DataFrame, target_w: int, target_h: int, id_col: str = "id"
) -> DataFrame:
    """Decode + resize blobs to (target_w, target_h) and fingerprint the
    resampled pixel buffer — the thumbnail/normalization step of an image
    training pipeline.

    Map-only ``mapInArrow`` (no shuffle): at 100 TB throughput scales
    linearly with executors and blobs never act as shuffle keys.  Decode
    and resampling are the deterministic stubs, so the environment never
    changes results.
    """

    def resize(batches):
        for batch in batches:
            data = batch.column("data")
            if data.null_count:
                raise ValueError(
                    "resize_images received a NULL blob — filter NULL blobs upstream"
                )
            meta = batch.column("meta")
            widths, heights = meta.field("width"), meta.field("height")
            fps = [
                _hash60_py(
                    _fake_resize_hex(_fake_decode_hex(blob, w, h), target_w, target_h)
                )
                for blob, w, h in zip(
                    data.to_pylist(), widths.to_pylist(), heights.to_pylist()
                )
            ]
            n = batch.num_rows
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("_id").cast(pa.int64()),
                    widths,
                    heights,
                    pa.array([target_w] * n, pa.int32()),
                    pa.array([target_h] * n, pa.int32()),
                    pa.array(fps, pa.int64()),
                ],
                names=["id", "src_width", "src_height", "width", "height", "pixels_fp"],
            )

    src = PART.ensure_min_partitions(
        df.select(F.col(id_col).alias("_id"), "data", "meta")
    )
    return src.mapInArrow(resize, schema=RESIZED_SCHEMA)


FEATURES_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


def extract_features(df: DataFrame, id_col: str = "id", dim: int = 8) -> DataFrame:
    """Per-blob feature vector (deterministic md5-derived stand-in for a
    vision encoder) — the output feeds the similarity operators.

    Component i is the i-th byte of md5(hex(blob)) as a float — small
    integers are exact in float32, and cosine is scale-invariant per
    vector, so the downstream fixed-point scoring (portable.int_vec) is
    bit-identical to a SQL oracle recomputing the same bytes from
    ``md5`` hex chars.  ``dim`` <= 16 (one md5)."""
    if dim > 16:
        raise ValueError("dim > 16 needs more than one md5 block")

    def feats(batches):
        for batch in batches:
            data = batch.column("data")
            if data.null_count:
                raise ValueError(
                    "extract_features received a NULL blob — filter NULL blobs upstream"
                )
            embs = [
                [float(b) for b in hashlib.md5(blob.hex().encode()).digest()[:dim]]
                for blob in data.to_pylist()
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("_id").cast(pa.int64()),
                    pc.binary_length(data).cast(pa.int64()),
                    pa.array(embs, pa.list_(pa.float32())),
                ],
                names=["id", "n_bytes", "embedding"],
            )

    src = PART.ensure_min_partitions(df.select(F.col(id_col).alias("_id"), "data"))
    return src.mapInArrow(feats, schema=FEATURES_SCHEMA)


AHASH_SCHEMA = StructType(
    [StructField("id", LongType()), StructField("ahash", IntegerType())]
)


def ahash_images(df: DataFrame, id_col: str = "id") -> DataFrame:
    """16-bit average-hash (aHash) per blob — the classic perceptual
    image fingerprint: bit i set iff pixel-region i is at least the
    image mean.  Near-duplicate images (recompressions, small edits)
    land within hamming 1-2 of each other; unrelated images are ~8
    apart, so a banded self-join on the hash halves finds candidates
    without any pairwise pass.

    Regions come from the stub decode domain (the 16 bytes of
    md5(hex(blob)) — one byte per region), so the hash is
    deterministic and a SQL oracle recomputes it exactly; a real
    codec plugs into the same spot by averaging true pixel regions.
    The comparison ``16*b_i >= sum(b)`` keeps everything in exact
    integers (no mean division).  Map-only ``mapInArrow``.
    """

    def ah(batches):
        for batch in batches:
            data = batch.column("data")
            if data.null_count:
                raise ValueError(
                    "ahash_images received a NULL blob — filter NULL blobs upstream"
                )
            hashes = []
            for blob in data.to_pylist():
                hb = hashlib.md5(blob.hex().encode()).digest()[:16]
                total = sum(hb)
                v = 0
                for i, b in enumerate(hb):
                    if 16 * b >= total:
                        v |= 1 << i
                hashes.append(v)
            yield pa.RecordBatch.from_arrays(
                [batch.column("_id").cast(pa.int64()), pa.array(hashes, pa.int32())],
                names=["id", "ahash"],
            )

    src = PART.ensure_min_partitions(df.select(F.col(id_col).alias("_id"), "data"))
    return src.mapInArrow(ah, schema=AHASH_SCHEMA)


FRAMES_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("frame_no", IntegerType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(df: DataFrame, n_frames: int, id_col: str = "id") -> DataFrame:
    """Split a "video" blob into n equally-spaced frame chunks (codec
    stubbed as byte slicing; ffmpeg would replace it at the same spot).
    One input row fans out to n output rows — still a map-only
    ``mapInArrow``."""

    def frames(batches):
        for batch in batches:
            data = batch.column("data")
            if data.null_count:
                raise ValueError(
                    "sample_frames received a NULL blob — filter NULL blobs upstream"
                )
            rows, nos, chunks = [], [], []
            for r, blob in enumerate(data.to_pylist()):
                step = max(len(blob) // n_frames, 1)
                for i in range(n_frames):
                    rows.append(r)
                    nos.append(i)
                    chunks.append(blob[i * step : (i + 1) * step])
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("_id").cast(pa.int64()).take(pa.array(rows, pa.int64())),
                    pa.array(nos, pa.int32()),
                    pa.array(chunks, pa.binary()),
                ],
                names=["id", "frame_no", "frame"],
            )

    src = PART.ensure_min_partitions(df.select(F.col(id_col).alias("_id"), "data"))
    return src.mapInArrow(frames, schema=FRAMES_SCHEMA)


AUDIO_FRAMES_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("frame", IntegerType()),
        StructField("amp", LongType()),
    ]
)

AUDIO_N_SAMPLES = 64   # synthetic PCM samples per clip (one byte each)
AUDIO_FRAME_LEN = 16   # samples per analysis frame -> 4 frames per clip


def _fake_pcm_hex(blob: bytes) -> str:
    """Deterministic stand-in for an audio codec: expand the blob into a
    pseudo-PCM byte stream (one unsigned byte per sample), in the
    hex-string domain so a SQL oracle can recompute it
    (``substr(repeat(md5(hex(blob)), ...), 1, 2*n_samples)``)."""
    seed = hashlib.md5(blob.hex().encode()).hexdigest()
    need = 2 * AUDIO_N_SAMPLES
    return (seed * (need // len(seed) + 1))[:need]


def decode_audio_frames(df: DataFrame, id_col: str = "id") -> DataFrame:
    """Decode audio blobs and emit per-frame amplitude rows
    (id, frame, amp) — amp is the exact integer sum of the frame's
    sample bytes, the loudness primitive under RMS/silence analysis.

    Map-only ``mapInArrow`` (no shuffle) — the audio third of the
    modality triple next to :func:`decode_images` (image) and
    :func:`sample_frames` (video).  The codec is the deterministic stub
    :func:`_fake_pcm_hex`.
    """
    n_frames = AUDIO_N_SAMPLES // AUDIO_FRAME_LEN

    def decode(batches):
        for batch in batches:
            data = batch.column("data")
            if data.null_count:
                raise ValueError(
                    "decode_audio_frames received a NULL blob — "
                    "filter NULL blobs upstream"
                )
            rows, frames, amps = [], [], []
            for r, blob in enumerate(data.to_pylist()):
                sh = _fake_pcm_hex(blob)
                samples = [
                    int(sh[2 * j : 2 * j + 2], 16) for j in range(AUDIO_N_SAMPLES)
                ]
                for f in range(n_frames):
                    rows.append(r)
                    frames.append(f)
                    amps.append(
                        sum(samples[f * AUDIO_FRAME_LEN : (f + 1) * AUDIO_FRAME_LEN])
                    )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("_id").cast(pa.int64()).take(pa.array(rows, pa.int64())),
                    pa.array(frames, pa.int32()),
                    pa.array(amps, pa.int64()),
                ],
                names=["id", "frame", "amp"],
            )

    src = PART.ensure_min_partitions(df.select(F.col(id_col).alias("_id"), "data"))
    return src.mapInArrow(decode, schema=AUDIO_FRAMES_SCHEMA)

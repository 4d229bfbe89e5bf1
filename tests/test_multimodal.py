"""Multimodal column plumbing: schemas, Arrow batch shapes, determinism,
and downstream composition with the similarity operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from uda_spark.multimodal import (
    ahash_images,
    attach_blob_column,
    decode_audio_frames,
    decode_images,
    extract_features,
    resize_images,
    sample_frames,
)
from uda_spark.sources.tables import load_table


def _blobs(spark, n=50):
    # filter, not limit: GlobalLimit inserts an Exchange SinglePartition,
    # which would make the map-only plan assertions below vacuously fail
    docs = load_table(spark, SF_SMOKE, "documents").where(F.col("doc_id") < n)
    return attach_blob_column(docs, "text", "doc_id")


# every blob operator: (its name in error messages, a call over _blobs)
BLOB_OPS = {
    "decode": ("decode_images", lambda df: decode_images(df, "doc_id")),
    "resize": ("resize_images", lambda df: resize_images(df, 8, 8, "doc_id")),
    "features": ("extract_features", lambda df: extract_features(df, "doc_id")),
    "ahash": ("ahash_images", lambda df: ahash_images(df, "doc_id")),
    "frames": ("sample_frames", lambda df: sample_frames(df, 4, "doc_id")),
    "audio": ("decode_audio_frames", lambda df: decode_audio_frames(df, "doc_id")),
}


def test_blob_schema(spark):
    blobs = _blobs(spark)
    assert dict(blobs.dtypes)["data"] == "binary"
    meta_fields = [f.name for f in blobs.schema["meta"].dataType.fields]
    assert meta_fields == ["mime", "width", "height", "duration_ms", "n_bytes"]


def test_decode_deterministic_and_complete(spark):
    blobs = _blobs(spark)
    a = {r["id"]: r["pixels_fp"] for r in decode_images(blobs, "doc_id").collect()}
    b = {r["id"]: r["pixels_fp"] for r in decode_images(blobs, "doc_id").collect()}
    assert a == b
    assert len(a) == blobs.count()


@pytest.mark.parametrize("op", list(BLOB_OPS))
def test_decode_is_map_only(spark, op):
    """Every blob operator is one map-only Arrow kernel: no shuffle, a
    MapInArrow node, and no pandas twin."""
    from uda_spark.plans.explain import count_exchanges, plan_str

    out = BLOB_OPS[op][1](_blobs(spark))
    assert count_exchanges(out) == 0
    plan = plan_str(out, mode="simple")
    assert "MapInArrow" in plan and "MapInPandas" not in plan


@pytest.mark.parametrize("op", list(BLOB_OPS))
def test_null_blob_raises_named_error(spark, op):
    """A NULL ``data`` row (an out-of-line blob not fetched) fails with a
    ValueError naming the operator, not an error from inside the codec."""
    name, run = BLOB_OPS[op]
    nulled = _blobs(spark, n=4).withColumn("data", F.lit(None).cast("binary"))
    with pytest.raises(
        Exception,
        match=rf"ValueError: {name} received a NULL blob .*filter NULL blobs upstream",
    ):
        run(nulled).collect()


def test_kernels_run_where_uda_spark_is_not_importable(spark, monkeypatch, tmp_path):
    """Every blob kernel runs over its Arrow input, and the ``uda_kv``
    data source's reader reads a segment, in an interpreter that cannot
    import ``uda_spark`` (cwd outside the checkout, no PYTHONPATH): the
    package is pickled by value."""
    import subprocess
    import sys

    from pyspark import cloudpickle

    from uda_spark.sources.hadoop_kv import encode_kv_records
    from uda_spark.sources.pyds import UdaKVDataSource

    blobs = _blobs(spark, n=4)
    calls, real = [], type(blobs).mapInArrow
    monkeypatch.setattr(
        type(blobs), "mapInArrow",
        lambda self, fn, *a, **kw: calls.append((fn, self)) or real(self, fn, *a, **kw),
    )
    for _, run in BLOB_OPS.values():
        run(blobs)
    assert len(calls) == len(BLOB_OPS)
    kv = tmp_path / "kv"
    kv.mkdir()
    (kv / "part-00000").write_bytes(encode_kv_records([(b"k", b"v")]))

    def runs(code: str, obj=None) -> bool:
        return not subprocess.run(
            [sys.executable, "-c", "import pickle, sys; x = pickle.loads(sys.stdin.buffer.read()); " + code],
            input=cloudpickle.dumps(obj), cwd=tmp_path, env={}, capture_output=True,
        ).returncode

    assert not runs("import uda_spark")
    kernel = "fn, batches = x; assert sum(b.num_rows for b in fn(iter(batches)))"
    failed = [
        name for (name, _), (fn, src) in zip(BLOB_OPS.values(), calls)
        if not runs(kernel, (fn, src.toArrow().to_batches()))
    ]
    source = "r = x.reader(x.schema()); assert sum(b.num_rows for p in r.partitions() for b in r.read(p))"
    if not runs(source, UdaKVDataSource({"path": str(kv)})):
        failed.append("UdaKVDataSource")
    assert failed == []


def test_int_ids_widen_to_long(spark):
    """Every operator's output ``id`` is long, also for an int id column."""
    blobs = _blobs(spark, n=4).withColumn("doc_id", F.col("doc_id").cast("int"))
    for _, run in BLOB_OPS.values():
        out = run(blobs)
        assert dict(out.dtypes)["id"] == "bigint"
        assert sorted({r["id"] for r in out.collect()}) == [0, 1, 2, 3]


def test_features_feed_similarity(spark):
    from uda_spark.operators.similarity import knn_bruteforce

    feats = extract_features(_blobs(spark), "doc_id")
    row = feats.first()
    assert len(row["embedding"]) == 8
    queries = feats.where(F.col("id") < 3)
    knn = knn_bruteforce(feats, queries, "id", "embedding", top_k=3)
    got = knn.groupBy("query_id").count().collect()
    assert all(r["count"] == 3 for r in got)


def test_frame_sampling_fanout(spark):
    frames = sample_frames(_blobs(spark, n=10), n_frames=4, id_col="doc_id")
    counts = frames.groupBy("id").count().collect()
    assert len(counts) == 10 and all(r["count"] == 4 for r in counts)


class TestAudioFrames:
    def test_frame_shape_and_amp_bounds(self, spark):
        from tests.conftest import SF_SMOKE
        from uda_spark import multimodal as MM
        from uda_spark.multimodal.blob import AUDIO_FRAME_LEN, AUDIO_N_SAMPLES
        from uda_spark.sources.tables import load_table

        import pyspark.sql.functions as F

        docs = load_table(spark, SF_SMOKE, "documents").limit(50)
        blobs = MM.attach_blob_column(docs, "text", "doc_id", mime="audio/pcm")
        frames = MM.decode_audio_frames(blobs, id_col="doc_id")
        per_clip = frames.groupBy("id").agg(
            F.count("*").alias("n"), F.min("amp").alias("lo"), F.max("amp").alias("hi")
        )
        rows = per_clip.collect()
        assert len(rows) == 50
        for r in rows:
            assert r["n"] == AUDIO_N_SAMPLES // AUDIO_FRAME_LEN
            assert 0 <= r["lo"] <= r["hi"] <= 255 * AUDIO_FRAME_LEN

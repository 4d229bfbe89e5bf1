"""Failure injection for checkpoint_mode='reliable' (VERDICT r09 #8).

The knob and write path are covered by test_reliable_checkpoint_mode;
these tests inject actual failures and assert the two-pass operators
COMPLETE WITH PARITY instead of merely configuring the mode:

* ``test_reliable_checkpoint_survives_task_retry`` — a poisoned
  partition fails its first attempt INSIDE pass 2 of
  ``global_cumulative_sums`` (the window job that consumes the
  checkpoint).  With task retries enabled the stage retry re-reads the
  reliable checkpoint files and the result matches a pure-python
  recompute.  Task retries require a ``local[N, maxFailures]`` master,
  which must be chosen at context launch — so this test creates its own
  session when none is live and SKIPS (with the standalone invocation in
  the reason) when a retry-less context already owns the JVM.

* ``test_reliable_checkpoint_survives_source_loss`` — the property that
  distinguishes reliable from local mode at cluster scale: after
  ``snapshot()``, the ORIGINAL source is deleted, and both downstream
  jobs (the totals pass and a second full consumption) still succeed by
  reading checkpoint files — proof the checkpoint truncates lineage and
  no pass silently re-scans the source.  Runs under any session.

Slow-marked.  Standalone (gets the retrying master):
    python -m pytest tests/test_failure_injection.py -q -m slow
"""

from __future__ import annotations

import os
import re
import shutil

import pytest

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

pytestmark = pytest.mark.slow

_RETRY_MASTER = "local[8,3]"


@pytest.fixture(scope="module")
def retry_spark():
    existing = SparkSession.getActiveSession()
    if existing is not None:
        master = existing.sparkContext.master
        if not re.match(r"local\[\d+\s*,\s*[2-9]\d*\]", master):
            pytest.skip(
                f"task-retry injection needs a local[N,maxFailures] master "
                f"(live context is {master!r}); run standalone: "
                f"python -m pytest tests/test_failure_injection.py -q -m slow"
            )
        yield existing
        return
    s = (
        SparkSession.builder.master(_RETRY_MASTER)
        .appName("uda_failure_injection")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


def _poison_first_attempt_p0(marker_path: str):
    """mapInPandas fn: partition 0's FIRST attempt dies mid-stage; the
    task retry (attemptNumber > 0) passes rows through untouched.  The
    marker file proves the failure actually fired (an empty partition 0
    would otherwise make the test vacuous) — a FILE, not an accumulator,
    because Spark discards accumulator updates from failed attempts."""

    def fn(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            with open(marker_path, "w") as fh:
                fh.write("fired")
            raise RuntimeError("injected executor-side failure (attempt 0)")
        for pdf in batches:
            yield pdf

    return fn


def test_reliable_checkpoint_survives_task_retry(retry_spark, tmp_path):
    from uda_spark.operators import sort as S

    spark = retry_spark
    n = 10_000
    df = spark.range(n).select(
        # unique (operator contract) but NOT in id order: residue-major
        ((F.col("id") * 2654435761 % 97) * n + F.col("id")).alias("k"),
        (F.col("id") % 97 + 1).alias("v"),
    )
    expected_total = df.agg(F.sum("v")).collect()[0][0]

    S.set_checkpoint_mode("reliable")
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        marker = str(tmp_path / "poison_fired")
        cum = S.global_cumulative_sums(df, ["k"], ["v"], ["cum"], num_partitions=8)
        poisoned = cum.mapInPandas(
            _poison_first_attempt_p0(marker), schema=cum.schema
        )
        rows = poisoned.select("k", "v", "cum").collect()
    finally:
        S.set_checkpoint_mode("local")
        spark.sparkContext.setCheckpointDir(None)

    assert os.path.exists(marker), "poison never fired — the injection is vacuous"
    assert len(rows) == n
    # oracle parity: exclusive running sum in k order, recomputed in python
    rows.sort(key=lambda r: r["k"])
    acc = 0
    for r in rows:
        assert r["cum"] == acc, f"cum mismatch at k={r['k']}"
        acc += r["v"]
    assert acc == expected_total


def test_reliable_checkpoint_survives_source_loss(spark, tmp_path):
    from uda_spark.operators import sort as S

    src = str(tmp_path / "src.parquet")
    spark.range(5_000).select(
        F.col("id").alias("k"), (F.col("id") % 13 + 1).alias("v")
    ).write.parquet(src)

    df = spark.read.parquet(src)
    S.set_checkpoint_mode("reliable")
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        parted = df.repartitionByRange(4, "k").sortWithinPartitions("k")
        snap = S.snapshot(parted.withColumn("_pid", F.spark_partition_id()))
        # the source disappears between the two passes — an executor that
        # tried to recompute from lineage would now fail
        shutil.rmtree(src)
        assert not os.path.exists(src)
        # pass 1: per-partition totals; pass 2: full consumption
        totals = {
            r["_pid"]: r["s"]
            for r in snap.groupBy("_pid").agg(F.sum("v").alias("s")).collect()
        }
        assert sum(totals.values()) == sum(i % 13 + 1 for i in range(5_000))
        assert snap.count() == 5_000
    finally:
        S.set_checkpoint_mode("local")
        spark.sparkContext.setCheckpointDir(None)


def test_stream_sink_replay_after_crash_between_tempwrite_and_commit(
    spark, tmp_path
):
    """VERDICT r10 #8: the OTHER exactly-once failure window of the
    uda_kv streaming sink.  test_sources_sinks covers crash AFTER sink
    commit (finals exist, checkpoint commit marker missing); this covers
    crash BETWEEN task temp-writes and the driver's commit(batchId) —
    the directory state such a crash leaves is: the batch's temp
    segments present under the dead query's namespace, NO finals for the
    batch, and no checkpoint commit marker.  On restart Spark must
    replay the batch from the checkpointed offsets, a FRESH writer
    (new namespace) must promote exactly one copy of the data, and the
    dead attempt's foreign-namespace temps must be left alone (the
    namespaced sweep is what makes that safe) and never read back.
    """
    import os

    from uda_spark.sources import pyds
    from uda_spark.sources.hadoop_kv import encode_kv_records

    pyds.register(spark)
    src, dst, ckpt = (
        str(tmp_path / "src"),
        str(tmp_path / "dst"),
        str(tmp_path / "ckpt"),
    )

    def write_segment(name, pairs):
        os.makedirs(src, exist_ok=True)
        with open(os.path.join(src, name), "wb") as fh:
            fh.write(encode_kv_records(pairs))

    def pump():
        q = (
            spark.readStream.format("uda_kv")
            .load(src)
            .writeStream.format("uda_kv")
            .option("path", dst)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    pairs0 = [(f"k{i}".encode(), f"v{i}".encode()) for i in range(30)]
    pairs1 = [(f"k{i}".encode(), f"v{i}".encode()) for i in range(30, 75)]
    write_segment("part-a", pairs0)
    pump()  # batch 0 commits cleanly

    write_segment("part-b", pairs1)
    pump()  # batch 1 commits cleanly — now rewind it to the crash state

    # Reconstruct "crashed between temp-write and commit" for batch 1:
    # its finals never appeared (un-promote them), the dead attempt's
    # temps linger under a namespace no future writer owns, and the
    # checkpoint never recorded the commit.
    b1_finals = [f for f in os.listdir(dst) if f.startswith("part-b000001-")]
    assert b1_finals, "precondition: batch 1 produced finals"
    dead_ns = "deadbeefdead"
    for i, f in enumerate(b1_finals):
        os.replace(
            os.path.join(dst, f),
            os.path.join(dst, f"_tmp-stream-{dead_ns}-attempt{i}"),
        )
    os.remove(os.path.join(ckpt, "commits", "1"))
    crc = os.path.join(ckpt, "commits", ".1.crc")
    if os.path.exists(crc):
        os.remove(crc)

    pump()  # replay: a fresh writer must promote batch 1 exactly once

    out = spark.read.format("uda_kv").load(dst)
    keys = sorted(bytes(r.key).decode() for r in out.collect())
    assert keys == sorted(f"k{i}" for i in range(75)), "exactly-once violated"
    names = os.listdir(dst)
    # the dead attempt's foreign temps survive (documented: the sweep is
    # namespaced so a settling batch can never delete another query's
    # in-flight files) and are invisible to readers
    assert [f for f in names if f.startswith(f"_tmp-stream-{dead_ns}-")]
    # exactly one set of batch-1 finals, and no temps of the live writer
    assert len([f for f in names if f.startswith("part-b000001-")]) == len(
        b1_finals
    )
    assert not [
        f
        for f in names
        if f.startswith("_tmp-stream-") and dead_ns not in f
    ]

"""Streaming-vs-batch equivalence: the batch queries are the oracle for
the streaming twins (same semantics, different execution mode)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from uda_spark.registry import all_specs
from uda_spark.streaming.windows import (
    events_file_stream,
    hourly_counts_stream,
    run_stream_to_memory,
    sessionize_stream,
)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_hourly_counts_stream_matches_batch(spark):
    stream = events_file_stream(spark, SF_SMOKE)
    result = run_stream_to_memory(hourly_counts_stream(stream), "t_hourly")
    batch = all_specs()["events_hourly_rollup"].fn(spark, SF_SMOKE)
    cols = ["bucket_epoch", "event_type", "n_events", "total_value"]
    assert _rows(result, cols) == _rows(batch, cols)


def test_sessionize_stream_matches_batch_sessions(spark):
    stream = events_file_stream(spark, SF_SMOKE)
    result = run_stream_to_memory(sessionize_stream(stream), "t_sessions")
    batch = all_specs()["events_sessionize"].fn(spark, SF_SMOKE)
    cols = ["user_id", "n_events", "session_start", "session_end"]
    assert _rows(result, cols) == _rows(batch.select(*cols), cols)


def test_running_totals_stateful(spark):
    from uda_spark.streaming.stateful import running_totals_stream

    stream = events_file_stream(spark, SF_SMOKE)
    result = run_stream_to_memory(running_totals_stream(stream), "t_totals", mode="update")
    # state accumulates across the whole (availableNow) input: final rows
    # per user must equal the batch aggregate
    batch = (
        all_specs()["kv_reduce_by_key"].fn(spark, SF_SMOKE)
        .groupBy("user_id")
        .agg(F.sum("n_events").alias("n_events"))
    )
    got = {r["user_id"]: r["n_events"] for r in result.collect()}
    want = {r["user_id"]: r["n_events"] for r in batch.collect()}
    assert got == want


def test_evicting_update_accumulates_and_sets_timeout():
    """Function-level check of the ProcessingTimeTimeout eviction logic
    (stream-level: availableNow never fires processing-time timers, so the
    timer path is exercised against a fake GroupState here)."""
    import pandas as pd

    from uda_spark.streaming.stateful import _make_evicting_update

    class FakeState:
        def __init__(self, value=None, timed_out=False):
            self._v, self.hasTimedOut = value, timed_out
            self.removed, self.timeout_set = False, None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self.removed = True

        def setTimeoutDuration(self, ms):
            self.timeout_set = ms

    update = _make_evicting_update(60_000)

    # data batch: accumulate into state and re-arm the timer
    st = FakeState(value=(2, 300))
    batch = pd.DataFrame({"value_cents": [100, 50]})
    [out] = list(update((7,), [batch], st))
    assert st._v == (4, 450)
    assert st.timeout_set == 60_000 and not st.removed
    assert out["n_events"].iloc[0] == 4 and out["total_value"].iloc[0] == 4.5

    # timer fired: flush the final totals and evict the key
    st = FakeState(value=(4, 450), timed_out=True)
    [out] = list(update((7,), [], st))
    assert st.removed and st.timeout_set is None
    assert out["n_events"].iloc[0] == 4 and out["total_value"].iloc[0] == 4.5


class TestCheckpointRecovery:
    """Structured Streaming's restart contract: a restarted query resumes
    from its checkpoint and processes each input file EXACTLY once —
    the property that makes a 100 TB ingest pipeline restartable after
    a crash without dedup fixups downstream."""

    def _run_once(self, spark, src, sink, ckpt):
        stream = (
            spark.readStream.schema("id LONG, v STRING")
            .parquet(src)
            .withColumn("tag", F.upper("v"))
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive

    def test_restart_is_exactly_once(self, spark, tmp_path):
        src = str(tmp_path / "src")
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")

        batch1 = spark.range(0, 100).select("id", F.md5(F.col("id").cast("string")).alias("v"))
        batch1.coalesce(1).write.mode("append").parquet(src)
        self._run_once(spark, src, sink, ckpt)
        assert spark.read.parquet(sink).count() == 100

        # restart with NO new input: nothing reprocessed
        self._run_once(spark, src, sink, ckpt)
        assert spark.read.parquet(sink).count() == 100

        # new files arrive; restart processes ONLY them
        batch2 = spark.range(100, 150).select("id", F.md5(F.col("id").cast("string")).alias("v"))
        batch2.coalesce(1).write.mode("append").parquet(src)
        self._run_once(spark, src, sink, ckpt)
        out = spark.read.parquet(sink)
        assert out.count() == 150
        # every id exactly once — the exactly-once guarantee, not just counts
        assert out.groupBy("id").count().where(F.col("count") > 1).count() == 0
        # derived column survived the restart boundary
        assert out.where(F.col("tag") != F.upper("v")).count() == 0


def _have_protobuf() -> bool:
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _have_protobuf(),
    reason="transformWithStateInPandas needs protobuf (absent; install not permitted)",
)
def test_transform_with_state_running_totals(spark):
    """Spark 4's StatefulProcessor API (transformWithStateInPandas) —
    the successor to applyInPandasWithState with typed state + timers.
    Investigated in round 6: the driver-side state-server protocol
    imports google.protobuf, which this environment does not ship, so
    the query crashes at streaming-runner init (recorded in PLANS.md).
    This test IS the wired usage, exercised wherever protobuf exists;
    the applyInPandasWithState operator (streaming/stateful.py) covers
    the capability on this environment."""
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from uda_spark import streaming as ST
    from tests.conftest import SF_SMOKE

    class Totals(StatefulProcessor):
        def init(self, handle):
            self.totals = handle.getValueState("totals", "n LONG, cents LONG")

        def handleInputRows(self, key, rows, timerValues):
            n, cents = self.totals.get() if self.totals.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["value_cents"].sum())
            self.totals.update((n, cents))
            # Emit integer cents, not cents/100.0: the batch comparison
            # sums DECIMAL then casts, and the two double roundings can
            # differ in the last ulp — integer totals make the equality
            # exact on both sides.
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
            )

        def close(self):
            pass

    ev = ST.events_file_stream(spark, SF_SMOKE)
    prepped = ev.select(
        "user_id",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS LONG)").alias("value_cents"),
    )
    out = prepped.groupBy("user_id").transformWithStateInPandas(
        Totals(),
        outputStructType="user_id LONG, n_events LONG, total_cents LONG",
        outputMode="Update",
        timeMode="None",
    )
    sink = ST.run_stream_to_memory(out, "tws_totals_sink", mode="update")
    from uda_spark.sources.tables import load_table

    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS LONG)"))
            .cast("long")
            .alias("total_cents"),
        )
    )
    assert sorted(map(tuple, sink.collect())) == sorted(map(tuple, batch.collect()))


def test_streaming_freshness_matches_batch_audit(spark):
    """The streaming freshness monitor agrees with the batch
    dq_freshness_lag audit on the shared columns (max_us, lag_us)."""
    stream_rows = {
        r["event_type"]: r
        for r in all_specs()["streaming_freshness_lag"].fn(spark, SF_SMOKE).collect()
    }
    batch_rows = {
        r["event_type"]: r
        for r in all_specs()["dq_freshness_lag"].fn(spark, SF_SMOKE).collect()
    }
    assert set(stream_rows) == set(batch_rows)
    for et, b in batch_rows.items():
        s = stream_rows[et]
        assert s["max_us"] == b["max_us"]
        assert s["lag_us"] == b["lag_us"]
    assert min(r["lag_us"] for r in stream_rows.values()) == 0


def _stream_dirs(spark):
    """(JVM temp-checkpoint dirs, registered stream checkpoint roots)."""
    import glob
    import os

    from uda_spark import cache

    jvm_tmp = spark.sparkContext._jvm.java.lang.System.getProperty("java.io.tmpdir")
    temps = set(glob.glob(os.path.join(jvm_tmp, "temporary-*")))
    return temps, [d for d in cache._DIRS if "uda_stream_ckpt" in d]


def test_stream_checkpoints_have_one_owner(spark):
    """A streaming query checkpoints under cache.scratch_dir, never in a
    Spark temp dir: a registered pipeline query and a stream that fails
    leave no ``temporary-*`` directory in the JVM temp dir, and
    release_persisted deletes both checkpoint roots."""
    import os

    from uda_spark import cache

    temps0, _ = _stream_dirs(spark)
    all_specs()["streaming_hourly_rollup"].fn(spark, SF_SMOKE).collect()
    failing = events_file_stream(spark, SF_SMOKE).select(
        F.expr("CAST(raise_error('planted stream failure') AS INT)").alias("x")
    )
    with pytest.raises(Exception, match="planted stream failure"):
        run_stream_to_memory(failing, "t_failing_stream", mode="append")
    temps, roots = _stream_dirs(spark)
    assert temps == temps0
    assert len(roots) == 2 and all(map(os.path.isdir, roots))
    cache.release_persisted()
    assert not any(map(os.path.exists, roots))

"""Format scans/sinks and layout behavior: round-trips, partition
pruning on partitioned writes, bucketed-table exchange elimination,
salted aggregation correctness."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from uda_spark.plans.explain import count_exchanges, plan_str
from uda_spark.plans.partitioning import explode_salt_for_join, salted_agg, with_salt
from uda_spark.sources import formats
from uda_spark.sources.tables import load_table


def test_csv_roundtrip(spark, tmp_path):
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = str(tmp_path / "orders_csv")
    formats.write_csv(orders, path)
    back = formats.read_csv(spark, path, orders.schema)
    assert back.count() == orders.count()
    assert sorted(back.columns) == sorted(orders.columns)
    s = orders.agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s")).collect()[0]["s"]
    b = back.agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s")).collect()[0]["s"]
    assert s == b


def test_json_roundtrip(spark, tmp_path):
    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "event_type", "props")
    path = str(tmp_path / "events_json")
    formats.write_json(ev, path)
    back = formats.read_json(spark, path, ev.schema)
    assert back.count() == ev.count()


def test_avro_gated(spark, tmp_path):
    """Avro round-trips when spark-avro is present; raises the documented
    error when absent (this container ships without the external module)."""
    import pytest

    nation = load_table(spark, SF_SMOKE, "nation")
    path = str(tmp_path / "nation_avro")
    if formats.avro_available(spark):
        formats.write_avro(nation, path)
        back = formats.read_avro(spark, path, nation.schema)
        assert back.count() == nation.count()
    else:
        with pytest.raises(RuntimeError, match="spark-avro"):
            formats.write_avro(nation, path)
        with pytest.raises(RuntimeError, match="spark-avro"):
            formats.read_avro(spark, path)


def test_partitioned_parquet_prunes(spark, tmp_path):
    orders = load_table(spark, SF_SMOKE, "orders")
    path = str(tmp_path / "orders_parted")
    formats.write_parquet(orders, path, partition_by=["o_orderstatus"])
    back = spark.read.parquet(path).where(F.col("o_orderstatus") == "F")
    plan = plan_str(back)
    # partition filter must appear as PartitionFilters, not a row filter
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters")[1][:200]
    want = orders.where(F.col("o_orderstatus") == "F").count()
    assert back.count() == want


def test_bucketed_table_join_avoids_exchange(spark):
    # bucketed tables land in the default warehouse dir (gitignored)
    orders = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    formats.write_bucketed_table(orders, "b_orders", ["o_orderkey"], 4, mode="overwrite")
    formats.write_bucketed_table(li, "b_lineitem", ["l_orderkey"], 4, mode="overwrite")
    bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
    # disable broadcast so the join would otherwise need two exchanges
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
        n_ex = count_exchanges(joined)
        assert n_ex == 0, plan_str(joined)
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_agg_matches_plain(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    plain = {
        (r["event_type"],): (r["n"], r["s"])
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum(F.col("value").cast("decimal(18,2)")).alias("s"))
        .collect()
    }
    salted = salted_agg(
        ev,
        ["event_type"],
        n_salts=8,
        partial_aggs=[
            F.count("*").alias("pn"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("ps"),
        ],
        final_aggs=[F.sum("pn").alias("n"), F.sum("ps").alias("s")],
    )
    got = {(r["event_type"],): (r["n"], r["s"]) for r in salted.collect()}
    assert got == plain


def test_salted_join_matches_plain(spark):
    ev = load_table(spark, SF_SMOKE, "events")  # user_id is skewed-ish
    users = ev.select("user_id").distinct().withColumn("tag", F.col("user_id") % 3)
    plain = ev.join(users, on="user_id").groupBy("tag").count().collect()
    big = with_salt(ev, 4)
    small = explode_salt_for_join(users, 4)
    salted = big.join(small, on=["user_id", "_salt"]).groupBy("tag").count().collect()
    assert sorted((r["tag"], r["count"]) for r in plain) == sorted(
        (r["tag"], r["count"]) for r in salted
    )


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    from uda_spark.sources import formats as FF
    from uda_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    path = str(tmp_path / "li_orc")
    FF.write_orc(li, path)
    back = FF.read_orc(spark, path).where(F.col("l_returnflag") == "R")
    plan = back._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters" in plan and "l_returnflag" in plan.split("PushedFilters")[1][:120]
    expect = li.where(F.col("l_returnflag") == "R").count()
    assert back.count() == expect


def test_parquet_codec_matrix_roundtrip(spark, tmp_path):
    """O12 analog: the engine reads/writes every production codec."""
    from uda_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    src = load_table(spark, SF_SMOKE, "orders").limit(500)
    expect = src.count()
    checksum = src.agg(F.sum("o_orderkey")).collect()[0][0]
    for codec in ("snappy", "gzip", "zstd", "lz4"):
        path = str(tmp_path / f"orders_{codec}")
        src.write.mode("overwrite").option("compression", codec).parquet(path)
        back = spark.read.parquet(path)
        assert back.count() == expect, codec
        assert back.agg(F.sum("o_orderkey")).collect()[0][0] == checksum, codec


def test_shuffle_transport_conf_applies():
    """The shuffle seam is pure config: the plugin keys appear only when
    a plugin is named, and ``extra`` passes through."""
    from uda_spark.shuffle import shuffle_plugin_conf

    conf = shuffle_plugin_conf(
        shuffle_manager="org.apache.spark.shuffle.sort.SortShuffleManager"
    )
    assert conf["spark.shuffle.manager"].endswith("SortShuffleManager")
    # stock fallback: no manager key when no plugin is named
    assert "spark.shuffle.manager" not in shuffle_plugin_conf()
    assert shuffle_plugin_conf(extra={"k": "v"}) == {"k": "v"}


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """mergeSchema reads unioned columns across parquet batches written
    with evolving schemas — nulls where a batch lacks the column."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(p + "/b=1")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(p + "/b=2")
    back = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(back.columns) >= {"id", "name", "score"}
    rows = {r["id"]: r for r in back.collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5


def test_csv_permissive_mode_keeps_corrupt_rows(spark, tmp_path):
    """PERMISSIVE scan: malformed rows null out, clean rows survive —
    the 100 TB posture (one bad record must not kill a 6-hour job)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    f = tmp_path / "dirty.csv"
    f.write_text("id,qty\n1,10\nnotanumber,xx\n3,30\n")
    schema = StructType(
        [StructField("id", LongType()), StructField("qty", LongType())]
    )
    from uda_spark.sources.formats import read_csv

    df = read_csv(spark, str(f), schema)
    rows = df.collect()
    assert len(rows) == 3
    good = {r["id"]: r["qty"] for r in rows if r["id"] is not None}
    assert good == {1: 10, 3: 30}


class TestEventMicros:
    """event_micros must yield identical epoch-microseconds for BOTH
    physical layouts the events table has shipped in (int64 nanoseconds
    and parquet timestamp[us]) — the regenerated-testdata hazard."""

    MICROS = [1_700_000_000_000_000, 1_700_000_123_456_789, 0]

    def test_nanos_and_timestamp_layouts_agree(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from uda_spark.sources.tables import event_micros

        ns_path = str(tmp_path / "ev_ns.parquet")
        us_path = str(tmp_path / "ev_us.parquet")
        pq.write_table(
            pa.table({"ts": pa.array([m * 1000 for m in self.MICROS], pa.timestamp("ns"))}),
            ns_path,
        )
        pq.write_table(
            pa.table({"ts": pa.array(self.MICROS, pa.timestamp("us"))}), us_path
        )

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ns_df = spark.read.parquet(ns_path)
        us_df = spark.read.parquet(us_path)
        assert ns_df.schema["ts"].dataType.simpleString() == "bigint"
        assert us_df.schema["ts"].dataType.simpleString().startswith("timestamp")

        got_ns = sorted(r["us"] for r in ns_df.select(event_micros(ns_df).alias("us")).collect())
        got_us = sorted(r["us"] for r in us_df.select(event_micros(us_df).alias("us")).collect())
        assert got_ns == got_us == sorted(self.MICROS)

    def test_rejects_unsupported_type(self, spark):
        import pytest as _pytest

        from uda_spark.sources.tables import event_micros

        df = spark.createDataFrame([("x",)], "ts string")
        with _pytest.raises(TypeError, match="unsupported event-time type"):
            event_micros(df)


class TestPythonDataSource:
    """The uda_kv Spark 4 Python DataSource (sources/pyds.py): connector
    contract — partition planning, overwrite, commit atomicity."""

    def _df(self, spark, n=200, parts=3):
        from pyspark.sql import functions as F

        return spark.range(0, n).repartition(parts).select(
            F.col("id").cast("string").cast("binary").alias("key"),
            F.md5(F.col("id").cast("string")).cast("binary").alias("value"),
        )

    def test_roundtrip_and_partition_per_file(self, spark, tmp_path):
        from uda_spark.sources import pyds

        pyds.register(spark)
        path = str(tmp_path / "kv")
        src = self._df(spark, n=200, parts=3)
        src.write.format("uda_kv").mode("overwrite").save(path)
        back = spark.read.format("uda_kv").load(path)
        # one planner partition per segment file (MOF layout)
        assert back.rdd.getNumPartitions() == 3
        a = sorted((bytes(r.key), bytes(r.value)) for r in back.collect())
        b = sorted((bytes(r.key), bytes(r.value)) for r in src.collect())
        assert a == b

    def test_null_key_or_value_raises_descriptive_error(self, spark, tmp_path):
        """ADVICE r10: a NULL key/value used to die deep in the VInt
        encoder on len(None); the writer now names the offending column
        up front."""
        import pytest

        from uda_spark.sources import pyds

        pyds.register(spark)
        path = str(tmp_path / "kv_null")
        bad = spark.range(3).select(
            F.when(F.col("id") > 0, F.col("id").cast("string").cast("binary"))
            .alias("key"),
            F.lit("v").cast("binary").alias("value"),
        )
        with pytest.raises(Exception, match="NULL in column 'key'"):
            bad.write.format("uda_kv").mode("overwrite").save(path)

    def test_overwrite_replaces_segments(self, spark, tmp_path):
        import os

        from uda_spark.sources import pyds

        pyds.register(spark)
        path = str(tmp_path / "kv")
        self._df(spark, n=100, parts=4).write.format("uda_kv").mode(
            "overwrite"
        ).save(path)
        assert len([f for f in os.listdir(path) if f.startswith("part-")]) == 4
        self._df(spark, n=50, parts=2).write.format("uda_kv").mode(
            "overwrite"
        ).save(path)
        files = [f for f in os.listdir(path) if f.startswith("part-")]
        assert len(files) == 2
        assert spark.read.format("uda_kv").load(path).count() == 50
        # no leftover tmp segments after commit
        assert not [f for f in os.listdir(path) if f.startswith("_tmp-")]


class TestPythonDataSourceStreaming:
    """uda_kv streaming reader: micro-batch offsets over an append-only
    segment directory, checkpointed resume, exactly-once."""

    def _write_segment(self, path, name, pairs):
        import os

        from uda_spark.sources.hadoop_kv import encode_kv_records

        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, name), "wb") as fh:
            fh.write(encode_kv_records(pairs))

    def _drain(self, spark, src, sink, ckpt):
        from uda_spark.sources import pyds

        pyds.register(spark)
        q = (
            spark.readStream.format("uda_kv")
            .load(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def test_stream_resumes_from_offsets(self, spark, tmp_path):
        src, sink, ckpt = (
            str(tmp_path / "src"),
            str(tmp_path / "sink"),
            str(tmp_path / "ckpt"),
        )
        self._write_segment(
            src, "part-a", [(f"k{i}".encode(), f"v{i}".encode()) for i in range(50)]
        )
        self._write_segment(
            src, "part-b", [(f"k{i}".encode(), f"v{i}".encode()) for i in range(50, 80)]
        )
        self._drain(spark, src, sink, ckpt)
        assert spark.read.parquet(sink).count() == 80

        # idle restart: offsets say everything is consumed
        self._drain(spark, src, sink, ckpt)
        assert spark.read.parquet(sink).count() == 80

        # a new segment arrives; only it is read
        self._write_segment(
            src, "part-c", [(f"k{i}".encode(), f"v{i}".encode()) for i in range(80, 100)]
        )
        self._drain(spark, src, sink, ckpt)
        out = spark.read.parquet(sink)
        assert out.count() == 100
        keys = sorted(bytes(r.key).decode() for r in out.collect())
        assert keys == sorted(f"k{i}" for i in range(100))


class TestPythonDataSourceStreamWriter:
    """uda_kv streaming WRITER (round 7): per-batch commit promotes temp
    segments to batch-stamped names (pure function of batchId +
    partitionId -> idempotent replay), and the directory stays readable
    by the batch reader AND the streaming reader — the full
    stream -> uda_kv -> batch loop."""

    def _write_segment(self, path, name, pairs):
        import os

        from uda_spark.sources.hadoop_kv import encode_kv_records

        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, name), "wb") as fh:
            fh.write(encode_kv_records(pairs))

    def _pump(self, spark, src, dst, ckpt):
        from uda_spark.sources import pyds

        pyds.register(spark)
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

    def test_stream_to_kv_sink_roundtrip(self, spark, tmp_path):
        import os

        src, dst, ckpt = (
            str(tmp_path / "src"),
            str(tmp_path / "dst"),
            str(tmp_path / "ckpt"),
        )
        pairs1 = [(f"k{i}".encode(), f"v{i}".encode()) for i in range(60)]
        self._write_segment(src, "part-a", pairs1)
        self._pump(spark, src, dst, ckpt)
        out = spark.read.format("uda_kv").load(dst)
        assert sorted(bytes(r.key) for r in out.collect()) == sorted(
            k for k, _ in pairs1
        )
        files = [f for f in os.listdir(dst) if f.startswith("part-")]
        assert files and all(f.startswith("part-b") for f in files)
        assert not [f for f in os.listdir(dst) if f.startswith("_tmp-")]

        # second micro-batch appends new batch-stamped segments only
        pairs2 = [(f"k{i}".encode(), f"v{i}".encode()) for i in range(60, 90)]
        self._write_segment(src, "part-b", pairs2)
        self._pump(spark, src, dst, ckpt)
        out = spark.read.format("uda_kv").load(dst)
        assert sorted(bytes(r.key).decode() for r in out.collect()) == sorted(
            f"k{i}" for i in range(90)
        )
        # batch stamps are distinct across the two commits
        stamps = {f.split("-")[1] for f in os.listdir(dst) if f.startswith("part-b")}
        assert len(stamps) == 2

    def test_replay_after_crash_before_checkpoint_commit(self, spark, tmp_path):
        """Crash between sink commit and checkpoint write — the exact
        failure window the exactly-once contract covers: run a batch to
        completion, delete the checkpoint commit marker (the state such
        a crash leaves behind), restart.  Spark replays batch 0 into the
        already-committed directory; contents must be exactly-once."""
        import os

        src, dst, ckpt = (
            str(tmp_path / "src"),
            str(tmp_path / "dst"),
            str(tmp_path / "ckpt"),
        )
        pairs = [(f"k{i}".encode(), f"v{i}".encode()) for i in range(40)]
        self._write_segment(src, "part-a", pairs)
        self._pump(spark, src, dst, ckpt)
        # simulate the crash: the commit marker never made it to the
        # checkpoint (drop the Hadoop-local .crc twin too, or the
        # ChecksumFileSystem refuses the replay's rewrite)
        os.remove(os.path.join(ckpt, "commits", "0"))
        os.remove(os.path.join(ckpt, "commits", ".0.crc"))
        self._pump(spark, src, dst, ckpt)
        out = spark.read.format("uda_kv").load(dst)
        assert sorted(bytes(r.key).decode() for r in out.collect()) == sorted(
            f"k{i}" for i in range(40)
        )
        assert not [f for f in os.listdir(dst) if f.startswith("_tmp-")]

    def test_commit_prunes_stale_attempt_files(self, tmp_path):
        """A replayed batch may yield FEWER partitions than the
        previously committed attempt (source split layout changed);
        commit() must delete same-batch finals outside the winning
        message set and sweep loser-attempt temps, leaving other
        batches untouched — idempotence without the equal-partition
        assumption."""
        import os

        from uda_spark.sources.hadoop_kv import decode_kv_stream, encode_kv_records
        from uda_spark.sources.pyds import _Committed, _KVStreamWriter

        d = str(tmp_path / "dst")
        os.makedirs(d)

        def seg(name, pairs):
            with open(os.path.join(d, name), "wb") as fh:
                fh.write(encode_kv_records(pairs))

        w = _KVStreamWriter({"path": d})
        loser = f"_tmp-stream-{w._ns}-loser"
        winner = f"_tmp-stream-{w._ns}-winner"
        foreign = "_tmp-stream-feedbeefcafe-other"  # another query's in-flight temp

        seg("part-b000001-00000", [(b"old0", b"x")])  # prior attempt, pid 0
        seg("part-b000001-00001", [(b"old1", b"x")])  # prior attempt, pid 1 (stale)
        seg("part-b000000-00000", [(b"b0", b"x")])  # earlier batch — keep
        seg(loser, [(b"spec", b"x")])  # speculative loser attempt (ours)
        seg(foreign, [(b"theirs", b"x")])  # NOT ours — must survive the sweep
        seg(winner, [(b"new0", b"y")])  # winning attempt temp

        w.commit([_Committed(os.path.join(d, winner), "00000", 1)], 1)

        assert sorted(os.listdir(d)) == [
            foreign,
            "part-b000000-00000",
            "part-b000001-00000",
        ]
        with open(os.path.join(d, "part-b000001-00000"), "rb") as fh:
            assert list(decode_kv_stream(fh.read())) == [(b"new0", b"y")]

    def test_abort_sweeps_orphan_temps(self, tmp_path):
        """abort() removes the failed batch's temps AND any loser-attempt
        orphans, so a long-running stream with task retries never leaks
        directory entries."""
        import os

        from uda_spark.sources.hadoop_kv import encode_kv_records
        from uda_spark.sources.pyds import _Committed, _KVStreamWriter

        d = str(tmp_path / "dst")
        os.makedirs(d)
        w = _KVStreamWriter({"path": d})
        a = f"_tmp-stream-{w._ns}-a"
        b = f"_tmp-stream-{w._ns}-b"
        foreign = "_tmp-stream-feedbeefcafe-other"  # another query's — must survive
        for name in (a, b, foreign):
            with open(os.path.join(d, name), "wb") as fh:
                fh.write(encode_kv_records([(b"k", b"v")]))
        with open(os.path.join(d, "part-b000000-00000"), "wb") as fh:
            fh.write(encode_kv_records([(b"keep", b"v")]))

        w.abort([_Committed(os.path.join(d, a), "00000", 1), None], 0)
        assert sorted(os.listdir(d)) == [foreign, "part-b000000-00000"]


class TestR14WriterSchemaGuard:
    """ADVICE r13: get_field_index returns -1 for a missing column and
    batch.column(-1) silently reads the LAST column — the Arrow writers
    must raise a schema error instead."""

    def test_batch_write_missing_key_column_raises(self, spark, tmp_path):
        import pytest

        from uda_spark.sources import pyds

        pyds.register(spark)
        path = str(tmp_path / "kv_nokey")
        bad = spark.range(3).select(
            F.col("id").cast("string").cast("binary").alias("k"),
            F.lit("v").cast("binary").alias("value"),
        )
        with pytest.raises(Exception, match="requires 'key' and 'value'"):
            bad.write.format("uda_kv").mode("overwrite").save(path)

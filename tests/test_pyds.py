"""kcore_topic Python DataSource (sources/pyds.py): planning and read
parity with the native TopicLog fetch path."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from kcore_spark.sources.pyds import TopicLogDataSource, TopicLogReader
from kcore_spark.sources.topic_log import TopicLog


def _make_log(spark, n=100, parts=3):
    root = tempfile.mkdtemp(prefix="kcore_pyds_")
    log = TopicLog(spark, root)
    log.create_topic("t", parts)
    recs = spark.range(0, n).select(
        F.encode(F.col("id").cast("string"), "utf-8").alias("key"),
        F.encode((F.col("id") * 7).cast("string"), "utf-8").alias("value"),
        F.col("id").alias("seq"),
    )
    log.produce("t", recs, order_by=["seq"])
    log.produce("t", recs, order_by=["seq"])  # second batch → more segments
    return log


def _raw(part, lo, hi):
    """Records [lo, hi) of one partition as the pyarrow table
    append_raw takes."""
    import datetime

    import pyarrow as pa

    n = hi - lo
    return pa.table(
        {
            "key": pa.array([b"k%d" % o for o in range(lo, hi)], pa.binary()),
            "value": pa.array([b"v%d" % o for o in range(lo, hi)], pa.binary()),
            "partition": pa.array([part] * n, pa.int32()),
            "offset": pa.array(range(lo, hi), pa.int64()),
            "timestamp": pa.array([datetime.datetime(2024, 1, 1)] * n, pa.timestamp("us")),
            "timestampType": pa.array([0] * n, pa.int32()),
            "headers": pa.nulls(n, pa.map_(pa.string(), pa.binary())),
        }
    )


def test_full_read_matches_native_fetch(spark):
    log = _make_log(spark)
    spark.dataSource.register(TopicLogDataSource)
    via_ds = (
        spark.read.format("kcore_topic")
        .option("root", log.root)
        .option("topic", "t")
        .load()
        .select("partition", "offset", "key", "value")
    )
    native = [
        log.fetch("t", p, 0, 10_000).select("partition", "offset", "key", "value")
        for p in range(3)
    ]
    native_all = native[0].unionByName(native[1]).unionByName(native[2])
    a = sorted(map(tuple, via_ds.collect()))
    b = sorted(map(tuple, native_all.collect()))
    assert a == b and len(a) == 200


def test_offset_range_filters_and_prunes(spark):
    log = _make_log(spark)
    spark.dataSource.register(TopicLogDataSource)
    sub = (
        spark.read.format("kcore_topic")
        .option("root", log.root)
        .option("topic", "t")
        .option("start_offset", "5")
        .option("end_offset", "15")
        .load()
    )
    rows = sub.collect()
    assert all(5 <= r.offset < 15 for r in rows)
    assert len(rows) == 30  # 10 offsets × 3 partitions

    # manifest-based planning prunes whole segments outside the range:
    # the second produce's segments hold offsets >= ~33 per partition,
    # so a [0, 5) read must plan strictly fewer segments than a full read
    def planned_segments(reader):
        return sum(len(s.paths) for s in reader.partitions())

    full_segments = planned_segments(TopicLogReader({"root": log.root, "topic": "t"}))
    low_segments = planned_segments(
        TopicLogReader(
            {"root": log.root, "topic": "t", "start_offset": "0", "end_offset": "5"}
        )
    )
    assert 0 < low_segments < full_segments


def test_empty_topic_reads_zero_rows(spark):
    root = tempfile.mkdtemp(prefix="kcore_pyds_empty_")
    log = TopicLog(spark, root)
    log.create_topic("empty", 2)
    spark.dataSource.register(TopicLogDataSource)
    df = (
        spark.read.format("kcore_topic")
        .option("root", root)
        .option("topic", "empty")
        .load()
    )
    assert df.count() == 0
    assert len(df.schema.fields) == 7


def test_stream_reader_incremental_across_runs(spark):
    import tempfile as tf

    from pyspark.sql import functions as F2

    log = _make_log(spark, n=60)
    spark.dataSource.register(TopicLogDataSource)
    ckpt = tf.mkdtemp(prefix="kcore_pyds_ckpt_")
    sink = tf.mkdtemp(prefix="kcore_pyds_sink_") + "/out"

    def run_once():
        q = (
            spark.readStream.format("kcore_topic")
            .option("root", log.root)
            .option("topic", "t")
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = spark.read.parquet(sink).count()
    assert first == 120  # two produces of 60

    # new records arrive; the SAME checkpoint must pick up ONLY them
    recs = spark.range(1000, 1010).select(
        F2.encode(F2.col("id").cast("string"), "utf-8").alias("key"),
        F2.encode(F2.col("id").cast("string"), "utf-8").alias("value"),
        F2.col("id").alias("seq"),
    )
    log.produce("t", recs, order_by=["seq"])
    run_once()
    df = spark.read.parquet(sink)
    assert df.count() == 130
    # every (partition, offset) appears exactly once — no replay dups
    assert df.select("partition", "offset").distinct().count() == 130


def test_stream_read_equals_batch_read(spark, tmp_path):
    """The stream source hands Spark the same Arrow batches as the batch
    source: one availableNow run returns the batch read's rows field
    for field, on pyarrow-written (flushed) and Spark-written
    (produced) segments alike, timestamps on the UTC wall clock."""
    import datetime

    from kcore_spark.protocol.broker import WireLog
    from kcore_spark.protocol.records import Record

    root = str(tmp_path / "logs")
    log = TopicLog(spark, root)
    log.create_topic("t", 2)
    wl = WireLog()
    wl.create_topic("t", 2)
    base_ms = 1700000000123
    for p in (0, 1):
        wl.append("t", p, [Record(b"w%d" % i, b"x" * i, base_ms + i) for i in range(5)])
    assert wl.flush_to_topic_log(spark, log, "t") == 10
    log.produce(
        "t",
        spark.range(6).select(
            F.encode(F.col("id").cast("string"), "utf-8").alias("key"),
            F.lit(None).cast("binary").alias("value"),
            F.timestamp_millis(F.lit(base_ms) + 1000 * F.col("id")).alias("timestamp"),
            F.col("id").alias("seq"),
        ),
        partition_expr=(F.col("seq") % 2).cast("int"),
        order_by=["seq"],
    )
    spark.dataSource.register(TopicLogDataSource)
    q = (
        spark.readStream.format("kcore_topic")
        .option("root", root)
        .option("topic", "t")
        .load()
        .writeStream.format("memory")
        .queryName("kcore_stream_vs_batch")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.table("kcore_stream_vs_batch").collect()
    batch = spark.read.format("kcore_topic").option("root", root).option("topic", "t").load().collect()

    def keyed(rows):
        return {(r["partition"], r["offset"]): r.asDict() for r in rows}

    assert len(streamed) == len(batch) == 16
    assert keyed(streamed) == keyed(batch)
    epoch = datetime.datetime(1970, 1, 1)
    got_ms = sorted((r["timestamp"] - epoch) // datetime.timedelta(milliseconds=1) for r in batch)
    want_ms = sorted([base_ms + i for i in range(5)] * 2 + [base_ms + 1000 * i for i in range(6)])
    assert got_ms == want_ms


def test_record_arrow_schema_is_the_declared_one(spark):
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    from kcore_spark.sources.pyds import RECORD_DDL, _record_arrow_schema

    declared = spark.createDataFrame([], RECORD_DDL).schema
    assert isinstance(declared, StructType)
    assert to_arrow_schema(declared).equals(_record_arrow_schema())


def test_hostile_options_fail_cleanly(spark):
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    spark.dataSource.register(TopicLogDataSource)
    # unknown topic: planning fails with a clear error, not a hang
    with _pytest.raises(Exception) as ei:
        (
            spark.read.format("kcore_topic")
            .option("root", "/nonexistent_kcore_root")
            .option("topic", "ghost")
            .load()
            .collect()
        )
    assert "ghost" in str(ei.value) or "No such file" in str(ei.value)


def test_stream_restart_with_no_new_records_reads_nothing(spark):
    """A second availableNow run on the same checkpoint, with nothing
    produced in between, must finish with 0 new rows. pyspark calls
    next() on read()'s result when the offsets did not advance, so
    read() must hand back an iterator, not a bare list."""
    import tempfile as tf

    log = _make_log(spark, n=20)
    spark.dataSource.register(TopicLogDataSource)
    ckpt = tf.mkdtemp(prefix="kcore_pyds_ckpt_")
    sink = tf.mkdtemp(prefix="kcore_pyds_sink_") + "/out"

    def run_once():
        q = (
            spark.readStream.format("kcore_topic")
            .option("root", log.root)
            .option("topic", "t")
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert q.exception() is None

    run_once()
    assert spark.read.parquet(sink).count() == 40
    run_once()
    assert spark.read.parquet(sink).count() == 40


def test_corrupt_manifest_falls_back_to_listing(spark):
    # a manifest that isn't JSON must not poison reads: the planner
    # the DataSource, fetch and offsets_for_timestamp use treats an
    # unreadable manifest as absent and lists the directory
    import os

    log = _make_log(spark, n=30)
    with open(os.path.join(log.root, "t", "_manifest.json"), "w") as f:
        f.write("{ not json")
    spark.dataSource.register(TopicLogDataSource)
    df = (
        spark.read.format("kcore_topic")
        .option("root", log.root)
        .option("topic", "t")
        .load()
    )
    assert df.count() == 60
    assert log.fetch("t", 0, 0, 1000).count() == df.where("partition = 0").count() > 0
    assert [tuple(r) for r in log.offsets_for_timestamp("t", 0).collect()] == [(0, 0), (1, 0), (2, 0)]


def test_read_stops_at_the_committed_watermark(spark, tmp_path):
    """A commit that crashed between its scoped manifest refresh and its
    watermark flip leaves an indexed segment past the watermark. A
    kcore_topic read must not return its uncommitted rows, just as
    scan and fetch do not."""
    import os

    from kcore_spark.sources.topic_log import _write_segment

    root = str(tmp_path / "logs")
    log = TopicLog(spark, root)
    log.create_topic("t", 1)
    log.append_raw("t", _raw(0, 0, 10))
    _write_segment(os.path.join(root, "t", "data", "partition=0"), _raw(0, 10, 15))
    log._refresh_manifest("t", partitions={0})
    assert log._watermarks("t") == {0: 10}
    spark.dataSource.register(TopicLogDataSource)
    via_ds = spark.read.format("kcore_topic").option("root", root).option("topic", "t").load()
    assert sorted(r["offset"] for r in via_ds.collect()) == list(range(10))
    assert log.scan("t").count() == 10
    assert log.fetch("t", 0, 0, 100).count() == 10


def test_read_starts_at_the_log_start(spark, tmp_path):
    """truncate_before inside a segment hides the segment's truncated
    prefix from scan and fetch; a kcore_topic batch read and an
    availableNow stream must hide it too."""
    root = str(tmp_path / "logs")
    log = TopicLog(spark, root)
    log.create_topic("t", 1)
    log.append_raw("t", _raw(0, 0, 10))
    log.truncate_before("t", {0: 3})
    assert log.scan("t").count() == 7
    assert log.fetch("t", 0, 0, 100).count() == 7
    spark.dataSource.register(TopicLogDataSource)
    batch = spark.read.format("kcore_topic").option("root", root).option("topic", "t").load()
    assert sorted(r["offset"] for r in batch.collect()) == list(range(3, 10))
    q = (
        spark.readStream.format("kcore_topic")
        .option("root", root)
        .option("topic", "t")
        .load()
        .writeStream.format("memory")
        .queryName("kcore_stream_log_start")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.table("kcore_stream_log_start").collect()
    assert sorted(r["offset"] for r in streamed) == list(range(3, 10))


def test_stream_trigger_reads_in_one_task_per_partition(spark, tmp_path):
    """A micro-batch is read inside Spark tasks, one per topic
    partition's offset range, not on the driver's Python runner: an
    availableNow trigger over a 4-partition topic runs its scan stage
    as 4 tasks."""
    import pyarrow as pa

    root = str(tmp_path / "logs")
    log = TopicLog(spark, root)
    log.create_topic("t", 4)
    log.append_raw("t", pa.concat_tables([_raw(p, 0, 5) for p in range(4)]))
    spark.dataSource.register(TopicLogDataSource)
    q = (
        spark.readStream.format("kcore_topic")
        .option("root", root)
        .option("topic", "t")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    st = spark.sparkContext.statusTracker()
    stages = [
        sid for jid in st.getJobIdsForGroup(str(q.runId)) for sid in st.getJobInfo(jid).stageIds
    ]
    assert [st.getStageInfo(sid).numTasks for sid in stages] == [4]


_NO_JVM_STREAM_PLAN = """
import sys

import pyarrow as pa
from pyspark import SparkContext

from kcore_spark.sources.pyds import TopicLogStreamReader
from kcore_spark.sources.topic_log import TopicLogControl

root = sys.argv[1]
ctl = TopicLogControl(root)
ctl.create_topic("t", 2)
ctl.append_raw("t", pa.table({
    "key": pa.array([b"k"] * 5), "value": pa.array([b"v"] * 5),
    "partition": pa.array([0, 0, 0, 1, 1], pa.int32()),
    "offset": pa.array([0, 1, 2, 0, 1], pa.int64()),
    "timestamp": pa.array([0] * 5, pa.timestamp("us")),
    "timestampType": pa.array([0] * 5, pa.int32()),
    "headers": pa.nulls(5, pa.map_(pa.string(), pa.binary())),
}))
rdr = TopicLogStreamReader({"root": root, "topic": "t"})
start = rdr.initialOffset()
end = rdr.latestOffset()
assert start == {"0": 0, "1": 0} and end == {"0": 3, "1": 2}, (start, end)
splits = rdr.partitions(start, end)
assert [(s.partition, s.start, s.end) for s in splits] == [(0, 0, 3), (1, 0, 2)]
assert rdr.partitions(end, end) == []
assert SparkContext._gateway is None, "a JVM was started"
print("NO_JVM_STREAM_PLAN_OK")
"""


def test_stream_planning_runs_without_a_jvm(tmp_path):
    """initialOffset, latestOffset and partitions run in the data-source
    Python runner, which has no Spark session: they must start no JVM."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _NO_JVM_STREAM_PLAN, str(tmp_path / "logs")],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "NO_JVM_STREAM_PLAN_OK" in proc.stdout


# ---------------------------------------------------- batch writer


def test_writer_roundtrip_two_phase(spark):
    """df.write.format('kcore_topic') stages on executors, and its
    commit assigns offsets and lands them through the topic log's
    commit sequence — offsets dense per partition in seq order,
    staging cleared, data identical to the native path."""
    import glob
    import os
    import tempfile

    root = tempfile.mkdtemp(prefix="kcore_pyds_w_")
    log = TopicLog(spark, root)
    log.create_topic("w", 2)
    spark.dataSource.register(TopicLogDataSource)
    df = spark.range(0, 50).select(
        F.encode(F.col("id").cast("string"), "utf-8").alias("key"),
        F.encode((F.col("id") * 3).cast("string"), "utf-8").alias("value"),
        F.timestamp_millis(F.lit(1_700_000_000_000) + F.col("id")).alias("timestamp"),
        (F.col("id") % 2).cast("int").alias("part"),
        F.col("id").alias("seq"),
    ).repartition("part")  # one staged file per partition → exact seq order
    (
        df.write.format("kcore_topic")
        .option("root", root)
        .option("topic", "w")
        .mode("append")
        .save()
    )
    # staging cleared after commit
    assert not glob.glob(os.path.join(root, "w", "_staging", "*"))
    # dense offsets per partition, ordered by seq
    out = log.scan("w").select("partition", "offset", "key").collect()
    by_part = {}
    for r in sorted(out, key=lambda r: (r["partition"], r["offset"])):
        by_part.setdefault(r["partition"], []).append(int(r["key"].decode()))
    assert sorted(by_part) == [0, 1]
    for p, ids in by_part.items():
        assert ids == sorted(ids)  # seq order preserved
        assert len(ids) == 25
    # offsets are dense 0..24 in each partition
    offs = {}
    for r in out:
        offs.setdefault(r["partition"], []).append(r["offset"])
    for p in (0, 1):
        assert sorted(offs[p]) == list(range(25))
    # a second write APPENDS at the watermark
    (
        df.limit(4).write.format("kcore_topic")
        .option("root", root).option("topic", "w").mode("append").save()
    )
    lo = {r["partition"]: r["next_offset"] for r in log.list_offsets("w").collect()}
    assert sum(lo.values()) == 54


def test_writer_rejects_overwrite_and_bad_schema(spark):
    import tempfile

    import pytest

    root = tempfile.mkdtemp(prefix="kcore_pyds_w2_")
    log = TopicLog(spark, root)
    log.create_topic("w", 1)
    spark.dataSource.register(TopicLogDataSource)
    df = spark.range(3).select(F.col("id").alias("seq"))
    with pytest.raises(Exception, match="append-only|not supported"):
        (
            df.write.format("kcore_topic")
            .option("root", root).option("topic", "w")
            .mode("overwrite").save()
        )
    with pytest.raises(Exception, match="missing"):
        (
            df.write.format("kcore_topic")
            .option("root", root).option("topic", "w")
            .mode("append").save()
        )


def test_writer_multitask_dense_and_manifest_pruned(spark):
    """Many writer tasks per partition: offsets stay dense per
    partition (file order by min_seq), the manifest indexes the new
    segments (fetch's pruned path sees them), and a kcore_topic READ
    of the written topic round-trips."""
    import tempfile

    root = tempfile.mkdtemp(prefix="kcore_pyds_w3_")
    log = TopicLog(spark, root)
    log.create_topic("m", 2)
    spark.dataSource.register(TopicLogDataSource)
    df = spark.range(0, 80).select(
        F.encode(F.col("id").cast("string"), "utf-8").alias("key"),
        F.encode(F.col("id").cast("string"), "utf-8").alias("value"),
        F.timestamp_millis(F.lit(1_700_000_000_000) + F.col("id")).alias("timestamp"),
        (F.col("id") % 2).cast("int").alias("part"),
        F.col("id").alias("seq"),
    ).repartition(5)  # several tasks stage files for BOTH partitions
    (
        df.write.format("kcore_topic")
        .option("root", root).option("topic", "m").mode("append").save()
    )
    for p in (0, 1):
        # manifest-pruned fetch sees every offset, densely
        got = sorted(r["offset"] for r in log.fetch("m", p, 0, 1000).collect())
        assert got == list(range(40))
    # reading back through the DataSource matches the native scan
    via_ds = (
        spark.read.format("kcore_topic")
        .option("root", root).option("topic", "m").load()
    )
    assert via_ds.count() == 80
    native_keys = {bytes(r["key"]) for r in log.scan("m").collect()}
    ds_keys = {bytes(r["key"]) for r in via_ds.collect()}
    assert ds_keys == native_keys
    # a snapshot version was recorded by the write commit
    assert [v for v, _ in log.snapshot_versions("m")] == [1]


def test_writer_unknown_topic_fails_before_publishing(spark):
    """A write to a topic that was never created must fail at commit
    (no _meta.json) and leave NOTHING visible — no data dir, no
    watermark flip."""
    import os
    import tempfile

    import pytest

    root = tempfile.mkdtemp(prefix="kcore_pyds_w4_")
    spark.dataSource.register(TopicLogDataSource)
    df = spark.range(3).select(
        F.encode(F.col("id").cast("string"), "utf-8").alias("key"),
        F.encode(F.col("id").cast("string"), "utf-8").alias("value"),
        F.timestamp_millis(F.lit(1_700_000_000_000)).alias("timestamp"),
        F.lit(0).cast("int").alias("part"),
        F.col("id").alias("seq"),
    )
    with pytest.raises(Exception, match="ghost|No such file|meta"):
        (
            df.write.format("kcore_topic")
            .option("root", root).option("topic", "ghost").mode("append").save()
        )
    assert not os.path.isdir(os.path.join(root, "ghost", "data"))


def test_writer_rejects_out_of_range_partition(spark):
    """Rows targeting a partition the topic does not declare must fail
    the COMMIT atomically: the valid rows of the same batch must not
    be half-published."""
    import tempfile

    import pytest

    root = tempfile.mkdtemp(prefix="kcore_pyds_w5_")
    log = TopicLog(spark, root)
    log.create_topic("t", 2)
    spark.dataSource.register(TopicLogDataSource)
    df = spark.range(4).select(
        F.encode(F.col("id").cast("string"), "utf-8").alias("key"),
        F.encode(F.col("id").cast("string"), "utf-8").alias("value"),
        F.timestamp_millis(F.lit(1_700_000_000_000)).alias("timestamp"),
        (F.col("id") % 5).cast("int").alias("part"),  # partitions 0..4 vs declared 2
        F.col("id").alias("seq"),
    )
    with pytest.raises(Exception, match="declares 2 partitions|partition"):
        (
            df.write.format("kcore_topic")
            .option("root", root).option("topic", "t").mode("append").save()
        )
    # nothing became visible — watermarks still at zero, no segments
    import os

    assert all(v == 0 for v in log._watermarks("t").values())
    data_dir = os.path.join(root, "t", "data")
    assert not os.path.isdir(data_dir) or not any(
        f.endswith(".parquet")
        for _, _, files in os.walk(data_dir)
        for f in files
    )


def test_refused_write_leaves_no_lock_files(tmp_path):
    """A write whose rows target partitions the topic does not declare
    is refused before the commit locks make lock files for them."""
    import datetime
    import os

    import pytest
    from pyspark.sql.types import (
        BinaryType, IntegerType, LongType, StructField, StructType, TimestampType,
    )

    from kcore_spark.sources.pyds import TopicLogWriter
    from kcore_spark.sources.topic_log import TopicLogControl

    root = str(tmp_path / "logs")
    TopicLogControl(root).create_topic("t", 2)
    schema = StructType([
        StructField("key", BinaryType()),
        StructField("value", BinaryType()),
        StructField("timestamp", TimestampType()),
        StructField("part", IntegerType()),
        StructField("seq", LongType()),
    ])
    ts = datetime.datetime(2024, 1, 1)
    w = TopicLogWriter({"root": root, "topic": "t"}, schema)
    staged = w.write(iter([(b"k%d" % i, b"v", ts, i, i) for i in range(5)]))
    with pytest.raises(ValueError, match="declares 2 partitions"):
        w.commit([staged])
    lock_dir = os.path.join(root, "t", "_locks")
    locks = set(os.listdir(lock_dir)) if os.path.isdir(lock_dir) else set()
    assert not locks & {"p2.lock", "p3.lock", "p4.lock"}
    assert all(v == 0 for v in TopicLogControl(root)._watermarks("t").values())


_NO_SESSION_COMMIT = """
import datetime, sys

from pyspark import SparkContext
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StructField, StructType, TimestampType,
)

from kcore_spark.sources.pyds import TopicLogWriter
from kcore_spark.sources.topic_log import TopicLogControl

root = sys.argv[1]
TopicLogControl(root).create_topic("t", 2)
schema = StructType([
    StructField("key", BinaryType()),
    StructField("value", BinaryType()),
    StructField("timestamp", TimestampType()),
    StructField("part", IntegerType()),
    StructField("seq", LongType()),
])
ts = datetime.datetime(2024, 1, 1)
w = TopicLogWriter({"root": root, "topic": "t"}, schema)
w.commit([w.write(iter(
    [(b"k%d" % i, b"v%d" % i, ts, i % 2, i) for i in range(7)]
))])
assert SparkContext._gateway is None, "a JVM was started"
print("NO_SESSION_COMMIT_OK")
"""


def test_writer_commit_runs_without_a_session(spark, tmp_path):
    """The writer's commit runs in the data-source Python runner, which
    has no Spark session: creating a topic through TopicLogControl and
    committing a staged write must start no JVM. The rows and their
    dense offsets are then checked through a session-backed scan."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = str(tmp_path / "logs")
    proc = subprocess.run(
        [sys.executable, "-c", _NO_SESSION_COMMIT, root],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "NO_SESSION_COMMIT_OK" in proc.stdout
    rows = TopicLog(spark, root).scan("t").select("partition", "offset", "key").collect()
    got = sorted((r["partition"], r["offset"], bytes(r["key"])) for r in rows)
    assert got == [
        (0, 0, b"k0"), (0, 1, b"k2"), (0, 2, b"k4"), (0, 3, b"k6"),
        (1, 0, b"k1"), (1, 1, b"k3"), (1, 2, b"k5"),
    ]


def test_stream_reader_max_offsets_per_trigger(spark, tmp_path):
    """Backpressure: a deep log is consumed in bounded micro-batches
    (total offsets per trigger ≤ the cap, spread across partitions),
    and the union of all batches equals the whole log."""
    import pyspark.sql.functions as F

    from kcore_spark.sources.pyds import TopicLogStreamReader
    from kcore_spark.sources.topic_log import TopicLog

    root = str(tmp_path / "logs")
    log = TopicLog(spark, root)
    log.create_topic("deep", 2)
    log.produce(
        "deep",
        spark.range(40).select(
            F.encode(F.col("id").cast("string"), "utf-8").alias("key"),
            F.encode(F.col("id").cast("string"), "utf-8").alias("value"),
            F.col("id").alias("seq"),
        ),
        partition_expr=(F.col("seq") % 2).cast("int"),
        order_by=["seq"],
    )
    rdr = TopicLogStreamReader(
        {"root": root, "topic": "deep", "max_offsets_per_trigger": "12"}
    )
    pos = rdr.initialOffset()
    seen = []
    batches = 0
    while True:
        end = rdr.latestOffset()
        if end == pos:
            break
        advanced = sum(int(end[p]) - int(pos.get(p, 0)) for p in end)
        assert advanced <= 12
        for split in rdr.partitions(pos, end):
            seen.extend(rdr.read(split))
        rdr.commit(end)
        pos = end
        batches += 1
        assert batches < 50, "did not converge"
    assert batches >= 4  # 40 offsets / 12 per trigger
    assert sum(b.num_rows for b in seen) == 40
    # both partitions advanced every full batch (proportional split)
    assert {int(p) for p in pos} == {0, 1}
    assert all(int(v) == 20 for v in pos.values())

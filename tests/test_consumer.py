"""Consumer API: poll/commit/resume semantics across consumer
instances (the manual-assignment Kafka consumer contract)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from kcore_spark.sources.consumer import TopicConsumer
from kcore_spark.sources.topic_log import TopicLog


@pytest.fixture()
def log(spark):
    with tempfile.TemporaryDirectory(prefix="kcore_cons_") as d:
        tlog = TopicLog(spark, d)
        tlog.create_topic("t", 2)
        recs = spark.range(100).select(
            F.encode(F.col("id").cast("string"), "utf-8").alias("key"),
            F.encode(F.concat(F.lit("v"), F.col("id").cast("string")), "utf-8").alias("value"),
            F.col("id").alias("seq"),
        )
        tlog.produce("t", recs, order_by=["seq"])
        yield tlog


def _drain(consumer, chunk):
    n = 0
    for batch in consumer.poll_batches(chunk):
        n += batch.count()
    return n


def test_poll_reads_everything_once(spark, log):
    c = TopicConsumer(log, "g1", "t")
    assert _drain(c, 30) == 100
    assert c.poll() is None  # caught up


def test_commit_and_resume_new_instance(spark, log):
    c1 = TopicConsumer(log, "g1", "t")
    first = c1.poll(10)  # 10 per partition → 20 records
    assert first.count() == 20
    c1.commit()

    # a fresh consumer instance (new "session") resumes after commit
    c2 = TopicConsumer(log, "g1", "t")
    rest = _drain(c2, 1000)
    assert rest == 80
    # no overlap, no loss: first ∪ rest covers all keys exactly once
    seen = {r["key"] for r in first.collect()}
    c3 = TopicConsumer(log, "g2", "t")  # independent group re-reads all
    assert _drain(c3, 1000) == 100


def test_uncommitted_progress_is_not_durable(spark, log):
    c1 = TopicConsumer(log, "g1", "t")
    c1.poll(50)  # read but never commit
    c2 = TopicConsumer(log, "g1", "t")
    assert _drain(c2, 1000) == 100  # starts from 0 again


def test_seek(spark, log):
    c = TopicConsumer(log, "g1", "t")
    _drain(c, 1000)
    c.seek_to_beginning()
    assert _drain(c, 1000) == 100


def test_consume_after_compaction_with_offset_holes(spark, log):
    """Compaction leaves offset holes; consecutive polls must still
    cover every retained record exactly once."""
    from pyspark.sql import functions as F2

    # overwrite the 100 unique keys with 10 hot keys → real compaction
    hot = spark.range(100, 200).select(
        F2.encode((F2.col("id") % 10).cast("string"), "utf-8").alias("key"),
        F2.encode(F2.concat(F2.lit("new"), F2.col("id").cast("string")), "utf-8").alias("value"),
        F2.col("id").alias("seq"),
    )
    log.produce("t", hot, order_by=["seq"])
    total_before = log.scan("t").count()
    retained = log.compact("t")
    assert retained < total_before  # holes actually exist
    c = TopicConsumer(log, "g_compact", "t")
    seen = []
    for batch in c.poll_batches(7):  # small windows → some land in holes
        seen.extend(
            (r["partition"], r["offset"])
            for r in batch.select("partition", "offset").collect()
        )
    assert len(seen) == retained
    assert len(set(seen)) == retained  # no duplicates
    # survivors are the max-offset record per key per partition
    from pyspark.sql import functions as SF

    assert (
        log.scan("t").groupBy("partition", "key").count().where("count > 1").count() == 0
    )


def test_seek_to_timestamp(spark, log):
    from pyspark.sql import functions as F

    log.create_topic("ts_seek", 2)
    recs = spark.range(40).select(
        F.encode((F.col("id") % 5).cast("string"), "utf-8").alias("key"),
        F.encode(F.col("id").cast("string"), "utf-8").alias("value"),
        F.timestamp_millis(F.lit(1_000_000) + F.col("id") * 1000).alias("timestamp"),
        F.col("id").alias("seq"),
    )
    log.produce("ts_seek", recs, order_by=["seq"])
    c = TopicConsumer(log, group="g_ts", topic="ts_seek")
    # mid-stream target: every polled record from there on is >= target
    target = 1_000_000 + 20_000
    pos = c.seek_to_timestamp(target)
    batch = c.poll(max_records_per_partition=100)
    rows = batch.collect()
    assert rows, "expected records at/after the target"
    assert all(r["timestamp"].timestamp() * 1000 >= target for r in rows)
    # no earlier record was skipped: polled offsets start at the seek points
    starts = {r["partition"]: r["offset"] for r in batch.groupBy("partition").agg(
        F.min("offset").alias("offset")).collect()}
    assert starts == {p: o for p, o in pos.items() if p in starts}
    # future target: seeks to log end, poll returns nothing
    c2 = TopicConsumer(log, group="g_ts2", topic="ts_seek")
    c2.seek_to_timestamp(9_000_000_000)
    assert c2.poll() is None


def _truncated_topic(spark, log, name, n=30, keep_from=20):
    log.create_topic(name, 1)
    recs = spark.range(n).select(
        F.encode(F.col("id").cast("string"), "utf-8").alias("key"),
        F.encode(F.col("id").cast("string"), "utf-8").alias("value"),
        F.col("id").alias("seq"),
    )
    log.produce(name, recs, order_by=["seq"])
    log.truncate_before(name, {0: keep_from})


def _offsets(consumer, chunk):
    return [
        r["offset"]
        for batch in consumer.poll_batches(chunk)
        for r in batch.select("offset").collect()
    ]


def test_position_below_log_start_reads_each_record_once(spark, log):
    """A new group after retention starts below the log start: its polls
    read from the log start, each retained record exactly once, and so
    do they after seek_to_beginning."""
    _truncated_topic(spark, log, "tr")
    c = TopicConsumer(log, group="g_tr", topic="tr")
    assert sorted(_offsets(c, 5)) == list(range(20, 30))
    assert c.position(0) == 30
    c.seek_to_beginning()
    assert sorted(_offsets(c, 5)) == list(range(20, 30))


def test_seek_to_timestamp_on_fully_truncated_partition_seeks_to_log_end(spark, log):
    _truncated_topic(spark, log, "tr_all", keep_from=30)
    c = TopicConsumer(log, group="g_tr_all", topic="tr_all")
    assert c.seek_to_timestamp(0) == {0: 30}
    assert c.poll() is None

"""Topic-log semantics: offset density/monotonicity, fetch pruning,
consumer-group offsets (SURVEY §7 milestone 2 hard parts)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from kcore_spark.sources.topic_log import TopicLog


@pytest.fixture()
def log(spark):
    with tempfile.TemporaryDirectory(prefix="kcore_topics_") as d:
        yield TopicLog(spark, d)


def _records(spark, n, start=0):
    return spark.range(start, start + n).select(
        F.encode(F.concat(F.lit("k"), (F.col("id") % 7).cast("string")), "utf-8").alias("key"),
        F.encode(F.concat(F.lit("v"), F.col("id").cast("string")), "utf-8").alias("value"),
        F.col("id").alias("seq"),
    )


def test_offsets_dense_and_monotonic(spark, log):
    log.create_topic("t1", 3)
    log.produce("t1", _records(spark, 100), order_by=["seq"])
    log.produce("t1", _records(spark, 50, start=100), order_by=["seq"])
    per_part = (
        log.scan("t1")
        .groupBy("partition")
        .agg(F.count(F.lit(1)).alias("n"), F.min("offset").alias("lo"), F.max("offset").alias("hi"))
        .collect()
    )
    assert sum(r["n"] for r in per_part) == 150
    for r in per_part:
        # dense: offsets are exactly 0..n-1 per partition
        assert r["lo"] == 0
        assert r["hi"] == r["n"] - 1
    dup = log.scan("t1").groupBy("partition", "offset").count().where("count > 1").count()
    assert dup == 0


def test_same_key_same_partition(spark, log):
    log.create_topic("t2", 4)
    log.produce("t2", _records(spark, 200), order_by=["seq"])
    parts_per_key = (
        log.scan("t2")
        .select(F.decode("key", "utf-8").alias("k"), "partition")
        .distinct()
        .groupBy("k")
        .count()
        .where("count > 1")
        .count()
    )
    assert parts_per_key == 0


def test_fetch_offset_range(spark, log):
    log.create_topic("t3", 2)
    log.produce("t3", _records(spark, 80), order_by=["seq"])
    rows = log.fetch("t3", partition=1, start_offset=5, max_records=10).collect()
    assert [r["offset"] for r in rows] == list(range(5, 15))
    assert all(r["partition"] == 1 for r in rows)


def test_fetch_plan_prunes_partition(spark, log):
    """The fetch plan must push partition+offset predicates to the scan."""
    log.create_topic("t4", 2)
    log.produce("t4", _records(spark, 40), order_by=["seq"])
    plan = log.fetch("t4", 0, 0, 10)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "partition" in plan


def test_list_offsets(spark, log):
    log.create_topic("t5", 2)
    log.produce("t5", _records(spark, 60), order_by=["seq"])
    rows = {r["partition"]: r for r in log.list_offsets("t5").collect()}
    assert set(rows) == {0, 1}
    for r in rows.values():
        assert r["earliest"] == 0
        assert r["next_offset"] == r["n_records"]


def test_consumer_group_offsets(spark, log):
    log.create_topic("t6", 1)
    log.commit_offset("g1", "t6", 0, 10)
    log.commit_offset("g1", "t6", 0, 25)  # last writer wins
    log.commit_offset("g2", "t6", 0, 5)
    rows = log.fetch_offsets("g1").collect()
    assert len(rows) == 1
    assert rows[0]["committed_offset"] == 25


def test_topic_management(spark, log):
    log.create_topic("a", 1)
    log.create_topic("b", 2)
    assert log.list_topics() == ["a", "b"]
    with pytest.raises(ValueError):
        log.create_topic("a", 1)
    log.delete_topic("a")
    assert log.list_topics() == ["b"]
    assert log.topic_meta("b").num_partitions == 2


def test_streaming_source_reads_log(spark, log):
    import uuid

    log.create_topic("t7", 2)
    log.produce("t7", _records(spark, 30), order_by=["seq"])
    name = f"mem_{uuid.uuid4().hex[:8]}"
    with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
        q = (
            log.read_stream("t7")
            .groupBy("partition")
            .count()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        total = spark.table(name).agg(F.sum("count")).collect()[0][0]
        assert total == 30


def test_log_compaction_keeps_latest_per_key(spark, log):
    import pyspark.sql.functions as SF

    log.create_topic("tc", 2)
    # two produces with overlapping keys: key k{0..6} repeats
    log.produce("tc", _records(spark, 50), order_by=["seq"])
    log.produce("tc", _records(spark, 50, start=100), order_by=["seq"])
    before = log.scan("tc").count()
    wm_before = log._watermarks("tc")
    retained = log.compact("tc")
    assert retained < before
    after = log.scan("tc")
    # exactly one record per (partition, key)
    assert after.groupBy("partition", "key").count().where("count > 1").count() == 0
    # the survivor is the max-offset record for its key
    latest = (
        log.scan("tc")
        .groupBy("partition", "key")
        .agg(SF.max("offset").alias("offset"))
        .count()
    )
    assert retained == latest
    # offsets preserved (holes allowed), watermarks unchanged
    assert log._watermarks("tc") == wm_before
    assert after.agg(SF.max("offset")).collect()[0][0] == max(wm_before.values()) - 1


@pytest.fixture(scope="module")
def holed(spark):
    """One partition, offsets [0, 40): compaction leaves a hole at
    [24, 29) (those keys recur at offset 29), then truncation moves the
    log start to 10."""
    with tempfile.TemporaryDirectory(prefix="kcore_holed_") as d:
        log = TopicLog(spark, d)
        log.create_topic("h", 1)
        key = F.when(F.col("id").between(24, 29), F.lit("dup")).otherwise(
            F.col("id").cast("string")
        )
        recs = spark.range(40).select(
            F.encode(key, "utf-8").alias("key"),
            F.encode(F.col("id").cast("string"), "utf-8").alias("value"),
            F.col("id").alias("seq"),
        )
        log.produce("h", recs, order_by=["seq"])
        log.compact("h")
        log.truncate_before("h", {0: 10})
        kept = sorted(r["offset"] for r in log.scan("h").collect())
        assert kept == [o for o in range(10, 40) if not 24 <= o < 29]
        yield log


@pytest.mark.parametrize("max_records", [1, 5, 100])
@pytest.mark.parametrize("start", [0, 10, 22, 40, 45])
def test_fetch_window_starts_at_log_start_and_counts_offsets(holed, start, max_records):
    """fetch(p, s, m) serves offsets [max(s, log start), that + m),
    never past the watermark: the same rows as the scan filtered to that
    window, in offset order."""
    lo = max(start, 10)
    cols = ["offset", "key", "value"]
    expect = [
        tuple(r)
        for r in holed.scan("h").select(*cols).orderBy("offset").collect()
        if lo <= r["offset"] < lo + max_records
    ]
    got = [tuple(r) for r in holed.fetch("h", 0, start, max_records).select(*cols).collect()]
    assert got == expect

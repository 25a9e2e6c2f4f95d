"""Durability / crash-window regressions (ADVICE r1): produce v5+
response shape, flush-ack ordering, watermark union merge, partition
validation, crash-safe compaction swap, wall-clock commit sequencing."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import textwrap

import pytest
from pyspark.sql import functions as F

from kcore_spark.protocol import wire
from kcore_spark.protocol.broker import (
    WireLog,
    decode_produce_response,
    handle_produce,
)
from kcore_spark.protocol.records import Record, encode_record_batch
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


# ------------------------------------------------------ produce v5/v6


def _produce_payload(topic: str, partition: int, batch: bytes, version: int) -> bytes:
    w = wire.Writer()
    w.int16(wire.PRODUCE_KEY).int16(version).int32(7)
    w.nullable_string("t")
    w.nullable_string(None)  # transactional_id
    w.int16(-1).int32(30000)
    w.int32(1)
    w.nullable_string(topic)
    w.int32(1)
    w.int32(partition)
    w.nullable_bytes(batch)
    return w.bytes()


@pytest.mark.parametrize("version", [3, 4, 5, 6])
def test_produce_response_matches_negotiated_version(version):
    wl = WireLog()
    wl.create_topic("t", 1)
    batch = encode_record_batch([Record(b"k", b"v", 1700000000000)])
    resp = handle_produce(wl, _produce_payload("t", 0, batch, version))
    corr, results, throttle = decode_produce_response(resp, api_version=version)
    assert corr == 7
    [(name, [row])] = results
    assert name == "t" and row[0] == 0 and row[1] == wire.ERR_NONE and row[2] == 0
    if version >= 5:
        assert len(row) == 5 and row[4] == 0  # log_start_offset present
    else:
        assert len(row) == 4
    assert throttle == 0


def test_produce_v5_body_longer_than_v4():
    wl = WireLog()
    wl.create_topic("t", 1)
    batch = encode_record_batch([Record(b"k", b"v", 1700000000000)])
    r4 = handle_produce(wl, _produce_payload("t", 0, batch, 4))
    r5 = handle_produce(wl, _produce_payload("t", 0, batch, 5))
    assert len(r5) == len(r4) + 8  # exactly one int64 log_start_offset


# ------------------------------------------------------ flush ordering


def test_flush_failure_keeps_records_pending(spark, log):
    wl = WireLog()
    wl.create_topic("t", 1)
    wl.append("t", 0, [Record(b"k", b"v", 1700000000000)])
    log.create_topic("t", 1)

    class Boom(Exception):
        pass

    class FailingLog:
        def append_raw(self, topic, df):
            raise Boom()

    with pytest.raises(Boom):
        wl.flush_to_topic_log(spark, FailingLog(), "t")
    # nothing acknowledged: retry flushes the same record successfully
    assert wl.flush_to_topic_log(spark, log, "t") == 1
    assert log.scan("t").count() == 1
    # and it is not double-flushed afterwards
    assert wl.flush_to_topic_log(spark, log, "t") == 0


def test_partial_flush_crash_commits_nothing_and_retries_once(spark, log, monkeypatch):
    import pyarrow.parquet as pq

    wl = WireLog()
    wl.create_topic("t", 2)
    log.create_topic("t", 2)
    ts = 1700000000000
    wl.append("t", 0, [Record(b"a", b"0", ts), Record(b"b", b"1", ts)])
    wl.append("t", 1, [Record(b"c", b"2", ts)])
    assert wl.flush_to_topic_log(spark, log, "t") == 3
    wl.append("t", 0, [Record(b"d", b"3", ts)])
    wl.append("t", 1, [Record(b"e", b"4", ts)])
    wm_before = log._watermarks("t")

    real_write = pq.write_table
    writes: list[str] = []

    def crash_on_second_segment(table, where, *a, **k):
        writes.append(where)
        if len(writes) == 1:
            return real_write(table, where, *a, **k)
        with open(where, "wb") as f:  # a torn file, then the crash
            f.write(b"PAR1")
        raise OSError("disk gone")

    monkeypatch.setattr(pq, "write_table", crash_on_second_segment)
    with pytest.raises(OSError, match="disk gone"):
        wl.flush_to_topic_log(spark, log, "t")
    monkeypatch.undo()
    assert len(writes) == 2  # partition 0's segment landed before the crash
    assert [wl._parts[("t", p)].flushed_upto for p in (0, 1)] == [2, 1]  # still pending
    assert log._watermarks("t") == wm_before
    assert log.scan("t").count() == 3

    assert wl.flush_to_topic_log(spark, log, "t") == 2
    assert wl.flush_to_topic_log(spark, log, "t") == 0
    rows = log.scan("t").select("partition", "offset", "value").collect()
    assert sorted((r[0], r[1], bytes(r[2])) for r in rows) == [
        (0, 0, b"0"), (0, 1, b"1"), (0, 2, b"3"), (1, 0, b"2"), (1, 1, b"4"),
    ]
    wm = log._watermarks("t")
    assert wm == {0: 3, 1: 2}
    data_dir = os.path.join(log._topic_dir("t"), "data")
    for pdir in os.listdir(data_dir):
        p = int(pdir.split("=", 1)[1])
        for fn in os.listdir(os.path.join(data_dir, pdir)):
            assert not fn.endswith(".tmp"), fn
            lo = pq.read_table(os.path.join(data_dir, pdir, fn))["offset"].to_pylist()[0]
            assert lo < wm[p], (pdir, fn)


# ------------------------------------------------------ watermark merge


def test_watermark_union_merge_keeps_unlisted_partition(spark, log):
    log.create_topic("t", 2)
    # simulate an older control file that lost partition 1
    with open(log._wm_path("t"), "w") as f:
        json.dump({"0": 0}, f)
    rows = spark.range(4).select(
        F.encode(F.col("id").cast("string"), "utf-8").alias("key"),
        F.encode(F.col("id").cast("string"), "utf-8").alias("value"),
        F.lit(1).cast("int").alias("partition"),
        F.col("id").cast("long").alias("offset"),
        F.current_timestamp().alias("timestamp"),
        F.lit(0).alias("timestampType"),
        F.lit(None).cast("map<string,binary>").alias("headers"),
    )
    wm = log.append_raw("t", rows.toArrow())
    assert wm[1] == 4  # not silently dropped
    assert wm[0] == 0


def test_append_raw_rejects_out_of_range_partition(spark, log):
    log.create_topic("t", 2)
    rows = spark.range(1).select(
        F.encode(F.col("id").cast("string"), "utf-8").alias("key"),
        F.encode(F.col("id").cast("string"), "utf-8").alias("value"),
        F.lit(5).cast("int").alias("partition"),
        F.col("id").cast("long").alias("offset"),
        F.current_timestamp().alias("timestamp"),
        F.lit(0).alias("timestampType"),
        F.lit(None).cast("map<string,binary>").alias("headers"),
    )
    # one committed record first, so the topic has a data dir to scan
    log.append_raw("t", rows.withColumn("partition", F.lit(0)).toArrow())
    with pytest.raises(ValueError, match="partition"):
        log.append_raw("t", rows.toArrow())
    # refused before anything landed: no segment, and no readable row
    assert not os.path.exists(os.path.join(log._topic_dir("t"), "data", "partition=5"))
    assert log.scan("t").where(F.col("partition") == 5).count() == 0
    assert log.scan("t").count() == 1


def test_created_topic_without_segments_reads_empty(spark, log):
    """A created topic that never landed a segment, whose data/ dir is
    missing (as an older build created it; create_topic now makes it).
    scan and list_offsets must read it as an empty log, as fetch
    does, not raise PATH_NOT_FOUND."""
    import shutil

    log.create_topic("t", 2)
    shutil.rmtree(os.path.join(log._topic_dir("t"), "data"))
    assert log.scan("t").count() == 0
    assert log.list_offsets("t").collect() == []
    assert all(log.fetch("t", p, 0, 10).count() == 0 for p in (0, 1))


_NO_SEGMENT_MAINTENANCE = textwrap.dedent(
    """
    import json, os, shutil, sys
    repo, root = sys.argv[1], sys.argv[2]
    sys.path.insert(0, repo)
    from pyspark.sql import SparkSession
    from kcore_spark.sources.topic_log import TopicLog

    spark = (
        SparkSession.builder.master("local[1]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    log = TopicLog(spark, root)
    out = {}
    for topic, drop_data in (("fresh", False), ("no_data_dir", True)):
        log.create_topic(topic, 2, {"cleanup.policy": "compact"})
        if drop_data:
            shutil.rmtree(os.path.join(root, topic, "data"))
        out[topic] = [
            log.compact(topic),
            log.erase_keys(topic, [b"k"]),
            log.run_cleanup(topic)["retained"],
        ]
    print(json.dumps(out))
    spark.stop()
    """
)


def test_maintenance_finishes_on_topic_without_segments(tmp_path):
    """compact, erase_keys and a cleanup.policy=compact run_cleanup on a
    created topic with no segment — with its data/ dir, and without it
    as an older build created it — each return 0. They hold the
    maintenance lock, so reading a missing data/ as swap evidence made
    their own scan block on that lock forever. Run in a child process
    so a hang fails this test instead of stalling the suite."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        done = subprocess.run(
            [sys.executable, "-c", _NO_SEGMENT_MAINTENANCE, repo, str(tmp_path)],
            capture_output=True,
            text=True,
            timeout=240,
        )
    except subprocess.TimeoutExpired:
        pytest.fail("maintenance on a topic without segments hung")
    assert done.returncode == 0, done.stderr[-2000:]
    out = json.loads(done.stdout.strip().splitlines()[-1])
    assert out == {"fresh": [0, 0, 0], "no_data_dir": [0, 0, 0]}


# ------------------------------------------------------ compaction crash


def test_compact_swap_recovers_from_crash_window(spark, log):
    log.create_topic("t", 1)
    log.produce("t", _records(spark, 20), order_by=["seq"])
    n_before = log.scan("t").count()
    tdir = log._topic_dir("t")
    # simulate a crash between the two renames: data/ moved aside,
    # replacement never landed
    os.rename(os.path.join(tdir, "data"), os.path.join(tdir, "data.old-deadbeef"))
    assert log.scan("t").count() == n_before  # recovered transparently
    assert not os.path.isdir(os.path.join(tdir, "data.old-deadbeef"))


def test_compact_still_correct_after_fix(spark, log):
    log.create_topic("t", 1)
    log.produce("t", _records(spark, 50), order_by=["seq"])
    n = log.compact("t")
    assert n == 7  # 7 distinct keys, all non-null
    assert log.scan("t").count() == 7
    tdir = log._topic_dir("t")
    assert [d for d in os.listdir(tdir) if d.startswith("data.old-")] == []


# ------------------------------------------------------ commit sequencing


def test_commit_seq_orders_rapid_commits(spark, log):
    log.create_topic("t", 1)
    for off in [5, 9, 3]:  # last writer wins even within one tick
        log.commit_offset("g", "t", 0, off)
    got = {r.partition: r.committed_offset for r in log.fetch_offsets("g").collect()}
    assert got == {0: 3}


def test_commit_seq_survives_new_instance(spark, log):
    # a "rebooted" TopicLog (fresh process analog) must supersede
    # commits from the previous instance — wall clock, not monotonic
    log.create_topic("t", 1)
    log.commit_offset("g", "t", 0, 100)
    reborn = TopicLog(spark, log.root)
    reborn.commit_offset("g", "t", 0, 7)
    got = {r.partition: r.committed_offset for r in reborn.fetch_offsets("g").collect()}
    assert got == {0: 7}

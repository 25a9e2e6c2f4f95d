"""Regression pins for the three ADVICE r11 findings (all in the
topic-log swap/commit machinery):

1. Read-path healing (scan / scan_archive) must not
   destroy a HEALTHY live maintenance pass's state: healing now
   double-checks under the cross-process maintenance lock that
   compact()/optimize()/erase_keys() hold across their swaps, and two
   concurrent readers healing the same genuine crash serialize instead
   of racing each other's renames.
2. reclaim_uncommitted_files must treat an unindexed-and-unreadable
   segment (truncated parquet from a writer that died mid
   pq.write_table) as crash debris and delete it — previously every
   retry of the crashed commit raised ArrowInvalid inside reclaim,
   permanently poisoning the partition. The pyds writer also now
   stages segments to a dot-tmp name and os.replace()s into place, so
   a truncated .parquet can never land in data/ in the first place.
3. scan_archive's crashed-cold-swap heal delegates to
   _recover_compaction (full debris sweep: every <topic>.old-* and
   <topic>.compact.*), not the old restore-olds[0]-only inline copy.
"""

from __future__ import annotations

import os
import tempfile
import threading
import uuid

import pytest
from pyspark.sql import functions as F

from kcore_spark.sources.topic_log import (
    TopicLog,
    maintenance_lock,
    reclaim_uncommitted_files,
)


@pytest.fixture()
def log(spark):
    with tempfile.TemporaryDirectory(prefix="kcore_advice_r12_") as d:
        yield TopicLog(spark, d)


def _records(spark, n, start=0):
    return spark.range(start, start + n).select(
        F.encode(F.concat(F.lit("k"), (F.col("id") % 7).cast("string")), "utf-8").alias("key"),
        F.encode(F.concat(F.lit("v"), F.col("id").cast("string")), "utf-8").alias("value"),
        F.col("id").alias("seq"),
    )


def _rows(log, topic):
    return sorted(
        (r.partition, r.offset, bytes(r.key) if r.key is not None else None, bytes(r.value))
        for r in log.scan(topic).collect()
    )


# ---------------------------------------------------------------- finding 1


def test_reader_heal_waits_for_live_maintenance(spark, log):
    """A reader that observes swap evidence while the maintenance lock
    is HELD (a healthy live swap) must block, re-check, and not heal —
    the swap's owner finishes untouched."""
    log.create_topic("t", 2)
    log.produce("t", _records(spark, 12), order_by=["seq"])
    pre = _rows(log, "t")
    tdir = log._topic_dir("t")
    live = os.path.join(tdir, "data")
    old = os.path.join(tdir, f"data.old-{uuid.uuid4().hex}")
    # a stage a live rewrite would be about to rename into place; an
    # unlocked heal would rmtree it (the ADVICE scenario)
    stage = os.path.join(tdir, f"data.compact.{uuid.uuid4().hex}")
    os.makedirs(stage)

    got: list = []
    with maintenance_lock(tdir):
        # enter the swap window while holding the lock, as a live
        # rewrite does between its two renames
        os.rename(live, old)
        reader = threading.Thread(
            target=lambda: got.append(_rows(log, "t")), daemon=True
        )
        reader.start()
        reader.join(timeout=2.0)
        # the reader observed the old copy and must now be parked on the
        # maintenance lock — not healing, not erroring
        assert reader.is_alive(), "reader healed inside a live maintenance window"
        assert os.path.isdir(stage), "reader destroyed the live stage"
        # the "rewrite" finishes its swap: old copy back to live (the
        # degenerate but valid completion), stage consumed
        os.rename(old, live)
        os.rmdir(stage)
    reader.join(timeout=30.0)
    assert not reader.is_alive()
    assert got and got[0] == pre


def test_concurrent_readers_heal_genuine_crash_without_error(spark, log):
    """Two readers racing to heal the SAME crashed swap must both
    succeed (the loser re-checks under the lock and no-ops) — the old
    unlocked heal let the loser's os.rename raise FileNotFoundError
    out of scan()."""
    log.create_topic("t", 2)
    log.produce("t", _records(spark, 12), order_by=["seq"])
    pre = _rows(log, "t")
    tdir = log._topic_dir("t")
    os.rename(os.path.join(tdir, "data"), os.path.join(tdir, f"data.old-{uuid.uuid4().hex}"))

    results: list = []
    errors: list = []

    def read():
        try:
            results.append(_rows(log, "t"))
        except Exception as e:  # noqa: BLE001 - the regression under test
            errors.append(e)

    threads = [threading.Thread(target=read) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60.0)
    assert not errors, f"concurrent heal raced: {errors[0]!r}"
    assert results == [pre, pre]
    assert not any(
        d.startswith("data.old-") for d in os.listdir(tdir)
    ), "old-copy debris survived healing"


def test_swap_ops_hold_maintenance_lock(spark, log):
    """compact/optimize/erase_keys must hold the maintenance lock for
    their whole body (the guarantee finding 1's fix rests on). Probe:
    a thread in the middle of compact's Spark write cannot be
    interleaved with... simplest cross-check is static — the decorator
    stack — plus a liveness check that the ops still complete."""
    log.create_topic("t", 2)
    log.produce("t", _records(spark, 12), order_by=["seq"])
    pre = _rows(log, "t")
    assert log.compact("t") > 0
    log.optimize("t", target_bytes=512 * 1024 * 1024)
    assert log.erase_keys("t", [b"k3"]) > 0
    assert _rows(log, "t") == sorted(
        {(p, k): (p, o, k, v) for p, o, k, v in pre if k is not None}[key]
        for key in {(p, k) for p, o, k, v in pre if k is not None}
        if key[1] != b"k3"
    )


# ---------------------------------------------------------------- finding 2


def _truncated_parquet(path: str, src: str) -> None:
    """Simulate a writer that died mid pq.write_table: the first half
    of a real segment's bytes — magic header present, footer absent."""
    with open(src, "rb") as f:
        data = f.read()
    with open(path, "wb") as f:
        f.write(data[: max(8, len(data) // 2)])


def test_reclaim_deletes_truncated_unindexed_segment(spark, log):
    log.create_topic("t", 2)
    log.produce("t", _records(spark, 8), order_by=["seq"])
    tdir = log._topic_dir("t")
    pdir = os.path.join(tdir, "data", "partition=0")
    src = next(
        os.path.join(pdir, f) for f in os.listdir(pdir) if f.endswith(".parquet")
    )
    debris = os.path.join(pdir, f"part-w-{uuid.uuid4().hex}.parquet")
    _truncated_parquet(debris, src)
    # reclaim (as run under the partition commit locks at the start of
    # every produce/commit) must delete it, not raise ArrowInvalid
    removed = reclaim_uncommitted_files(tdir, {0})
    assert removed == 1
    assert not os.path.exists(debris)


def test_produce_retry_succeeds_after_truncated_debris(spark, log):
    """The end-to-end ADVICE scenario: crashed-writer debris in data/,
    then the user retries — the retry must commit exactly once and
    scans must be clean."""
    log.create_topic("t", 2)
    log.produce("t", _records(spark, 8), order_by=["seq"])
    pre = _rows(log, "t")
    tdir = log._topic_dir("t")
    pdir = os.path.join(tdir, "data", "partition=1")
    src = next(
        os.path.join(pdir, f) for f in os.listdir(pdir) if f.endswith(".parquet")
    )
    _truncated_parquet(
        os.path.join(pdir, f"part-w-{uuid.uuid4().hex}.parquet"), src
    )
    log.produce("t", _records(spark, 8, start=8), order_by=["seq"])
    got = _rows(log, "t")
    assert len(got) == len(pre) + 8
    per_part: dict[int, list[int]] = {}
    for p, o, _, _ in got:
        per_part.setdefault(p, []).append(o)
    for p, offs in per_part.items():
        assert offs == list(range(len(offs))), f"partition {p} offsets: {offs}"


def test_pyds_writer_stages_segments_atomically(spark, log, monkeypatch):
    """A pyds commit crashed INSIDE pq.write_table must leave no
    .parquet in data/ (only a dot-tmp staged file), and the retried
    commit reclaims the tmp and lands exactly once."""
    import datetime

    import pyarrow.parquet as pq
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from kcore_spark.sources import pyds as pyds_mod
    from kcore_spark.sources.pyds import TopicLogWriter

    log.create_topic("t", 2)
    log.produce("t", _records(spark, 4), order_by=["seq"])
    pre = _rows(log, "t")
    tdir = log._topic_dir("t")

    schema = StructType(
        [
            StructField("key", BinaryType()),
            StructField("value", BinaryType()),
            StructField("timestamp", TimestampType()),
            StructField("part", IntegerType()),
            StructField("seq", LongType()),
        ]
    )
    ts = datetime.datetime(2024, 1, 1)
    batch = [(f"k{i}".encode(), f"v{i}".encode(), ts, i % 2, i) for i in range(6)]

    real_write = pq.write_table
    state = {"crashed": False}

    def dying_write(table, where, *a, **k):
        if not state["crashed"] and "/data/partition=" in str(where):
            state["crashed"] = True
            with open(where, "wb") as f:
                f.write(b"PAR1\x00\x00\x00\x00")  # torn half-write
            raise OSError("injected mid-write crash")
        return real_write(table, where, *a, **k)

    monkeypatch.setattr(pq, "write_table", dying_write)
    w = TopicLogWriter({"root": log.root, "topic": "t"}, schema)
    msg = w.write(iter(batch))
    with pytest.raises(OSError, match="injected"):
        w.commit([msg])
    monkeypatch.undo()

    # the torn file is a dot-tmp, never a live .parquet; scans stay clean
    data_dir = os.path.join(tdir, "data")
    torn = [
        f
        for pd in os.listdir(data_dir)
        for f in os.listdir(os.path.join(data_dir, pd))
        if f.endswith(".parquet.tmp")
    ]
    assert torn, "expected the crashed write's staged tmp file"
    live_parquet_ok = _rows(log, "t")
    assert live_parquet_ok == pre, "torn write leaked into reader-visible data"

    # Spark-style retry: fresh writer, same batch → exactly once, tmp gone
    w2 = TopicLogWriter({"root": log.root, "topic": "t"}, schema)
    w2.commit([w2.write(iter(batch))])
    got = _rows(log, "t")
    assert len(got) == len(pre) + 6
    leftovers = [
        f
        for pd in os.listdir(data_dir)
        for f in os.listdir(os.path.join(data_dir, pd))
        if f.endswith(".tmp")
    ]
    assert leftovers == [], f"staged tmp debris survived retry: {leftovers}"
    per_part: dict[int, list[int]] = {}
    for p, o, _, _ in got:
        per_part.setdefault(p, []).append(o)
    for p, offs in per_part.items():
        assert offs == list(range(len(offs)))


# ---------------------------------------------------------------- finding 3


def test_scan_archive_heals_all_cold_debris(spark):
    """scan_archive on a crashed cold-tier erasure swap must restore the
    archive AND clear every piece of debris — the <topic>.compact.*
    stage included (the old inline heal restored olds[0] and left the
    rest)."""
    with tempfile.TemporaryDirectory(prefix="kcore_hot_") as hot, tempfile.TemporaryDirectory(
        prefix="kcore_cold_"
    ) as cold:
        log = TopicLog(spark, hot, archive_root=cold)
        log.create_topic("t", 2)
        for i in range(4):
            log.produce("t", _records(spark, 6, start=6 * i), order_by=["seq"])
        log.truncate_before("t", {0: 5, 1: 5})
        adir = os.path.join(cold, "t")
        archived = sorted(
            (r.partition, r.offset)
            for r in log.scan_archive("t").select("partition", "offset").collect()
        )
        assert archived
        # crash state: archive renamed aside, plus the erasure's stage
        os.rename(adir, adir + f".old-{uuid.uuid4().hex}")
        os.makedirs(adir + f".compact.{uuid.uuid4().hex}")
        got = sorted(
            (r.partition, r.offset)
            for r in log.scan_archive("t").select("partition", "offset").collect()
        )
        assert got == archived, "heal did not restore the archived rows"
        debris = [d for d in os.listdir(cold) if d != "t"]
        assert debris == [], f"cold-tier debris survived healing: {debris}"

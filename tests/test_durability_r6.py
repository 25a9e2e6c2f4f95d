"""Round-6 durability fixes (ADVICE r5): null-key-safe erasure, a
crash-safe optimize swap, archive-tier swap healing,
per-job writer staging, and the cross-process commit lock."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kcore_spark.sources.topic_log import TopicLog, partition_commit_locks


@pytest.fixture()
def log(spark):
    with tempfile.TemporaryDirectory(prefix="kcore_r6_") as d:
        yield TopicLog(spark, d)


def _records(spark, n, base_ms=1_000_000, null_every: int | None = None):
    key = F.encode((F.col("id") % 5).cast("string"), "utf-8")
    if null_every:
        key = F.when(F.col("id") % null_every == 0, F.lit(None).cast("binary")).otherwise(key)
    return spark.range(n).select(
        key.alias("key"),
        F.encode(F.col("id").cast("string"), "utf-8").alias("value"),
        F.timestamp_millis((F.lit(base_ms) + F.col("id")).cast("long")).alias("timestamp"),
        F.col("id").alias("seq"),
    )


# ------------------------------------------------- null-key-safe erasure


def test_erase_keys_retains_null_keyed_records(spark, log):
    log.create_topic("t", 1)
    log.produce("t", _records(spark, 20, null_every=4), partition_expr=F.lit(0), order_by=["seq"])
    n_null = log.scan("t").where(F.col("key").isNull()).count()
    n_k3 = log.scan("t").where(F.col("key") == b"3").count()
    assert n_null > 0 and n_k3 > 0
    removed = log.erase_keys("t", [b"3"])
    assert removed == n_k3
    # the erasure must not touch null-keyed records (compaction contract)
    assert log.scan("t").where(F.col("key").isNull()).count() == n_null
    assert log.scan("t").where(F.col("key") == b"3").count() == 0


def test_erase_keys_retains_null_keys_in_archive(spark):
    with tempfile.TemporaryDirectory(prefix="kcore_r6_h_") as hot, tempfile.TemporaryDirectory(
        prefix="kcore_r6_c_"
    ) as cold:
        log = TopicLog(spark, hot, archive_root=cold)
        log.create_topic("t", 1)
        log.produce("t", _records(spark, 20, null_every=4), partition_expr=F.lit(0), order_by=["seq"])
        log.alter_topic_config("t", {"retention.ms": "1"})
        log.apply_retention_from_config("t", now_ms=10_000_000_000)
        arch = log.scan_archive("t")
        assert arch is not None
        n_null_cold = arch.where(F.col("key").isNull()).count()
        n_k3_cold = arch.where(F.col("key") == b"3").count()
        assert n_null_cold > 0 and n_k3_cold > 0
        removed = log.erase_keys("t", [b"3"])
        assert removed == n_k3_cold
        arch = log.scan_archive("t")
        assert arch.where(F.col("key").isNull()).count() == n_null_cold
        assert arch.where(F.col("key") == b"3").count() == 0


# ------------------------------------------------- optimize crash safety


def _small_segments(spark, log, n_batches=4, rows=5):
    log.create_topic("t", 1)
    for b in range(n_batches):
        log.produce(
            "t",
            _records(spark, rows, base_ms=1_000_000 + b * 1000),
            partition_expr=F.lit(0),
            order_by=["seq"],
        )


def test_optimize_swap_survives_crash_between_renames(spark, log):
    """Simulate dying after `rename(data, data.old-*)` but before
    `rename(stage, data)`: the old copy holds the only complete log and
    recovery must restore it — NOT classify it as mid-rmtree garbage —
    and discard the stage."""
    _small_segments(spark, log)
    before = log.scan("t").orderBy("offset").collect()
    tdir = log._topic_dir("t")
    live = os.path.join(tdir, "data")
    old = os.path.join(tdir, "data.old-deadbeef")
    stage = os.path.join(tdir, "data.compact.cafe")
    shutil.copytree(live, stage)  # a complete stage that never landed
    os.rename(live, old)  # crash state: live gone, old copy present
    log._recover_compaction("t")
    assert not os.path.exists(old)
    assert not os.path.exists(stage)
    assert os.path.isdir(live)
    assert log.scan("t").orderBy("offset").collect() == before
    # fetch path healthy after heal (manifest re-indexed)
    assert log.fetch("t", 0, 0, 10_000).count() == len(before)


def test_optimize_swap_crash_after_swap_deletes_marker(spark, log):
    """Crash state after both renames but before rmtree(data.old-*):
    the live dir is complete, recovery finishes the delete."""
    _small_segments(spark, log)
    before = log.scan("t").orderBy("offset").collect()
    tdir = log._topic_dir("t")
    live = os.path.join(tdir, "data")
    old = os.path.join(tdir, "data.old-deadbeef")
    shutil.copytree(live, old)  # both present — live is authoritative
    log._recover_compaction("t")
    assert not os.path.exists(old)
    assert log.scan("t").orderBy("offset").collect() == before


def test_optimize_end_to_end_under_marker_scheme(spark, log):
    _small_segments(spark, log, n_batches=5)
    before = log.scan("t").orderBy("offset").collect()
    out = log.optimize("t", target_bytes=64 * 1024 * 1024)
    assert 0 in out and out[0][1] < out[0][0]
    assert log.scan("t").orderBy("offset").collect() == before
    # no stray staging/marker dirs survive a clean run
    tdir = log._topic_dir("t")
    stray = [d for d in os.listdir(tdir) if d.startswith(("opt.", "data.part-old-"))]
    assert stray == []


# ------------------------------------------------- archive swap healing


def test_archive_erase_swap_healed(spark):
    with tempfile.TemporaryDirectory(prefix="kcore_r6_h_") as hot, tempfile.TemporaryDirectory(
        prefix="kcore_r6_c_"
    ) as cold:
        log = TopicLog(spark, hot, archive_root=cold)
        log.create_topic("t", 1)
        log.produce("t", _records(spark, 10), partition_expr=F.lit(0), order_by=["seq"])
        log.alter_topic_config("t", {"retention.ms": "1"})
        log.apply_retention_from_config("t", now_ms=10_000_000_000)
        n_cold = log.scan_archive("t").count()
        assert n_cold > 0
        adir = os.path.join(cold, "t")
        # crash state: archive dir renamed aside, erase stage half-written
        os.rename(adir, adir + ".old-deadbeef")
        os.makedirs(adir + ".compact.cafe")
        # r11: scan_archive heals the swap window TRANSPARENTLY (it used
        # to return None until the next erase/compact ran recovery — the
        # same reader-invisibility class the crash fuzz caught on the
        # hot tier)
        assert log.scan_archive("t").count() == n_cold
        assert not os.path.exists(adir + ".old-deadbeef")
        # the stage is discarded by full recovery
        log._recover_compaction("t")
        assert log.scan_archive("t").count() == n_cold
        assert not os.path.exists(adir + ".compact.cafe")


# ------------------------------------------------- per-job writer staging


def test_writer_staging_is_per_job(spark):
    with tempfile.TemporaryDirectory(prefix="kcore_r6_w_") as root:
        log = TopicLog(spark, root)
        log.create_topic("t", 2)
        # a foreign job's in-flight staged file must survive this job's
        # commit (the old shared-staging design rmtree'd it mid-flight)
        foreign = os.path.join(root, "t", "_staging", "other-job")
        os.makedirs(foreign)
        foreign_file = os.path.join(foreign, "stage-1-p0-x.parquet")
        with open(foreign_file, "wb") as f:
            f.write(b"inflight")
        from kcore_spark.sources.pyds import TopicLogDataSource

        spark.dataSource.register(TopicLogDataSource)
        df = spark.range(6).select(
            F.encode(F.col("id").cast("string"), "utf-8").alias("key"),
            F.encode(F.col("id").cast("string"), "utf-8").alias("value"),
            F.timestamp_millis(F.lit(1_000_000) + F.col("id")).alias("timestamp"),
            (F.col("id") % 2).cast("int").alias("part"),
            F.col("id").alias("seq"),
        )
        (
            df.write.format("kcore_topic")
            .option("root", root)
            .option("topic", "t")
            .mode("append")
            .save()
        )
        assert log.scan("t").count() == 6
        assert os.path.exists(foreign_file), "commit deleted another job's staging"
        # watermarks advanced atomically
        assert sum(log._watermarks("t").values()) == 6


# ------------------------------------------------- cross-process commit lock


def test_topic_commit_lock_excludes_other_process():
    """The per-partition flock must hold against a second PROCESS: the
    child tries to enter partition 0's lock while the parent holds it
    and records whether it had to wait — while a DISJOINT partition's
    lock is acquired instantly (Kafka's per-partition concurrency)."""
    import multiprocessing as mp
    import time

    with tempfile.TemporaryDirectory(prefix="kcore_r6_l_") as tdir:

        def child(path, q, part):
            t0 = time.monotonic()
            with partition_commit_locks(path, [part]):
                q.put(time.monotonic() - t0)

        ctx = mp.get_context("fork")
        q = ctx.Queue()
        with partition_commit_locks(tdir, [0]):
            p = ctx.Process(target=child, args=(tdir, q, 0))
            p.start()
            time.sleep(0.5)  # child should be blocked on the flock now
            # disjoint partition: acquired instantly despite p0 held
            p1 = ctx.Process(target=child, args=(tdir, q, 1))
            p1.start()
            free = q.get(timeout=10)
            assert free < 0.3, f"disjoint partition lock waited {free:.3f}s"
            p1.join(timeout=10)
        p.join(timeout=10)
        waited = q.get(timeout=5)
        assert waited >= 0.3, f"child acquired the lock while parent held it ({waited:.3f}s)"


def test_produce_serialized_by_commit_lock(spark, log):
    """Offsets stay dense when a produce runs while another holder has
    the topic's commit lock released just before (sanity of the produce
    path under the decorator)."""
    log.create_topic("t", 1)
    log.produce("t", _records(spark, 5), partition_expr=F.lit(0), order_by=["seq"])
    log.produce("t", _records(spark, 5), partition_expr=F.lit(0), order_by=["seq"])
    offs = [r.offset for r in log.scan("t").orderBy("offset").collect()]
    assert offs == list(range(10))
    wm_path = log._wm_path("t")
    with open(wm_path) as f:
        assert {k: v for k, v in json.load(f).items() if not k.startswith("__")} == {"0": 10}


# --------------------------------------- crashed-produce orphan safety


def _orphan_file(log, topic, partition, offsets, base_ms=9_000_000):
    """Simulate a produce that wrote its parquet but died before the
    watermark flip: a segment with the given (uncommitted) offsets."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdir = os.path.join(log._topic_dir(topic), "data", f"partition={partition}")
    os.makedirs(pdir, exist_ok=True)
    n = len(offsets)
    t = pa.table(
        {
            "key": pa.array([b"orphan"] * n, type=pa.binary()),
            "value": pa.array([b"ghost"] * n, type=pa.binary()),
            "offset": pa.array(offsets, pa.int64()),
            "timestamp": pa.array([base_ms * 1000] * n, pa.timestamp("us")),
            "timestampType": pa.array([0] * n, pa.int32()),
            "headers": pa.nulls(n, pa.map_(pa.string(), pa.binary())),
        }
    )
    path = os.path.join(pdir, "part-crashed-0000.parquet")
    pq.write_table(t, path)
    return path


def test_uncommitted_produce_is_invisible_to_readers(spark, log):
    log.create_topic("t", 1)
    log.produce("t", _records(spark, 10), partition_expr=F.lit(0), order_by=["seq"])
    _orphan_file(log, "t", 0, list(range(10, 15)))
    # the crashed produce never flipped the watermark: its records must
    # not be readable (scan) nor compactable into committed data
    assert log.scan("t").count() == 10
    assert log.scan("t").agg(F.max("offset")).first()[0] == 9
    log.compact("t")
    vals = {r.value for r in log.scan("t").collect()}
    assert b"ghost" not in vals


def test_next_produce_reclaims_crashed_predecessor(spark, log):
    log.create_topic("t", 1)
    log.produce("t", _records(spark, 10), partition_expr=F.lit(0), order_by=["seq"])
    orphan = _orphan_file(log, "t", 0, list(range(10, 15)))
    # the next produce reassigns offsets 10..: the orphan holding the
    # same offsets must be deleted BEFORE the write, or both copies
    # would be visible below the new watermark (duplicate offsets)
    log.produce("t", _records(spark, 5, base_ms=2_000_000), partition_expr=F.lit(0), order_by=["seq"])
    assert not os.path.exists(orphan)
    rows = log.scan("t").orderBy("offset").collect()
    assert [r.offset for r in rows] == list(range(15))  # dense, no dupes
    assert all(r.value != b"ghost" for r in rows)


def test_reclaim_spares_committed_but_unindexed_files(spark, log):
    """Crash between the watermark flip and the manifest refresh leaves
    committed files unindexed — reclaim must keep them (their offsets
    are below the watermark)."""
    log.create_topic("t", 1)
    log.produce("t", _records(spark, 10), partition_expr=F.lit(0), order_by=["seq"])
    # wipe the manifest: every committed file is now unindexed
    os.remove(log._manifest_path("t"))
    assert log._reclaim_uncommitted("t") == 0
    log.produce("t", _records(spark, 2, base_ms=3_000_000), partition_expr=F.lit(0), order_by=["seq"])
    assert log.scan("t").count() == 12


# --------------------------------------- offsets compaction + reset


def test_compact_offsets_keeps_latest_per_key(spark, log):
    log.create_topic("t", 2)
    log.produce("t", _records(spark, 10), partition_expr=(F.col("seq") % 2).cast("int"), order_by=["seq"])
    for off in (1, 2, 3):
        log.commit_offset("g", "t", 0, off)
        log.commit_offset("g", "t", 1, off + 10)
    log.commit_offset("other", "t", 0, 99)
    before = {
        (r.partition): r.committed_offset for r in log.fetch_offsets("g").collect()
    }
    n_before, n_after = log.compact_offsets()
    assert n_before == 7 and n_after == 3  # (g,t,0), (g,t,1), (other,t,0)
    after = {
        (r.partition): r.committed_offset for r in log.fetch_offsets("g").collect()
    }
    assert after == before == {0: 3, 1: 13}
    assert log.fetch_offsets("other").collect()[0].committed_offset == 99
    # idempotent second pass
    assert log.compact_offsets() == (3, 3)


def test_compact_offsets_spares_torn_files(spark, log):
    log.create_topic("t", 1)
    log.commit_offset("g", "t", 0, 5)
    torn = os.path.join(log._offsets_dir(), "commit-torn.json")
    with open(torn, "w") as f:
        f.write('{"group_id": "g", "topi')  # in-flight write
    log.commit_offset("g", "t", 0, 6)
    log.compact_offsets()
    assert os.path.exists(torn)  # never deletes what it can't read
    assert log.fetch_offsets("g").collect()[0].committed_offset == 6


def test_reset_offsets_earliest_latest_and_timestamp(spark, log):
    log.create_topic("t", 1)
    log.produce("t", _records(spark, 10, base_ms=1_000_000), partition_expr=F.lit(0), order_by=["seq"])
    log.commit_offset("g", "t", 0, 4)
    assert log.reset_offsets("g", "t", "latest") == {0: 10}
    assert log.fetch_offsets("g").collect()[0].committed_offset == 10
    assert log.reset_offsets("g", "t", "earliest") == {0: 0}
    # truncate, then earliest = new log start
    log.truncate_before("t", {0: 3})
    assert log.reset_offsets("g", "t", "earliest") == {0: 3}
    # timestamp reset: first offset at/after ts of seq 7 (1_000_007)
    targets = log.reset_offsets("g", "t", 1_000_007)
    assert targets == {0: 7}
    assert log.fetch_offsets("g").collect()[0].committed_offset == 7
    # a timestamp past the end resets to the watermark
    assert log.reset_offsets("g", "t", 99_000_000) == {0: 10}


def test_cleaner_compacts_offsets(spark, log):
    log.create_topic("t", 1)
    log.produce("t", _records(spark, 4), partition_expr=F.lit(0), order_by=["seq"])
    for off in range(4):
        log.commit_offset("g", "t", 0, off)
    log.run_cleanup_all()
    d = log._offsets_dir()
    assert len([f for f in os.listdir(d) if f.startswith("commit-")]) == 1


def test_fetch_never_serves_uncommitted_even_if_manifest_indexed(spark, log):
    """An unrelated manifest refresh can index a crashed produce's
    segments; fetch must still clamp to the committed watermark."""
    log.create_topic("t", 1)
    log.produce("t", _records(spark, 10), partition_expr=F.lit(0), order_by=["seq"])
    _orphan_file(log, "t", 0, list(range(10, 15)))
    log._refresh_manifest("t")  # simulates e.g. a truncate-path refresh
    assert log.fetch("t", 0, 0, 100).count() == 10
    assert log.fetch("t", 0, 8, 100).count() == 2  # offsets 8, 9 only
    assert log.fetch("t", 0, 12, 100).count() == 0  # fully past the wm


def test_unscoped_refresh_skips_crash_debris(spark, log):
    """ADVICE r8: a READ-path manifest refresh (no commit locks) runs
    during another producer's crash window — the above-watermark
    orphan must NOT get manifest-indexed, or the next produce would
    skip it in _reclaim_uncommitted and assign duplicate offsets."""
    log.create_topic("t", 1)
    log.produce("t", _records(spark, 10), partition_expr=F.lit(0), order_by=["seq"])
    orphan = _orphan_file(log, "t", 0, list(range(10, 15)))
    # unscoped refresh, as fetch's stale-manifest re-plan performs it
    man = log._refresh_manifest("t")
    indexed = {e["file"] for entries in man.values() for e in entries}
    assert not any("part-crashed" in f for f in indexed)
    # ...so the next produce still reclaims the debris and stays dense
    log.produce(
        "t", _records(spark, 5, base_ms=2_000_000), partition_expr=F.lit(0), order_by=["seq"]
    )
    assert not os.path.exists(orphan)
    rows = log.scan("t").orderBy("offset").collect()
    assert [r.offset for r in rows] == list(range(15))
    assert all(r.value != b"ghost" for r in rows)

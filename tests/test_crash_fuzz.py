"""Systematic crash-point fuzz for the topic-log swap protocols.

The targeted durability tests (test_durability*.py) each pin ONE known
crash window. This suite is exhaustive over the windows instead: it
re-runs compact()/optimize()/erase_keys() with an injected crash at the
k-th filesystem mutation (os.rename / os.replace / shutil.rmtree under
the topic dir) for EVERY k, and asserts the two invariants the design
claims (sources/topic_log.py::_recover_compaction docstring):

1. ATOMICITY — after a crash at any point, scan() returns a complete
   log: exactly the pre-image or exactly the post-image, never a torn
   mixture, with no reader-visible error.
2. HEALING — re-running the operation afterwards succeeds and lands the
   post-image, and no swap debris remains: all three operations swap
   the whole data/ dir through one protocol (_swap_dir), whose debris is
   a data.old-* copy and a data.compact.* stage.

A new crash window introduced by a future edit (e.g. an extra rename
slipped before the swap) is then caught by construction, not by
remembering to write its regression test.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kcore_spark.sources.topic_log import TopicLog


class _InjectedCrash(Exception):
    pass


@pytest.fixture()
def log(spark):
    with tempfile.TemporaryDirectory(prefix="kcore_crash_fuzz_") as d:
        yield TopicLog(spark, d)


def _records(spark, n, start=0):
    return spark.range(start, start + n).select(
        F.encode(F.concat(F.lit("k"), (F.col("id") % 7).cast("string")), "utf-8").alias("key"),
        F.encode(F.concat(F.lit("v"), F.col("id").cast("string")), "utf-8").alias("value"),
        F.col("id").alias("seq"),
    )


def _rows(log, topic):
    """Canonical reader-visible content: (partition, offset, key, value)."""
    return sorted(
        (r.partition, r.offset, bytes(r.key) if r.key is not None else None,
         bytes(r.value))
        for r in log.scan(topic).collect()
    )


class _CrashInjector:
    """Intercept filesystem mutations under `scope` (a prefix or tuple
    of prefixes); raise on the at-th."""

    def __init__(self, monkeypatch, scope, at: int | None):
        self.scope = tuple([scope] if isinstance(scope, str) else scope)
        self.at, self.count = at, 0
        for mod, name in (
            (os, "rename"),
            (os, "replace"),
            (os, "remove"),
            (shutil, "rmtree"),
        ):
            monkeypatch.setattr(mod, name, self._wrap(getattr(mod, name)))

    def _wrap(self, real):
        def wrapper(src, *a, **kw):
            if str(src).startswith(self.scope):
                if self.at is not None and self.count == self.at:
                    raise _InjectedCrash(f"injected at mutation {self.count}")
                self.count += 1
            return real(src, *a, **kw)

        return wrapper


def _no_debris(log, topic):
    tdir = log._topic_dir(topic)
    left = [
        d
        for d in os.listdir(tdir)
        if d.startswith(("data.old-", "data.compact.", "opt.", "data.part-old-"))
    ]
    assert left == [], f"swap debris survived healing: {left}"


def _fuzz(spark, log, topic_prefix, setup, op, monkeypatch):
    """Run `op` with a crash at every filesystem-mutation index.

    setup(topic) -> (pre_rows, post_rows); op(topic) performs the swap
    operation under test. Returns the number of crash points covered."""
    # dry run: count the mutation sites
    t0 = f"{topic_prefix}_dry"
    pre, post = setup(t0)
    inj = _CrashInjector(monkeypatch, log.root, at=None)
    op(t0)
    n_sites = inj.count
    assert _rows(log, t0) == post
    monkeypatch.undo()
    assert n_sites >= 2, "swap ops must have at least the two renames"

    for k in range(n_sites):
        topic = f"{topic_prefix}_{k}"
        pre, post = setup(topic)
        inj = _CrashInjector(monkeypatch, log.root, at=k)
        with pytest.raises(_InjectedCrash):
            op(topic)
        monkeypatch.undo()
        # invariant 1: complete pre- or post-image, never torn
        got = _rows(log, topic)
        assert got in (pre, post), (
            f"crash at mutation {k}: reader saw a torn log "
            f"({len(got)} rows; pre={len(pre)}, post={len(post)})"
        )
        # invariant 2: the op heals and completes on retry
        op(topic)
        assert _rows(log, topic) == post, f"crash at {k}: retry did not land post-image"
        _no_debris(log, topic)
    return n_sites


def test_compact_survives_crash_at_every_mutation(spark, log, monkeypatch):
    def setup(topic):
        log.create_topic(topic, 2)
        log.produce(topic, _records(spark, 20), order_by=["seq"])
        pre = _rows(log, topic)
        # post-image = latest record per (partition, key) — compaction
        # is partition-scoped (none of the keys here are null)
        latest = {}
        for p, o, k, v in pre:  # pre is offset-sorted within partition
            if k is not None:
                latest[(p, k)] = (p, o, k, v)
        post = sorted(latest.values())
        return pre, post

    n = _fuzz(spark, log, "tc", setup, log.compact, monkeypatch)
    assert n >= 2


def test_erase_keys_survives_crash_at_every_mutation(spark, log, monkeypatch):
    gone = b"k3"

    def setup(topic):
        log.create_topic(topic, 2)
        log.produce(topic, _records(spark, 20), order_by=["seq"])
        pre = _rows(log, topic)
        post = sorted(r for r in pre if r[2] != gone)
        return pre, post

    n = _fuzz(
        spark, log, "te", setup, lambda t: log.erase_keys(t, [gone]), monkeypatch
    )
    assert n >= 2


def test_produce_crash_is_exactly_once_at_every_mutation(spark, log, monkeypatch):
    """Produce's commit point is the watermark flip (one os.replace).
    Invariants, for a crash at EVERY Python-side mutation (segment-file
    moves out of private staging, stage rmtree, control-file replaces):

    1. VISIBILITY — readers see the pre-image at every crash point
       before the flip lands, the post-image after; never a partial
       batch (above-watermark files are invisible by the read bound).
    2. EXACTLY-ONCE RETRY — re-running the same produce lands the batch
       once: the crashed attempt's files are reclaimed before offsets
       are reassigned, so no duplicate offsets survive."""
    # dry run to count the mutation sites of one produce
    t0 = "tp_dry"
    log.create_topic(t0, 2)
    log.produce(t0, _records(spark, 10), order_by=["seq"])
    inj = _CrashInjector(monkeypatch, log.root, at=None)
    log.produce(t0, _records(spark, 10, start=10), order_by=["seq"])
    n_sites = inj.count
    monkeypatch.undo()
    assert n_sites >= 3, "expected ≥2 segment moves + the watermark flip"

    for k in range(n_sites):
        topic = f"tp_{k}"
        log.create_topic(topic, 2)
        log.produce(topic, _records(spark, 10), order_by=["seq"])
        pre = _rows(log, topic)
        batch = _records(spark, 10, start=10)
        inj = _CrashInjector(monkeypatch, log.root, at=k)
        crashed = False
        try:
            log.produce(topic, batch, order_by=["seq"])
        except _InjectedCrash:
            crashed = True
        monkeypatch.undo()
        got = _rows(log, topic)
        if crashed:
            # visibility: either nothing landed (pre-flip crash) or the
            # whole batch did (the flip was the crashed-past point)
            assert got == pre or len(got) == len(pre) + 10, (
                f"crash at mutation {k}: partial batch visible "
                f"({len(got)} rows; pre={len(pre)})"
            )
        if len(got) == len(pre):
            # retry: exactly once — 10 new rows, dense offsets, no dups
            log.produce(topic, batch, order_by=["seq"])
            got = _rows(log, topic)
        assert len(got) == len(pre) + 10, f"crash at {k}: retry lost/duplicated rows"
        per_part: dict[int, list[int]] = {}
        for p, o, _, _ in got:
            per_part.setdefault(p, []).append(o)
        for p, offs in per_part.items():
            assert offs == list(range(len(offs))), (
                f"crash at {k}: partition {p} offsets not dense: {offs}"
            )


def test_truncate_to_archive_crash_never_loses_or_resurrects(spark, monkeypatch):
    """truncate_before with an archive tier (the KIP-405 archive-then-
    delete shape). Crash at every mutation (log-start replace, per-file
    archive os.replace, manifest replace); invariants:

    1. scan() shows the pre-image or the post-image (log-start commit is
       the visibility point) — truncated offsets are never resurrected,
       surviving offsets never lost.
    2. hot tier ∪ archive tier always holds every pre-image record —
       archive-then-delete can lose nothing, at any crash point.
    3. a retry lands the post-image with the truncated rows archived."""
    import tempfile as _tf

    KEEP = 5  # first offset to keep per partition

    with _tf.TemporaryDirectory(prefix="kcore_fuzz_hot_") as hot, _tf.TemporaryDirectory(
        prefix="kcore_fuzz_cold_"
    ) as cold:
        log = TopicLog(spark, hot, archive_root=cold)

        def archived(topic):
            try:
                return sorted(
                    (r.partition, r.offset, bytes(r.key) if r.key is not None else None,
                     bytes(r.value))
                    for r in log.scan_archive(topic).collect()
                )
            except Exception:
                return []  # nothing archived yet

        def raw_hot(topic):
            # physical hot-tier content, BYPASSING the log-start filter:
            # rows below the boundary inside straddling segments are
            # logically truncated but must still be physically present
            # (only wholly-below-boundary FILES are archived/deleted)
            d = log._topic_dir(topic) + "/data"
            return sorted(
                (r.partition, r.offset, bytes(r.key) if r.key is not None else None,
                 bytes(r.value))
                for r in spark.read.parquet(d)
                .select("partition", "offset", "key", "value")
                .collect()
            )

        def setup(topic):
            log.create_topic(topic, 2)
            # several small produces → multiple segments per partition,
            # so some files fall wholly below the boundary
            for i in range(4):
                log.produce(topic, _records(spark, 6, start=6 * i), order_by=["seq"])
            pre = _rows(log, topic)
            post = sorted(r for r in pre if r[1] >= KEEP)
            return pre, post

        def op(topic):
            log.truncate_before(topic, {0: KEEP, 1: KEEP})

        # dry run
        t0 = "ta_dry"
        pre, post = setup(t0)
        inj = _CrashInjector(monkeypatch, (hot, cold), at=None)
        op(t0)
        n_sites = inj.count
        monkeypatch.undo()
        assert _rows(log, t0) == post
        assert n_sites >= 2, "expected the log-start replace + ≥1 archive move"

        for k in range(n_sites):
            topic = f"ta_{k}"
            pre, post = setup(topic)
            inj = _CrashInjector(monkeypatch, (hot, cold), at=k)
            with pytest.raises(_InjectedCrash):
                op(topic)
            monkeypatch.undo()
            got = _rows(log, topic)
            assert got in (pre, post), (
                f"crash at {k}: scan shows neither pre nor post ({len(got)} rows)"
            )
            # PHYSICAL no-loss: raw hot tier ∪ archive always holds every
            # pre-image record, at every crash point (archive-then-delete)
            union = set(raw_hot(topic)) | set(archived(topic))
            assert union == set(pre), (
                f"crash at {k}: records physically lost across tiers "
                f"(missing: {sorted(set(pre) - union)[:3]})"
            )
            op(topic)  # retry heals
            assert _rows(log, topic) == post, f"crash at {k}: retry wrong"
            union = set(raw_hot(topic)) | set(archived(topic))
            assert union == set(pre), (
                f"crash at {k}: archive-then-delete lost records after retry"
            )
            # archived rows are only ever truncated rows
            assert all(o < KEEP for _, o, _, _ in archived(topic))


def test_erase_keys_two_tier_crash_at_every_mutation(spark, monkeypatch):
    """GDPR erasure across BOTH tiers: erase_keys() rewrites the hot log
    AND the archive ("erasure that skipped cold segments wouldn't be
    erasure"). Crash at every mutation of the two chained swaps;
    invariants:

    1. each tier independently shows a complete pre- or post-image at
       every crash point (never torn);
    2. retrying the erasure completes it: the key is gone from BOTH
       tiers, every other record survives in exactly one tier."""
    import tempfile as _tf

    gone = b"k3"

    with _tf.TemporaryDirectory(prefix="kcore_fuzz_hot2_") as hot, _tf.TemporaryDirectory(
        prefix="kcore_fuzz_cold2_"
    ) as cold:
        log = TopicLog(spark, hot, archive_root=cold)

        def tier_rows(df):
            return sorted(
                (r.partition, r.offset, bytes(r.key) if r.key is not None else None,
                 bytes(r.value))
                for r in df.select("partition", "offset", "key", "value").collect()
            )

        def setup(topic):
            log.create_topic(topic, 2)
            for i in range(4):
                log.produce(topic, _records(spark, 6, start=6 * i), order_by=["seq"])
            # push the oldest segments to the archive so both tiers hold
            # copies of the erased key
            log.truncate_before(topic, {0: 5, 1: 5})
            hot_pre = tier_rows(log.scan(topic))
            cold_pre = tier_rows(log.scan_archive(topic))
            assert any(k == gone for _, _, k, _ in cold_pre), "fixture: key must be cold too"
            hot_post = sorted(r for r in hot_pre if r[2] != gone)
            cold_post = sorted(r for r in cold_pre if r[2] != gone)
            return hot_pre, cold_pre, hot_post, cold_post

        # dry run
        t0 = "tg_dry"
        hot_pre, cold_pre, hot_post, cold_post = setup(t0)
        inj = _CrashInjector(monkeypatch, (hot, cold), at=None)
        log.erase_keys(t0, [gone])
        n_sites = inj.count
        monkeypatch.undo()
        assert tier_rows(log.scan(t0)) == hot_post
        assert tier_rows(log.scan_archive(t0)) == cold_post
        assert n_sites >= 4, "expected two swaps of two renames each"

        for k in range(n_sites):
            topic = f"tg_{k}"
            hot_pre, cold_pre, hot_post, cold_post = setup(topic)
            inj = _CrashInjector(monkeypatch, (hot, cold), at=k)
            with pytest.raises(_InjectedCrash):
                log.erase_keys(topic, [gone])
            monkeypatch.undo()
            got_hot = tier_rows(log.scan(topic))
            got_cold = tier_rows(log.scan_archive(topic))
            assert got_hot in (hot_pre, hot_post), f"crash at {k}: torn hot tier"
            assert got_cold in (cold_pre, cold_post), f"crash at {k}: torn archive"
            # retry completes the erasure everywhere
            log.erase_keys(topic, [gone])
            assert tier_rows(log.scan(topic)) == hot_post, f"crash at {k}: hot retry"
            assert tier_rows(log.scan_archive(topic)) == cold_post, (
                f"crash at {k}: key survived in the archive after retry"
            )
            _no_debris(log, topic)


def test_compact_offsets_crash_preserves_committed_view(spark, log, monkeypatch):
    """The consumer-offsets cleaner claims crash safety by write-then-
    delete ordering + last-writer-wins reads. Crash at every os.remove
    of the delete phase: fetch_offsets must return the identical
    committed view at every crash point (duplicates resolve by
    commit_seq), and a retry converges the directory to one file per
    (group, topic, partition)."""
    log.create_topic("t", 2)
    log.produce("t", _records(spark, 10), order_by=["seq"])

    def committed():
        return {
            (g, r.partition): r.committed_offset
            for g in ("g1", "g2")
            for r in log.fetch_offsets(g).collect()
        }

    def seed():
        for g in ("g1", "g2"):
            for p in (0, 1):
                for off in (1, 3, 2):  # last-writer-wins on seq, not value
                    log.commit_offset(g, "t", p, off)

    seed()
    want = committed()
    assert want == {("g1", 0): 2, ("g1", 1): 2, ("g2", 0): 2, ("g2", 1): 2}
    # dry run to count delete-phase mutations
    inj = _CrashInjector(monkeypatch, log.root, at=None)
    log.compact_offsets()
    n_sites = inj.count
    monkeypatch.undo()
    assert committed() == want
    assert n_sites >= 4, "expected one delete per superseded commit file"

    for k in range(n_sites):
        seed()  # add fresh duplicates so the cleaner has work again
        want_k = committed()
        inj = _CrashInjector(monkeypatch, log.root, at=k)
        with pytest.raises(_InjectedCrash):
            log.compact_offsets()
        monkeypatch.undo()
        assert committed() == want_k, f"crash at delete {k}: committed view changed"
        log.compact_offsets()  # retry converges
        assert committed() == want_k, f"crash at delete {k}: retry changed the view"
    _, after = log.compact_offsets()
    assert after in (0, 4) or after <= 4  # ≤ one file per (group, partition)


def test_optimize_survives_crash_at_every_mutation(spark, log, monkeypatch):
    def setup(topic):
        log.create_topic(topic, 2)
        # several small produces → several small segments per partition,
        # so optimize actually rewrites
        for i in range(3):
            log.produce(topic, _records(spark, 6, start=6 * i), order_by=["seq"])
        pre = _rows(log, topic)
        return pre, pre  # optimize never changes reader-visible content

    def op(topic):
        log.optimize(topic, target_bytes=512 * 1024 * 1024)

    # optimize is layout-only: pre == post, so invariant 1 collapses to
    # "content never changes"; invariant 2 still proves marker healing.
    n = _fuzz(spark, log, "to", setup, op, monkeypatch)
    assert n >= 2


def test_pyds_commit_crash_is_exactly_once_at_every_mutation(spark, log, monkeypatch):
    """The kcore_topic DataSource writer's driver-side commit, crashed
    at every filesystem mutation (segment copies land via pyarrow
    writes; interceptable mutations are the manifest replace, the
    watermark flip, and the staging rmtree). Invariants:

    1. VISIBILITY — scan() shows the pre-image at every crash point
       before the watermark flip, the full batch after it; never a
       partial batch. fetch() plans correctly either way.
    2. EXACTLY-ONCE RETRY — a fresh write job (new writer, as Spark
       retries) lands the batch once with dense per-partition offsets.
       This was bug #5 of the round: the crash lands AFTER the manifest
       replace, so the crashed segments were manifest-indexed and the
       reclaim's indexed⇒committed shortcut skipped them — the retry's
       flip then published BOTH copies (6 duplicate offsets on a 6-row
       batch). reclaim_uncommitted_files now treats the manifest min
       offset as evidence on the same lo >= hi test and scrubs the
       stale entries."""
    import datetime

    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from kcore_spark.sources.pyds import TopicLogWriter

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

    def run_job(topic):
        w = TopicLogWriter({"root": log.root, "topic": topic}, schema)
        w.commit([w.write(iter(batch))])

    def setup(topic):
        log.create_topic(topic, 2)
        log.produce(topic, _records(spark, 4), order_by=["seq"])
        return _rows(log, topic)

    # dry run: count commit-phase mutations
    t0 = "tw_dry"
    pre = setup(t0)
    inj = _CrashInjector(monkeypatch, log.root, at=None)
    run_job(t0)
    n_sites = inj.count
    monkeypatch.undo()
    assert len(_rows(log, t0)) == len(pre) + 6
    assert n_sites >= 3, "expected manifest replace + wm flip + staging rmtree"

    for k in range(n_sites):
        topic = f"tw_{k}"
        pre = setup(topic)
        inj = _CrashInjector(monkeypatch, log.root, at=k)
        crashed = False
        try:
            run_job(topic)
        except _InjectedCrash:
            crashed = True
        monkeypatch.undo()
        got = _rows(log, topic)
        if crashed:
            assert got == pre or len(got) == len(pre) + 6, (
                f"crash at {k}: partial batch visible"
            )
        if len(got) == len(pre):
            run_job(topic)  # Spark-style retry: a fresh writer/job
            got = _rows(log, topic)
        assert len(got) == len(pre) + 6, f"crash at {k}: retry lost/duplicated rows"
        per_part: dict[int, list[int]] = {}
        for p, o, _, _ in got:
            per_part.setdefault(p, []).append(o)
        for p, offs in per_part.items():
            assert offs == list(range(len(offs))), (
                f"crash at {k}: partition {p} offsets not dense: {offs}"
            )
            # fetch plans from the (scrubbed) manifest: full range served
            assert log.fetch(topic, p, 0, 100).count() == len(offs), (
                f"crash at {k}: fetch undercounts partition {p}"
            )


def test_fetch_heals_optimize_marker_window(spark, log, monkeypatch):
    """fetch() plans from the manifest; in a rewrite's crash window
    (optimize's too, which swaps the whole data/ dir like compact) the
    manifest's files are gone and the only complete copy is the
    data.old-* dir. The stale-manifest branch must HEAL before
    re-planning — refreshing the manifest against the torn log would
    persist an index that omits the partition and return an empty fetch
    (found by driving fetch through the same window the optimize fuzz
    exercises via scan)."""
    import uuid

    log.create_topic("t", 2)
    log.produce("t", _records(spark, 12), order_by=["seq"])
    pre = log.fetch("t", 0, 0, 100).count()
    assert pre > 0
    tdir = log._topic_dir("t")
    os.rename(os.path.join(tdir, "data"), os.path.join(tdir, f"data.old-{uuid.uuid4().hex}"))
    assert log.fetch("t", 0, 0, 100).count() == pre, "fetch saw a torn partition"
    _no_debris(log, "t")

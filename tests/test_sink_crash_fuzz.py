"""Exhaustive crash-point fuzz for the streaming topic SINK's
exactly-once window (the 10th suite; r11's every-mutation campaign
covered every other swap/commit surface and found five real bugs).

The sink's claim (streaming/sinks.py): foreachBatch is at-least-once —
after a failure Spark re-delivers the last batch with the same batchId —
and the sink turns that into exactly-once by recording the batch id in
the SAME watermark-file os.replace that makes the batch's offsets
visible. The window under test is therefore every filesystem mutation
between the start of the sink's produce and the moment Spark's
checkpoint would advance (foreachBatch returning). Invariants, for a
crash at EVERY mutation k:

1. ATOMIC VISIBILITY — scan() shows the pre-image or the full batch,
   never a partial batch, at every k.
2. COMMIT-RECORD ATOMICITY — the batch is reader-visible IFF its batch
   id is recorded (sink_committed). A crash can never record the id
   without the data (lost batch on re-delivery skip) or land the data
   without the id (duplicate on re-delivery).
3. EXACTLY-ONCE RE-DELIVERY — re-invoking the sink with the same
   (batch, batchId), as a restarted query does from an un-advanced
   checkpoint, lands the batch exactly once: dense per-partition
   offsets, no loss, no duplicates.
4. FETCH PARITY — after re-delivery, fetch() serves every committed
   offset from the manifest (pins the manifest-first-watermark-last
   commit ordering in TopicLog._commit_segments; the old
   flip-then-refresh order left a window where committed rows were
   scan-visible but fetch-invisible).
5. PIPELINE LIVENESS — the NEXT batch id commits normally after the
   healed crash.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kcore_spark.sources.topic_log import TopicLog
from kcore_spark.streaming.sinks import topic_sink


class _InjectedCrash(Exception):
    pass


class _CrashInjector:
    """Intercept filesystem mutations under `scope`; raise on the at-th
    (same shape as tests/test_crash_fuzz.py)."""

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


@pytest.fixture()
def log(spark):
    with tempfile.TemporaryDirectory(prefix="kcore_sink_fuzz_") as d:
        yield TopicLog(spark, d)


def _batch(spark, n, start):
    return spark.range(n).select(
        F.encode((F.col("id") % 3).cast("string"), "utf-8").alias("key"),
        F.encode((F.col("id") + start).cast("string"), "utf-8").alias("value"),
        (F.col("id") + start).alias("seq"),
    )


def _rows(log, topic):
    return sorted(
        (r.partition, r.offset, bytes(r.value))
        for r in log.scan(topic).select("partition", "offset", "value").collect()
    )


def _assert_dense_and_fetchable(log, topic, got):
    per_part: dict[int, list[int]] = {}
    for p, o, _ in got:
        per_part.setdefault(p, []).append(o)
    for p, offs in per_part.items():
        assert offs == list(range(len(offs))), f"partition {p} offsets: {offs}"
        assert log.fetch(topic, p, 0, 10_000).count() == len(offs), (
            f"fetch undercounts partition {p} (manifest missed committed segments)"
        )


def test_sink_crash_is_exactly_once_at_every_mutation(spark, log, monkeypatch):
    N = 12  # rows per micro-batch

    def fresh(topic):
        log.create_topic(topic, 2)
        sink = topic_sink(log, topic, sink_id="q", order_by=["seq"])
        sink(_batch(spark, N, 0), 0)  # batch 0 committed cleanly
        return sink, _rows(log, topic)

    # dry run: count the mutation sites of one sink delivery
    sink, pre = fresh("s_dry")
    inj = _CrashInjector(monkeypatch, log.root, at=None)
    sink(_batch(spark, N, 100), 1)
    n_sites = inj.count
    monkeypatch.undo()
    assert len(_rows(log, "s_dry")) == 2 * N
    assert n_sites >= 4, "expected segment moves + manifest replace + wm flip"

    for k in range(n_sites):
        topic = f"s_{k}"
        sink, pre = fresh(topic)
        batch1 = _batch(spark, N, 100)
        inj = _CrashInjector(monkeypatch, log.root, at=k)
        crashed = False
        try:
            sink(batch1, 1)
        except _InjectedCrash:
            crashed = True
        monkeypatch.undo()
        got = _rows(log, topic)
        committed = log.sink_committed(topic, "q")
        # invariant 1: atomic visibility
        assert got == pre or len(got) == len(pre) + N, (
            f"crash at {k}: partial batch visible ({len(got)} rows)"
        )
        # invariant 2: data visible IFF batch id recorded (one os.replace)
        if len(got) == len(pre):
            assert committed == 0, f"crash at {k}: id recorded without data"
        else:
            assert committed == 1, f"crash at {k}: data landed without its id"
        assert crashed or committed == 1
        # invariant 3: re-delivery from the un-advanced checkpoint
        sink(batch1, 1)
        got = _rows(log, topic)
        assert len(got) == len(pre) + N, (
            f"crash at {k}: re-delivery lost or duplicated the batch "
            f"({len(got)} rows, want {len(pre) + N})"
        )
        assert log.sink_committed(topic, "q") == 1
        # invariant 4: dense offsets AND manifest-planned fetch parity
        _assert_dense_and_fetchable(log, topic, got)
        # invariant 5: the pipeline continues
        sink(_batch(spark, 5, 200), 2)
        got = _rows(log, topic)
        assert len(got) == len(pre) + N + 5, f"crash at {k}: next batch broken"
        assert log.sink_committed(topic, "q") == 2
        _assert_dense_and_fetchable(log, topic, got)


def test_sink_crash_then_full_query_restart_replays_from_checkpoint(spark, monkeypatch):
    """End-to-end: a REAL streaming query whose foreachBatch sink
    crashes mid-produce (watermark flip intercepted — the worst window:
    segments staged, nothing committed), then a restart from the SAME
    checkpoint re-delivers the batch and the topic ends exactly once.
    Exercises the genuine checkpoint-advance interplay the direct-call
    fuzz simulates."""
    src = tempfile.mkdtemp(prefix="kcore_sinkfuzz_src_")
    spark.range(30).select(
        F.col("id").alias("seq"), (F.col("id") * 2).alias("v")
    ).write.mode("overwrite").parquet(src)

    root = tempfile.mkdtemp(prefix="kcore_sinkfuzz_log_")
    log = TopicLog(spark, root)
    log.create_topic("out", 2)
    ckpt = tempfile.mkdtemp(prefix="kcore_sinkfuzz_ckpt_")

    def to_records(df):
        return df.select(
            F.encode(F.col("seq").cast("string"), "utf-8").alias("key"),
            F.encode(F.col("v").cast("string"), "utf-8").alias("value"),
            "seq",
        )

    sink = topic_sink(log, "out", sink_id="e2e", order_by=["seq"], transform=to_records)

    def run():
        q = (
            spark.readStream.schema("seq long, v long")
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # crash the first delivery at the watermark flip (the os.replace of
    # _watermarks.json) — foreachBatch raises, the query fails, the
    # checkpoint does NOT advance
    real_replace = os.replace

    def dying_replace(src_p, dst_p, *a, **kw):
        if str(dst_p).endswith("_watermarks.json") and str(dst_p).startswith(root):
            raise _InjectedCrash("injected at the commit point")
        return real_replace(src_p, dst_p, *a, **kw)

    monkeypatch.setattr(os, "replace", dying_replace)
    with pytest.raises(Exception, match="injected at the commit point"):
        run()
    monkeypatch.undo()
    assert log.scan("out").count() == 0, "pre-flip crash leaked rows"
    assert log.sink_committed("out", "e2e") == -1

    # restart from the same checkpoint: the batch is re-delivered and
    # commits exactly once
    run()
    assert log.scan("out").count() == 30
    vals = sorted(
        int(bytes(r.value)) for r in log.scan("out").select("value").collect()
    )
    assert vals == [i * 2 for i in range(30)], "re-delivery lost or duplicated rows"

    # a third run over the drained source adds nothing
    run()
    assert log.scan("out").count() == 30

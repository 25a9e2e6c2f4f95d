"""Pins for the r12 self-review findings on the swap/visibility rework.

1. offsets_for_timestamp must clamp to the committed watermark on its
   manifest-planned path: with manifest-first commit ordering, a
   produce crashed between the manifest index and the watermark flip
   leaves indexed-but-uncommitted segments, and an unclamped
   min(offset) would hand a consumer an offset whose records a
   retried produce later REASSIGNS.
2. Post-swap crash debris (a data.old-* or cold <topic>.old-* copy
   next to a healthy log dir) must be cleared by the read path's
   evidence check — not merely tolerated — so it cannot force the
   swap-evidence rebuild on every later scan forever.
"""

from __future__ import annotations

import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from kcore_spark.sources.topic_log import TopicLog


class _InjectedCrash(Exception):
    pass


@pytest.fixture()
def log(spark):
    with tempfile.TemporaryDirectory(prefix="kcore_review_r12_") as d:
        yield TopicLog(spark, d)


def _records(spark, n, start=0, ts="2024-01-01 00:00:00"):
    return spark.range(start, start + n).select(
        F.encode(F.col("id").cast("string"), "utf-8").alias("key"),
        F.encode(F.col("id").cast("string"), "utf-8").alias("value"),
        F.lit(ts).cast("timestamp").alias("timestamp"),
        F.col("id").alias("seq"),
    )


def test_offsets_for_timestamp_never_serves_uncommitted(spark, log, monkeypatch):
    log.create_topic("t", 1)
    log.produce("t", _records(spark, 6, ts="2024-01-01 00:00:00"), order_by=["seq"])

    # crash a second produce (NEWER timestamps) exactly at the
    # watermark flip: its segments are already manifest-indexed
    real_replace = os.replace

    def dying_replace(src_p, dst_p, *a, **kw):
        if str(dst_p).endswith("_watermarks.json"):
            raise _InjectedCrash("at the flip")
        return real_replace(src_p, dst_p, *a, **kw)

    monkeypatch.setattr(os, "replace", dying_replace)
    with pytest.raises(Exception, match="at the flip"):
        log.produce("t", _records(spark, 4, start=6, ts="2024-06-01 00:00:00"), order_by=["seq"])
    monkeypatch.undo()

    # the crashed batch's offsets [6,10) are manifest-indexed but
    # uncommitted; a lookup for mid-2024 timestamps must report -1,
    # not offset 6
    import json

    man = json.load(open(os.path.join(log._topic_dir("t"), "_manifest.json")))
    assert any(
        e["min"] >= 6 for e in man.get("partition=0", [])
    ), "fixture: crashed batch should be manifest-indexed"
    ts_ms = 1714521600000  # 2024-05-01, after batch 1, before nothing committed
    got = {r["partition"]: r["offset"] for r in log.offsets_for_timestamp("t", ts_ms).collect()}
    assert got == {0: -1}, f"uncommitted offsets leaked: {got}"
    # the committed batch is still found
    got0 = {r["partition"]: r["offset"] for r in log.offsets_for_timestamp("t", 0).collect()}
    assert got0 == {0: 0}


def test_scan_clears_post_swap_debris_once(spark, log):
    log.create_topic("t", 2)
    log.produce("t", _records(spark, 12), order_by=["seq"])
    pre = log.scan("t").count()
    tdir = log._topic_dir("t")
    # crashed compact AFTER its second rename, BEFORE rmtree: healthy
    # data/ plus a data.old-* leftover
    os.makedirs(os.path.join(tdir, f"data.old-{uuid.uuid4().hex}", "partition=0"))
    assert log.scan("t").count() == pre
    left = [d for d in os.listdir(tdir) if d.startswith("data.old-")]
    assert left == [], f"read path tolerated debris instead of clearing it: {left}"


def test_scan_archive_clears_cold_erase_debris(spark):
    with tempfile.TemporaryDirectory(prefix="kcore_rev_hot_") as hot, tempfile.TemporaryDirectory(
        prefix="kcore_rev_cold_"
    ) as cold:
        log = TopicLog(spark, hot, archive_root=cold)
        log.create_topic("t", 2)
        for i in range(4):
            log.produce("t", _records(spark, 6, start=6 * i), order_by=["seq"])
        log.truncate_before("t", {0: 5, 1: 5})
        n_cold = log.scan_archive("t").count()
        assert n_cold > 0
        # crashed erase AFTER its cold swap, BEFORE rmtree: a t.old-*
        # copy (and a leftover t.compact.* stage) next to a healthy
        # archive dir
        os.makedirs(os.path.join(cold, f"t.old-{uuid.uuid4().hex}", "partition=0"))
        os.makedirs(os.path.join(cold, f"t.compact.{uuid.uuid4().hex}"))
        assert log.scan_archive("t").count() == n_cold
        left = [d for d in os.listdir(cold) if d != "t"]
        assert left == [], f"cold debris survived the read path: {left}"

"""kcore_topic DataSource reads vs maintenance swaps (r12).

TopicLogReader.read used to SILENTLY SKIP a split whose segment file
vanished between planning and reading — a compaction/optimize swap
racing a batch read or a streaming replay became silent row loss.
The contract now matches the native path: a vanished segment is a
TRANSIENT failure (FileNotFoundError), and a retry/replan from the
refreshed manifest returns exactly the same rows because offsets are
immutable.

Pins:
1. a split whose file vanished while the manifest still names it
   raises, never silently skips;
2. the empty-topic no-op split still reads as empty;
3. end-to-end: a streaming checkpoint replay ACROSS a compaction
   (offsets preserved, files replaced) is exact — no loss, no dups;
4. a swap between planning and the first read replans the split's
   offset range from the refreshed manifest and reads the same rows.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from kcore_spark.sources.pyds import TopicLogDataSource, TopicLogReader
from kcore_spark.sources.topic_log import TopicLog


def _records(spark, n, start=0):
    return spark.range(start, start + n).select(
        F.encode((F.col("id") % 5).cast("string"), "utf-8").alias("key"),
        F.encode(F.concat(F.lit("v"), F.col("id").cast("string")), "utf-8").alias("value"),
        F.col("id").alias("seq"),
    )


def test_vanished_segment_raises_not_skips(spark):
    root = tempfile.mkdtemp(prefix="kcore_pyds_swap_")
    log = TopicLog(spark, root)
    log.create_topic("t", 1)
    log.produce("t", _records(spark, 10), order_by=["seq"])

    reader = TopicLogReader({"root": root, "topic": "t"})
    splits = [s for s in reader.partitions() if s.paths]
    assert splits
    # simulate the swap: one of the split's planned files disappears
    os.remove(splits[0].paths[0])
    with pytest.raises(FileNotFoundError, match="vanished during read"):
        list(reader.read(splits[0]))


def test_empty_topic_noop_split_still_reads_empty(spark):
    root = tempfile.mkdtemp(prefix="kcore_pyds_empty_")
    log = TopicLog(spark, root)
    log.create_topic("t", 1)
    reader = TopicLogReader({"root": root, "topic": "t"})
    splits = reader.partitions()
    assert len(splits) == 1 and not splits[0].paths
    assert list(reader.read(splits[0]) or ()) == []


def test_stream_checkpoint_replay_across_compaction_is_exact(spark):
    """A restarted stream replans from the refreshed manifest; since
    compaction preserves offsets, the replayed micro-batches carry
    exactly the surviving rows — none lost, none duplicated — and new
    produces after the compaction arrive incrementally."""
    spark.dataSource.register(TopicLogDataSource)
    root = tempfile.mkdtemp(prefix="kcore_pyds_ckpt_")
    log = TopicLog(spark, root)
    log.create_topic("t", 2)
    log.produce("t", _records(spark, 20), order_by=["seq"])
    ckpt = tempfile.mkdtemp(prefix="kcore_pyds_ckpt_dir_")

    seen: dict[tuple[int, int], bytes] = {}
    dup: list = []

    def collect(df, _bid):
        for r in df.select("partition", "offset", "value").collect():
            k = (r["partition"], r["offset"])
            if k in seen:
                dup.append(k)
            seen[k] = bytes(r["value"])

    def run():
        q = (
            spark.readStream.format("kcore_topic")
            .option("root", root)
            .option("topic", "t")
            .load()
            .writeStream.foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    assert len(seen) == 20 and not dup

    # compact (keys repeat mod 5, so files are rewritten with holes),
    # then produce more — the restarted stream must pick up ONLY the
    # new offsets, replanned from the post-compaction manifest
    log.compact("t")
    log.produce("t", _records(spark, 8, start=100), order_by=["seq"])
    run()
    assert not dup, f"replay duplicated offsets: {dup[:3]}"
    assert len(seen) == 28, f"lost rows across compaction: {len(seen)}"


def test_swap_between_planning_and_read_replans(spark):
    """A maintenance swap between planning and a split's first read
    makes the read replan its offset range from the refreshed
    manifest: the same rows come back instead of a failed read."""
    root = tempfile.mkdtemp(prefix="kcore_pyds_swap_")
    log = TopicLog(spark, root)
    log.create_topic("t", 1)
    log.produce("t", _records(spark, 10), order_by=["seq"])
    log.produce("t", _records(spark, 10, start=10), order_by=["seq"])

    def rows(reader, split):
        return sorted(
            (r["offset"], r["key"], r["value"]) for b in reader.read(split) for r in b.to_pylist()
        )

    reader = TopicLogReader({"root": root, "topic": "t"})
    (split,) = reader.partitions()
    before = rows(reader, split)
    assert len(split.paths) == 2 and len(before) == 20
    log.optimize("t")  # merges the two segments: both planned paths vanish
    assert not any(os.path.exists(p) for p in split.paths)
    assert rows(reader, split) == before

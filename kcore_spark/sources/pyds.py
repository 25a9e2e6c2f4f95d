"""``kcore_topic`` — a Spark 4 Python DataSource over the topic log.

Lets any Spark session read a topic by NAME through the standard
source API, without knowing the on-disk layout:

    spark.dataSource.register(TopicLogDataSource)
    df = (spark.read.format("kcore_topic")
          .option("root", "/path/to/logs").option("topic", "clicks")
          .option("start_offset", "100").load())

Why a Python DataSource at all, when the engine's own fetch path is a
plain pruned parquet scan (sources/topic_log.py — still the hot path):
the reader contract is the public integration surface. A foreign Spark
deployment (no kcore_spark on the driver classpath beyond this module)
gets topic reads planned exactly as the native fetch is — both go
through ``TopicLogControl._plan_ranges``:

- one InputPartition per topic partition's offset range, clamped to
  [log start, committed watermark), holding its segment files in
  offset order, as Kafka source splits;
- manifest-first planning: segment files outside the requested offset
  range are pruned at plan time from footer stats recorded in
  the topic manifest (falling back to a directory listing for
  pre-manifest logs or an unreadable manifest);
- executors stream pyarrow RecordBatches (Arrow page transfer), with
  row-group pruning on the offset column inside each file.

The same source also STREAMS (``spark.readStream.format("kcore_topic")``):
micro-batch offsets are the topic's own per-partition watermarks — the
Kafka-source model — and a micro-batch is planned and read exactly like
a batch read of its offset ranges, in Spark tasks. Any committed range
replays deterministically from the immutable segments, so checkpoint
recovery is exact (tested: incremental availableNow runs pick up only
new records, no replay duplicates).

The source also WRITES (``df.write.format("kcore_topic")``), but
two-phase: offset assignment is a log-wide transaction (dense
per-partition offsets + watermark advance) that a blind per-task
writer cannot do safely, so executors only STAGE rows (parquet files
in a scratch dir, no offsets), and the driver-side ``commit`` assigns
offsets to the staged files and lands them through the topic log's
one commit sequence (``TopicLogControl._append_segments``, the path
the wire-log flush takes too), then clears the staging dir. A failed
job aborts by deleting staged files; nothing becomes visible until
the commit's atomic watermark flip, so the sink is exactly-once by
construction. Input contract: ``key binary, value binary, timestamp
timestamp, part int, seq bigint`` (part = target partition, seq =
within-partition order key).

Every control file (meta, watermarks, log starts, manifest) is read and
written through ``TopicLogControl``, which needs no Spark session.

Provenance: realizes the reference's declared topic read surface
(`/root/reference/README.md:48` Consumer API roadmap row) as a Spark
source; the reference has no implementation to mirror.
"""

from __future__ import annotations

import os
import time

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from kcore_spark.sources.topic_log import _UNBOUNDED, TopicLogControl

RECORD_DDL = (
    "key binary, value binary, partition int, offset bigint, "
    "timestamp timestamp_ntz, timestampType int, headers map<string,binary>"
)

_REPLANS = 3  # per split read, while a swap leaves the manifest stale


def _record_arrow_schema():
    """RECORD_DDL as the Arrow schema Spark checks a reader's batches
    against (``timestamp_ntz`` is a zone-less ``timestamp[us]``)."""
    import pyarrow as pa

    return pa.schema(
        [
            ("key", pa.binary()),
            ("value", pa.binary()),
            ("partition", pa.int32()),
            ("offset", pa.int64()),
            ("timestamp", pa.timestamp("us")),
            ("timestampType", pa.int32()),
            ("headers", pa.map_(pa.string(), pa.binary())),
        ]
    )


class OffsetRangeSplit(InputPartition):
    """One schedulable unit: one topic partition's offset range
    [start, end) and its segment files (``paths``) in offset order."""

    def __init__(self, partition: int, paths: list[str], start: int, end: int):
        self.partition = partition
        self.paths = paths
        self.start = start
        self.end = end


def plan_offset_ranges(
    root: str, topic: str, ranges: dict[int, tuple[int, int]]
) -> list[OffsetRangeSplit]:
    """The batch and stream readers' splits: one per partition of
    ``ranges`` ({partition: (start, end)}) that ``TopicLogControl.
    _plan_ranges`` gives segments for. Spark-free: the Python runner and
    the read tasks call it."""
    plan = TopicLogControl(root)._plan_ranges(topic, ranges)
    return [OffsetRangeSplit(*entry) for entry in plan if entry[1]]


class TopicLogReader(DataSourceReader):
    def __init__(self, options: dict):
        self.root = options["root"]
        self.topic = options["topic"]
        self.start = int(options.get("start_offset", 0))
        self.end = int(options.get("end_offset", _UNBOUNDED))

    # ---------------------------------------------- driver-side planning

    def partitions(self):
        n_parts = TopicLogControl(self.root).topic_meta(self.topic).num_partitions
        ranges = dict.fromkeys(range(n_parts), (self.start, self.end))
        splits = plan_offset_ranges(self.root, self.topic, ranges)
        # nothing to read: Spark requires >= 1 partition; emit a no-op split
        return splits or [OffsetRangeSplit(0, [], self.start, self.end)]

    # ---------------------------------------------- executor-side read

    def read(self, split: OffsetRangeSplit):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        schema = _record_arrow_schema()
        paths, replans, yielded = list(split.paths), 0, False
        while paths:
            try:
                f = pq.ParquetFile(paths[0])
            except FileNotFoundError:
                # A maintenance swap (compact/optimize/erase) replaced this
                # segment after planning. Offsets are immutable: until a row
                # is yielded, replan the range from the refreshed manifest;
                # after that, or if it stays stale, FAIL the read, never skip.
                if yielded or replans == _REPLANS:
                    raise FileNotFoundError(
                        f"segment {paths[0]} vanished during read (live compaction swap) — "
                        f"retry the query/trigger to replan from the refreshed manifest"
                    ) from None
                replans += 1
                time.sleep(0.2 * replans)
                ranges = {split.partition: (split.start, split.end)}
                fresh = plan_offset_ranges(self.root, self.topic, ranges)
                paths = fresh[0].paths if fresh else []
                continue
            paths.pop(0)
            with f:
                oi = f.metadata.schema.names.index("offset")
                for rg in range(f.metadata.num_row_groups):
                    # row-group pruning on the offset stats inside the segment
                    st = f.metadata.row_group(rg).column(oi).statistics
                    if st is not None and st.has_min_max and not (
                        st.max >= split.start and st.min < split.end
                    ):
                        continue
                    off = pc.field("offset")
                    t = f.read_row_group(rg).filter((off >= split.start) & (off < split.end))
                    if t.num_rows == 0:
                        continue
                    # partition comes from the directory layout, not the file
                    t = t.append_column(
                        "partition", pa.repeat(pa.scalar(split.partition, pa.int32()), t.num_rows)
                    )
                    # segments store UTC-adjusted µs timestamps; the cast to
                    # the declared NTZ column keeps their UTC wall clock
                    yielded = True
                    yield from t.select(schema.names).cast(schema).to_batches()


# ---------------------------------------------------- streaming reader


class TopicLogStreamReader(DataSourceStreamReader):
    """Micro-batch source over the topic log: offsets are the topic's
    own per-partition watermarks (``{"0": next_offset, ...}``) — the
    exact Kafka-source model (startingOffsets → latest per trigger). A
    micro-batch's offset ranges are planned by ``plan_offset_ranges``
    and read in Spark tasks by ``TopicLogReader.read``, replaying any
    committed range exactly from the immutable segments.

    Operational note (ADVICE r13 #4): a maintenance swap
    (compact/optimize/erase_keys) between planning and a task's first
    row makes the task replan its range from the refreshed manifest. A
    swap after that fails the read transiently (``TopicLogReader.read``
    raises FileNotFoundError rather than silently dropping the swapped
    segment's rows) and the query stops; the checkpoint is intact —
    restarting the query replans and replays the exact same offsets."""

    def __init__(self, options: dict):
        self.root = options["root"]
        self.topic = options["topic"]
        # maxOffsetsPerTrigger analog (the Kafka source's backpressure
        # knob): cap the TOTAL offsets a micro-batch may advance,
        # spread across partitions proportionally to their backlog —
        # a restarted stream over a deep log then catches up in
        # bounded, evenly-paced batches instead of one giant batch
        # that overwhelms the sink.
        # Caveat (pinned by test_backpressure_bounded_dlq_split_exactly_once):
        # under Trigger.AvailableNow the engine latches the FIRST
        # latestOffset as the run's target, and a Python source has no
        # prepareForTriggerAvailableNow hook to latch the log end as the
        # JVM Kafka source does, so a capped availableNow run stops after
        # ONE bounded batch (the checkpoint resumes; nothing is lost). Use
        # the cap with paced triggers, not drain-everything runs.
        cap = options.get("max_offsets_per_trigger")
        self.max_offsets_per_trigger = int(cap) if cap is not None else None
        # end of the last planned micro-batch, which the cap counts from;
        # on a restart, setLatestSeenOffset plans it as an empty range
        self._end: dict | None = None

    def _watermarks(self) -> dict[str, int]:
        # string keys: stream offsets round-trip through JSON
        wm = TopicLogControl(self.root)._watermarks(self.topic)
        return {str(p): int(o) for p, o in wm.items()}

    def initialOffset(self) -> dict:
        return {p: 0 for p in self._watermarks()}

    def latestOffset(self) -> dict:
        end = self._watermarks()
        cap = self.max_offsets_per_trigger
        if cap is None:
            return end
        # partitions created after the stream started begin at 0
        start = {p: int((self._end or {}).get(p, 0)) for p in end}
        backlog = {p: end[p] - start[p] for p in end if end[p] > start[p]}
        total = sum(backlog.values())
        if total <= cap:
            return end
        # proportional allocation, ≥1 offset per lagging partition so
        # no partition starves; remainder goes to the deepest backlogs
        # (deterministic order). No allocation exceeds its backlog.
        alloc = {p: max(1, (b * cap) // total) for p, b in backlog.items()}
        spare = cap - sum(alloc.values())
        for p, b in sorted(backlog.items(), key=lambda kv: (-kv[1], kv[0])):
            if spare <= 0:
                break
            take = min(spare, b - alloc[p])
            alloc[p] += take
            spare -= take
        return {p: start[p] + alloc.get(p, 0) for p in end}

    def partitions(self, start: dict, end: dict) -> list[OffsetRangeSplit]:
        self._end = end
        ranges = {int(p): (int(start.get(p, 0)), int(hi)) for p, hi in end.items()}
        return plan_offset_ranges(self.root, self.topic, ranges)

    read = TopicLogReader.read

    def commit(self, end: dict) -> None:
        # offsets live in the stream checkpoint; the log is immutable
        self._end = end


# ---------------------------------------------------- batch writer

WRITE_DDL = "key binary, value binary, timestamp timestamp, part int, seq bigint"


class StagedFiles(WriterCommitMessage):
    """One entry per (this task, target partition): (partition,
    path, n_rows, min_seq)."""

    def __init__(self, entries: list[tuple[int, str, int, int]]):
        self.entries = entries


class TopicLogWriter(DataSourceWriter):
    """Two-phase topic write (``df.write.format("kcore_topic")``).

    Executor half (``write``): split this task's rows by target
    partition, sort each slice by ``seq``, stage one parquet file per
    (task, partition) in the staging dir — NO offsets yet; staged
    files are invisible to every reader.

    Driver half (``commit``): the single sequencer. It makes only its
    own decisions — per partition, staged files are ordered by
    (min_seq, path) and offsets assigned densely from the base
    watermark, one segment per staged file — and hands them to
    ``TopicLogControl._append_segments``, the topic log's one commit
    sequence: commit locks, reclaim, segments cast to SEGMENT_SCHEMA,
    manifest first, and the watermark flip that publishes everything at
    once. Runs in the data-source Python runner WITHOUT a Spark
    session, so sequencing is pure pyarrow, and each staged file is
    read only as its segment lands, so the driver holds one at a time.

    Ordering contract: exact ``seq`` order within each staged file;
    across files of one partition, file order by min_seq. For exact
    global per-partition seq order, pre-shuffle the input with
    ``df.repartition("part")`` so each partition stages exactly one
    file. Nothing becomes visible unless commit completes — abort
    deletes the staging dir — so the sink is exactly-once.
    """

    def __init__(self, options: dict, input_schema):
        self.root = options["root"]
        self.topic = options["topic"]
        self.cols = [f.name for f in input_schema.fields]
        required = {"key", "value", "timestamp", "part", "seq"}
        missing = required - set(self.cols)
        if missing:
            raise ValueError(
                f"kcore_topic writer input must carry {sorted(required)}; "
                f"missing {sorted(missing)}"
            )
        self.tdir = os.path.join(self.root, self.topic)
        # Per-JOB staging subdir: the writer object (and this id) is
        # pickled to every task of this job, so all its stages land in
        # one dir — but a second concurrent write job (or a streaming
        # sink beside a batch write) stages elsewhere, and commit/abort
        # below remove only THIS job's dir, never another job's
        # in-flight files.
        import uuid as _uuid

        self.job_id = _uuid.uuid4().hex
        self.staging = os.path.join(self.tdir, "_staging", self.job_id)

    # ------------------------------------------------ executor side

    def write(self, iterator) -> StagedFiles:
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        idx = {c: i for i, c in enumerate(self.cols)}
        by_part: dict[int, list[tuple]] = {}
        for r in iterator:
            t = tuple(r)
            by_part.setdefault(int(t[idx["part"]]), []).append(t)
        if not by_part:
            return StagedFiles([])
        tc = TaskContext.get()
        task = tc.taskAttemptId() if tc is not None else 0
        os.makedirs(self.staging, exist_ok=True)
        entries = []
        for p, rows in by_part.items():
            rows.sort(key=lambda t: t[idx["seq"]])
            table = pa.table(
                {
                    "key": pa.array([t[idx["key"]] for t in rows], pa.binary()),
                    "value": pa.array([t[idx["value"]] for t in rows], pa.binary()),
                    "timestamp": pa.array(
                        [t[idx["timestamp"]] for t in rows], pa.timestamp("us")
                    ),
                    "seq": pa.array([t[idx["seq"]] for t in rows], pa.int64()),
                }
            )
            path = os.path.join(
                self.staging, f"stage-{task}-p{p}-{_uuid.uuid4().hex}.parquet"
            )
            pq.write_table(table, path)
            entries.append((p, path, len(rows), int(rows[0][idx["seq"]])))
        return StagedFiles(entries)

    # ------------------------------------------------ driver side

    def commit(self, messages) -> None:
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        entries = [e for m in messages if m is not None for e in m.entries]
        if not entries:
            return
        by_part: dict[int, list[tuple]] = {}
        for e in entries:
            by_part.setdefault(e[0], []).append(e)

        def build(wm):
            def segments():
                for p, ents in sorted(by_part.items()):
                    base = wm.get(p, 0)
                    for _, path, n, _min_seq in sorted(ents, key=lambda e: (e[3], e[1])):
                        t = pq.read_table(path)
                        yield p, pa.table(
                            {
                                "key": t["key"],
                                "value": t["value"],
                                "offset": pa.array(range(base, base + n), pa.int64()),
                                "timestamp": t["timestamp"],
                                "timestampType": pa.array([0] * n, pa.int32()),
                                "headers": pa.nulls(n, pa.map_(pa.string(), pa.binary())),
                            }
                        )
                        base += n

            new_wm = {
                p: wm.get(p, 0) + sum(n for _, _, n, _ in ents)
                for p, ents in by_part.items()
            }
            return new_wm, segments()

        # locks exactly the partitions this job staged (known at commit
        # time), so jobs on disjoint partitions of a topic commit in
        # parallel — Kafka's per-partition write concurrency
        TopicLogControl(self.root)._append_segments(self.topic, by_part, build)
        shutil.rmtree(self.staging, ignore_errors=True)

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(self.staging, ignore_errors=True)


class TopicLogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kcore_topic"

    def schema(self) -> str:
        return RECORD_DDL

    def reader(self, schema) -> TopicLogReader:
        return TopicLogReader(dict(self.options))

    def streamReader(self, schema) -> TopicLogStreamReader:
        return TopicLogStreamReader(dict(self.options))

    def writer(self, schema, overwrite: bool) -> TopicLogWriter:
        if overwrite:
            raise ValueError(
                "kcore_topic is an append-only log; overwrite is not supported "
                "(use TopicLog retention/truncation to remove data)"
            )
        return TopicLogWriter(dict(self.options), schema)

"""Topic log: the Kafka data model realized on partitioned parquet.

The reference declares (but does not implement) the Kafka event model —
topics, partitions, offsets, produce/fetch, consumer groups
(`/root/reference/README.md:27,47-51`; the protocol plumbing that
exists is `pkg/kafka/kafka_api.go:80-125`). This module implements
those semantics Spark-first (SURVEY §1.2, §2.2):

- A topic is a directory `root/<topic>/partition=<p>/part-*.parquet`
  with the canonical Kafka record schema (key/value binary, offset,
  timestamp, headers). Directory partitioning means Fetch prunes to
  one partition dir, and offset predicates prune row groups via
  parquet min/max stats — at 100 TB a fetch touches only the files
  covering its offset range.
- Offsets are dense per-partition sequences assigned at produce time:
  high-watermark + row_number over the incoming batch (SURVEY §4.2's
  one genuinely custom operator). Watermarks are tracked in a tiny
  `_watermarks.json` control file (driver-side control plane, like a
  broker's log-end-offset map — NOT a Spark job), so produce never
  rescans the log to find the tail.
- Consumer-group offsets are an idempotent key-value state table
  (`__consumer_offsets`-analog), last-writer-wins by commit index.
- The control plane needs no Spark session (TopicLogControl): every
  pyarrow writer — the wire-log flush and the kcore_topic DataSource
  writer — commits through its one locked sequence, and TopicLog
  extends it with the session-backed scan, fetch, produce() and
  maintenance.

Concurrency contract (r7 — Kafka's own unit of write concurrency):
one producer per PARTITION at a time, enforced by per-partition
cross-process flocks (partition_commit_locks); producers declaring
disjoint partition sets of one topic run fully in parallel, including
their Spark writes. The shared control files (_watermarks.json,
_manifest.json) are updated by short flip-locked read-merge-replace
sections, so concurrent disjoint flips compose instead of clobbering.
Produces stay atomic (files land, then the watermark flips — a
failed produce before the flip leaves orphaned files that the same
partition's next produce reclaims). The reference's model is
one-in-flight-per-connection (`kafka_connectian_handler.go:63-108`);
per-partition serialization is the broker-side contract it relies on.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid
from collections.abc import Callable, Iterable
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("partition", T.IntegerType(), False),
        T.StructField("offset", T.LongType(), False),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("timestampType", T.IntegerType(), False),
        T.StructField("headers", T.MapType(T.StringType(), T.BinaryType()), True),
    ]
)

# What a segment file holds: RECORD_SCHEMA without `partition`, which
# the directory carries. Spark writes exactly this from RECORD_SCHEMA
# (timestamps as UTC-adjusted micros), so segments written by pyarrow
# (_write_segment) and by Spark (produce) read back alike.
SEGMENT_SCHEMA = pa.schema(
    [
        pa.field("key", pa.binary()),
        pa.field("value", pa.binary()),
        pa.field("offset", pa.int64()),
        pa.field("timestamp", pa.timestamp("us", tz="UTC")),
        pa.field("timestampType", pa.int32(), nullable=False),
        pa.field("headers", pa.map_(pa.string(), pa.binary())),
    ]
)

_UNBOUNDED = 2**62  # past every offset: the open end of a range


def _write_segment(part_dir: str, table: pa.Table) -> None:
    """Land ``table`` as one segment of a partition, cast to
    SEGMENT_SCHEMA (a naive timestamp keeps its wall clock as UTC):
    write it under a dot-prefixed .tmp name, then os.replace it into
    place. A writer that dies mid-write never leaves a truncated
    .parquet in data/ — the .tmp is invisible to readers and reclaimed
    as debris by reclaim_uncommitted_files."""
    os.makedirs(part_dir, exist_ok=True)
    name = f"part-pr-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(part_dir, f".{name}.tmp")
    pq.write_table(table.select(SEGMENT_SCHEMA.names).cast(SEGMENT_SCHEMA), tmp)
    os.replace(tmp, os.path.join(part_dir, name))


def _epoch_ms(ts) -> int:
    """Parquet footer timestamp statistic → epoch milliseconds.
    pyarrow surfaces these as datetimes (or raw ints for INT64 ts)."""
    if isinstance(ts, int):
        return ts
    from datetime import timezone

    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=timezone.utc)
    return int(ts.timestamp() * 1000)


def _below(bounds: dict[int, int], default: int) -> Column:
    """``offset < bounds[partition]`` (``default`` for partitions absent
    from ``bounds``): a map-literal lookup keeps a per-partition bound a
    single scan-side predicate, no join."""
    pairs = [F.lit(x) for kv in bounds.items() for x in kv]
    return F.col("offset") < F.coalesce(
        F.create_map(*pairs)[F.col("partition")], F.lit(default)
    )


import contextlib


@contextlib.contextmanager
def partition_commit_locks(topic_dir: str, partitions):
    """Cross-PROCESS commit locks for a SET of partitions of one topic
    (advisory flocks on per-partition lock files). Kafka's unit of
    write concurrency is the partition, and so is ours (r6 VERDICT:
    a single per-topic flock bounded a hot topic's produce throughput
    by one lock): a producer takes the locks for exactly the
    partitions it targets, so produces to disjoint partition sets of
    the same topic proceed fully in parallel — including the expensive
    Spark write — while two writers on a shared partition still
    serialize their read-watermark → assign-offsets → flip sequences.
    Without that serialization both writers assign duplicate offsets
    from the same base watermark.

    Locks are acquired in ascending partition order (writers with
    overlapping sets can never deadlock) and released in reverse.
    flock serializes even two fds within one process, so this is safe
    (and redundant) under the instance thread lock. Not reentrant —
    callers must not nest acquisitions overlapping the same
    partitions."""
    import fcntl

    lock_dir = os.path.join(topic_dir, "_locks")
    os.makedirs(lock_dir, exist_ok=True)
    fds: list[int] = []
    try:
        for p in sorted(set(int(p) for p in partitions)):
            fd = os.open(
                os.path.join(lock_dir, f"p{p}.lock"), os.O_CREAT | os.O_RDWR, 0o644
            )
            fds.append(fd)
            fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        for fd in reversed(fds):
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)


@contextlib.contextmanager
def maintenance_lock(topic_dir: str):
    """Cross-process lock serializing swap-protocol MAINTENANCE on one
    topic: compact()/optimize()/erase_keys() hold it across their whole
    body (their _swap_dir windows legitimately leave a <live>.old-*
    copy and a <live>.compact.* stage on disk), and the read path's
    crash healing (scan, _read_segments, scan_archive) takes it before
    running _recover_compaction. Without it a reader that merely
    OBSERVES a healthy swap's window would "heal" a live writer —
    rmtree its stage mid-write or restore an old copy it is about to
    delete (ADVICE r11). Readers double-check the crash evidence AFTER
    acquiring the lock, so blocking on a live maintenance pass degrades
    to a no-op once it finishes.

    Lock order: thread mutate lock → partition commit locks → THIS →
    flip lock. Not reentrant (flock blocks a second fd even in-process);
    _recover_compaction itself never acquires it — callers do.

    When the hot topic dir EXISTS the lock file lives inside it
    (_maint.lock, unchanged). When it does NOT — a cold-only topic
    being healed by scan_archive — the lock is a SIBLING file in the
    topics root instead of an os.makedirs side effect: creating the
    hot dir just to lock it left a spurious hot-tier topic dir
    (ADVICE r13 #1). The sibling name is invisible to
    list_topics (no _meta.json). If the dir's existence flips between
    choosing the lock file and acquiring it, re-choose — two processes
    must never hold "the" topic's lock via different files."""
    import fcntl

    while True:
        inner = os.path.isdir(topic_dir)
        if inner:
            path = os.path.join(topic_dir, "_maint.lock")
        else:
            parent = os.path.dirname(os.path.abspath(topic_dir)) or "."
            os.makedirs(parent, exist_ok=True)
            path = os.path.join(
                parent, "." + os.path.basename(topic_dir) + ".maint.lock"
            )
        try:
            fd = os.open(path, os.O_CREAT | os.O_RDWR, 0o644)
        except FileNotFoundError:
            continue  # raced a topic-dir delete; re-choose the file
        fcntl.flock(fd, fcntl.LOCK_EX)
        if os.path.isdir(topic_dir) != inner:
            # existence changed while we blocked: the other lock file
            # is authoritative now — release and re-choose
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)
            continue
        try:
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)
        return


@contextlib.contextmanager
def flip_lock(topic_dir: str):
    """Short cross-process lock guarding read-merge-replace updates of
    the topic's SHARED control files (_watermarks.json,
    _manifest.json). Per-partition data independence does not extend
    to these single files: two concurrent commits on disjoint
    partitions each read-modify-write the same JSON, and the loser's
    os.replace would drop the winner's update. Held only for the
    control-file RMW itself (microseconds), never across a Spark job,
    so it is not a throughput bound the way the old per-topic commit
    lock was. Not reentrant; never acquire partition locks while
    holding it (lock order: partitions, then flip)."""
    import fcntl

    os.makedirs(topic_dir, exist_ok=True)
    fd = os.open(os.path.join(topic_dir, "_flip.lock"), os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _swap_dir(live: str, stage: str) -> None:
    """The one rewrite swap of compact, optimize and erase_keys, on a
    topic's data/ or its archive dir: ``stage`` (a ``<live>.compact.*``
    sibling holding the complete rewritten log) replaces ``live``. The
    live dir is renamed aside to ``<live>.old-*`` before the stage takes
    its place, so at every instant one of the two holds a complete log
    across every partition, and the old copy is deleted last. That
    ``.old-*`` sibling marks the whole window (_swap_marked); a crash
    inside it is finished or undone by _heal_swap."""
    old = f"{live}.old-{uuid.uuid4().hex}"
    os.rename(live, old)
    os.rename(stage, live)
    shutil.rmtree(old)


def _swap_marked(live: str) -> bool:
    """Swap evidence for the log dir ``live``: an ``<live>.old-*``
    sibling exists, i.e. a _swap_dir is in flight or crashed. One
    listdir. A healthy live swap shows it too — evidence, not proof — so
    callers re-check under the maintenance lock before healing."""
    parent, name = os.path.split(live)
    try:
        return any(n.startswith(name + ".old-") for n in os.listdir(parent))
    except FileNotFoundError:
        return False


def _heal_swap(live: str) -> None:
    """Heal a crashed _swap_dir on ``live``. If ``live`` is missing, the
    crash fell between the two renames and the old copy is the only
    complete log: restore it (the stage only ever holds a rewrite of it,
    so nothing is lost; the op is re-run). Otherwise the crash fell
    after the swap: delete every old copy. Either way every
    ``<live>.compact.*`` stage is discarded. Destructive on anything
    that looks like swap debris, so the caller holds the topic's
    maintenance lock. A failed restore (a healer of another build won
    it) leaves the old copies alone."""
    parent, name = os.path.split(live)
    try:
        names = sorted(os.listdir(parent))
    except FileNotFoundError:
        return
    olds = [os.path.join(parent, n) for n in names if n.startswith(name + ".old-")]
    if olds and not os.path.isdir(live):
        try:
            os.rename(olds[0], live)
            olds = olds[1:]
        except OSError:
            pass
    if os.path.isdir(live):
        for d in olds:
            shutil.rmtree(d, ignore_errors=True)
    for n in names:
        if n.startswith(name + ".compact."):
            shutil.rmtree(os.path.join(parent, n), ignore_errors=True)


def reclaim_uncommitted_files(tdir: str, partitions: set[int] | None = None) -> int:
    """Spark-free core of TopicLogControl._reclaim_uncommitted (see
    that method's docstring for the full contract): delete segment
    files whose offsets lie entirely at/after the committed watermark —
    debris from a write that crashed between the parquet append and the
    watermark flip. Pure pyarrow, so every commit runs it under the
    partition commit locks before it assigns offsets from the watermark,
    the kcore_topic writer's commit included (it runs in the data-source
    Python runner, WITHOUT a Spark session). Without it, a crashed
    commit retried by the user re-lands the same offset range next to
    the crashed attempt's segments and the retry's flip publishes BOTH
    (fuzz-found: 6 duplicate (partition, offset) pairs on a 6-row
    batch)."""
    data_dir = os.path.join(tdir, "data")
    if not os.path.isdir(data_dir):
        return 0
    try:
        with open(os.path.join(tdir, "_watermarks.json")) as f:
            raw = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return 0
    wm = {int(k): int(v) for k, v in raw.items() if not str(k).startswith("__")}
    try:
        with open(os.path.join(tdir, "_manifest.json")) as f:
            man = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        man = {}
    # Manifest membership is NOT proof of committed: every commit
    # indexes its segments BEFORE its watermark flip (_commit_segments),
    # so a commit that crashed between the two left indexed debris
    # (fetch() tolerates that via its watermark clamp). So the
    # manifest's min offset is used as cheap EVIDENCE (no footer read)
    # on the same lo >= hi test as unindexed files — the old
    # indexed⇒skip shortcut let a crashed commit's segments survive
    # reclaim and duplicate offsets on retry (fuzz-found r11).
    man_min = {
        e["file"]: int(e["min"]) for entries in man.values() for e in entries
    }
    removed = 0
    removed_rels: set[str] = set()
    for pdir in os.listdir(data_dir):
        if not pdir.startswith("partition="):
            continue
        pnum = int(pdir.split("=", 1)[1])
        if partitions is not None and pnum not in partitions:
            continue
        hi = wm.get(pnum)
        if hi is None:
            continue
        for fn in os.listdir(os.path.join(data_dir, pdir)):
            rel = f"{pdir}/{fn}"
            path = os.path.join(data_dir, rel)
            if fn.startswith(".") and fn.endswith(".tmp"):
                # a staged segment a writer was building when it died:
                # invisible to readers (dot-prefixed) and never renamed
                # into place, so under the held partition lock it is
                # unowned debris — no live writer can be mid-write here
                os.remove(path)
                continue
            if not fn.endswith(".parquet"):
                continue
            lo = man_min.get(rel)
            if lo is None:
                try:
                    md = pq.ParquetFile(path).metadata
                    cols = {
                        md.schema.column(i).name: i
                        for i in range(md.num_columns)
                    }
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(cols["offset"]).statistics
                        if st is None or not st.has_min_max:
                            lo = None
                            break
                        lo = st.min if lo is None else min(lo, st.min)
                except (OSError, pa.ArrowInvalid):
                    # unindexed AND unreadable: provably crash debris
                    # under the held partition lock — every committed
                    # segment was either manifest-indexed (skipped
                    # above, no footer read) or written whole before
                    # its watermark flip, and no live writer can be
                    # mid-write on a partition we hold the commit lock
                    # for. Without this, one truncated segment from a
                    # crashed pq.write_table poisoned every later
                    # commit AND scan on the partition with
                    # ArrowInvalid (ADVICE r11).
                    os.remove(path)
                    removed += 1
                    continue
            if lo is not None and lo >= hi:
                os.remove(path)
                removed += 1
                if rel in man_min:
                    removed_rels.add(rel)
    if removed_rels:
        # scrub the stale entries so fetch planning never hands out the
        # deleted paths; the manifest is shared across partitions, so
        # the read-modify-replace runs under the flip lock
        with flip_lock(tdir):
            try:
                with open(os.path.join(tdir, "_manifest.json")) as f:
                    man = json.load(f)
            except (FileNotFoundError, json.JSONDecodeError):
                man = {}
            man = {
                pdir: [e for e in entries if e["file"] not in removed_rels]
                for pdir, entries in man.items()
            }
            tmp = os.path.join(tdir, f"_manifest.json.tmp.{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                json.dump(man, f)
            os.replace(tmp, os.path.join(tdir, "_manifest.json"))
    return removed


@dataclass
class TopicMeta:
    name: str
    num_partitions: int


def _declared_partitions(meta: TopicMeta, partitions: Iterable[int] | None) -> set[int]:
    """A commit's partition set (None: all of them), checked against the
    topic BEFORE its commit locks make a lock file for each."""
    n = meta.num_partitions
    pset = set(range(n)) if partitions is None else {int(p) for p in partitions}
    bad = sorted(p for p in pset if not 0 <= p < n)
    if bad:
        raise ValueError(
            f"topic {meta.name!r} declares {n} partitions; cannot target partition(s) {bad}"
        )
    return pset


def _locked(fn):
    """Run the method under the instance's thread mutate lock."""
    import functools

    @functools.wraps(fn)
    def inner(self, *a, **k):
        with self._mutate_lock:
            return fn(self, *a, **k)

    return inner


class TopicLogControl:
    """The topic log's Spark-free control plane: topic DDL and meta,
    the watermark read and flip, the manifest, and the one locked
    commit sequence every pyarrow writer lands its segments through
    (append_raw, and the kcore_topic DataSource writer's commit). It
    needs no Spark session — the DataSource's driver-side commit and
    planning run in the data-source Python runner, which has none — so
    this module stays the only one that knows the control-file layout.
    TopicLog extends it with the session-backed parts: scan, fetch,
    produce() and maintenance."""

    def __init__(self, root: str):
        self.root = root
        # Serializes MUTATING operations (produce / truncate / compact /
        # retention / topic DDL) against each other — required once the
        # background cleaner (protocol/server.py::_cleaner_loop) runs
        # on an executor thread next to an embedding process that keeps
        # producing. Readers are lock-free: they resolve files through
        # the manifest, and a concurrent reclaim can at worst surface a
        # FileNotFoundError for a segment already logically truncated —
        # the same visibility a cloud object store gives. RLock because
        # cleanup entry points nest (run_cleanup → apply_retention →
        # truncate_before).
        import threading

        self._mutate_lock = threading.RLock()

    # ------------------------------------------------------ control plane

    def _topic_dir(self, topic: str) -> str:
        return os.path.join(self.root, topic)

    def _meta_path(self, topic: str) -> str:
        return os.path.join(self._topic_dir(topic), "_meta.json")

    def _wm_path(self, topic: str) -> str:
        return os.path.join(self._topic_dir(topic), "_watermarks.json")

    @_locked
    def create_topic(
        self, name: str, num_partitions: int, configs: dict[str, str] | None = None
    ) -> TopicMeta:
        """CreateTopics (API key 19) analog: catalog DDL, no Spark job.
        configs: Kafka-style topic configs (retention.ms /
        retention.bytes drive apply_retention_from_config). Makes the
        empty data/ dir, so a topic with no segment reads as empty."""
        d = self._topic_dir(name)
        if os.path.exists(self._meta_path(name)):
            raise ValueError(f"topic exists: {name}")
        os.makedirs(os.path.join(d, "data"), exist_ok=True)
        with open(self._meta_path(name), "w") as f:
            json.dump(
                {"name": name, "num_partitions": num_partitions, "configs": configs or {}},
                f,
            )
        with open(self._wm_path(name), "w") as f:
            json.dump({str(p): 0 for p in range(num_partitions)}, f)
        return TopicMeta(name, num_partitions)

    def topic_meta(self, name: str) -> TopicMeta:
        with open(self._meta_path(name)) as f:
            m = json.load(f)
        return TopicMeta(m["name"], m["num_partitions"])

    def _manifest_path(self, topic: str) -> str:
        return os.path.join(self._topic_dir(topic), "_manifest.json")

    def _load_manifest(self, topic: str) -> dict[str, list[dict]]:
        p = self._manifest_path(topic)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def _plan_manifest(self, topic: str) -> dict[str, list[dict]]:
        """The manifest as read planning sees it: an unreadable one (a torn
        write from a foreign tool) counts as absent, so reads plan from the
        directory listing and prune nothing by timestamp; this reader may
        lack write access to heal it."""
        try:
            return self._load_manifest(topic)
        except (ValueError, OSError):
            return {}

    def _save_manifest(self, topic: str, man: dict[str, list[dict]]) -> None:
        tmp = self._manifest_path(topic) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(man, f)
        os.replace(tmp, self._manifest_path(topic))

    def _refresh_manifest(
        self, topic: str, partitions: set[int] | None = None
    ) -> dict[str, list[dict]]:
        """Incrementally index new segment files: for every parquet file
        not yet in the manifest, read its footer's offset min/max (one
        driver-side footer read per NEW file — never a rescan of known
        segments, so append cost is O(files just written) no matter how
        many segments the log has accumulated).

        ``partitions`` scopes the scan to the partitions the caller
        holds commit locks for: an unlocked partition's unindexed files
        may be another producer's in-flight write, and indexing them
        early would shield its crash debris from _reclaim_uncommitted
        (manifest membership is the "committed" signal there). The
        whole read-merge-save runs under the flip lock because the
        manifest is a shared single file (same RMW hazard as the
        watermark flip)."""
        with flip_lock(self._topic_dir(topic)):
            return self._refresh_manifest_unlocked(topic, partitions)

    def _refresh_manifest_unlocked(self, topic, partitions) -> dict[str, list[dict]]:
        man = self._load_manifest(topic)
        data_dir = self._topic_dir(topic) + "/data"
        if not os.path.isdir(data_dir):
            return man
        # UNSCOPED refresh (read path, no commit locks held): stay
        # conservative and skip files whose offsets start at/above the
        # committed watermark — they are either another producer's
        # in-flight write or crash debris, and indexing them would
        # shield them from _reclaim_uncommitted (manifest membership is
        # its "committed" signal), letting the partition's next produce
        # reassign the same offsets below the watermark (ADVICE r8).
        # Scoped refreshes skip this: the producer indexes its own
        # above-watermark files moments before flipping the watermark,
        # under the partitions' commit locks.
        wm = self._watermarks(topic) if partitions is None else None
        known = {e["file"] for entries in man.values() for e in entries}
        seen_files: set[str] = set()
        for pdir in os.listdir(data_dir):
            if not pdir.startswith("partition="):
                continue
            if partitions is not None and int(pdir.split("=", 1)[1]) not in partitions:
                continue
            try:
                fns = os.listdir(os.path.join(data_dir, pdir))
            except FileNotFoundError:
                continue  # dir renamed away by a swap mid-iteration
            for fn in fns:
                if not fn.endswith(".parquet"):
                    continue
                rel = f"{pdir}/{fn}"
                seen_files.add(rel)
                if rel in known:
                    continue
                md = pq.ParquetFile(os.path.join(data_dir, rel)).metadata
                cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
                oi = cols["offset"]
                ti = cols.get("timestamp")
                lo, hi = None, None
                ts_lo, ts_hi = None, None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(oi).statistics
                    if st is None or not st.has_min_max:
                        lo, hi = 0, _UNBOUNDED  # no stats: must always scan
                        break
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                    if ti is not None:
                        ts = md.row_group(rg).column(ti).statistics
                        if ts is not None and ts.has_min_max:
                            a = _epoch_ms(ts.min)
                            b = _epoch_ms(ts.max)
                            ts_lo = a if ts_lo is None else min(ts_lo, a)
                            ts_hi = b if ts_hi is None else max(ts_hi, b)
                if lo is None:
                    continue  # zero-row file
                if wm is not None and lo >= wm.get(int(pdir.split("=", 1)[1]), 0):
                    continue  # not committed yet (see unscoped note above)
                entry = {
                    "file": rel,
                    "min": lo,
                    "max": hi,
                    "bytes": os.path.getsize(os.path.join(data_dir, rel)),
                }
                if ts_lo is not None:
                    # timestamp range (epoch ms) indexes ListOffsets-by-
                    # timestamp: segments with ts_max < target can't hold
                    # the answer and are pruned without being opened
                    entry["ts_min"], entry["ts_max"] = ts_lo, ts_hi
                man.setdefault(pdir, []).append(entry)
        # drop entries whose files disappeared (rewrite swap) — only
        # within the scoped partition set, or a scoped refresh would
        # purge every other partition's entries (their files were
        # never scanned into seen_files). A partition dir that vanished
        # entirely still drops: it is in scope but contributed nothing
        # to seen_files — UNLESS a swap is marked (_swap_marked, live or
        # crashed): the listings above may have raced it, and the
        # "vanished" partition is live in the other copy. Persisting
        # the drop would hand later fetches an empty file list for a
        # partition that has committed data and no missing-file signal
        # to trigger healing (r12 maintenance-stress find; ADVICE r13
        # #3). Leave the stale entries; their missing files keep
        # routing readers through the heal-and-replan branch.
        swapping = _swap_marked(data_dir)
        for pdir in list(man):
            if partitions is not None and int(pdir.split("=", 1)[1]) not in partitions:
                continue
            if swapping and not os.path.isdir(os.path.join(data_dir, pdir)):
                continue  # mid-swap: don't persist a lie
            man[pdir] = [e for e in man[pdir] if e["file"] in seen_files]
            if not man[pdir]:
                del man[pdir]
        self._save_manifest(topic, man)
        return man

    def _plan_ranges(
        self, topic: str, ranges: dict[int, tuple[int, int]]
    ) -> list[tuple[int, list[str], int, int]]:
        """The one planner of every offset-bounded read: ``(partition,
        paths, start, end)`` for each partition of ``ranges`` ({partition:
        (start, end)}) whose range is non-empty once clamped to [log
        start, committed watermark); ``paths`` are the manifest's segments
        overlapping it in offset order (a directory listing where the
        manifest has none) and may be empty."""
        # watermarks BEFORE the manifest: a commit indexes its segments
        # before it flips, so this manifest indexes every offset below wm
        try:
            wm = self._watermarks(topic)
        except FileNotFoundError:
            wm = {}  # no control file (foreign writer): unbounded
        log_starts = self._log_starts(topic)
        man = self._plan_manifest(topic)
        data_dir = os.path.join(self._topic_dir(topic), "data")
        plan = []
        for p, (start, end) in sorted(ranges.items()):
            start = max(start, log_starts.get(p, 0))
            end = min(end, wm.get(p, _UNBOUNDED))
            if end <= start:
                continue
            entries = man.get(f"partition={p}")
            if entries is not None:
                paths = [
                    os.path.join(data_dir, e["file"])
                    for e in sorted(entries, key=lambda e: (e["min"], e["file"]))
                    if e["max"] >= start and e["min"] < end
                ]
            else:  # pre-manifest log: fall back to a directory listing
                paths = sorted(glob.glob(os.path.join(data_dir, f"partition={p}", "*.parquet")))
            plan.append((p, paths, start, end))
        return plan

    def _watermarks(self, topic: str) -> dict[int, int]:
        with open(self._wm_path(topic)) as f:
            return {
                int(k): v for k, v in json.load(f).items() if not k.startswith("__")
            }

    def _log_start_path(self, topic: str) -> str:
        return os.path.join(self._topic_dir(topic), "_log_start.json")

    def _log_starts(self, topic: str) -> dict[int, int]:
        """Per-partition log start offset (0 = never truncated)."""
        p = self._log_start_path(topic)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return {int(k): v for k, v in json.load(f).items()}

    # snapshot-history bound: the Iceberg-snapshot-expiration analog.
    # Each produce appends one {version, offsets} entry; only the most
    # recent MAX_SNAPSHOTS stay readable via scan_at. Bounds the control
    # file at O(MAX_SNAPSHOTS × partitions) regardless of topic age.
    MAX_SNAPSHOTS = 64

    def _set_watermarks(
        self, topic: str, wm: dict[int, int], sink_commit: tuple[str, int] | None = None
    ) -> None:
        # The whole read-merge-replace runs under the short flip lock:
        # with per-PARTITION commit locks, a concurrent producer on a
        # disjoint partition set may flip between our read and our
        # os.replace, and an unlocked RMW would silently roll its
        # partitions back. Offsets only ever advance (the sole caller
        # is _commit_segments), so the merge is a per-partition max —
        # our own partitions are stable because we hold their locks.
        with flip_lock(self._topic_dir(topic)):
            # preserve sink commits across unrelated flips (retention,
            # plain produce) — they live in the SAME file so that a
            # produce carrying a sink_commit advances offsets and
            # records the batch id in ONE atomic os.replace (the
            # exactly-once commit point for streaming sinks)
            try:
                with open(self._wm_path(topic)) as f:
                    prev = json.load(f)
            except FileNotFoundError:
                prev = {}
            sinks = prev.get("__sinks", {})
            if sink_commit is not None:
                sinks[sink_commit[0]] = sink_commit[1]
            prev_wm = {k: v for k, v in prev.items() if not k.startswith("__")}
            new_wm = {
                str(k): max(int(v), int(prev_wm.get(str(k), 0)))
                for k, v in wm.items()
            }
            merged_wm = {**prev_wm, **new_wm}
            # snapshot history: every flip that ADVANCES offsets appends
            # a version (the time-travel read points of scan_at).
            # Written in the same atomic os.replace as the offsets, so
            # a version is readable exactly iff its produce committed.
            history: list = prev.get("__history", [])
            if merged_wm != prev_wm:
                next_v = (history[-1]["v"] + 1) if history else 1
                history = (history + [{"v": next_v, "wm": merged_wm}])[
                    -self.MAX_SNAPSHOTS:
                ]
            payload: dict = dict(merged_wm)
            if sinks:
                payload["__sinks"] = sinks
            if history:
                payload["__history"] = history
            tmp = self._wm_path(topic) + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(payload, f)
            os.replace(tmp, self._wm_path(topic))

    def _reclaim_uncommitted(self, topic: str, partitions: set[int] | None = None) -> int:
        """Delete segment files whose offsets lie entirely at/after the
        committed watermark — debris from a produce that crashed
        between the parquet append and the watermark flip. Runs under
        the commit locks at the start of every commit, BEFORE new
        offsets are assigned from the watermark, so a reassignment can
        never coexist on disk with its crashed predecessor (duplicate
        offsets below the next flip). Scoped to ``partitions`` when the
        caller holds only those commit locks — an unlocked partition's
        above-watermark files may be another producer's IN-FLIGHT
        write, not debris (that partition's own next produce reclaims
        its real debris). O(unindexed files): committed files are in
        the manifest and skipped without a footer read; files missing
        offset stats are left alone (can't prove them uncommitted —
        the read-side watermark bound still hides any uncommitted rows
        they hold)."""
        return reclaim_uncommitted_files(self._topic_dir(topic), partitions)

    def _commit_segments(
        self,
        topic: str,
        wm: dict[int, int],
        new_wm: dict[int, int],
        land: Callable[[], None],
        sink_commit: tuple[str, int] | None = None,
        allowed: set[int] | None = None,
    ) -> dict[int, int]:
        """The commit tail of produce() and _append_segments(), run under the
        commit locks of ``allowed`` (default: every partition): refuse
        a partition outside that set BEFORE ``land()`` moves any
        segment into data/ — a scan cannot bound a partition the
        control file does not list, so a file landed there first would
        be readable after the refusal — then merge the watermarks,
        index the new segments and flip."""
        n_parts = self.topic_meta(topic).num_partitions
        ok = allowed if allowed is not None else set(range(n_parts))
        bad = sorted(p for p in new_wm if not 0 <= p < n_parts or p not in ok)
        if bad:
            raise ValueError(
                f"topic {topic!r} declares {n_parts} partitions "
                f"(this commit locked {sorted(ok)}); "
                f"records arrived for partition(s) {bad}"
            )
        land()
        # merge over the UNION of keys: a partition present in the data
        # but missing from the control file (e.g. created by an older
        # writer) must not lose its watermark. Values for partitions we
        # don't hold locks for may be stale — _set_watermarks max-merges
        # against the fresh file under the flip lock, so stale entries
        # can never roll a concurrent producer's flip back.
        merged = {
            p: max(wm.get(p, 0), new_wm.get(p, 0)) for p in set(wm) | set(new_wm)
        }
        # Manifest FIRST, watermark flip LAST: the flip is the commit point,
        # and a crash between the two steps must leave fetch() able to
        # plan every committed offset from the manifest. The old
        # flip-then-refresh order had a window where committed rows
        # were scan-visible but fetch-invisible (manifest missing the
        # new segments, and the stale-manifest heal only fires on
        # MISSING files, not missing entries). Indexing uncommitted
        # files is safe the other way around: readers never trust
        # offsets past the watermark, and a crash before the flip is
        # reclaimed by the evidence-based reclaim (manifest min-offset
        # >= watermark ⇒ debris; the r11 bug-#5 machinery, pinned by
        # tests/test_crash_fuzz.py). Scoped to the locked partitions:
        # an unlocked partition may hold another producer's in-flight
        # files, which must stay OUT of the manifest until their own
        # flip so their crash path stays reclaimable.
        self._refresh_manifest(topic, partitions=ok)
        self._set_watermarks(topic, merged, sink_commit=sink_commit)
        return merged

    def _append_segments(
        self,
        topic: str,
        partitions: Iterable[int] | None,
        build: Callable[[dict[int, int]], tuple[dict[int, int], Iterable]],
    ) -> dict[int, int]:
        """The locked commit sequence of append_raw and the kcore_topic
        writer. Reads the topic's meta FIRST, so a write to a topic that
        was never created, or to a partition it lacks, fails before the
        commit locks create its dir or lock files. Then, under the
        commit locks of ``partitions`` (default: every partition):
        reclaim a crashed predecessor's leftovers, read the watermarks
        and hand them to ``build(wm)``, which returns the new watermarks
        and an iterable of (partition, pyarrow Table) segments.
        _commit_segments refuses a partition outside that set before
        anything lands, lands each table with _write_segment, refreshes
        the locked partitions' manifest and flips the watermarks. The
        iterable is consumed one table at a time, so a builder that
        reads one staged file per table holds only one in memory."""
        pset = _declared_partitions(self.topic_meta(topic), partitions)
        with partition_commit_locks(self._topic_dir(topic), pset):
            self._reclaim_uncommitted(topic, pset)
            wm = self._watermarks(topic)
            new_wm, segments = build(wm)
            data_dir = os.path.join(self._topic_dir(topic), "data")

            def land() -> None:
                for p, table in segments:
                    _write_segment(os.path.join(data_dir, f"partition={p}"), table)

            return self._commit_segments(topic, wm, new_wm, land, allowed=pset)

    @_locked
    def append_raw(
        self, topic: str, table: pa.Table, partitions: list[int] | None = None
    ) -> dict[int, int]:
        """Append records that already carry (partition, offset) — the
        flush path from the wire log, which assigned offsets at accept
        time. The caller owns offset density; watermarks advance to
        max(offset)+1 per partition. ``partitions`` declares (and
        locks) the target set, like produce().

        ``table`` is a pyarrow Table with RECORD_SCHEMA's columns. No
        Spark job runs: each partition's rows become ONE segment,
        committed by _append_segments."""
        import pyarrow.compute as pc

        def build(wm):
            hi = table.group_by("partition").aggregate([("offset", "max")])
            new_wm = {
                p: o + 1
                for p, o in zip(
                    hi["partition"].to_pylist(), hi["offset_max"].to_pylist()
                )
            }
            segments = (
                (p, table.filter(pc.equal(table["partition"], p)))
                for p in sorted(new_wm)
            )
            return new_wm, segments

        return self._append_segments(topic, partitions, build)


class TopicLog(TopicLogControl):
    def __init__(self, spark: SparkSession, root: str, archive_root: str | None = None):
        from kcore_spark.catalog import ensure_engine_confs

        ensure_engine_confs(spark)  # MICROS ts output → footer stats
        super().__init__(root)
        self.spark = spark
        # Tiered storage: when set, segments aging out of the hot log
        # are MOVED under archive_root (mirroring the topic/partition
        # layout) instead of deleted — the model of Kafka tiered
        # storage's archive-then-delete (KIP-405). The archived
        # segments stay plain parquet, so a batch backfill can
        # spark.read them directly. None (default) deletes, matching
        # classic broker retention.
        self.archive_root = archive_root
        self._last_commit_seq = 0
        self._commit_seq_seeded = False
        os.makedirs(root, exist_ok=True)

    def _commit_locked(fn):  # noqa: N805 - descriptor-style decorator
        """Hold the cross-process commit locks for ALL partitions of
        the topic (first positional arg) for the duration of a
        whole-topic mutator — compaction, OPTIMIZE, key erasure
        rewrite every partition, so they exclude every producer.
        Stacked UNDER @_locked (thread lock first, then flocks). Must
        not decorate a function reachable from another @_commit_locked
        function for the same topic (flocks are not reentrant)."""
        import functools

        @functools.wraps(fn)
        def inner(self, topic, *a, **k):
            n = self.topic_meta(topic).num_partitions
            with partition_commit_locks(self._topic_dir(topic), range(n)):
                return fn(self, topic, *a, **k)

        return inner

    def _maint_locked(fn):  # noqa: N805 - descriptor-style decorator
        """Hold the topic's cross-process maintenance lock for the whole
        body (see maintenance_lock): the <live>.old-* copy and
        <live>.compact.* stage these operations leave mid-flight are
        indistinguishable from crash debris, so the read path's healer
        must be excluded until the op finishes.
        Stacked UNDER @_commit_locked (lock order: partitions, then
        maintenance). The decorated body may call _recover_compaction
        directly but must never re-enter another @_maint_locked method
        for the same topic (flocks are not reentrant)."""
        import functools

        @functools.wraps(fn)
        def inner(self, topic, *a, **k):
            with maintenance_lock(self._topic_dir(topic)):
                return fn(self, topic, *a, **k)

        return inner

    def topic_config(self, name: str) -> dict[str, str]:
        with open(self._meta_path(name)) as f:
            return json.load(f).get("configs", {})

    def alter_topic_config(self, name: str, updates: dict[str, str | None]) -> dict[str, str]:
        """AlterConfigs (API key 33) analog: merge updates (None deletes
        a key) atomically into the topic's config."""
        with open(self._meta_path(name)) as f:
            m = json.load(f)
        cfg = m.get("configs", {})
        for k, v in updates.items():
            if v is None:
                cfg.pop(k, None)
            else:
                cfg[k] = str(v)
        m["configs"] = cfg
        tmp = self._meta_path(name) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, self._meta_path(name))
        return cfg

    def apply_retention_from_config(self, name: str, now_ms: int | None = None) -> dict[int, int]:
        """Run retention using the topic's own retention.ms /
        retention.bytes configs (the broker's periodic cleaner pass,
        config-driven exactly as in Kafka). No-op without configs."""
        cfg = self.topic_config(name)
        ms = cfg.get("retention.ms")
        by = cfg.get("retention.bytes")
        if ms is None and by is None:
            return self._log_starts(name)
        return self.apply_retention(
            name,
            retention_ms=int(ms) if ms is not None else None,
            retention_bytes=int(by) if by is not None else None,
            now_ms=now_ms,
        )

    @_locked
    def delete_topic(self, name: str) -> None:
        """DeleteTopics (API key 20) analog."""
        shutil.rmtree(self._topic_dir(name))

    def list_topics(self) -> list[str]:
        """Metadata (API key 3) analog."""
        return sorted(
            d for d in os.listdir(self.root) if os.path.exists(self._meta_path(d))
        )

    def _set_log_starts(self, topic: str, starts: dict[int, int]) -> None:
        tmp = self._log_start_path(topic) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({str(k): v for k, v in starts.items()}, f)
        os.replace(tmp, self._log_start_path(topic))

    @_locked
    def truncate_before(self, topic: str, offsets: dict[int, int]) -> dict[int, int]:
        """DeleteRecords (API key 21) analog: advance log start offsets.
        offsets: {partition: first offset to KEEP}. Monotonic (a lower
        request than the current start is a no-op) and clamped to the
        high watermark. Returns the new log start per partition.

        Crash-safe ordering: the log-start state is committed first
        (atomic rename) — from that instant truncated offsets are
        invisible to scan/fetch — then segments wholly below the
        boundary are physically deleted and the manifest re-indexed.
        A crash between the two steps leaves dead files that the next
        truncate/retention pass reclaims; it can never resurrect
        deleted offsets."""
        wm = self._watermarks(topic)
        starts = self._log_starts(topic)
        for p, off in offsets.items():
            if p not in wm:
                raise KeyError(f"unknown partition {p}")
            starts[p] = max(starts.get(p, 0), min(off, wm[p]))
        self._set_log_starts(topic, starts)
        self._reclaim_truncated(topic)
        return starts

    def _reclaim_truncated(self, topic: str) -> None:
        """Reclaim segment files whose entire offset range is below the
        partition's log start (manifest-planned, O(candidate files)):
        deleted, or moved to the archive tier when archive_root is
        configured (archive-then-delete, the KIP-405 shape)."""
        starts = self._log_starts(topic)
        if not any(v > 0 for v in starts.values()):
            return
        man = self._load_manifest(topic)
        data_dir = self._topic_dir(topic) + "/data"
        removed = False
        for p, lo in starts.items():
            for e in man.get(f"partition={p}", []):
                if e["max"] < lo:
                    src = os.path.join(data_dir, e["file"])
                    try:
                        if self.archive_root is not None:
                            dst = os.path.join(self.archive_root, topic, e["file"])
                            os.makedirs(os.path.dirname(dst), exist_ok=True)
                            os.replace(src, dst)
                        else:
                            os.remove(src)
                        removed = True
                    except FileNotFoundError:
                        pass  # already reclaimed by a crashed pass
        if removed:
            self._refresh_manifest(topic)

    def apply_archive_retention(
        self, topic: str, retention_ms: int, now_ms: int | None = None
    ) -> int:
        """Age out the COLD tier too: delete archived segments whose
        newest record timestamp is older than ``retention_ms``. The
        archive has no manifest, so the decision reads each candidate
        file's parquet footer statistics (driver-side, O(archived
        files) footer reads — no data scan). Returns files deleted.
        Files without timestamp stats are kept (can't prove they aged
        out)."""
        import time

        if self.archive_root is None:
            return 0
        d = os.path.join(self.archive_root, topic)
        if not os.path.isdir(d):
            return 0
        cutoff = (time.time() * 1000 if now_ms is None else now_ms) - retention_ms
        deleted = 0
        for base, _dirs, files in os.walk(d):
            for fname in files:
                if not fname.endswith(".parquet"):
                    continue
                path = os.path.join(base, fname)
                md = pq.ParquetFile(path).metadata
                cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
                ti = cols.get("timestamp")
                if ti is None:
                    continue
                hi = None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ti).statistics
                    if st is None or not st.has_min_max:
                        hi = None
                        break
                    b = _epoch_ms(st.max)
                    hi = b if hi is None else max(hi, b)
                if hi is not None and hi < cutoff:
                    os.remove(path)
                    deleted += 1
        return deleted

    def scan_archive(self, topic: str):
        """Batch-read every archived (cold-tier) segment of a topic —
        the backfill path a 100 TB pipeline uses to replay history that
        has aged out of the hot log. Plain parquet scan; returns None
        if nothing has been archived.

        erase_keys() rewrites the archive through the same _swap_dir as
        the hot tier, so the read follows scan()'s rule: when its
        listing may have raced a swap (_swap_marked after the read) or
        the read failed (the dir renamed away mid-swap, ADVICE r13 #2),
        heal under the maintenance lock — a live erase_keys holds it,
        so this blocks until it finishes and only heals a genuine crash
        (ADVICE r11) — and read again while holding it, where the
        listing cannot race a swap."""
        if self.archive_root is None:
            return None
        d = os.path.join(self.archive_root, topic)

        def read():
            if not (os.path.isdir(d) and os.listdir(d)):
                return None
            return self.spark.read.parquet(d)

        try:
            df = read()
            torn = _swap_marked(d)
        except Exception:
            torn = True
        if torn:
            with maintenance_lock(self._topic_dir(topic)):
                self._recover_compaction(topic)
                df = read()
        return df

    @_locked
    def apply_retention(
        self,
        topic: str,
        retention_ms: int | None = None,
        retention_bytes: int | None = None,
        now_ms: int | None = None,
    ) -> dict[int, int]:
        """Kafka-style retention: per partition, delete the longest
        PREFIX of segments (in offset order) such that (a) every
        deleted segment's newest record is older than retention_ms,
        and/or (b) the retained suffix fits in retention_bytes. Only
        whole segments are dropped (a straddling segment survives until
        it ages out), exactly the broker's cleanup contract. Planning
        runs entirely on the manifest (timestamp range + byte size per
        segment) — no data files are opened. Returns new log starts."""
        import time

        if now_ms is None:
            now_ms = time.time_ns() // 1_000_000
        man = self._load_manifest(topic)
        cut: dict[int, int] = {}
        for pdir, entries in man.items():
            p = int(pdir.split("=", 1)[1])
            ordered = sorted(entries, key=lambda e: e["min"])
            keep_bytes = sum(e.get("bytes", 0) for e in ordered)
            drop_upto = None  # offset of last dropped record
            for i, e in enumerate(ordered):
                expired = (
                    retention_ms is not None
                    and e.get("ts_max") is not None
                    and e["ts_max"] < now_ms - retention_ms
                )
                oversize = (
                    retention_bytes is not None
                    and i < len(ordered) - 1  # never drop the active tail
                    and keep_bytes > retention_bytes
                )
                if not (expired or oversize):
                    break
                drop_upto = e["max"]
                keep_bytes -= e.get("bytes", 0)
            if drop_upto is not None:
                cut[p] = drop_upto + 1
        if cut:
            return self.truncate_before(topic, cut)
        return self._log_starts(topic)

    @_locked
    def run_cleanup(self, topic: str, now_ms: int | None = None) -> dict:
        """One cleaner pass for a topic, driven by its configs — the
        engine-side analog of Kafka's log-cleaner thread:
        cleanup.policy "delete" (default) applies time/size retention;
        "compact" runs log compaction; "compact,delete" does both.
        Returns {"policy", "log_starts", "retained"} for observability.
        """
        cfg = self.topic_config(topic)
        policy = cfg.get("cleanup.policy", "delete")
        retained = None
        if "compact" in policy:
            retained = self.compact(topic)
        starts = self._log_starts(topic)
        if "delete" in policy:
            starts = self.apply_retention_from_config(topic, now_ms=now_ms)
        # optional file compaction: optimize.target.bytes opts a topic
        # into small-segment bin-packing on the cleaner cadence (after
        # retention, so just-reclaimed segments aren't rewritten first)
        optimized = None
        tgt = cfg.get("optimize.target.bytes")
        if tgt is not None:
            optimized = self.optimize(topic, target_bytes=int(tgt))
        return {
            "policy": policy,
            "log_starts": starts,
            "retained": retained,
            "optimized": optimized,
        }

    def run_cleanup_all(self, now_ms: int | None = None) -> dict[str, dict]:
        """Cleaner pass over every topic — the loop a scheduler (cron,
        streaming-listener hook) calls periodically. Also compacts the
        __consumer_offsets analog (latest commit per key), the same
        cleaner Kafka runs on its offsets topic."""
        out = {t: self.run_cleanup(t, now_ms=now_ms) for t in self.list_topics()}
        self.compact_offsets()
        return out

    def sink_committed(self, topic: str, sink_id: str) -> int:
        """Last streaming-sink batch id committed into this topic by
        ``sink_id`` (-1 if none). Rides the watermark control file, so
        it is exactly as durable and atomic as the offsets
        themselves."""
        with open(self._wm_path(topic)) as f:
            return json.load(f).get("__sinks", {}).get(sink_id, -1)

    def snapshot_versions(self, topic: str) -> list[tuple[int, dict[int, int]]]:
        """Readable snapshot versions, oldest→newest: (version, the
        per-partition next-offset map at that version's commit)."""
        try:
            with open(self._wm_path(topic)) as f:
                history = json.load(f).get("__history", [])
        except FileNotFoundError:
            return []
        return [
            (h["v"], {int(p): o for p, o in h["wm"].items()}) for h in history
        ]

    def scan_at(self, topic: str, version: int) -> DataFrame:
        """Time-travel scan: the topic exactly as of snapshot
        ``version`` (each produce commit = one version; list them with
        snapshot_versions). Implemented as the current scan with a
        per-partition ``offset < snapshot next-offset`` predicate — a
        map-literal scan-side filter, no join, and segments wholly
        above the snapshot watermark are pruned by their footer offset
        ranges like any other offset-bounded read. Data physically
        reclaimed since (retention/truncation) is NOT resurrected:
        the current log-start filter still applies, matching the
        lakehouse contract that snapshot reads outlive data files only
        until expiration."""
        versions = dict(self.snapshot_versions(topic))
        if version not in versions:
            raise ValueError(
                f"unknown snapshot version {version} for topic {topic!r}; "
                f"readable: {sorted(versions)}"
            )
        return self.scan(topic).where(_below(versions[version], 0))

    # ------------------------------------------------------ produce

    @_locked
    def produce(
        self,
        topic: str,
        records: DataFrame,
        partition_expr: Column | None = None,
        order_by: list[str] | None = None,
        sink_commit: tuple[str, int] | None = None,
        partitions: list[int] | None = None,
    ) -> dict[int, int]:
        """Produce (API key 0) analog: assign partitions + dense offsets,
        atomic parquet append. Returns new high watermarks.

        records: DataFrame with key/value (binary) and optional
        timestamp/headers columns. partition_expr defaults to
        pmod(xxhash64(key), num_partitions) — Kafka's keyed-partition
        contract (same key → same partition). order_by fixes the
        intra-batch offset order (required for deterministic replay;
        defaults to the incoming order of (key, value) hashes).

        partitions declares the partition set this batch targets;
        only THOSE partitions' cross-process commit locks are taken,
        so concurrent producers on disjoint declared sets of one
        topic run fully in parallel (Kafka's per-partition write
        concurrency). The declaration is enforced in-plan: a record
        routed outside the declared set fails the write before any
        file lands. Default None targets (and locks) all partitions.

        Scale: one shuffle on `partition`, then a per-partition
        row_number window — exactly the minimal work offset density
        requires. The window's partition count equals the topic's,
        so skew follows key skew; hot topics should choose partition
        counts accordingly (as in Kafka).
        """
        meta = self.topic_meta(topic)
        pset = _declared_partitions(meta, partitions)
        with partition_commit_locks(self._topic_dir(topic), pset):
            return self._produce_locked(
                topic, meta, records, partition_expr, order_by, sink_commit, pset
            )

    def _produce_locked(
        self,
        topic: str,
        meta: TopicMeta,
        records: DataFrame,
        partition_expr: Column | None,
        order_by: list[str] | None,
        sink_commit: tuple[str, int] | None,
        pset: set[int],
    ) -> dict[int, int]:
        self._reclaim_uncommitted(topic, pset)
        wm = self._watermarks(topic)
        if partition_expr is None:
            partition_expr = F.pmod(F.xxhash64(F.col("key")), F.lit(meta.num_partitions))
        if len(pset) < meta.num_partitions:
            # enforce the declared set inside the plan: routing a record
            # to an unlocked partition must fail the job BEFORE its file
            # lands next to another producer's in-flight data
            partition_expr = F.when(
                partition_expr.cast("int").isin(*[F.lit(p) for p in sorted(pset)]),
                partition_expr.cast("int"),
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"produce to {topic!r} declared partitions "
                            f"{sorted(pset)} but a record routed to partition "
                        ),
                        partition_expr.cast("int").cast("string"),
                    )
                ).cast("int")
            )
        df = records.withColumn("partition", partition_expr.cast("int"))
        order_cols = [F.col(c).asc() for c in (order_by or [])] or [
            F.xxhash64("key", "value").asc()
        ]
        w = Window.partitionBy("partition").orderBy(*order_cols)
        base = F.create_map(
            *[x for p, o in wm.items() for x in (F.lit(p), F.lit(o))]
        )
        df = df.withColumn(
            "offset",
            (F.row_number().over(w) - 1 + F.element_at(base, F.col("partition"))).cast("long"),
        )
        if "timestamp" not in df.columns:
            df = df.withColumn("timestamp", F.current_timestamp())
        if "timestampType" not in df.columns:
            df = df.withColumn("timestampType", F.lit(0))
        if "headers" not in df.columns:
            df = df.withColumn("headers", F.lit(None).cast("map<string,binary>"))
        out = df.select("key", "value", "partition", "offset", "timestamp", "timestampType", "headers")
        return self._write_and_advance(topic, wm, out, sink_commit=sink_commit, allowed=pset)

    def _write_and_advance(
        self,
        topic: str,
        wm: dict[int, int],
        out: DataFrame,
        sink_commit: tuple[str, int] | None = None,
        allowed: set[int] | None = None,
    ) -> dict[int, int]:
        # Stage the Spark write in a PRIVATE scratch dir, then move the
        # segment files into the live partition dirs (unique names).
        # A direct mode("append") into data/ is NOT safe under the
        # per-partition lock model (r7): two concurrent produces to
        # DISJOINT partitions would share the Hadoop committer's
        # _temporary staging under one output path, and one job's
        # commit/cleanup eats the other's files (measured: a concurrent
        # partition-1 produce vanished entirely). Private staging is
        # the same isolation the DataSource writer and optimize() use.
        # Crash mid-move leaves above-watermark files that the target
        # partition's next produce reclaims — strictly safer than the
        # old committer window.
        data_dir = self._topic_dir(topic) + "/data"
        stage = self._topic_dir(topic) + f"/.produce.{uuid.uuid4().hex}"

        def land() -> None:
            for pdir in os.listdir(stage):
                if not pdir.startswith("partition="):
                    continue
                os.makedirs(os.path.join(data_dir, pdir), exist_ok=True)
                for fn in os.listdir(os.path.join(stage, pdir)):
                    if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                        os.rename(
                            os.path.join(stage, pdir, fn),
                            os.path.join(
                                data_dir, pdir, f"part-pr-{uuid.uuid4().hex}.parquet"
                            ),
                        )

        try:
            out.write.mode("overwrite").partitionBy("partition").parquet(stage)
            new_wm = {
                r["partition"]: r["hi"] + 1
                for r in out.groupBy("partition").agg(F.max("offset").alias("hi")).collect()
            }
            return self._commit_segments(
                topic, wm, new_wm, land, sink_commit=sink_commit, allowed=allowed
            )
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    # ------------------------------------------------------ fetch / offsets

    @staticmethod
    def _swap_crash_suspected(tdir: str) -> bool:
        """Swap evidence for the hot tier of the topic dir ``tdir``
        (_swap_marked on its data/)."""
        return _swap_marked(os.path.join(tdir, "data"))

    def _heal_if_swap_marked(self, topic: str) -> None:
        """Heal a crashed swap before a read plans against the hot tier.
        Found by tests/test_crash_fuzz.py: without it, scan() showed a
        torn log, and fetch()'s stale-manifest re-plan persisted a
        manifest omitting the swapped-away partitions. Cost when
        healthy: one listdir.

        Healing is DOUBLE-CHECKED under the topic's maintenance lock
        (ADVICE r11): the same evidence exists transiently while a
        healthy compact/optimize/erase_keys runs its swap holding that
        lock, so an unlocked heal could rmtree the live writer's stage
        or restore an old copy it is mid-delete. Acquiring the lock
        blocks until any live maintenance finishes; the re-check then
        sees a clean topic and the heal degrades to a no-op. Two
        concurrent readers healing a genuine crash serialize the same
        way (the loser re-checks and no-ops instead of racing the
        winner's renames)."""
        tdir = self._topic_dir(topic)
        if self._swap_crash_suspected(tdir):
            with maintenance_lock(tdir):
                if self._swap_crash_suspected(tdir):
                    self._recover_compaction(topic)

    def scan(self, topic: str) -> DataFrame:
        """Full-log scan (batch); partition column from the dir layout,
        bounded to each partition's [log start, committed watermark)
        (_visible)."""
        tdir = self._topic_dir(topic)
        data_dir = tdir + "/data"
        self._heal_if_swap_marked(topic)
        # Rebuild against LIVE swaps: Spark's file index silently drops
        # files/dirs that vanish between its exists check and its leaf
        # listing, so a swap in flight DURING the listing can yield a
        # partial (or empty) index with no error — a torn read (r12
        # maintenance-stress find; _read_segments has the same guard).
        # _swap_marked after the read is the cheap evidence: the swap's
        # .old-* copy exists for its whole window. The read can also
        # fail outright, data/ renamed away mid-swap (ADVICE r13 #2). On
        # either, heal under the maintenance lock — holding it means no
        # swap is live, so remaining evidence is crash debris — and read
        # again while still holding it: that listing cannot race any
        # swap, so the returned plan is complete by construction, never
        # best-effort (_read_segments' scan fallback depends on that).
        # A topic that was never created still raises.
        try:
            df = self.spark.read.schema(RECORD_SCHEMA).parquet(data_dir)
            torn = _swap_marked(data_dir)
        except Exception:
            if not os.path.isdir(tdir):
                raise
            torn = True
        if torn:
            with maintenance_lock(tdir):
                self._recover_compaction(topic)
                df = self.spark.read.schema(RECORD_SCHEMA).parquet(data_dir)
        return self._visible(topic, df)

    def _visible(self, topic: str, df: DataFrame) -> DataFrame:
        """``df``'s rows inside each partition's [log start, committed
        watermark). Records below the log start (truncate_before /
        retention) may still sit in segments that straddle it. The
        watermark flip is the produce commit point, so offsets at or past
        it belong to a produce that never committed: a crash between the
        parquet append and the flip must not leak them to readers (nor
        let compact() launder them into committed data). Partitions
        absent from a control file (foreign writers) stay unbounded."""
        starts = self._log_starts(topic)
        if any(v > 0 for v in starts.values()):
            df = df.where(~_below(starts, 0))
        try:
            wm = self._watermarks(topic)
        except FileNotFoundError:
            wm = {}
        if wm:
            df = df.where(_below(wm, _UNBOUNDED))
        return df

    def _read_segments(
        self, topic: str, plan: list, keep: Callable[[str], bool] | None = None
    ) -> DataFrame:
        """The segments of a _plan_ranges ``plan`` (those ``keep``
        accepts), read safely while a maintenance swap
        (compact/optimize/erase_keys) runs; rows are not yet filtered to
        the plan's ranges. The hazards, all observed under
        tests/test_maintenance_stress.py's live reader-vs-maintenance
        interleaving:
        - a planned file deleted before this exists-check (a stale
          manifest) or before the JVM's eager listing (the plan fails,
          e.g. "Option 'basePath' not found");
        - Spark's file index SWALLOWS files that vanish between its
          path-exists check and its leaf listing, so a swap inside the
          listing yields a silently PARTIAL plan: every planned file must
          show up in inputFiles();
        - a range with no segment although the watermark says it holds
          committed offsets: a torn manifest, or genuinely all-compacted
          offsets. It is trusted only once a healed replan agrees.
        Each hazard runs _recover_compaction — heal a crashed swap, then
        refresh the manifest — under ONE maintenance-lock hold, then
        replans. Healing comes first: a refresh while a crashed swap
        leaves the only complete log in the old copy would persist a
        manifest omitting it (tests/test_crash_fuzz.py pins this). One
        hold: a separate heal-then-refresh let a new swap open its
        window in between, and the unscoped refresh listed a torn
        log. After
        three attempts the full scan() answers: it heals under the same
        lock and is complete by construction, so correctness never
        depends on winning a race; only the pruning is lost."""
        tdir = self._topic_dir(topic)
        verified = False
        for _ in range(3):
            files = [f for _, paths, _, _ in plan for f in paths if keep is None or keep(f)]
            if (verified or all(paths for _, paths, _, _ in plan)) and all(
                os.path.exists(f) for f in files
            ):
                if not files:
                    return self.spark.createDataFrame([], RECORD_SCHEMA)
                try:
                    src = (
                        self.spark.read.schema(RECORD_SCHEMA)
                        .option("basePath", tdir + "/data")
                        .parquet(*files)
                    )
                    if len(src.inputFiles()) == len(files):
                        return src
                except Exception:
                    pass
            with maintenance_lock(tdir):
                self._recover_compaction(topic)  # heals, then refreshes
            plan = self._plan_ranges(topic, {p: (s, e) for p, _, s, e in plan})
            verified = True
        return self.scan(topic)

    def fetch(self, topic: str, partition: int, start_offset: int, max_records: int) -> DataFrame:
        """Fetch (API key 1) analog: one partition's records in offset
        order. The window starts at ``start_offset``, or at the log start
        when that is later (the truncated prefix is invisible), spans
        ``max_records`` offsets from there, and ends at the committed
        watermark at the latest.

        Planning is manifest-first (_plan_ranges): only segment files
        whose footer offset range overlaps the window are read, so a
        fetch near the tail of a million-segment log lists nothing but
        its own few files, and offset row-group stats prune inside them.
        No shuffle; ordering by offset is a partition-local sort of at
        most max_records rows."""
        start = max(start_offset, self._log_starts(topic).get(partition, 0))
        plan = self._plan_ranges(topic, {partition: (start, start + max_records)})
        if not plan:
            return self.spark.createDataFrame([], RECORD_SCHEMA)
        _, _, start, end = plan[0]
        return (
            self._read_segments(topic, plan)
            .where(
                (F.col("partition") == partition)
                & (F.col("offset") >= start)
                & (F.col("offset") < end)
            )
            .orderBy("offset")
        )

    def list_offsets(self, topic: str) -> DataFrame:
        """ListOffsets (API key 2) analog: earliest/next offset per partition."""
        return (
            self.scan(topic)
            .groupBy("partition")
            .agg(
                F.min("offset").alias("earliest"),
                (F.max("offset") + 1).alias("next_offset"),
                F.count(F.lit(1)).alias("n_records"),
            )
            .orderBy("partition")
        )

    def offsets_for_timestamp(self, topic: str, ts_ms: int) -> DataFrame:
        """ListOffsets v1+ timestamp lookup: per partition, the FIRST
        offset whose record timestamp is >= ts_ms (the "replay from
        last Tuesday" entry point). Partitions with no qualifying
        record report offset -1, Kafka's "no such offset".

        Planning: the manifest's per-segment timestamp range (footer
        stats, epoch ms) prunes every segment whose ts_max < target —
        on a long-retention log the scan touches only the tail segments
        that can actually hold the answer. Within surviving files the
        timestamp predicate is pushed to parquet row-group stats. One
        partial-aggregatable min per partition; no shuffle beyond the
        final 1-row-per-partition agg.
        """
        n_parts = self.topic_meta(topic).num_partitions
        data_dir = self._topic_dir(topic) + "/data"
        # files lacking ts stats stay: they can't be proven to miss
        older = {
            os.path.join(data_dir, e["file"])
            for entries in self._plan_manifest(topic).values()
            for e in entries
            if e.get("ts_max", ts_ms) < ts_ms
        }
        plan = self._plan_ranges(topic, dict.fromkeys(range(n_parts), (0, _UNBOUNDED)))
        src = self._read_segments(topic, plan, keep=lambda f: f not in older)
        # planned segments can hold offsets outside [log start,
        # watermark): a commit indexes its files BEFORE its flip, and a
        # segment can straddle the log start. An unbounded min(offset)
        # could hand out an offset a crashed producer's retry later
        # reassigns to different records
        hits = (
            self._visible(topic, src)
            .where(F.col("timestamp") >= F.timestamp_millis(F.lit(ts_ms)))
            .groupBy("partition")
            .agg(F.min("offset").alias("offset"))
        )
        parts_df = self.spark.range(n_parts).select(F.col("id").cast("int").alias("partition"))
        return (
            parts_df.join(hits, "partition", "left")
            .select("partition", F.coalesce("offset", F.lit(-1)).cast("long").alias("offset"))
            .orderBy("partition")
        )

    def scan_pattern(self, pattern: str) -> DataFrame:
        """Multi-topic scan (the consumer ``subscribePattern`` analog,
        and the engine-side mirror of the KIP-848 regex subscription):
        every topic whose name matches the anchored regex, unioned with
        a ``topic`` column — the shape a fan-in consumer or a
        cross-topic audit reads. Per-topic reads keep their own
        watermark/log-start bounds and pruned planning; the union is
        plan-level only (no shuffle)."""
        import re as _re

        rx = _re.compile(pattern)
        names = [t for t in self.list_topics() if rx.fullmatch(t)]
        if not names:
            return self.spark.createDataFrame(
                [], RECORD_SCHEMA.add("topic", T.StringType())
            )
        out = None
        for t in names:
            df = self.scan(t).withColumn("topic", F.lit(t))
            out = df if out is None else out.unionByName(df)
        return out

    def read_stream(self, topic: str) -> DataFrame:
        """Streaming topic source (micro-batch file source over the log).

        Caveat (file-source model): progress is tracked per FILE, so a
        compaction/optimize/erasure that rewrites already-ingested
        offsets into NEW files makes the file source re-ingest those
        rows as fresh input. Appropriate for append-only topics (the
        default cleanup.policy=delete shape, where retention only ever
        REMOVES old files). For compacted topics — or any topic a
        cleaner rewrites — stream through the offset-tracking
        ``kcore_topic`` DataSource instead
        (``spark.readStream.format("kcore_topic")``, sources/pyds.py):
        its checkpoint state is per-partition OFFSETS, which survive
        rewrites because offsets are immutable."""
        return self.spark.readStream.schema(RECORD_SCHEMA).parquet(
            self._topic_dir(topic) + "/data"
        )

    # ------------------------------------------------------ compaction

    def _rewrite(self, live: str, df: DataFrame) -> int:
        """Write ``df`` (partitioned by ``partition``) as the complete new
        content of the log dir ``live`` — a topic's data/ or its archive
        dir — swap it in with _swap_dir, and return its row count."""
        stage = f"{live}.compact.{uuid.uuid4().hex}"
        df.write.mode("overwrite").partitionBy("partition").parquet(stage)
        n = self.spark.read.schema(RECORD_SCHEMA).parquet(stage).count()
        _swap_dir(live, stage)
        return n

    @_locked
    @_commit_locked
    @_maint_locked
    def compact(self, topic: str) -> int:
        """Log compaction: keep only the latest record per (partition,
        key); null keys are always retained (Kafka's contract).

        Offsets are preserved (a compacted log keeps original offsets
        with holes) and watermarks don't move. One shuffle on
        (partition, key) for the per-key argmax, then a rewrite —
        at scale this is exactly Kafka's cleaner pass expressed as a
        window + swap (_rewrite). Returns the number of retained
        records.
        """
        self._recover_compaction(topic)
        df = self.scan(topic)
        w = Window.partitionBy("partition", "key").orderBy(F.col("offset").desc())
        keyed = (
            df.where(F.col("key").isNotNull())
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        compacted = keyed.unionByName(df.where(F.col("key").isNull()))
        n = self._rewrite(self._topic_dir(topic) + "/data", compacted)
        self._refresh_manifest(topic)
        return n

    @_locked
    @_commit_locked
    @_maint_locked
    def optimize(self, topic: str, target_bytes: int = 128 * 1024 * 1024) -> dict:
        """File compaction (the lakehouse OPTIMIZE / Kafka segment-merge
        analog): rewrite each partition's many small segments into few
        target-sized ones. Records, offsets, and watermarks are all
        unchanged — this is purely a layout fix for the small-files
        problem (every produce makes ≥1 file per partition; a
        high-frequency producer degrades scans and planning with
        thousands of tiny segments and manifest entries).

        Partitions whose segments already average ≥ half the target are
        left alone (rewriting well-sized files is wasted I/O). The
        merged segments of each rewritten partition are staged (final
        file names, no sidecars) in a ``data.compact.*`` stage; every
        other partition's segments are hard-linked into it under their
        own names, so their manifest entries and planned paths stay
        valid. The stage then replaces data/ through the same _swap_dir
        as compact(), atomic across partitions. Returns {partition:
        (files_before, files_after)} for the rewritten partitions."""
        self._recover_compaction(topic)
        man = self._load_manifest(topic)
        data_dir = self._topic_dir(topic) + "/data"
        stage = f"{data_dir}.compact.{uuid.uuid4().hex}"
        seg_schema = T.StructType(
            [f for f in RECORD_SCHEMA.fields if f.name != "partition"]
        )
        out: dict[int, tuple[int, int]] = {}
        for pdir, entries in man.items():
            p = int(pdir.split("=", 1)[1])
            n_files = len(entries)
            total = sum(e.get("bytes", 0) for e in entries)
            if n_files <= 1 or total / n_files >= target_bytes / 2:
                continue
            want = max(1, -(-total // target_bytes))  # ceil
            part_df = self.spark.read.schema(seg_schema).parquet(
                *[os.path.join(data_dir, e["file"]) for e in entries]
            )
            part_dir = os.path.join(stage, pdir)
            # range-repartition by offset: merged segments stay offset-
            # clustered so footer min/max pruning keeps its selectivity
            part_df.repartitionByRange(want, "offset").write.mode(
                "overwrite"
            ).parquet(part_dir)
            moved = 0
            for fn in sorted(os.listdir(part_dir)):
                src = os.path.join(part_dir, fn)
                if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                    os.rename(
                        src,
                        os.path.join(
                            part_dir, f"part-opt-{moved}-{uuid.uuid4().hex}.parquet"
                        ),
                    )
                    moved += 1
                else:
                    os.remove(src)  # _SUCCESS / .crc sidecars
            out[p] = (n_files, moved)
        if out:
            rewritten = {f"partition={p}" for p in out}
            shutil.copytree(
                data_dir,
                stage,
                copy_function=os.link,
                dirs_exist_ok=True,
                ignore=lambda d, names: [
                    n for n in names if d == data_dir and n in rewritten
                ],
            )
            _swap_dir(data_dir, stage)
            self._refresh_manifest(topic)
        return out

    @_locked
    @_commit_locked
    @_maint_locked
    def erase_keys(self, topic: str, keys: list[bytes]) -> int:
        """Targeted key erasure (the right-to-be-forgotten path): every
        record whose key is in ``keys`` is physically removed from the
        log, across all partitions and segments — unlike a compaction
        tombstone, which leaves prior copies on disk until the cleaner
        reaches them. Offsets of surviving records are preserved
        (holes, like compaction) and watermarks don't move, so
        consumers' positions stay valid.

        Plan: one scan with a broadcast isin filter (the key list is
        an erasure request — always tiny), then the same rewrite and
        _swap_dir as compact(). Also scrubs the ARCHIVE tier when one
        is attached — erasure that skipped cold segments wouldn't be
        erasure — by the same rewrite on <archive_root>/<topic>; a
        crash in either swap is healed by _recover_compaction, which
        heals both tiers. Returns records removed."""
        self._recover_compaction(topic)
        # null-SAFE keep filter: key is nullable, and for a null key
        # `~isin(...)` evaluates to NULL, which where() drops — that
        # would silently erase every null-keyed record (compaction's
        # contract is that null keys are always retained; erasure of
        # keys the request never named would be data loss, not GDPR).
        erase_set = [bytes(k) for k in keys]
        keep = F.col("key").isNull() | ~F.col("key").isin(erase_set)
        df = self.scan(topic)
        before = df.count()
        removed = before - self._rewrite(self._topic_dir(topic) + "/data", df.where(keep))
        self._refresh_manifest(topic)
        # cold tier: archived segments are immutable files, rewritten
        # and swapped whole (readers of scan_archive list the directory)
        if self.archive_root is not None:
            adir = os.path.join(self.archive_root, topic)
            if os.path.isdir(adir) and os.listdir(adir):
                cold = self.spark.read.schema(RECORD_SCHEMA).parquet(adir)
                n_cold = cold.count()
                removed += n_cold - self._rewrite(adir, cold.where(keep))
        return removed

    def _recover_compaction(self, topic: str) -> None:
        """Heal a crashed compaction / optimize / erasure swap on both
        tiers: _heal_swap on the topic's data/ and, when an archive is
        attached, on <archive_root>/<topic> — the archive heals even
        when the hot topic dir is absent, so a cold-only topic's crashed
        erasure is recoverable from scan_archive. A topic dir with
        neither data/ nor an old copy of it (a topic an older build
        created before its first segment) gets an empty data/, so a
        missing data/ is never mistaken for swap evidence. Then the hot
        manifest is re-indexed: the restored dir may not match the
        manifest written before the crash, and fetch must never plan
        against missing files.

        Callers must hold the topic's maintenance lock (the swap ops via
        @_maint_locked, read-path healers explicitly) — _heal_swap is
        destructive on anything that looks like swap debris."""
        tdir = self._topic_dir(topic)
        data_dir = os.path.join(tdir, "data")
        _heal_swap(data_dir)
        if self.archive_root is not None:
            _heal_swap(os.path.join(self.archive_root, topic))
        if os.path.isdir(tdir):
            if not (os.path.isdir(data_dir) or _swap_marked(data_dir)):
                os.makedirs(data_dir, exist_ok=True)
            self._refresh_manifest(topic)

    # ------------------------------------------------------ consumer groups

    def _offsets_dir(self) -> str:
        return os.path.join(self.root, "__consumer_offsets")

    def _max_commit_seq_on_disk(self) -> int:
        """Largest commit_seq in the offsets log (0 if none) — a
        driver-side read of the small control-plane JSON files, done
        once per TopicLog instance to seed last-writer-wins ordering
        across restarts."""
        d = self._offsets_dir()
        if not os.path.isdir(d):
            return 0
        best = 0
        for fn in os.listdir(d):
            if not (fn.startswith("commit-") and fn.endswith(".json")):
                continue
            try:
                with open(os.path.join(d, fn)) as f:
                    best = max(best, int(json.load(f).get("commit_seq", 0)))
            except (ValueError, OSError):
                continue  # torn write of an in-flight commit: ignore
        return best

    def commit_offset(self, group: str, topic: str, partition: int, offset: int) -> None:
        """OffsetCommit (API key 8) analog: append a commit record.

        Append-only log of commits; the committed offset is the one
        with the highest commit index (last-writer-wins) — the same
        compaction contract as Kafka's __consumer_offsets topic.

        commit_seq is wall-clock ns (NOT monotonic_ns, which resets at
        boot and would freeze resume on any pre-reboot commit forever),
        bumped past the process-local max so same-tick commits in one
        process still order by call sequence. The local max is seeded
        from the max commit_seq already on disk, so a restart after a
        backwards wall-clock step (NTP) can never write a commit that
        orders before an already-persisted one.
        """
        import time

        os.makedirs(self._offsets_dir(), exist_ok=True)
        if not self._commit_seq_seeded:
            self._last_commit_seq = max(
                self._last_commit_seq, self._max_commit_seq_on_disk()
            )
            self._commit_seq_seeded = True
        seq = max(time.time_ns(), self._last_commit_seq + 1)
        self._last_commit_seq = seq
        rec = {
            "group_id": group,
            "topic": topic,
            "partition": partition,
            "committed_offset": offset,
            "commit_seq": seq,
        }
        path = os.path.join(self._offsets_dir(), f"commit-{uuid.uuid4().hex}.json")
        with open(path, "w") as f:
            json.dump(rec, f)

    def fetch_offsets(self, group: str) -> DataFrame:
        """OffsetFetch (API key 9) analog: latest commit per (topic, partition)."""
        d = self._offsets_dir()
        sch = (
            "group_id string, topic string, partition int, "
            "committed_offset long, commit_seq long"
        )
        if not os.path.isdir(d) or not os.listdir(d):
            return self.spark.createDataFrame([], sch)
        df = self.spark.read.schema(sch).json(d + "/commit-*.json")
        w = Window.partitionBy("group_id", "topic", "partition").orderBy(
            F.col("commit_seq").desc()
        )
        return (
            df.where(F.col("group_id") == group)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("group_id", "topic", "partition", "committed_offset")
        )

    @_locked
    def compact_offsets(self) -> tuple[int, int]:
        """Compact the ``__consumer_offsets`` analog: keep only the
        latest commit per (group, topic, partition) — exactly the
        cleaner pass Kafka runs on its offsets topic. Without it the
        commit dir grows one file per commit_offset call forever, and
        every fetch_offsets pays O(all commits ever made).

        Control plane: the files are tiny JSON; read, reduce, rewrite
        driver-side (no Spark job). Crash-safe by write-then-delete
        ordering — the winning records are rewritten first (fresh
        names, same last-writer-wins commit_seq), then stale files are
        removed; a crash in between leaves duplicates that the
        last-writer-wins read resolves identically. Returns
        (files_before, files_after)."""
        d = self._offsets_dir()
        if not os.path.isdir(d):
            return (0, 0)
        files = [f for f in os.listdir(d) if f.startswith("commit-") and f.endswith(".json")]
        latest: dict[tuple[str, str, int], dict] = {}
        readable: list[str] = []
        for fn in files:
            try:
                with open(os.path.join(d, fn)) as f:
                    rec = json.load(f)
                key = (rec["group_id"], rec["topic"], int(rec["partition"]))
            except (ValueError, KeyError, OSError):
                continue  # torn in-flight commit: never delete it
            readable.append(fn)
            if key not in latest or rec["commit_seq"] > latest[key]["commit_seq"]:
                latest[key] = rec
        if len(readable) <= len(latest):
            return (len(files), len(files))
        for rec in latest.values():
            path = os.path.join(d, f"commit-{uuid.uuid4().hex}.json")
            with open(path, "w") as f:
                json.dump(rec, f)
        for fn in readable:
            try:
                os.remove(os.path.join(d, fn))
            except FileNotFoundError:
                pass
        return (len(files), len(latest))

    @_locked
    def reset_offsets(
        self, group: str, topic: str, to: str | int = "earliest"
    ) -> dict[int, int]:
        """Consumer-group offset reset (the kafka-consumer-groups.sh
        --reset-offsets analog): rewrite the group's committed offset
        for every partition of ``topic`` to "earliest" (the log start),
        "latest" (the high watermark), or — given an int — the first
        offset at/after that epoch-ms timestamp (−1 partitions reset to
        the watermark, matching ListOffsets by-timestamp semantics).
        Plain commit_offset appends: last-writer-wins makes the reset
        take effect atomically per partition, and the offsets-topic
        history keeps the audit trail until compaction."""
        wm = self._watermarks(topic)
        if to == "earliest":
            starts = self._log_starts(topic)
            targets = {p: starts.get(p, 0) for p in wm}
        elif to == "latest":
            targets = dict(wm)
        elif isinstance(to, int):
            by_ts = {
                r["partition"]: r["offset"]
                for r in self.offsets_for_timestamp(topic, to).collect()
            }
            targets = {
                p: (by_ts.get(p, -1) if by_ts.get(p, -1) >= 0 else wm[p])
                for p in wm
            }
        else:
            raise ValueError(f"unsupported reset target {to!r}")
        for p, off in sorted(targets.items()):
            self.commit_offset(group, topic, p, int(off))
        return targets

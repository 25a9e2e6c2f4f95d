"""Broker data plane: Produce/Fetch codecs + the wire log.

Architecture (north star: "core broker logic isn't Spark"): the
front-end appends produced batches to an in-memory per-partition log
(`WireLog`) — the hot path never touches Spark. A flush bridge
(`flush_to_topic_log`) drains accumulated records to the parquet
topic log with their wire-assigned offsets preserved, which is where
Spark analytics (and the Structured Streaming source) pick them up.
The flush does not touch Spark either: it builds one pyarrow Table
from the decoded records and `TopicLog.append_raw` writes one parquet
segment per partition with pyarrow. Record headers stay in the wire
log; the topic log's `headers` column is written NULL. This is
exactly Kafka's own shape: page-cache log + async flush, with Spark
playing the consumer-of-record role.

Storage keeps Kafka's zero-copy shape too: Produce checks a batch
(CRC, fencing, idempotence) and stores its bytes as sent, with only
baseOffset and partitionLeaderEpoch rewritten — both lie outside the
CRC. A read_uncommitted Fetch answers with the stored batches that
lie wholly inside its window, byte for byte; only a batch cut by the
window's start or end re-encodes its records inside the window.
Record-level readers (read, read_committed, tiering, flush) decode
just the batches they touch, without checking the CRC again.

Provenance: Produce/Fetch are declared-unimplemented in the reference
(`/root/reference/README.md:47-48`); record encoding was delegated to its
absent sarama fork (`/root/reference/go.mod:10,51`) — records.py is the
from-scratch public-spec codec these handlers sit on.
"""

from __future__ import annotations

import struct
from bisect import bisect_right
from dataclasses import dataclass, field

from kcore_spark.protocol import wire
from kcore_spark.protocol.records import (
    Record,
    batch_producer_info,
    decode_record_batch,
    decode_verified_batch,
    encode_record_batch,
)

ERR_OUT_OF_ORDER_SEQUENCE = 45  # OUT_OF_ORDER_SEQUENCE_NUMBER
ERR_INVALID_PRODUCER_EPOCH = 47
ERR_INVALID_TXN_STATE = 48

# ------------------------------------------------------ wire log


@dataclass
class _Partition:
    """One partition's log as stored magic-v2 batches. ``batches[i]``
    holds offsets [its baseOffset, ends[i]); offsets are dense across
    batches, so ``ends`` is sorted and bisects an offset to its batch.
    Offsets below ``base`` are deleted: whole batches below it are
    dropped, and one that straddles it stays for readers to clip."""

    batches: list[bytes] = field(default_factory=list)
    ends: list[int] = field(default_factory=list)
    base: int = 0  # log start offset
    flushed_upto: int = 0  # offsets below this are in the parquet log
    # KIP-405 tiered-storage boundary: offsets < local_start live only
    # in the remote tier (still readable — remote fetch); None = no
    # tiering, the local log starts at ``base``
    local_start: int | None = None

    @property
    def hw(self) -> int:
        return self.ends[-1] if self.ends else self.base

    def overlapping(self, lo: int, hi: int):
        """(first offset, end offset, batch) of each stored batch that
        holds an offset in [lo, hi)."""
        if lo >= hi:
            return
        for i in range(bisect_right(self.ends, lo), len(self.ends)):
            batch = self.batches[i]
            start = struct.unpack_from(">q", batch)[0]
            if start >= hi:
                return
            yield start, self.ends[i], batch

    def decode(self, lo: int, hi: int) -> list[Record]:
        """Records at offsets [lo, hi), decoding only their batches."""
        out: list[Record] = []
        for start, _end, batch in self.overlapping(lo, hi):
            out += decode_verified_batch(batch)[max(lo - start, 0) : hi - start]
        return out


class _Produced(list):
    """The records of a Produce batch that passed every check, with the
    batch's bytes: WireLog.append stores those bytes, not a new
    encoding, when their offsets are already dense."""

    def __init__(self, records: list[Record], batch: bytes) -> None:
        super().__init__(records)
        self.batch = batch


def _is_dense(batch: bytes, records: list[Record]) -> bool:
    """Whether the batch's inner offset deltas are 0..n-1 and its
    lastOffsetDelta is n-1 — a batch that may be stored as sent."""
    base = struct.unpack_from(">q", batch)[0]
    last_delta = struct.unpack_from(">i", batch, 23)[0]
    return last_delta == len(records) - 1 and all(
        r.offset == base + i for i, r in enumerate(records)
    )


def _rebased(batch: bytes, base_offset: int) -> bytes:
    """The batch with baseOffset set to its assigned offset and
    partitionLeaderEpoch to 0. The CRC covers neither, so it holds."""
    out = bytearray(batch)
    struct.pack_into(">q", out, 0, base_offset)
    struct.pack_into(">i", out, 12, 0)
    return bytes(out)


class WireLog:
    """In-memory per-partition log of record batches with dense offsets."""

    def __init__(self) -> None:
        self._parts: dict[tuple[str, int], _Partition] = {}
        self.topics: dict[str, int] = {}
        self.topic_configs: dict[str, dict[str, str]] = {}
        self._next_pid = 0
        # (topic, partition, producer_id) → (epoch, base_seq, n,
        # base_offset) of the last accepted batch: the idempotence
        # dedup state. The epoch rides along because sequences are per
        # (pid, epoch) in the Kafka contract — an epoch bump (fencing
        # re-init, KIP-890 end-txn bump) restarts the pid's sequences
        # at 0 (model-fuzz find, r13: without it the fenced producer's
        # SUCCESSOR was rejected OUT_OF_ORDER on its first batch).
        self._producer_seqs: dict[tuple[str, int, int], tuple[int, int, int, int]] = {}
        # transactions: tid → (pid, epoch); open txn state per pid;
        # committed-reader filter state per partition.
        # _open_txns[pid][(topic, partition)] is the list of [base, end)
        # offset ranges THIS producer wrote in its open txn ([] =
        # declared via AddPartitionsToTxn but not yet written). Ranges
        # are per-producer, not [first_offset, hw): interleaved appends
        # from other producers must not be swallowed when this txn
        # aborts (model-fuzz find, r13 — an abort recorded
        # [txn_start, hw) and hid another producer's committed records
        # that landed in between).
        self._tids: dict[str, tuple[int, int]] = {}
        self._open_txns: dict[int, dict[tuple[str, int], list[tuple[int, int]]]] = {}
        self._aborted: dict[tuple[str, int], list[tuple[int, int]]] = {}
        # EOS consume-transform-produce state (k25/k28): groups a txn
        # has declared, and offsets staged to commit WITH the txn —
        # invisible to OffsetFetch until EndTxn(commit) applies them
        self._txn_groups: dict[int, set[str]] = {}
        self._txn_offsets: dict[int, dict[tuple[str, str, int], int]] = {}
        # KIP-360 epoch bumps for idempotent (non-txn) producers
        self._idempotent_epochs: dict[int, int] = {}
        # KIP-227 incremental fetch sessions (class defined later in
        # this module; resolved at construction time, after load)
        self.fetch_sessions = FetchSessionCache()

    def init_producer_id(self, transactional_id: str | None = None) -> tuple[int, int]:
        """InitProducerId (API key 22): allocate a producer id. A
        transactional id maps to a STABLE pid whose epoch bumps on
        every re-init — the zombie-fencing contract (an older instance
        of the same logical producer is rejected with
        INVALID_PRODUCER_EPOCH once the new one initializes)."""
        if transactional_id is not None:
            if transactional_id in self._tids:
                pid, epoch = self._tids[transactional_id]
                # fencing ABORTS the zombie's open transaction — its
                # already-appended ranges must join the read_committed
                # filter, not fall out of LSO tracking into visibility
                # (model-fuzz find, r13: the old pop() REVEALED the
                # zombie's dirty records the moment the new incarnation
                # initialized)
                self._abort_open_txn(pid)
                self._txn_groups.pop(pid, None)  # staged offsets die too
                self._txn_offsets.pop(pid, None)
                if epoch >= 32767 - 1:
                    # epoch exhaustion (int16 ceiling): allocate a NEW
                    # pid at epoch 0, the broker's ProducerStateManager
                    # contract — the old pid falls out of _tids so any
                    # zombie at it fences via producer_epoch() == -1
                    # (model-fuzz find, r13: the unchecked bump
                    # overflowed the int16 encode and killed the
                    # response instead of rolling the pid)
                    pid = self._next_pid
                    self._next_pid += 1
                    self._tids[transactional_id] = (pid, 0)
                    return pid, 0
                self._tids[transactional_id] = (pid, epoch + 1)
                return pid, epoch + 1
            pid = self._next_pid
            self._next_pid += 1
            self._tids[transactional_id] = (pid, 0)
            return pid, 0
        pid = self._next_pid
        self._next_pid += 1
        return pid, 0

    def bump_idempotent_epoch(self, pid: int) -> tuple[int, int]:
        """KIP-360: an idempotent (non-transactional) producer re-inits
        with its current pid and receives the SAME pid at a bumped
        epoch — its sequence state resets without burning a new id."""
        epoch = self._idempotent_epochs.get(pid, 0) + 1
        self._idempotent_epochs[pid] = epoch
        # a bumped epoch starts a fresh sequence history for the pid
        for key in [k for k in self._producer_seqs if k[2] == pid]:
            del self._producer_seqs[key]
        return pid, epoch

    # -------------------------------------------------- transactions

    def _abort_open_txn(self, pid: int) -> None:
        """Close pid's open transaction as ABORTED: its written ranges
        join the read_committed filter. No-op if no txn is open."""
        txn = self._open_txns.pop(pid, None)
        if txn:
            for (topic, partition), ranges in txn.items():
                if ranges:
                    self._aborted.setdefault((topic, partition), []).extend(ranges)

    def producer_epoch(self, pid: int) -> int:
        for p, e in self._tids.values():
            if p == pid:
                return e
        return -1

    def add_partition_to_txn(self, pid: int, epoch: int, topic: str, partition: int) -> int:
        """AddPartitionsToTxn (API key 24): declare intent. Returns a
        Kafka error code (0 = ok)."""
        if self.producer_epoch(pid) != epoch:
            return ERR_INVALID_PRODUCER_EPOCH
        if not self.has(topic, partition):
            return wire.ERR_UNKNOWN_TOPIC_OR_PARTITION
        self._open_txns.setdefault(pid, {}).setdefault((topic, partition), [])
        return wire.ERR_NONE

    def verify_partition_in_txn(
        self, pid: int, epoch: int, topic: str, partition: int
    ) -> int:
        """KIP-890 broker-side verification (AddPartitionsToTxn v4+
        verify_only): succeed only if the partition is ALREADY part of
        the open transaction — the check a data-plane broker performs
        before accepting a transactional append, closing the hanging-
        transaction window. Returns a Kafka error code."""
        if self.producer_epoch(pid) != epoch:
            return ERR_INVALID_PRODUCER_EPOCH
        if (topic, partition) not in self._open_txns.get(pid, {}):
            return ERR_INVALID_TXN_STATE
        return wire.ERR_NONE

    def bump_epoch_for_tid(self, transactional_id: str) -> tuple[int, int]:
        """KIP-890 end-of-transaction epoch bump: every completed
        commit/abort advances the producer epoch so a zombie writing
        under the old epoch is fenced by construction. Returns the
        (pid, new_epoch) the client must use for its next transaction.
        At the int16 ceiling the pid ROLLS instead (new pid, epoch 0)
        — the EndTxn v4 response carries both fields precisely so the
        client can adopt a rolled pid; the old pid fences via
        producer_epoch() == -1."""
        pid, epoch = self._tids[transactional_id]
        if epoch >= 32767 - 1:
            pid = self._next_pid
            self._next_pid += 1
            self._tids[transactional_id] = (pid, 0)
            return pid, 0
        self._tids[transactional_id] = (pid, epoch + 1)
        return pid, epoch + 1

    def note_transactional_append(
        self, topic: str, partition: int, pid: int, base_offset: int, n: int = 1
    ) -> None:
        """Record that this producer's open txn wrote offsets
        [base_offset, base_offset + n) — the exact per-producer ranges
        an abort must hide (and nothing else)."""
        ranges = self._open_txns.setdefault(pid, {}).setdefault((topic, partition), [])
        if ranges and ranges[-1][1] == base_offset:
            ranges[-1] = (ranges[-1][0], base_offset + n)  # coalesce contiguous
        else:
            ranges.append((base_offset, base_offset + n))

    def add_offsets_to_txn(self, pid: int, epoch: int, group: str) -> int:
        """AddOffsetsToTxn (API key 25): declare that this transaction
        will commit consumer offsets for ``group`` — the first half of
        the consume-transform-produce EOS handshake. Opens the txn if
        it has no data partitions yet (a pure offsets-commit
        transaction is legal). Returns a Kafka error code."""
        if self.producer_epoch(pid) != epoch:
            return ERR_INVALID_PRODUCER_EPOCH
        self._open_txns.setdefault(pid, {})
        self._txn_groups.setdefault(pid, set()).add(group)
        return wire.ERR_NONE

    def txn_offset_commit(
        self, pid: int, epoch: int, group: str, topic: str, partition: int, offset: int
    ) -> int:
        """TxnOffsetCommit (API key 28): STAGE a consumer offset inside
        the open transaction. Staged offsets are invisible to
        OffsetFetch until EndTxn(commit) applies them atomically with
        the txn's records; abort discards them. Requires a prior
        AddOffsetsToTxn for the group (INVALID_TXN_STATE otherwise,
        Kafka's ordering contract)."""
        if self.producer_epoch(pid) != epoch:
            return ERR_INVALID_PRODUCER_EPOCH
        if group not in self._txn_groups.get(pid, set()):
            return ERR_INVALID_TXN_STATE
        self._txn_offsets.setdefault(pid, {})[(group, topic, partition)] = offset
        return wire.ERR_NONE

    def end_txn(self, pid: int, epoch: int, commit: bool) -> int:
        """EndTxn (API key 26): commit makes the txn's records visible
        to read_committed consumers; abort hides them forever (their
        offset ranges join the aborted filter). Returns an error code."""
        err, _ = self.end_txn_with_offsets(pid, epoch, commit)
        return err

    def end_txn_with_offsets(
        self, pid: int, epoch: int, commit: bool
    ) -> tuple[int, dict[tuple[str, str, int], int]]:
        """end_txn plus the staged consumer offsets to APPLY on commit
        (empty on abort or error) — the caller owns the group store and
        applies them, completing the atomic read-process-write."""
        if self.producer_epoch(pid) != epoch:
            return ERR_INVALID_PRODUCER_EPOCH, {}
        txn = self._open_txns.pop(pid, None)
        if txn is None:
            return ERR_INVALID_TXN_STATE, {}
        staged = self._txn_offsets.pop(pid, {})
        self._txn_groups.pop(pid, None)
        if not commit:
            # hide exactly the offset ranges THIS producer wrote —
            # another producer's records interleaved between them stay
            # visible (their own EndTxn decides their fate)
            for (topic, partition), ranges in txn.items():
                if ranges:
                    self._aborted.setdefault((topic, partition), []).extend(ranges)
            return wire.ERR_NONE, {}
        return wire.ERR_NONE, staged

    def last_stable_offset(self, topic: str, partition: int) -> int:
        """First offset still owned by an OPEN transaction; read_committed
        consumers never see at/after it (the LSO contract)."""
        hw = self.high_watermark(topic, partition)
        starts = [
            ranges[0][0]
            for txn in self._open_txns.values()
            for (t, p), ranges in txn.items()
            if (t, p) == (topic, partition) and ranges
        ]
        return min(starts) if starts else hw

    def read_committed(
        self, topic: str, partition: int, offset: int, max_records: int
    ) -> list[Record]:
        """read_committed isolation: records below the LSO minus aborted
        ranges. (Single-node engine filters server-side; real Kafka
        ships aborted-txn metadata for client-side filtering — same
        visible result.)"""
        lso = self.last_stable_offset(topic, partition)
        pos = max(offset, self.log_start(topic, partition))
        aborted = self._aborted.get((topic, partition), [])
        out: list[Record] = []
        # decode a window at a time, not the whole log up to the LSO
        while pos < lso and len(out) < max_records:
            window = self.read(topic, partition, pos, min(max_records, lso - pos))
            out += [r for r in window if not any(s <= r.offset < e for s, e in aborted)]
            pos += len(window)
        return out[:max_records]

    def check_sequence(
        self, topic: str, partition: int, pid: int, epoch: int, base_seq: int, n: int
    ) -> tuple[str, int]:
        """Idempotence check for a produce batch: returns
        ("accept", -1), ("duplicate", original_base_offset) for an
        exact retry of the last accepted batch, or ("out_of_order", -1)
        for a sequence gap (per the Kafka idempotent-producer
        contract: sequences per (producer, EPOCH, partition) are dense
        — a bumped epoch restarts at 0, and duplicate detection never
        spans epochs, matching the broker's ProducerStateManager)."""
        key = (topic, partition, pid)
        prev = self._producer_seqs.get(key)
        if prev is not None and prev[0] != epoch:
            # new epoch: fresh sequence history — first batch must
            # start at 0 (the caller has already fenced STALE epochs)
            prev = None
        if prev is not None and base_seq == prev[1] and n == prev[2]:
            return "duplicate", prev[3]
        expected = 0 if prev is None else prev[1] + prev[2]
        if base_seq != expected:
            return "out_of_order", -1
        return "accept", -1

    def record_sequence(
        self,
        topic: str,
        partition: int,
        pid: int,
        epoch: int,
        base_seq: int,
        n: int,
        base_offset: int,
    ) -> None:
        self._producer_seqs[(topic, partition, pid)] = (epoch, base_seq, n, base_offset)

    def create_topic(
        self, name: str, num_partitions: int, configs: dict[str, str] | None = None
    ) -> None:
        self.topics[name] = num_partitions
        self.topic_configs[name] = dict(configs or {})
        for p in range(num_partitions):
            self._parts[(name, p)] = _Partition()

    def create_partitions(self, topic: str, new_count: int) -> int:
        """CreatePartitions (API key 37): grow a topic's partition
        count (Kafka never shrinks — keyed hashing would orphan data).
        Returns a Kafka error code."""
        if topic not in self.topics:
            return wire.ERR_UNKNOWN_TOPIC_OR_PARTITION
        cur = self.topics[topic]
        if new_count <= cur:
            return 37  # INVALID_PARTITIONS
        for p in range(cur, new_count):
            self._parts[(topic, p)] = _Partition()
        self.topics[topic] = new_count
        return wire.ERR_NONE

    def partition_size_bytes(self, topic: str, partition: int) -> int:
        """Approximate on-log size of a partition's records (key +
        value payload bytes) — the DescribeLogDirs size metric."""
        part = self._parts.get((topic, partition))
        if part is None:
            return 0
        return sum(
            len(r.key or b"") + len(r.value or b"")
            for r in part.decode(part.base, part.hw)
        )

    def has(self, topic: str, partition: int) -> bool:
        return (topic, partition) in self._parts

    def append(self, topic: str, partition: int, records: list[Record]) -> int:
        """Append ``records`` at the high watermark with dense offsets
        and return the first one; an empty list stores nothing and
        returns the high watermark. Records decoded from a Produce
        batch (``_Produced``) whose offsets are already dense store the
        batch as sent; any others are renumbered and encoded into one
        new stored batch."""
        part = self._parts[(topic, partition)]
        base = part.hw
        if not records:
            return base
        if isinstance(records, _Produced) and _is_dense(records.batch, records):
            stored = _rebased(records.batch, base)
        else:
            stored = encode_record_batch(
                [
                    Record(r.key, r.value, r.timestamp_ms, base + i, r.headers)
                    for i, r in enumerate(records)
                ],
                base_offset=base,
            )
        part.batches.append(stored)
        part.ends.append(base + len(records))
        # KIP-405: enforce local-retention tiering as data arrives (the
        # role of Kafka's log-retention pass); no-op unless the topic
        # opted in via remote.storage.enable
        if "remote.storage.enable" in self.topic_configs.get(topic, ()):
            self.maybe_tier(topic, partition)
        return base

    def read(self, topic: str, partition: int, offset: int, max_records: int) -> list[Record]:
        part = self._parts[(topic, partition)]
        lo = max(offset, part.base)
        return part.decode(lo, min(part.hw, lo + max_records))

    def read_batches(self, topic: str, partition: int, offset: int, max_records: int) -> bytes:
        """The records ``read`` returns, as the record set of a
        read_uncommitted Fetch. Stored batches wholly inside the window
        go out byte for byte; a batch cut by the window's start or end
        re-encodes only its records inside it."""
        part = self._parts[(topic, partition)]
        lo = max(offset, part.base)
        hi = min(part.hw, lo + max_records)
        out = []
        for start, end, batch in part.overlapping(lo, hi):
            if lo <= start and end <= hi:
                out.append(batch)
            else:
                recs = part.decode(max(lo, start), min(hi, end))
                out.append(encode_record_batch(recs, base_offset=recs[0].offset))
        return b"".join(out)

    def high_watermark(self, topic: str, partition: int) -> int:
        return self._parts[(topic, partition)].hw

    def log_start(self, topic: str, partition: int) -> int:
        return self._parts[(topic, partition)].base

    def local_log_start(self, topic: str, partition: int) -> int:
        """KIP-405: the first offset served from LOCAL storage. Equals
        log_start until tier_to() moves a prefix to the remote tier.
        Clamped to log_start so DeleteRecords advancing the log start
        past the tier boundary can never expose a stale lower value."""
        part = self._parts[(topic, partition)]
        if part.local_start is None:
            return part.base
        return max(part.base, part.local_start)

    def latest_tiered(self, topic: str, partition: int) -> int:
        """KIP-1005: the highest offset present in remote storage, or
        -1 when nothing is tiered."""
        part = self._parts[(topic, partition)]
        if part.local_start is None or part.local_start <= part.base:
            return -1
        return part.local_start - 1

    def tier_to(self, topic: str, partition: int, upto_offset: int) -> int:
        """Move offsets < upto_offset to the remote tier (records stay
        readable — the model of Kafka remote fetch; the WireLog is the
        hot path and sources/topic_log.py::archive is the durable
        realization). Clamped to [log_start, high_watermark]. Returns
        the new local log start."""
        part = self._parts[(topic, partition)]
        hw = part.hw
        lo = max(part.base, min(upto_offset, hw))
        if part.local_start is not None:
            lo = max(lo, part.local_start)  # tiering never retreats
        part.local_start = lo
        return part.local_start

    def maybe_tier(self, topic: str, partition: int) -> int:
        """Apply KIP-405 local-retention topic configs, tiering the
        prefix that exceeds them. Active only when the topic sets
        ``remote.storage.enable=true``; then ``local.retention.bytes``
        caps the LOCAL suffix's value bytes and ``local.retention.ms``
        tiers records older than the partition's max record timestamp
        minus the window (stream time, so tests are deterministic —
        mirrors Kafka using the segment's largest timestamp). Returns
        the resulting local log start. Records stay readable after
        tiering (the remote-fetch model); durable realization is
        sources/topic_log.py's archive tier."""
        cfg = self.topic_configs.get(topic, {})
        if cfg.get("remote.storage.enable", "false").lower() != "true":
            return self.local_log_start(topic, partition)
        part = self._parts[(topic, partition)]
        local0 = self.local_log_start(topic, partition)
        hw = part.hw
        records = part.decode(part.base, hw)  # records[i] has offset base + i
        boundary = local0
        ret_bytes = cfg.get("local.retention.bytes")
        if ret_bytes is not None and int(ret_bytes) >= 0:
            budget = int(ret_bytes)
            keep_from = hw
            # walk the local suffix newest-first until the byte budget
            # is spent; everything older is tiered
            for off in range(hw - 1, local0 - 1, -1):
                rec = records[off - part.base]
                sz = len(rec.value or b"")
                if budget - sz < 0:
                    break
                budget -= sz
                keep_from = off
            boundary = max(boundary, keep_from)
        ret_ms = cfg.get("local.retention.ms")
        if ret_ms is not None and int(ret_ms) >= 0 and hw > part.base:
            now_ms = max(r.timestamp_ms for r in records)
            cutoff = now_ms - int(ret_ms)
            off = local0
            while off < hw and records[off - part.base].timestamp_ms < cutoff:
                off += 1
            boundary = max(boundary, off)
        if boundary > local0:
            return self.tier_to(topic, partition, boundary)
        return local0

    def delete_records(self, topic: str, partition: int, before_offset: int) -> int:
        """DeleteRecords (API key 21): advance the log start offset to
        before_offset (-1 = high watermark, i.e. delete everything) and
        free the batches wholly below it (a batch straddling it stays;
        readers clip it). Returns the new low watermark.
        Raises ValueError if before_offset is beyond the high watermark
        (the wire handler maps this to OFFSET_OUT_OF_RANGE)."""
        part = self._parts[(topic, partition)]
        hw = part.hw
        if before_offset == -1:
            before_offset = hw
        if before_offset > hw:
            raise ValueError(f"offset {before_offset} beyond high watermark {hw}")
        if before_offset > part.base:
            gone = bisect_right(part.ends, before_offset)
            del part.batches[:gone]
            del part.ends[:gone]
            part.base = before_offset
            part.flushed_upto = max(part.flushed_upto, before_offset)
        return part.base

    # -------------------------------------------------- Spark bridge

    def flush_to_topic_log(self, spark, topic_log, topic: str) -> int:
        """Drain unflushed records to the parquet topic log, preserving
        wire-assigned offsets (append_raw). Returns records flushed.

        This is the micro-batch boundary: wire appends are O(1) memory
        ops; durability happens here in batch — exactly a foreachBatch
        sink writing the accumulated stream. The records become one
        pyarrow Table, built column by column from the decoded batches,
        and append_raw writes one segment per partition with pyarrow:
        no Spark job runs (``spark`` is unused; the signature is the
        bridge's public shape). Record headers are not carried into the
        topic log — ``headers`` is written NULL, since a map column
        needs a rule for Kafka's duplicate header keys first.

        flushed_upto advances ONLY after append_raw returns: if the
        write raises (disk error, a crash mid-segment) the records stay
        pending and the next flush retries them — the watermark file
        never acknowledges data that isn't in parquet."""
        import pyarrow as pa

        keys: list = []
        values: list = []
        parts: list[int] = []
        offsets: list[int] = []
        stamps: list[int] = []
        pending: list[tuple[_Partition, int]] = []
        for (t, p), part in self._parts.items():
            if t != topic:
                continue
            recs = part.decode(max(part.flushed_upto, part.base), part.hw)
            keys += [r.key for r in recs]
            values += [r.value for r in recs]
            parts += [p] * len(recs)
            offsets += [r.offset for r in recs]
            stamps += [r.timestamp_ms for r in recs]
            pending.append((part, part.hw))
        n = len(offsets)
        if not n:
            return 0
        table = pa.table(
            {
                "key": pa.array(keys, pa.binary()),
                "value": pa.array(values, pa.binary()),
                "partition": pa.array(parts, pa.int32()),
                "offset": pa.array(offsets, pa.int64()),
                "timestamp": pa.array(stamps, pa.timestamp("ms", tz="UTC")),
                "timestampType": pa.repeat(pa.scalar(0, pa.int32()), n),
                "headers": pa.nulls(n, pa.map_(pa.string(), pa.binary())),
            }
        )
        topic_log.append_raw(topic, table)
        for part, upto in pending:
            part.flushed_upto = upto
        return n


# ------------------------------------------------------ Produce v3-v9


@dataclass
class ProducePartition:
    index: int
    batch: bytes | None


@dataclass
class ProduceRequest:
    header: wire.RequestHeader
    acks: int
    timeout_ms: int
    topics: list[tuple[str, list[ProducePartition]]]


def decode_produce_request(payload: bytes) -> ProduceRequest:
    import struct

    api_version = struct.unpack(">h", payload[2:4])[0]
    flexible = wire.is_flexible_request(wire.PRODUCE_KEY, api_version)
    r = wire.Reader(payload)
    h = wire.decode_request_header(r, flexible=flexible)
    if flexible:
        r.compact_string()  # transactional_id (unused: no txns)
        acks = r.int16()
        timeout_ms = r.int32()
        topics = []
        for _ in range(r.compact_array_len()):
            name = r.compact_string()
            parts = []
            for _ in range(r.compact_array_len()):
                idx = r.int32()
                parts.append(ProducePartition(idx, r.compact_bytes()))
                r.tagged_fields()
            r.tagged_fields()
            topics.append((name, parts))
        r.tagged_fields()
    else:
        r.nullable_string()  # transactional_id (unused: no txns)
        acks = r.int16()
        timeout_ms = r.int32()
        topics = []
        for _ in range(r.int32()):
            name = r.nullable_string()
            parts = []
            for _ in range(r.int32()):
                idx = r.int32()
                parts.append(ProducePartition(idx, r.nullable_bytes()))
            topics.append((name, parts))
    return ProduceRequest(h, acks, timeout_ms, topics)


def encode_produce_response(
    correlation_id: int,
    results: list[tuple],  # topic → [(idx, err, base_offset[, log_start])]
    api_version: int = 3,
    throttle_ms: int = 0,
) -> bytes:
    """ProduceResponse v3-v9 (flexible from v9). v5+ appends
    per-partition log_start_offset (real: the wire log truncates via
    DeleteRecords/retention); v8+ adds empty record_errors + null
    error_message — a spec-compliant client that negotiated a higher
    version would mis-parse a v4-shaped body, so the version must be
    threaded through."""
    flex = api_version >= 9
    w = wire.Writer()
    w.int32(correlation_id)
    if flex:
        w.empty_tagged_fields()  # response header v1
    w.compact_array_len(len(results)) if flex else w.int32(len(results))
    for name, parts in results:
        w.compact_string(name) if flex else w.nullable_string(name)
        w.compact_array_len(len(parts)) if flex else w.int32(len(parts))
        for entry in parts:
            idx, err, base = entry[0], entry[1], entry[2]
            w.int32(idx).int16(err).int64(base).int64(-1)  # log_append_time
            if api_version >= 5:
                w.int64(entry[3] if len(entry) > 3 else 0)  # log_start_offset
            if api_version >= 8:
                w.compact_array_len(0) if flex else w.int32(0)  # record_errors
                w.compact_string(None) if flex else w.nullable_string(None)
            if flex:
                w.empty_tagged_fields()
        if flex:
            w.empty_tagged_fields()
    w.int32(throttle_ms)  # throttle: client quota backoff (protocol/quotas.py)
    if flex:
        w.empty_tagged_fields()
    return w.bytes()


def decode_produce_response(payload: bytes, api_version: int = 3):
    flex = api_version >= 9
    r = wire.Reader(payload)
    corr = r.int32()
    if flex:
        r.tagged_fields()
    out = []
    for _ in range(r.compact_array_len() if flex else r.int32()):
        name = r.compact_string() if flex else r.nullable_string()
        parts = []
        for _ in range(r.compact_array_len() if flex else r.int32()):
            row = (r.int32(), r.int16(), r.int64(), r.int64())
            if api_version >= 5:
                row += (r.int64(),)  # log_start_offset
            if api_version >= 8:
                for _ in range(r.compact_array_len() if flex else r.int32()):
                    r.int32()  # batch_index
                    r.compact_string() if flex else r.nullable_string()
                    if flex:
                        r.tagged_fields()
                r.compact_string() if flex else r.nullable_string()  # error_message
            if flex:
                r.tagged_fields()
            parts.append(row)
        if flex:
            r.tagged_fields()
        out.append((name, parts))
    throttle = r.int32()
    if flex:
        r.tagged_fields()
    return corr, out, throttle


# ------------------------------------------------------ Fetch v4-v11


@dataclass
class FetchPartition:
    index: int
    fetch_offset: int
    max_bytes: int


@dataclass
class FetchRequest:
    header: wire.RequestHeader
    max_wait_ms: int
    min_bytes: int
    max_bytes: int
    topics: list[tuple[str | None, list[FetchPartition]]]
    isolation_level: int = 0  # 0 = read_uncommitted, 1 = read_committed
    # aligned with `topics`: v13+ id-addressed entries (name is None)
    topic_ids: list[bytes | None] | None = None
    # KIP-227 incremental fetch sessions (v7+)
    session_id: int = 0
    session_epoch: int = -1  # -1 = sessionless full fetch
    # forgotten topics: [(name | None, topic_id | None, [partition])]
    forgotten: list[tuple[str | None, bytes | None, list[int]]] | None = None


def decode_fetch_request(payload: bytes) -> FetchRequest:
    """FetchRequest v4-v13: rigid through v11, flexible from v12
    (KIP-482), topics addressed by uuid instead of name from v13
    (KIP-516 — id-addressed entries carry name=None + the id in
    ``topic_ids``). Session fields and forgotten topics (v7+, KIP-227)
    are surfaced on the request for handle_fetch's session cache."""
    import struct

    v = struct.unpack(">h", payload[2:4])[0]
    flex = v >= 12
    r = wire.Reader(payload)
    h = wire.decode_request_header(r, flexible=flex)
    rd_len = r.compact_array_len if flex else r.int32
    rd_str = r.compact_string if flex else r.nullable_string
    r.int32()  # replica_id
    max_wait = r.int32()
    min_bytes = r.int32()
    max_bytes = r.int32()
    isolation = r.int8()
    session_id, session_epoch = 0, -1
    if v >= 7:
        session_id = r.int32()
        session_epoch = r.int32()
    topics = []
    topic_ids: list[bytes | None] = []
    for _ in range(max(rd_len(), 0)):
        if v >= 13:
            name, tid = None, r.uuid()
        else:
            name, tid = rd_str(), None
        parts = []
        for _ in range(max(rd_len(), 0)):
            idx = r.int32()
            if v >= 9:
                r.int32()  # current_leader_epoch
            off = r.int64()
            if v >= 5:
                r.int64()  # log_start_offset (follower-only)
            parts.append(FetchPartition(idx, off, r.int32()))
            if flex:
                r.tagged_fields()
        if flex:
            r.tagged_fields()
        topics.append((name, parts))
        topic_ids.append(tid)
    forgotten: list[tuple[str | None, bytes | None, list[int]]] = []
    if v >= 7:
        for _ in range(max(rd_len(), 0)):  # forgotten_topics_data
            if v >= 13:
                fname, ftid = None, r.uuid()
            else:
                fname, ftid = rd_str(), None
            fparts = [r.int32() for _ in range(max(rd_len(), 0))]
            if flex:
                r.tagged_fields()
            forgotten.append((fname, ftid, fparts))
    if v >= 11 and r.pos < len(r.buf):
        rd_str()  # rack_id
    if flex and r.pos < len(r.buf):
        r.tagged_fields()
    req = FetchRequest(h, max_wait, min_bytes, max_bytes, topics, isolation)
    req.topic_ids = topic_ids
    req.session_id = session_id
    req.session_epoch = session_epoch
    req.forgotten = forgotten
    return req


def encode_fetch_response(
    correlation_id: int,
    results: list[tuple],
    # topic -> [(idx, err, high_watermark[, log_start], record_batch_bytes)]
    api_version: int = 4,
    session_id: int = 0,
    error_code: int = 0,
    throttle_ms: int = 0,
) -> bytes:
    """FetchResponse v4-v13: v5+ adds per-partition log_start_offset,
    v7+ adds top-level error_code + session_id (0 = sessionless),
    v11+ adds preferred_read_replica, v12+ is flexible, v13 addresses
    topics by uuid (``results`` entries may carry the id as a third
    element)."""
    flex = api_version >= 12
    w = wire.Writer()
    w.int32(correlation_id)
    if flex:
        w.empty_tagged_fields()  # response header v1
    w.int32(throttle_ms)  # throttle: client quota backoff (protocol/quotas.py)
    if api_version >= 7:
        w.int16(error_code)
        w.int32(session_id)  # 0 = sessionless
    w.compact_array_len(len(results)) if flex else w.int32(len(results))
    for result in results:
        name, parts = result[0], result[1]
        if api_version >= 13:
            tid = result[2] if len(result) > 2 and result[2] else wire.topic_uuid(name or "")
            w.uuid(tid)
        else:
            w.compact_string(name) if flex else w.nullable_string(name)
        w.compact_array_len(len(parts)) if flex else w.int32(len(parts))
        for entry in parts:
            if len(entry) == 5:
                idx, err, hw, log_start, batch = entry
            else:
                (idx, err, hw, batch), log_start = entry, 0
            w.int32(idx).int16(err).int64(hw)
            w.int64(hw)  # last_stable_offset
            if api_version >= 5:
                w.int64(log_start)
            w.compact_array_len(0) if flex else w.int32(0)  # aborted txns
            if api_version >= 11:
                w.int32(-1)  # preferred_read_replica
            w.compact_bytes(batch) if flex else w.nullable_bytes(batch)
            if flex:
                w.empty_tagged_fields()
        if flex:
            w.empty_tagged_fields()
    if flex:
        w.empty_tagged_fields()
    return w.bytes()


def decode_fetch_response(payload: bytes, api_version: int = 4):
    flex = api_version >= 12
    r = wire.Reader(payload)
    corr = r.int32()
    if flex:
        r.tagged_fields()
    r.int32()  # throttle
    if api_version >= 7:
        r.int16()  # error_code
        r.int32()  # session_id
    rd_len = r.compact_array_len if flex else r.int32
    out = []
    for _ in range(max(rd_len(), 0)):
        if api_version >= 13:
            name = r.uuid()  # id-addressed: callers map back via topic_uuid
        else:
            name = r.compact_string() if flex else r.nullable_string()
        parts = []
        for _ in range(max(rd_len(), 0)):
            idx = r.int32()
            err = r.int16()
            hw = r.int64()
            r.int64()  # lso
            if api_version >= 5:
                r.int64()  # log_start_offset
            for _ in range(max(rd_len(), 0)):
                r.int64(), r.int64()  # aborted txns (none expected)
                if flex:
                    r.tagged_fields()
            if api_version >= 11:
                r.int32()  # preferred_read_replica
            batch = r.compact_bytes() if flex else r.nullable_bytes()
            if flex:
                r.tagged_fields()
            parts.append((idx, err, hw, batch))
        if flex:
            r.tagged_fields()
        out.append((name, parts))
    return corr, out


# ------------------------------------------------------ handlers


def handle_produce(log: WireLog, payload: bytes, authorize=None, throttle_ms: int = 0) -> bytes:
    req = decode_produce_request(payload)
    results = []
    for name, parts in req.topics:
        part_results = []
        if authorize is not None and not authorize("WRITE", "TOPIC", name):
            # per-topic authorization failure (error 29), same placement
            # as a real broker: other topics in the request proceed
            results.append(
                (name, [(p.index, 29, -1) for p in parts])
            )
            continue
        for p in parts:
            if not log.has(name, p.index):
                part_results.append((p.index, wire.ERR_UNKNOWN_TOPIC_OR_PARTITION, -1))
                continue
            if p.batch is None:
                part_results.append((p.index, wire.ERR_CORRUPT_MESSAGE, -1))
                continue
            try:
                _base, records, batch_end = decode_record_batch(p.batch)
                if batch_end > len(p.batch):
                    raise ValueError("record batch longer than the bytes sent")
                pid, epoch, base_seq, n_recs, transactional = batch_producer_info(p.batch)
            except (
                ValueError,
                IndexError,
                KeyError,
                MemoryError,
                OSError,
                struct.error,
                UnicodeDecodeError,
            ):
                # MemoryError/OSError: a crafted compressed block can
                # still make a codec over-allocate or fail mid-stream.
                # struct.error: a truncated batch fails unpack_from
                # (fuzz-found: ~12% of random mutations escaped the old
                # tuple and killed the whole request instead of erroring
                # the one partition). UnicodeDecodeError: garbage header
                # keys. All corrupt input, not a broker crash — the
                # partition gets CORRUPT_MESSAGE, the rest of the
                # request proceeds, as a real broker answers.
                part_results.append((p.index, wire.ERR_CORRUPT_MESSAGE, -1))
                continue
            if batch_end != len(p.batch):
                # a second batch or trailing bytes: Produce v3+ takes
                # exactly one batch per partition, so the whole
                # partition is refused rather than silently truncated
                part_results.append((p.index, wire.ERR_INVALID_RECORD, -1))
                continue
            if transactional and log.producer_epoch(pid) != epoch:
                # zombie fencing: a newer instance of this logical
                # producer has initialized since this one did
                part_results.append((p.index, ERR_INVALID_PRODUCER_EPOCH, -1))
                continue
            if (
                not transactional
                and pid >= 0
                and epoch < log._idempotent_epochs.get(pid, 0)
            ):
                # KIP-360 fencing for idempotent producers: an epoch
                # bump resets the pid's sequence history, so a stale
                # pre-bump retry MUST be rejected here — otherwise the
                # wiped dedup state would let the duplicate re-append
                part_results.append((p.index, ERR_INVALID_PRODUCER_EPOCH, -1))
                continue
            if pid >= 0 and base_seq >= 0:
                verdict, dup_base = log.check_sequence(
                    name, p.index, pid, epoch, base_seq, len(records)
                )
                if verdict == "duplicate":
                    # idempotent retry: acknowledge the ORIGINAL offset,
                    # append nothing (exactly-once produce)
                    part_results.append(
                        (p.index, wire.ERR_NONE, dup_base, log.log_start(name, p.index))
                    )
                    continue
                if verdict == "out_of_order":
                    part_results.append(
                        (p.index, ERR_OUT_OF_ORDER_SEQUENCE, -1)
                    )
                    continue
            base = log.append(name, p.index, _Produced(records, p.batch))
            if pid >= 0 and base_seq >= 0:
                log.record_sequence(name, p.index, pid, epoch, base_seq, len(records), base)
            if transactional:
                log.note_transactional_append(name, p.index, pid, base, len(records))
            part_results.append((p.index, wire.ERR_NONE, base, log.log_start(name, p.index)))
        results.append((name, part_results))
    return encode_produce_response(
        req.header.correlation_id,
        results,
        api_version=req.header.api_version,
        throttle_ms=throttle_ms,
    )


# ------------------------------------------- KIP-227 fetch sessions


@dataclass
class FetchSession:
    """Server-side state of one incremental fetch session: the full
    partition interest set plus what the last response told the client
    (so unchanged partitions can be omitted)."""

    epoch: int = 1
    # (topic, partition) → FetchPartition (latest fetch offset the
    # client declared; insertion-ordered = client's add order)
    partitions: dict[tuple[str, int], FetchPartition] = None  # type: ignore[assignment]
    # (topic, partition) → (hw, log_start) as of the last response
    last_sent: dict[tuple[str, int], tuple[int, int]] = None  # type: ignore[assignment]

    def __post_init__(self):
        self.partitions = self.partitions or {}
        self.last_sent = self.last_sent or {}


class FetchSessionCache:
    """Bounded session cache (Kafka's max.incremental.fetch.session.
    cache.slots analog): FIFO-evicts the oldest session at the cap —
    an evicted client gets FETCH_SESSION_ID_NOT_FOUND and retries with
    a full fetch, the KIP-227 recovery contract."""

    def __init__(self, max_sessions: int = 1000):
        self.sessions: dict[int, FetchSession] = {}
        self._next_id = 1
        self.max_sessions = max_sessions

    def create(self) -> tuple[int, FetchSession]:
        sid = self._next_id
        self._next_id += 1
        sess = FetchSession()
        self.sessions[sid] = sess
        while len(self.sessions) > self.max_sessions:
            self.sessions.pop(next(iter(self.sessions)))
        return sid, sess


ERR_FETCH_SESSION_ID_NOT_FOUND = 70
ERR_INVALID_FETCH_SESSION_EPOCH = 71


def _read_partition(log: WireLog, name, p, isolation_level, max_records):
    """One partition's fetch result tuple (idx, err, hw, log_start, batch)."""
    if not log.has(name, p.index):
        return (p.index, wire.ERR_UNKNOWN_TOPIC_OR_PARTITION, -1, None)
    committed_only = isolation_level == 1
    # read_committed consumers see the log only up to the LSO
    hw = (
        log.last_stable_offset(name, p.index)
        if committed_only
        else log.high_watermark(name, p.index)
    )
    if p.fetch_offset > hw or p.fetch_offset < log.log_start(name, p.index):
        # below the log start (truncated away) or past the end:
        # OFFSET_OUT_OF_RANGE, per the Kafka fetch contract
        return (p.index, wire.ERR_OFFSET_OUT_OF_RANGE, hw, None)
    if committed_only:
        recs = log.read_committed(name, p.index, p.fetch_offset, max_records)
        batch = encode_record_batch(recs, base_offset=recs[0].offset) if recs else None
    else:
        batch = log.read_batches(name, p.index, p.fetch_offset, max_records) or None
    return (p.index, wire.ERR_NONE, hw, log.log_start(name, p.index), batch)


def handle_fetch(log: WireLog, payload: bytes, max_records_per_partition: int = 1000, authorize=None, throttle_ms: int = 0) -> bytes:
    """Fetch v4-v13 with KIP-227 incremental sessions (v7+).

    session_epoch -1 → sessionless full fetch (session_id 0 in the
    response). epoch 0 → full fetch that ESTABLISHES a session: the
    request's partition set is cached and a fresh session_id returned.
    epoch ≥ 1 → incremental: the request carries only partitions to
    add/update plus forgotten ones to drop; the broker evaluates its
    CACHED interest set and the response includes only partitions with
    an error, available records, or a changed hw/log-start since the
    last response — the constant-size steady-state fetch that lets a
    10k-partition consumer poll cheaply at scale."""
    req = decode_fetch_request(payload)
    v = req.header.api_version
    # v13 id-addressed topics: resolve uuid → name (ids are the
    # deterministic md5 of the name, so the catalog IS the index)
    by_id = {wire.topic_uuid(t): t for t in log.topics}
    ids = req.topic_ids or [None] * len(req.topics)

    # resolve requested (name, parts); unknown v13 ids error immediately
    resolved: list[tuple[str, list[FetchPartition]]] = []
    id_errors = []
    for (name, parts), tid in zip(req.topics, ids):
        if name is None and tid is not None:
            name = by_id.get(tid)
            if name is None:
                id_errors.append(
                    ("", [(p.index, wire.ERR_UNKNOWN_TOPIC_ID, -1, None) for p in parts], tid)
                )
                continue
        resolved.append((name, parts))

    sess: FetchSession | None = None
    session_id = 0
    top_err = wire.ERR_NONE
    if v >= 7 and req.session_epoch == 0:
        session_id, sess = log.fetch_sessions.create()
        for name, parts in resolved:
            for p in parts:
                sess.partitions[(name, p.index)] = p
    elif v >= 7 and req.session_epoch >= 1:
        sess = log.fetch_sessions.sessions.get(req.session_id)
        if sess is None:
            top_err = ERR_FETCH_SESSION_ID_NOT_FOUND
        elif req.session_epoch != sess.epoch:
            top_err, sess = ERR_INVALID_FETCH_SESSION_EPOCH, None
        else:
            session_id = req.session_id
            # merge: add/update requested partitions, drop forgotten
            for name, parts in resolved:
                for p in parts:
                    sess.partitions[(name, p.index)] = p
            for fname, ftid, fparts in req.forgotten or []:
                if fname is None and ftid is not None:
                    fname = by_id.get(ftid)
                if fname is None:
                    # the uuid no longer resolves — the topic was
                    # deleted between fetches. Purge every dead-topic
                    # entry so the session stops re-erroring on them.
                    for key in [
                        k for k in sess.partitions if k[0] not in log.topics
                    ]:
                        sess.partitions.pop(key, None)
                        sess.last_sent.pop(key, None)
                    continue
                for idx in fparts:
                    sess.partitions.pop((fname, idx), None)
                    sess.last_sent.pop((fname, idx), None)
        if top_err != wire.ERR_NONE:
            return encode_fetch_response(
                req.header.correlation_id,
                [],
                api_version=v,
                session_id=0,
                error_code=top_err,
            )

    incremental = sess is not None and req.session_epoch >= 1
    if incremental:
        # evaluate the CACHED interest set, grouped per topic in the
        # client's add order
        grouped: dict[str, list[FetchPartition]] = {}
        for (name, _idx), p in sess.partitions.items():
            grouped.setdefault(name, []).append(p)
        work = list(grouped.items())
    else:
        work = resolved

    results = list(id_errors)
    for name, parts in work:
        part_results = []
        if authorize is not None and not authorize("READ", "TOPIC", name):
            # per-topic TOPIC_AUTHORIZATION_FAILED (29), like a real broker
            results.append((name, [(p.index, 29, -1, None) for p in parts]))
            continue
        for p in parts:
            entry = _read_partition(log, name, p, req.isolation_level, max_records_per_partition)
            if incremental:
                # omit unchanged partitions: no error, no records, and
                # the same hw/log-start the client already saw
                err, hw = entry[1], entry[2]
                log_start = entry[3] if len(entry) == 5 else -1
                batch = entry[4] if len(entry) == 5 else entry[3]
                if (
                    err == wire.ERR_NONE
                    and batch is None
                    and sess.last_sent.get((name, p.index)) == (hw, log_start)
                ):
                    continue
                sess.last_sent[(name, p.index)] = (hw, log_start)
            elif sess is not None and len(entry) == 5:
                sess.last_sent[(name, p.index)] = (entry[2], entry[3])
            part_results.append(entry)
        if part_results or not incremental:
            results.append((name, part_results))
    if sess is not None:
        # next expected epoch = this request's epoch + 1 (the establish
        # request carries epoch 0, so its follow-up must send 1)
        sess.epoch = req.session_epoch + 1
    return encode_fetch_response(
        req.header.correlation_id,
        results,
        api_version=v,
        throttle_ms=throttle_ms,
        session_id=session_id,
    )


# ------------------------------------------------------ InitProducerId v0-v1


def handle_init_producer_id(log: WireLog, payload: bytes) -> bytes:
    """InitProducerId (API key 22, v0-v4; flexible from v2): allocate a
    producer id for idempotent produce; a transactional id maps to a
    stable pid with an epoch bump per re-init (zombie fencing). v3+
    carries the CURRENT (producer_id, producer_epoch) per KIP-360: an
    idempotent producer hitting a recoverable OUT_OF_ORDER error keeps
    its pid and gets a bumped epoch instead of a fresh id (sequence
    state resets without losing the id space)."""
    import struct as _struct

    v = _struct.unpack(">h", payload[2:4])[0]
    flex = v >= 2
    r = wire.Reader(payload)
    h = wire.decode_request_header(r, flexible=flex)
    tid = r.compact_string() if flex else r.nullable_string()
    r.int32()  # transaction_timeout_ms
    cur_pid, cur_epoch = -1, -1
    if v >= 3:
        cur_pid = r.int64()
        cur_epoch = r.int16()
    if tid is None and cur_pid >= 0:
        pid, epoch = log.bump_idempotent_epoch(cur_pid)
    else:
        pid, epoch = log.init_producer_id(tid)
    w = wire.Writer()
    w.int32(h.correlation_id)
    if flex:
        w.empty_tagged_fields()  # response header v1
    w.int32(0)  # throttle_time_ms
    w.int16(wire.ERR_NONE)
    w.int64(pid)
    w.int16(epoch)
    if flex:
        w.empty_tagged_fields()
    return w.bytes()


# ------------------------------------------------------ transactions (24/26)


def handle_add_partitions_to_txn(log: WireLog, payload: bytes) -> bytes:
    """AddPartitionsToTxn (API key 24, v0-v5): register the partitions
    the next transactional batches will touch. Schema-identical v0-v2,
    flexible at v3; v4-v5 (KIP-890) switch to a BATCHED request — a
    transactions array, each entry carrying its own
    (transactional_id, pid, epoch, verify_only, topics) — with a
    nested per-transaction response and a top-level error code.
    verify_only=true performs broker-side verification: succeed only
    for partitions ALREADY in the open transaction (the hanging-
    transaction defense), never adding anything."""
    import struct as _struct

    v = _struct.unpack(">h", payload[2:4])[0]
    flex = v >= 3
    r = wire.Reader(payload)
    h = wire.decode_request_header(r, flexible=flex)
    rd_str = r.compact_string if flex else r.nullable_string
    rd_len = r.compact_array_len if flex else r.int32

    if v >= 4:
        txns = []
        for _ in range(max(r.compact_array_len(), 0)):
            tid = r.compact_string() or ""
            pid = r.int64()
            epoch = r.int16()
            verify_only = r.bool_()
            topics = []
            for _ in range(max(r.compact_array_len(), 0)):
                name = r.compact_string()
                parts = [r.int32() for _ in range(max(r.compact_array_len(), 0))]
                r.tagged_fields()
                topics.append((name, parts))
            r.tagged_fields()
            txns.append((tid, pid, epoch, verify_only, topics))
        r.tagged_fields()
        w = wire.Writer()
        w.int32(h.correlation_id)
        w.empty_tagged_fields()  # response header v1
        w.int32(0)  # throttle_time_ms
        w.int16(wire.ERR_NONE)  # top-level error
        w.compact_array_len(len(txns))
        for tid, pid, epoch, verify_only, topics in txns:
            w.compact_string(tid)
            w.compact_array_len(len(topics))
            for name, parts in topics:
                w.compact_string(name)
                w.compact_array_len(len(parts))
                for partition in parts:
                    if verify_only:
                        err = log.verify_partition_in_txn(pid, epoch, name, partition)
                    else:
                        err = log.add_partition_to_txn(pid, epoch, name, partition)
                    w.int32(partition).int16(err)
                    w.empty_tagged_fields()
                w.empty_tagged_fields()
            w.empty_tagged_fields()
        w.empty_tagged_fields()
        return w.bytes()

    rd_str()  # transactional_id (pid identifies the txn here)
    pid = r.int64()
    epoch = r.int16()
    results = []
    for _ in range(max(rd_len(), 0)):
        name = rd_str()
        parts = []
        for _ in range(max(rd_len(), 0)):
            partition = r.int32()
            err = log.add_partition_to_txn(pid, epoch, name, partition)
            parts.append((partition, err))
        if flex:
            r.tagged_fields()
        results.append((name, parts))
    w = wire.Writer()
    w.int32(h.correlation_id)
    if flex:
        w.empty_tagged_fields()  # response header v1
    w.int32(0)  # throttle_time_ms
    w.compact_array_len(len(results)) if flex else w.int32(len(results))
    for name, parts in results:
        w.compact_string(name) if flex else w.nullable_string(name)
        w.compact_array_len(len(parts)) if flex else w.int32(len(parts))
        for partition, err in parts:
            w.int32(partition).int16(err)
            if flex:
                w.empty_tagged_fields()
        if flex:
            w.empty_tagged_fields()
    if flex:
        w.empty_tagged_fields()
    return w.bytes()


def handle_end_txn(log: WireLog, payload: bytes, group_store=None) -> bytes:
    """EndTxn (API key 26, v0-v5): commit or abort the open
    transaction. Schema-identical through v2, flexible at v3; v4-v5
    (KIP-890) bump the producer epoch on every completed transaction —
    the response returns the (producer_id, producer_epoch) the client
    must use next, so a zombie writing under the pre-bump epoch is
    fenced by construction (v0-v3 respond with -1/-1 placeholders
    omitted entirely). Offsets staged via TxnOffsetCommit are applied
    to ``group_store`` on commit — atomically with record visibility,
    the EOS contract."""
    import struct as _struct

    v = _struct.unpack(">h", payload[2:4])[0]
    flex = v >= 3
    r = wire.Reader(payload)
    h = wire.decode_request_header(r, flexible=flex)
    tid = (r.compact_string if flex else r.nullable_string)()
    pid = r.int64()
    epoch = r.int16()
    committed = r.bool_()
    err, staged = log.end_txn_with_offsets(pid, epoch, committed)
    if err == wire.ERR_NONE and group_store is not None:
        for (group, topic, partition), offset in sorted(staged.items()):
            group_store.commit(group, topic, partition, offset)
    new_pid, new_epoch = pid, epoch
    if v >= 4 and err == wire.ERR_NONE and tid in log._tids:
        new_pid, new_epoch = log.bump_epoch_for_tid(tid)
    w = wire.Writer()
    w.int32(h.correlation_id)
    if flex:
        w.empty_tagged_fields()  # response header v1
    w.int32(0)  # throttle_time_ms
    w.int16(err)
    if v >= 4:
        w.int64(new_pid if err == wire.ERR_NONE else -1)
        w.int16(new_epoch if err == wire.ERR_NONE else -1)
    if flex:
        w.empty_tagged_fields()
    return w.bytes()


def handle_add_offsets_to_txn(log: WireLog, payload: bytes) -> bytes:
    """AddOffsetsToTxn (API key 25, v0-v3): declare the consumer group
    whose offsets the transaction will commit — the EOS handshake's
    first half. Schema-identical v0-v2, flexible at v3. Response:
    throttle + error code."""
    import struct as _struct

    v = _struct.unpack(">h", payload[2:4])[0]
    flex = v >= 3
    r = wire.Reader(payload)
    h = wire.decode_request_header(r, flexible=flex)
    rd_str = r.compact_string if flex else r.nullable_string
    rd_str()  # transactional_id (pid identifies the txn here)
    pid = r.int64()
    epoch = r.int16()
    group = rd_str() or ""
    err = log.add_offsets_to_txn(pid, epoch, group)
    w = wire.Writer()
    w.int32(h.correlation_id)
    if flex:
        w.empty_tagged_fields()  # response header v1
    w.int32(0)  # throttle_time_ms
    w.int16(err)
    if flex:
        w.empty_tagged_fields()
    return w.bytes()


def handle_txn_offset_commit(log: WireLog, payload: bytes) -> bytes:
    """TxnOffsetCommit (API key 28, v0-v3): stage per-partition
    consumer offsets inside the open transaction. v2 adds the
    committed_leader_epoch field; v3 goes flexible and adds the group
    generation/member fields (decoded, not enforced — this coordinator
    fences by producer epoch, the transactional half of the contract).
    Offsets become visible only when EndTxn commits."""
    import struct as _struct

    v = _struct.unpack(">h", payload[2:4])[0]
    flex = v >= 3
    r = wire.Reader(payload)
    h = wire.decode_request_header(r, flexible=flex)
    rd_str = r.compact_string if flex else r.nullable_string
    rd_len = r.compact_array_len if flex else r.int32
    rd_str()  # transactional_id
    group = rd_str() or ""
    pid = r.int64()
    epoch = r.int16()
    if v >= 3:
        r.int32()  # generation_id
        r.compact_string()  # member_id
        r.compact_string()  # group_instance_id (nullable)
    results = []
    for _ in range(max(rd_len(), 0)):
        name = rd_str() or ""
        parts = []
        for _ in range(max(rd_len(), 0)):
            partition = r.int32()
            offset = r.int64()
            if v >= 2:
                r.int32()  # committed_leader_epoch
            rd_str()  # metadata
            if flex:
                r.tagged_fields()
            err = log.txn_offset_commit(pid, epoch, group, name, partition, offset)
            parts.append((partition, err))
        if flex:
            r.tagged_fields()
        results.append((name, parts))
    w = wire.Writer()
    w.int32(h.correlation_id)
    if flex:
        w.empty_tagged_fields()  # response header v1
    w.int32(0)  # throttle_time_ms
    w.compact_array_len(len(results)) if flex else w.int32(len(results))
    for name, parts in results:
        w.compact_string(name) if flex else w.nullable_string(name)
        w.compact_array_len(len(parts)) if flex else w.int32(len(parts))
        for partition, err in parts:
            w.int32(partition).int16(err)
            if flex:
                w.empty_tagged_fields()
        if flex:
            w.empty_tagged_fields()
    if flex:
        w.empty_tagged_fields()
    return w.bytes()


# ------------------------------------------ txn admin (k61 / k65 / k66)

LIST_TRANSACTIONS_KEY = 66
DESCRIBE_TRANSACTIONS_KEY = 65
DESCRIBE_PRODUCERS_KEY = 61


def handle_describe_producers(log: WireLog, payload: bytes) -> bytes:
    """DescribeProducers (key 61, v0 — flexible-only, KIP-664): the
    per-partition active-producer inventory the admin client uses to
    find hanging transactions. For each requested (topic, partition):
    every producer id with idempotent sequence state there, its
    epoch, last base sequence, and — if it holds an open transaction
    touching the partition — the txn's first offset there (-1 when the
    txn has declared the partition but written nothing yet, matching
    the unknown-start contract)."""
    r = wire.Reader(payload)
    h = wire.decode_request_header(r, flexible=True)
    topics = []
    for _ in range(max(r.compact_array_len(), 0)):
        name = r.compact_string() or ""
        parts = [r.int32() for _ in range(max(r.compact_array_len(), 0))]
        r.tagged_fields()
        topics.append((name, parts))
    r.tagged_fields()
    w = wire.Writer()
    w.int32(h.correlation_id)
    w.empty_tagged_fields()
    w.int32(0)  # throttle
    w.compact_array_len(len(topics))
    for name, parts in topics:
        w.compact_string(name)
        w.compact_array_len(len(parts))
        for partition in parts:
            w.int32(partition)
            if not log.has(name, partition):
                w.int16(wire.ERR_UNKNOWN_TOPIC_OR_PARTITION)
                w.compact_string(f"unknown partition {name}/{partition}")
                w.compact_array_len(0)
                w.empty_tagged_fields()
                continue
            def pid_epoch(pid: int) -> int:
                # transactional pids track epochs in _tids; plain
                # idempotent pids in the KIP-360 fencing floor (the
                # lowest currently-acceptable epoch — exact after any
                # bump, 0 for a never-bumped producer)
                e = log.producer_epoch(pid)
                return e if e >= 0 else log._idempotent_epochs.get(pid, 0)

            producers = []
            for (t, p, pid), (_ep, base_seq, n, _off) in log._producer_seqs.items():
                if (t, p) != (name, partition):
                    continue
                ranges = log._open_txns.get(pid, {}).get((name, partition))
                producers.append(
                    (pid, pid_epoch(pid), base_seq + n - 1,
                     ranges[0][0] if ranges else -1)
                )
            # a txn can DECLARE a partition before writing to it — it
            # must still show up (that is the hanging-txn case)
            seen = {pid for pid, *_ in producers}
            for pid, txn in log._open_txns.items():
                if (name, partition) in txn and pid not in seen:
                    ranges = txn[(name, partition)]
                    producers.append(
                        (pid, pid_epoch(pid), -1, ranges[0][0] if ranges else -1)
                    )
            w.int16(wire.ERR_NONE)
            w.compact_string(None)  # error_message
            w.compact_array_len(len(producers))
            for pid, epoch, last_seq, txn_start in sorted(producers):
                w.int64(pid)
                w.int32(epoch)  # producer_epoch is int32 in this schema
                w.int32(last_seq)
                w.int64(-1)  # last_timestamp (not tracked)
                w.int32(-1)  # coordinator_epoch
                w.int64(txn_start)
                w.empty_tagged_fields()
            w.empty_tagged_fields()
        w.empty_tagged_fields()
    w.empty_tagged_fields()
    return w.bytes()


def _txn_state(log: WireLog, tid: str) -> str:
    """'Ongoing' when the tid's pid holds an open transaction with at
    least one declared partition, else 'Empty' — the two states this
    single-broker coordinator can actually be in (no two-phase
    PrepareCommit/PrepareAbort window: EndTxn resolves synchronously)."""
    pid, _ = log._tids[tid]
    return "Ongoing" if log._open_txns.get(pid) else "Empty"


def handle_list_transactions(log: WireLog, payload: bytes) -> bytes:
    """ListTransactions (key 66, v0 — flexible-only): enumerate known
    transactional ids with state filtering, the admin-client's
    transaction inventory call."""
    r = wire.Reader(payload)
    h = wire.decode_request_header(r, flexible=True)
    n = r.compact_array_len()
    state_filters = {r.compact_string() for _ in range(max(n, 0))}
    n = r.compact_array_len()
    pid_filters = {r.int64() for _ in range(max(n, 0))}
    w = wire.Writer()
    w.int32(h.correlation_id)
    w.empty_tagged_fields()
    w.int32(0)  # throttle
    w.int16(wire.ERR_NONE)
    w.compact_array_len(0)  # unknown_state_filters (all are known names)
    states = [
        (tid, pid, _txn_state(log, tid))
        for tid, (pid, _e) in sorted(log._tids.items())
        if (not state_filters or _txn_state(log, tid) in state_filters)
        and (not pid_filters or pid in pid_filters)
    ]
    w.compact_array_len(len(states))
    for tid, pid, state in states:
        w.compact_string(tid)
        w.int64(pid)
        w.compact_string(state)
        w.empty_tagged_fields()
    w.empty_tagged_fields()
    return w.bytes()


def handle_describe_transactions(log: WireLog, payload: bytes) -> bytes:
    """DescribeTransactions (key 65, v0 — flexible-only): per-tid state
    incl. the partition set of the open transaction. Unknown tids get
    TRANSACTIONAL_ID_NOT_FOUND (error 105)."""
    ERR_TRANSACTIONAL_ID_NOT_FOUND = 105
    r = wire.Reader(payload)
    h = wire.decode_request_header(r, flexible=True)
    n = r.compact_array_len()
    tids = [r.compact_string() or "" for _ in range(max(n, 0))]
    w = wire.Writer()
    w.int32(h.correlation_id)
    w.empty_tagged_fields()
    w.int32(0)  # throttle
    w.compact_array_len(len(tids))
    for tid in tids:
        known = tid in log._tids
        w.int16(wire.ERR_NONE if known else ERR_TRANSACTIONAL_ID_NOT_FOUND)
        w.compact_string(tid)
        if known:
            pid, epoch = log._tids[tid]
            w.compact_string(_txn_state(log, tid))
            w.int32(60000)  # transaction_timeout_ms (static default)
            w.int64(-1)  # transaction_start_time_ms (not tracked)
            w.int64(pid)
            w.int16(epoch)
            parts: dict[str, list[int]] = {}
            for (t, p) in log._open_txns.get(pid, {}):
                parts.setdefault(t, []).append(p)
            w.compact_array_len(len(parts))
            for t in sorted(parts):
                w.compact_string(t)
                w.compact_array_len(len(parts[t]))
                for p in sorted(parts[t]):
                    w.int32(p)
                w.empty_tagged_fields()
        else:
            w.compact_string("")  # state
            w.int32(0)
            w.int64(-1)
            w.int64(-1)
            w.int16(-1)
            w.compact_array_len(0)
        w.empty_tagged_fields()
    w.empty_tagged_fields()
    return w.bytes()


def handle_write_txn_markers(log: WireLog, payload: bytes, group_store=None) -> bytes:
    """WriteTxnMarkers (key 27, v0-v1; flexible from v1). The
    coordinator→leader marker write that completes a transaction at
    each partition — and the API `kafka-transactions abort` uses to
    kill a HANGING transaction by writing an abort marker directly.
    Single-binary semantics: the first marker for an open (pid,
    epoch) completes the whole transaction through the same
    `end_txn_with_offsets` path EndTxn uses (abort joins the
    read_committed filter ranges); every listed partition then
    answers NONE. A marker for a pid with no open transaction is the
    idempotent re-delivery case — NONE, matching the broker's
    at-least-once marker contract; a stale epoch answers
    INVALID_PRODUCER_EPOCH per partition. Offsets staged via
    TxnOffsetCommit are applied to ``group_store`` on a COMMIT marker
    exactly as the EndTxn path does — both completion routes keep the
    EOS commit atomic (ADVICE r8)."""
    import struct as _struct

    v = _struct.unpack(">h", payload[2:4])[0]
    flex = v >= 1
    r = wire.Reader(payload)
    h = wire.decode_request_header(r, flexible=flex)
    rd_str = r.compact_string if flex else r.nullable_string
    rd_len = r.compact_array_len if flex else r.int32
    markers = []
    for _ in range(max(rd_len(), 0)):
        pid = r.int64()
        epoch = r.int16()
        commit = r.bool_()
        topics = []
        for _ in range(max(rd_len(), 0)):
            name = rd_str()
            parts = [r.int32() for _ in range(max(rd_len(), 0))]
            if flex:
                r.tagged_fields()
            topics.append((name, parts))
        r.int32()  # coordinator_epoch
        if flex:
            r.tagged_fields()
        markers.append((pid, epoch, commit, topics))

    results = []
    for pid, epoch, commit, topics in markers:
        if log.producer_epoch(pid) != epoch:
            per_err = ERR_INVALID_PRODUCER_EPOCH
        else:
            err, staged = log.end_txn_with_offsets(pid, epoch, commit)
            if err == wire.ERR_NONE and group_store is not None:
                for (group, topic, partition), offset in sorted(staged.items()):
                    group_store.commit(group, topic, partition, offset)
            # no open txn = marker re-delivery: idempotent NONE
            per_err = wire.ERR_NONE if err in (wire.ERR_NONE, ERR_INVALID_TXN_STATE) else err
        results.append((pid, per_err, topics))

    w = wire.Writer()
    w.int32(h.correlation_id)
    if flex:
        w.empty_tagged_fields()
    (w.compact_array_len if flex else w.int32)(len(results))
    wr_str = w.compact_string if flex else w.nullable_string
    for pid, per_err, topics in results:
        w.int64(pid)
        (w.compact_array_len if flex else w.int32)(len(topics))
        for name, parts in topics:
            wr_str(name)
            (w.compact_array_len if flex else w.int32)(len(parts))
            for p in parts:
                w.int32(p)
                w.int16(
                    per_err
                    if log.has(name, p)
                    else wire.ERR_UNKNOWN_TOPIC_OR_PARTITION
                )
                if flex:
                    w.empty_tagged_fields()
            if flex:
                w.empty_tagged_fields()
        if flex:
            w.empty_tagged_fields()
    if flex:
        w.empty_tagged_fields()
    return w.bytes()

"""Model-based fuzz, round 13 part 2: the remaining stateful protocol
planes the r13 campaign (test_protocol_model_fuzz.py) did not cover.

Campaign C — CLASSIC group coordinator (JoinGroup/SyncGroup/Heartbeat/
LeaveGroup, `protocol/coordinator.py`): N simulated members interleave
v0 single-step joins, the v4 MEMBER_ID_REQUIRED two-step dance,
leader/follower syncs (legal and at stale generations), heartbeats,
leaves, and session-expiry clock jumps. After every step the
coordinator's internal state (members, generation, pending set,
assignments) is compared against an independent model that applies the
documented semantics, and error codes must match the model's
prediction exactly. Each seed ends with a quiescence phase: everyone
rejoins, the leader distributes an assignment, every member fetches
exactly the bytes the leader pushed, and heartbeats are NONE.

Campaign F — KIP-227 incremental fetch sessions
(`protocol/broker.py::handle_fetch`): N clients with overlapping
interest sets interleave session establishment, honest incremental
fetches, partition add/forget, wrong-epoch and unknown-session errors
(recovering via the full-fetch contract), sessionless fetches, live
appends, and cache eviction at a tiny slot cap. Invariants: every
record a client receives is exactly the log's content at the declared
offset (no gaps, no reordering, byte-identical values), the
unchanged-partition omission never suppresses NEW data (progress), and
after a final drain every client's accumulated stream per partition
equals the log slice from its start offset with no duplicates.
"""

from __future__ import annotations

import random

import pytest

from kcore_spark.protocol import wire
from kcore_spark.protocol.broker import (
    ERR_FETCH_SESSION_ID_NOT_FOUND,
    ERR_INVALID_FETCH_SESSION_EPOCH,
    Record,
    WireLog,
    handle_fetch,
)
from kcore_spark.protocol.coordinator import (
    ERR_GROUP_ID_NOT_FOUND,
    ERR_ILLEGAL_GENERATION,
    ERR_MEMBER_ID_REQUIRED,
    ERR_UNKNOWN_MEMBER_ID,
    Coordinator,
)
from kcore_spark.protocol.records import decode_all_batches

# ======================================================= campaign C


class CClock:
    def __init__(self):
        self.now = 500.0

    def __call__(self):
        return self.now


def _c_join(coord, group, member_id="", version=0, session_timeout=30_000):
    w = wire.Writer()
    w.int16(wire.JOIN_GROUP_KEY).int16(version).int32(61)
    w.nullable_string("c")
    w.nullable_string(group)
    w.int32(session_timeout)
    if version >= 1:
        w.int32(60_000)  # rebalance_timeout_ms
    w.nullable_string(member_id)
    if version >= 5:
        w.nullable_string(None)  # group_instance_id
    w.nullable_string("consumer")
    w.int32(1)
    w.nullable_string("range")
    w.nullable_bytes(b"meta")
    r = wire.Reader(coord.handle_join_group(w.bytes()))
    r.int32()
    if version >= 2:
        r.int32()  # throttle
    err = r.int16()
    gen = r.int32()
    r.nullable_string()  # protocol
    leader = r.nullable_string()
    member = r.nullable_string()
    members = []
    for _ in range(max(r.int32(), 0)):
        m = r.nullable_string()
        if version >= 5:
            r.nullable_string()  # instance
        r.nullable_bytes()
        members.append(m)
    return err, gen, leader, member, members


def _c_sync(coord, group, gen, member, assignments=None):
    w = wire.Writer()
    w.int16(wire.SYNC_GROUP_KEY).int16(0).int32(62)
    w.nullable_string("c")
    w.nullable_string(group)
    w.int32(gen)
    w.nullable_string(member)
    assignments = assignments or {}
    w.int32(len(assignments))
    for m, a in assignments.items():
        w.nullable_string(m)
        w.nullable_bytes(a)
    r = wire.Reader(coord.handle_sync_group(w.bytes()))
    r.int32()
    return r.int16(), r.nullable_bytes()


def _c_heartbeat(coord, group, gen, member):
    w = wire.Writer()
    w.int16(wire.HEARTBEAT_KEY).int16(0).int32(63)
    w.nullable_string("c")
    w.nullable_string(group).int32(gen)
    w.nullable_string(member)
    r = wire.Reader(coord.handle_heartbeat(w.bytes()))
    r.int32()
    return r.int16()


def _c_leave(coord, group, member):
    w = wire.Writer()
    w.int16(wire.LEAVE_GROUP_KEY).int16(0).int32(64)
    w.nullable_string("c")
    w.nullable_string(group)
    w.nullable_string(member)
    r = wire.Reader(coord.handle_leave_group(w.bytes()))
    r.int32()
    return r.int16()


class CModel:
    """Independent mirror of the classic coordinator's documented
    semantics (lazy expiry, generation bumps on membership change,
    leader = first member, v4 two-step join)."""

    def __init__(self, clock):
        self.clock = clock
        self.generation = 0
        self.members: list[str] = []
        self.pending: list[str] = []
        self.assignments: dict[str, bytes] = {}
        self.last_seen: dict[str, float] = {}
        self.timeouts: dict[str, int] = {}
        self.seq = 0

    def expire(self):
        now = self.clock()
        stale = [
            m
            for m in self.members
            if m in self.last_seen
            and (now - self.last_seen[m]) * 1000.0 > self.timeouts.get(m, 45_000)
        ]
        for m in stale:
            self.members.remove(m)
            self.last_seen.pop(m, None)
            self.timeouts.pop(m, None)
        if stale:
            self.assignments.clear()
            self.generation += 1

    def join(self, member_id, version, session_timeout):
        self.expire()
        if not member_id and version >= 4:
            mid = f"member-{self.seq}"
            self.seq += 1
            self.pending.append(mid)
            return ERR_MEMBER_ID_REQUIRED, mid
        if member_id and member_id not in self.members and member_id not in self.pending:
            return ERR_UNKNOWN_MEMBER_ID, None
        if member_id in self.pending:
            self.pending.remove(member_id)
            self.members.append(member_id)
            self.generation += 1
            self.assignments.clear()
        elif not member_id:
            member_id = f"member-{self.seq}"
            self.seq += 1
            self.members.append(member_id)
            self.generation += 1
            self.assignments.clear()
        self.timeouts[member_id] = session_timeout
        self.last_seen[member_id] = self.clock()
        return wire.ERR_NONE, member_id

    def sync(self, gen, member, assignments):
        self.expire()
        if member not in self.members:
            return ERR_UNKNOWN_MEMBER_ID, b""  # error syncs carry empty bytes
        if gen != self.generation:
            return ERR_ILLEGAL_GENERATION, b""
        self.last_seen[member] = self.clock()
        if assignments and member == self.members[0]:
            self.assignments = dict(assignments)
        return wire.ERR_NONE, self.assignments.get(member, b"")

    def heartbeat(self, gen, member):
        self.expire()
        if member not in self.members:
            return ERR_UNKNOWN_MEMBER_ID
        if gen != self.generation:
            return ERR_ILLEGAL_GENERATION
        self.last_seen[member] = self.clock()
        return wire.ERR_NONE

    def leave(self, member):
        if member not in self.members:
            return ERR_UNKNOWN_MEMBER_ID
        self.members.remove(member)
        self.last_seen.pop(member, None)
        self.timeouts.pop(member, None)
        self.assignments.clear()
        self.generation += 1
        return wire.ERR_NONE


def _c_equiv(coord, gid, model):
    g = coord.groups[gid]
    assert g.members == model.members, (g.members, model.members)
    assert g.generation == model.generation, (g.generation, model.generation)
    assert list(g.pending) == model.pending, (list(g.pending), model.pending)
    assert g.assignments == model.assignments


@pytest.mark.parametrize("seed", [7, 19, 31, 47, 67, 83])
def test_classic_group_plane_model_fuzz(seed):
    rng = random.Random(seed)
    clock = CClock()
    coord = Coordinator(topic_partitions=lambda: {"ta": 4}, clock=clock)
    gid = f"classic-{seed}"
    model = CModel(clock)
    known: list[str] = []  # member ids our clients believe they hold

    for _step in range(300):
        action = rng.choices(
            [
                "join_v0",
                "join_v4_dance",
                "join_rejoin",
                "join_bogus",
                "sync_leader",
                "sync_follower",
                "sync_stale_gen",
                "heartbeat_ok",
                "heartbeat_stale",
                "leave",
                "clock_small",
                "clock_expire",
            ],
            weights=[8, 8, 10, 4, 10, 10, 6, 16, 6, 6, 10, 3],
        )[0]

        if action == "join_v0":
            werr, wmid = model.join("", 0, 30_000)
            err, gen, leader, member, _ = _c_join(coord, gid, "", version=0)
            assert err == werr and member == wmid
            assert gen == model.generation
            if member not in known:
                known.append(member)
        elif action == "join_v4_dance":
            werr, wmid = model.join("", 4, 30_000)
            err, _, _, member, _ = _c_join(coord, gid, "", version=4)
            assert (err, member) == (werr, wmid) == (ERR_MEMBER_ID_REQUIRED, wmid)
            if rng.random() < 0.85:  # usually complete the dance
                werr, wmid = model.join(member, 4, 30_000)
                err, gen, leader, member2, _ = _c_join(coord, gid, member, version=4)
                assert err == werr and member2 == wmid
                if member2 not in known:
                    known.append(member2)
            # else: abandoned pending id (the FIFO-cap leak case)
        elif action == "join_rejoin" and model.members:
            m = rng.choice(model.members)
            werr, _ = model.join(m, 0, 30_000)
            err, gen, leader, member, roster = _c_join(coord, gid, m, version=0)
            # the rejoin can race this access's own lazy expiry — model
            # and coordinator must agree either way
            assert err == werr
            if err == wire.ERR_NONE:
                assert member == m
                assert gen == model.generation
                # only the leader sees the roster
                assert bool(roster) == (m == model.members[0])
        elif action == "join_bogus":
            werr, _ = model.join("member-9999x", 0, 30_000)
            err, *_ = _c_join(coord, gid, "member-9999x", version=0)
            assert err == werr == ERR_UNKNOWN_MEMBER_ID
        elif action == "sync_leader" and model.members:
            leader = model.members[0]
            asg = {m: f"asg-{model.generation}-{m}".encode() for m in model.members}
            # capture the generation ONCE: the model call's internal
            # lazy expiry can bump it, and the coordinator must receive
            # the same argument the model adjudicated
            gen_arg = model.generation
            werr, wbytes = model.sync(gen_arg, leader, asg)
            err, got = _c_sync(coord, gid, gen_arg, leader, asg)
            assert (err, got) == (werr, wbytes)
        elif action == "sync_follower" and model.members:
            m = rng.choice(model.members)
            gen_arg = model.generation
            werr, wbytes = model.sync(gen_arg, m, None)
            err, got = _c_sync(coord, gid, gen_arg, m)
            assert (err, got) == (werr, wbytes)
        elif action == "sync_stale_gen" and model.members:
            m = rng.choice(model.members)
            bad = model.generation + rng.choice([-1, 1, 5])
            snapshot = dict(model.assignments)
            werr, _ = model.sync(bad, m, {m: b"stolen"})
            err, _ = _c_sync(coord, gid, bad, m, {m: b"stolen"})
            # a zombie leader at a stale generation must not distribute
            # (UNKNOWN if this access's lazy expiry removed the member;
            # the expiry may legitimately clear assignments — but the
            # zombie's bytes must never land)
            assert err == werr
            assert err in (ERR_ILLEGAL_GENERATION, ERR_UNKNOWN_MEMBER_ID)
            assert b"stolen" not in coord.groups[gid].assignments.values()
            del snapshot
        elif action == "heartbeat_ok" and model.members:
            m = rng.choice(model.members)
            gen_arg = model.generation
            werr = model.heartbeat(gen_arg, m)
            assert _c_heartbeat(coord, gid, gen_arg, m) == werr
        elif action == "heartbeat_stale" and model.members:
            m = rng.choice(model.members)
            bad = model.generation + rng.choice([-2, -1, 1])
            werr = model.heartbeat(bad, m)
            err = _c_heartbeat(coord, gid, bad, m)
            assert err == werr
            assert err in (ERR_ILLEGAL_GENERATION, wire.ERR_NONE, ERR_UNKNOWN_MEMBER_ID)
        elif action == "leave" and model.members:
            m = rng.choice(model.members)
            werr = model.leave(m)
            assert _c_leave(coord, gid, m) == werr
        elif action == "clock_small":
            clock.now += rng.uniform(0.2, 5.0)
        elif action == "clock_expire":
            clock.now += 40.0  # over the 30s join timeout

        if gid in coord.groups:
            _c_equiv(coord, gid, model)

    # ---- quiescence: everyone (re)joins, leader distributes, all
    # members fetch exactly the pushed bytes, heartbeats are NONE
    survivors = [m for m in known if m in model.members] or []
    if not survivors:
        werr, wmid = model.join("", 0, 30_000)
        err, _, _, member, _ = _c_join(coord, gid, "", version=0)
        assert err == werr == wire.ERR_NONE
        survivors = [member]
    for m in list(survivors):
        werr, _ = model.join(m, 0, 30_000)
        err, *_ = _c_join(coord, gid, m, version=0)
        assert err == werr
        if err == ERR_UNKNOWN_MEMBER_ID:
            # expired before quiescence (e.g. the last action was a
            # clock jump): rejoin fresh, like a real client would
            werr, wmid = model.join("", 0, 30_000)
            err, _, _, member, _ = _c_join(coord, gid, "", version=0)
            assert err == werr == wire.ERR_NONE and member == wmid
    _c_equiv(coord, gid, model)
    leader = model.members[0]
    asg = {m: f"final-{m}".encode() for m in model.members}
    werr, _ = model.sync(model.generation, leader, asg)
    err, got = _c_sync(coord, gid, model.generation, leader, asg)
    assert err == wire.ERR_NONE and got == asg[leader]
    for m in model.members:
        err, got = _c_sync(coord, gid, model.generation, m)
        assert err == wire.ERR_NONE and got == asg[m], (m, got)
        assert _c_heartbeat(coord, gid, model.generation, m) == wire.ERR_NONE
    _c_equiv(coord, gid, model)


# ---------------------------------------------- campaign C regression


def test_zombie_consumer_offset_commit_is_fenced():
    """r13: OffsetCommit from a group-MANAGED consumer is validated
    against the classic coordinator — a member kicked by a rebalance
    (stale generation) or never in the group must not overwrite the
    new owner's committed offsets; unmanaged (simple-consumer) groups
    keep the unfenced contract."""
    from kcore_spark.protocol.server import KafkaFrontend

    fe = KafkaFrontend()
    fe.wire_log.create_topic("t", 2)

    def commit(group, gen, member, offset):
        w = wire.Writer()
        w.int16(wire.OFFSET_COMMIT_KEY).int16(5).int32(66)
        w.nullable_string("c")
        w.nullable_string(group)
        w.int32(gen)
        w.nullable_string(member)
        w.int32(1)
        w.nullable_string("t")
        w.int32(1)
        w.int32(0).int64(offset)
        w.nullable_string(None)
        r = wire.Reader(fe.handle_request(w.bytes()))
        r.int32()
        r.int32()  # throttle
        r.int32()  # n topics
        r.nullable_string()
        r.int32()
        r.int32()  # partition
        return r.int16()

    coord = fe.coordinator
    # unmanaged group: any generation lands (simple-consumer contract)
    assert commit("simple", 7, "whoever", 10) == wire.ERR_NONE
    assert fe.group_store.fetch("simple", "t", 0) == 10

    # managed group: m1 joins (gen 1), then m2 joins (gen 2)
    err, gen1, _, m1, _ = _c_join(coord, "managed", "", version=0)
    assert err == wire.ERR_NONE
    err, gen2, _, m2, _ = _c_join(coord, "managed", "", version=0)
    assert err == wire.ERR_NONE and gen2 == gen1 + 1
    # current-generation member commits: lands
    assert commit("managed", gen2, m1, 100) == wire.ERR_NONE
    assert fe.group_store.fetch("managed", "t", 0) == 100
    # zombie at the OLD generation: ILLEGAL_GENERATION, offset intact
    assert commit("managed", gen1, m1, 999) == ERR_ILLEGAL_GENERATION
    assert fe.group_store.fetch("managed", "t", 0) == 100
    # a member the group never had: UNKNOWN_MEMBER_ID, offset intact
    assert commit("managed", gen2, "member-999x", 888) == ERR_UNKNOWN_MEMBER_ID
    assert fe.group_store.fetch("managed", "t", 0) == 100
    # simple consumer (generation -1) still lands even on a managed
    # group (documented scope of the fence)
    assert commit("managed", -1, "", 101) == wire.ERR_NONE
    assert fe.group_store.fetch("managed", "t", 0) == 101


# ======================================================= campaign F


F_V = 12
F_TOPICS = {"t": 2, "u": 1}


def _f_req(session_id, epoch, topics, forgotten=(), isolation=0):
    """topics: [(name, [(partition, fetch_offset)])]"""
    w = wire.Writer()
    w.int16(wire.FETCH_KEY).int16(F_V).int32(77)
    w.nullable_string("fuzz")
    w.empty_tagged_fields()
    w.int32(-1).int32(100).int32(1).int32(1 << 20)
    w.int8(isolation)
    w.int32(session_id)
    w.int32(epoch)
    w.compact_array_len(len(topics))
    for name, parts in topics:
        w.compact_string(name)
        w.compact_array_len(len(parts))
        for idx, off in parts:
            w.int32(idx)
            w.int32(-1)
            w.int64(off)
            w.int64(0)
            w.int32(1 << 20)
            w.empty_tagged_fields()
        w.empty_tagged_fields()
    w.compact_array_len(len(forgotten))
    for name, parts in forgotten:
        w.compact_string(name)
        w.compact_array_len(len(parts))
        for idx in parts:
            w.int32(idx)
        w.empty_tagged_fields()
    w.compact_string(None)
    w.empty_tagged_fields()
    return w.bytes()


def _f_parse(resp):
    """→ (error_code, session_id, {(t, p): (err, [(offset, value)])})"""
    r = wire.Reader(resp)
    assert r.int32() == 77
    r.tagged_fields()
    r.int32()
    err = r.int16()
    sid = r.int32()
    out = {}
    for _ in range(max(r.compact_array_len(), 0)):
        name = r.compact_string()
        for _ in range(max(r.compact_array_len(), 0)):
            idx = r.int32()
            perr = r.int16()
            r.int64()  # hw
            r.int64()  # lso
            r.int64()  # log_start
            for _ in range(max(r.compact_array_len(), 0)):
                r.int64()
                r.int64()
                r.tagged_fields()
            r.int32()
            batch = r.compact_bytes()
            r.tagged_fields()
            recs = []
            if batch:
                recs = [(rec.offset, rec.value) for rec in decode_all_batches(batch)]
            out[(name, idx)] = (perr, recs)
        r.tagged_fields()
    r.tagged_fields()
    return err, sid, out


def test_incremental_session_tracks_lso_not_just_hw():
    """Cross-plane pin (fetch sessions x transactions): for a
    read_committed session the omission key is the LSO, so a partition
    whose high watermark is unchanged but whose LSO moved (a txn
    committed or aborted) must be RE-INCLUDED on the next incremental
    — even a steady-state request naming no partitions. An open txn's
    records stay withheld; an abort advances progress without ever
    delivering them."""
    log = WireLog()
    log.create_topic("t", 1)
    pid, ep = log.init_producer_id("T")
    log.add_partition_to_txn(pid, ep, "t", 0)
    log.append("t", 0, [Record(b"k", b"c0", 1)])
    err, sid, parts = _f_parse(
        handle_fetch(log, _f_req(0, 0, [("t", [(0, 0)])], isolation=1))
    )
    assert err == wire.ERR_NONE
    assert [v for _, v in parts[("t", 0)][1]] == [b"c0"]
    # open txn: the incremental (positioned past c0) withholds
    b = log.append("t", 0, [Record(b"k", b"dirty", 1)])
    log.note_transactional_append("t", 0, pid, b, 1)
    err, _, parts = _f_parse(
        handle_fetch(log, _f_req(sid, 1, [("t", [(0, 1)])], isolation=1))
    )
    assert err == wire.ERR_NONE and parts == {}
    # commit moves ONLY the LSO; a steady-state empty request must
    # re-include the partition with the now-visible record
    log.end_txn(pid, ep, commit=True)
    err, _, parts = _f_parse(handle_fetch(log, _f_req(sid, 2, [], isolation=1)))
    assert err == wire.ERR_NONE
    assert [(o, v) for o, v in parts[("t", 0)][1]] == [(1, b"dirty")]

    # abort path: a second open txn, then abort — the session sees the
    # LSO advance (re-include) but never the aborted record
    pid2, ep2 = log.init_producer_id("T2")
    log.add_partition_to_txn(pid2, ep2, "t", 0)
    b = log.append("t", 0, [Record(b"k", b"never", 1)])
    log.note_transactional_append("t", 0, pid2, b, 1)
    err, _, parts = _f_parse(
        handle_fetch(log, _f_req(sid, 3, [("t", [(0, 2)])], isolation=1))
    )
    assert err == wire.ERR_NONE and parts == {}  # withheld
    log.end_txn(pid2, ep2, commit=False)
    err, _, parts = _f_parse(handle_fetch(log, _f_req(sid, 4, [], isolation=1)))
    assert err == wire.ERR_NONE
    # LSO moved: partition re-included, but with NO records (the only
    # one in range was aborted) — the client's position may advance to
    # the new LSO via the carried hw, never seeing b"never"
    assert ("t", 0) in parts
    assert parts[("t", 0)][1] == []


class FClient:
    def __init__(self):
        self.sid = 0
        self.epoch = 0
        self.established = False
        # (t, p) -> next offset we expect; None = not in interest
        self.interest: dict[tuple[str, int], int] = {}
        self.dirty: set = set()  # offsets advanced since last request
        self.received: dict[tuple[str, int], list] = {}


@pytest.mark.parametrize("seed", [13, 29, 53, 71])
def test_fetch_session_plane_model_fuzz(seed):
    rng = random.Random(seed)
    log = WireLog()
    for t, n in F_TOPICS.items():
        log.create_topic(t, n)
    log.fetch_sessions.max_sessions = 3  # eviction is reachable
    contents: dict[tuple[str, int], list[bytes]] = {
        (t, p): [] for t, n in F_TOPICS.items() for p in range(n)
    }
    clients = [FClient() for _ in range(4)]
    vno = 0

    def append(tp, k):
        nonlocal vno
        vals = [f"r{seed}-{vno + i}".encode() for i in range(k)]
        vno += k
        log.append(tp[0], tp[1], [Record(b"k", v, 1) for v in vals])
        contents[tp].extend(vals)

    def verify_and_consume(c: FClient, parts):
        """Every returned record must be exactly the log's content at
        its offset; advance the client past contiguously-new data."""
        for (t, p), (perr, recs) in parts.items():
            assert perr == wire.ERR_NONE, f"partition error {perr} on {(t, p)}"
            if (t, p) not in c.interest:
                continue  # raced a forget in this same request? not possible here
            expect_next = c.interest[(t, p)]
            for off, val in recs:
                assert contents[(t, p)][off] == val, (
                    f"value mismatch at {(t, p)}@{off}"
                )
                if off == expect_next:
                    c.received.setdefault((t, p), []).append(val)
                    expect_next += 1
                else:
                    # re-delivery below our position (the at-least-once
                    # shape when we didn't declare the advanced offset):
                    # must be a record we already consumed, never a gap
                    assert off < c.interest[(t, p)] or off < expect_next, (
                        f"gap: got offset {off}, expected {expect_next} on {(t, p)}"
                    )
            if expect_next != c.interest[(t, p)]:
                c.dirty.add((t, p))
            c.interest[(t, p)] = expect_next

    def establish(c: FClient):
        topics: dict[str, list] = {}
        for (t, p), off in c.interest.items():
            topics.setdefault(t, []).append((p, off))
        err, sid, parts = _f_parse(
            handle_fetch(log, _f_req(0, 0, sorted(topics.items())))
        )
        assert err == wire.ERR_NONE and sid > 0
        c.sid, c.epoch, c.established = sid, 1, True
        c.dirty.clear()
        verify_and_consume(c, parts)

    def incremental(c: FClient, adds=(), forgets=()):
        for tp in forgets:
            c.interest.pop(tp, None)
            c.dirty.discard(tp)
        for tp in adds:
            c.interest.setdefault(tp, 0)
            c.dirty.add(tp)
        topics: dict[str, list] = {}
        for tp in sorted(c.dirty):
            if tp in c.interest:
                topics.setdefault(tp[0], []).append((tp[1], c.interest[tp]))
        fmap: dict[str, list] = {}
        for t, p in forgets:
            fmap.setdefault(t, []).append(p)
        err, sid, parts = _f_parse(
            handle_fetch(
                log,
                _f_req(c.sid, c.epoch, sorted(topics.items()), sorted(fmap.items())),
            )
        )
        if err == ERR_FETCH_SESSION_ID_NOT_FOUND or err == ERR_INVALID_FETCH_SESSION_EPOCH:
            # KIP-227 recovery contract: full fetch re-establish
            establish(c)
            return None
        assert err == wire.ERR_NONE
        c.epoch += 1
        c.dirty.clear()
        for tp in parts:
            assert tp in c.interest, f"response included forgotten {tp}"
        verify_and_consume(c, parts)
        return parts

    # seed some data and sessions
    for tp in contents:
        append(tp, rng.randint(1, 3))
    for c in clients:
        for tp in contents:
            if rng.random() < 0.7:
                c.interest[tp] = 0
        if not c.interest:
            c.interest[("t", 0)] = 0
        establish(c)

    for _step in range(250):
        c = rng.choice(clients)
        action = rng.choices(
            ["produce", "inc", "inc_add", "inc_forget", "wrong_epoch",
             "bogus_sid", "sessionless", "evict"],
            weights=[20, 30, 8, 8, 6, 4, 6, 4],
        )[0]
        if action == "produce":
            append(rng.choice(list(contents)), rng.randint(1, 3))
        elif action == "inc":
            if not c.established:
                establish(c)
            else:
                incremental(c)
        elif action == "inc_add":
            if not c.established:
                establish(c)
            cand = [tp for tp in contents if tp not in c.interest]
            if cand:
                # re-adding starts from 0: re-delivered records must be
                # byte-identical to what the log holds (verified above)
                incremental(c, adds=[rng.choice(cand)])
        elif action == "inc_forget" and len(c.interest) > 1:
            if not c.established:
                establish(c)
            incremental(c, forgets=[rng.choice(sorted(c.interest))])
        elif action == "wrong_epoch" and c.established:
            err, sid, _ = _f_parse(
                handle_fetch(log, _f_req(c.sid, c.epoch + rng.choice([1, 7]), []))
            )
            # NOT_FOUND if the eviction churn already dropped our slot
            assert err in (
                ERR_INVALID_FETCH_SESSION_EPOCH,
                ERR_FETCH_SESSION_ID_NOT_FOUND,
            )
            # the failed request must not have consumed our epoch (the
            # follow-up recovers via establish on NOT_FOUND)
            incremental(c)
        elif action == "bogus_sid":
            err, _, _ = _f_parse(handle_fetch(log, _f_req(999_999, 1, [])))
            assert err == ERR_FETCH_SESSION_ID_NOT_FOUND
        elif action == "sessionless":
            tp = rng.choice(list(contents))
            err, sid, parts = _f_parse(
                handle_fetch(log, _f_req(0, -1, [(tp[0], [(tp[1], 0)])]))
            )
            assert err == wire.ERR_NONE and sid == 0
            perr, recs = parts[tp]
            assert [v for _, v in recs] == contents[tp][: len(recs)]
            assert len(recs) == len(contents[tp]) or len(recs) >= 1000
        elif action == "evict":
            # churn sessions past the cap: the oldest client's next
            # incremental hits NOT_FOUND and recovers
            for _ in range(4):
                fresh = FClient()
                fresh.interest[("t", 0)] = 0
                establish(fresh)

        # PROGRESS invariant: new data for an established client's
        # interest must arrive on its next honest incremental
        if action == "produce" and rng.random() < 0.5:
            probe = rng.choice([x for x in clients if x.established])
            before = {tp: probe.interest[tp] for tp in probe.interest}
            behind = [
                tp for tp, off in before.items() if off < len(contents[tp])
            ]
            parts = incremental(probe)
            if parts is not None:
                for tp in behind:
                    assert probe.interest[tp] == len(contents[tp]), (
                        f"omission suppressed new data on {tp}: "
                        f"at {probe.interest[tp]}, log has {len(contents[tp])}"
                    )

    # final drain: every client catches up on every interest partition
    for c in clients:
        if not c.established:
            establish(c)
        for tp in c.interest:
            c.dirty.add(tp)
        for _ in range(4):
            incremental(c)
        for tp, off in c.interest.items():
            assert off == len(contents[tp]), (
                f"client never drained {tp}: at {off} of {len(contents[tp])}"
            )

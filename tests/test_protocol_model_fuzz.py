"""Model-based fuzz of the STATEFUL protocol conversations (r12
VERDICT #1): seeded random interleavings of legal and illegal client
sequences against the two protocol-plane state machines, each step
checked against an independent Python model.

Campaign T — transactional plane (`protocol/broker.py`): N logical
producers interleave InitProducerId (fencing), AddPartitionsToTxn,
transactional + plain produce, AddOffsetsToTxn, TxnOffsetCommit,
EndTxn commit/abort (v0 and the KIP-890 v4 epoch-bump path), admin
WriteTxnMarkers, and zombie replays at stale epochs — all through the
wire frontend. After every step the model re-derives what a
read_committed and a read_uncommitted consumer must see on every
partition and what OffsetFetch must report for every group, and the
test compares byte-for-byte.

Campaign G — consumer-group plane (KIP-848,
`protocol/consumer_group.py`): N simulated members interleave joins
(dynamic + static), honest/lagged/false-claim owned reports,
wrong-epoch zombie heartbeats, subscription changes, leaves, static
takeover, and clock jumps past the session timeout. Invariants checked
after every step: no (topic, partition) is confirmed-owned by two
members, epochs are monotonic and bounded, static instance ids are
unique; each seed ends with an honest quiescence phase that must
converge to a Stable group covering every subscribed partition
exactly once.

Bugs this campaign found while being built (fixed in the same round,
each pinned by a named regression test below):
1. EndTxn(abort) recorded the aborted range as [txn_start, hw), hiding
   OTHER producers' interleaved committed records from read_committed.
2. InitProducerId fencing pop()ed the zombie's open txn WITHOUT
   aborting it, so its dirty records became committed-visible the
   moment the new incarnation initialized.
3. Producer sequence state ignored the epoch, so a freshly-fenced
   incarnation's first batch (sequence 0) was rejected OUT_OF_ORDER.
4. A member's owned-partitions report was trusted verbatim, so a buggy
   client claiming foreign partitions parked them in its confirmed set
   (double-ownership in the coordinator's view + a reconciliation
   stall for the real owner).

Reference bar: consumer groups and transactions are the reference's
core declared-but-unbuilt Kafka surface (/root/reference/README.md:48).
"""

from __future__ import annotations

import random

import pytest

from kcore_spark.protocol import wire
from kcore_spark.protocol.broker import (
    ERR_INVALID_PRODUCER_EPOCH,
    ERR_INVALID_TXN_STATE,
    decode_fetch_response,
    decode_produce_response,
)
from kcore_spark.protocol.consumer_group import (
    ERR_FENCED_MEMBER_EPOCH,
    ERR_INVALID_REQUEST,
    ERR_UNKNOWN_MEMBER_ID,
    ConsumerGroupCoordinator,
)
from kcore_spark.protocol.records import Record, decode_all_batches, encode_record_batch
from kcore_spark.protocol.server import KafkaFrontend

from tests.test_consumer_group_848 import _hb_req, _parse_hb
from tests.test_eos_offsets import _add_offsets, _txn_commit_offsets
from tests.test_protocol_versions import _produce_payload
from tests.test_transactions import (
    _add_partitions,
    _end_txn,
    _end_txn_v4,
    _init_txn_pid,
    _txn_batch,
)
from tests.test_txn_markers_quorum import _markers_req, _parse_markers

# ----------------------------------------------------------- helpers


def _produce_to(fe, topic: str, partition: int, batch: bytes) -> tuple[int, int]:
    resp = fe.handle_request(_produce_payload(3, topic, partition, batch))
    _, results, _ = decode_produce_response(resp, api_version=3)
    [(_, [row])] = results
    return row[1], row[2]  # (err, base_offset)


def _fetch_vals(fe, topic: str, partition: int, isolation: int) -> list[bytes]:
    w = wire.Writer()
    w.int16(wire.FETCH_KEY).int16(4).int32(88)
    w.nullable_string("fuzz")
    w.int32(-1).int32(100).int32(1).int32(1 << 20)
    w.int8(isolation)
    w.int32(1)
    w.nullable_string(topic)
    w.int32(1)
    w.int32(partition).int64(0).int32(1 << 20)
    _, results = decode_fetch_response(fe.handle_request(w.bytes()), api_version=4)
    [(_, [(_idx, err, _hw, batch)])] = results
    assert err == wire.ERR_NONE
    if batch is None:
        return []
    return [r.value for r in decode_all_batches(batch)]


# ======================================================= campaign T


TOPICS = {"alpha": 2, "beta": 1}
GROUPS = ("g0", "g1")


class TxnModel:
    """Ground truth for the transactional plane. Each appended record
    is (value, status) where status is "committed", "aborted", or an
    int pid (open under that producer's txn)."""

    def __init__(self):
        self.log = {
            (t, p): [] for t, n in TOPICS.items() for p in range(n)
        }  # [(value, status)]
        self.open: dict[int, dict] = {}  # pid -> {"parts": {(t,p)}, "groups": set, "staged": {}}
        self.applied: dict[tuple[str, str, int], int] = {}

    def hw(self, tp):
        return len(self.log[tp])

    def open_entry(self, pid):
        return self.open.setdefault(
            pid, {"parts": set(), "groups": set(), "staged": {}}
        )

    def append_txn(self, pid, tp, values):
        self.open_entry(pid)["parts"].add(tp)
        for v in values:
            self.log[tp].append((v, pid))

    def append_plain(self, tp, values):
        for v in values:
            self.log[tp].append((v, "committed"))

    def close(self, pid, commit: bool):
        """Returns True if a txn was open (NONE), False otherwise."""
        ent = self.open.pop(pid, None)
        if ent is None:
            return False
        for tp, entries in self.log.items():
            for i, (v, st) in enumerate(entries):
                if st == pid:
                    entries[i] = (v, "committed" if commit else "aborted")
        if commit:
            for (group, t, p), off in ent["staged"].items():
                self.applied[(group, t, p)] = off
        return True

    def lso(self, tp):
        starts = [
            i
            for i, (_v, st) in enumerate(self.log[tp])
            if isinstance(st, int) and st in self.open
        ]
        return min(starts) if starts else self.hw(tp)

    def expect_committed(self, tp):
        lso = self.lso(tp)
        return [
            v
            for i, (v, st) in enumerate(self.log[tp])
            if i < lso and st == "committed"
        ]

    def expect_uncommitted(self, tp):
        return [v for v, _st in self.log[tp]]


class Producer:
    def __init__(self, tid):
        self.tid = tid
        self.pid = -1
        self.epoch = -1
        self.seqs: dict[tuple[str, int], int] = {}
        self.zombies: list[tuple[int, int]] = []  # (pid, stale_epoch)

    def bump(self, new_epoch):
        if self.epoch >= 0:
            self.zombies.append((self.pid, self.epoch))
        self.epoch = new_epoch
        self.seqs = {}


def _verify_txn(fe, model: TxnModel):
    for tp in model.log:
        t, p = tp
        got_c = _fetch_vals(fe, t, p, isolation=1)
        assert got_c == model.expect_committed(tp), (
            f"read_committed mismatch on {tp}: got {got_c}, "
            f"want {model.expect_committed(tp)}"
        )
        got_u = _fetch_vals(fe, t, p, isolation=0)
        assert got_u == model.expect_uncommitted(tp), (
            f"read_uncommitted mismatch on {tp}"
        )
    for group in GROUPS:
        for t, n in TOPICS.items():
            for p in range(n):
                want = model.applied.get((group, t, p), -1)
                got = fe.group_store.fetch(group, t, p)
                assert got == want, (
                    f"OffsetFetch mismatch {group}/{t}/{p}: got {got}, want {want}"
                )


@pytest.mark.parametrize("seed", [11, 23, 37, 41, 59, 73])
def test_transactional_plane_model_fuzz(seed):
    rng = random.Random(seed)
    fe = KafkaFrontend()
    for t, n in TOPICS.items():
        fe.wire_log.create_topic(t, n)
    model = TxnModel()
    producers = [Producer(f"tid-{seed}-{i}") for i in range(3)]
    vcount = 0

    def fresh_values(k):
        nonlocal vcount
        out = [f"v{seed}-{vcount + i}".encode() for i in range(k)]
        vcount += k
        return out

    for _step in range(250):
        pr = rng.choice(producers)
        action = rng.choices(
            [
                "init",
                "add_parts",
                "produce",
                "produce_plain",
                "add_offsets",
                "stage_offset",
                "end_commit",
                "end_abort",
                "end_v4",
                "wtm_abort",
                "zombie",
            ],
            weights=[6, 10, 22, 8, 8, 10, 10, 8, 6, 4, 12],
        )[0]
        tp = rng.choice(list(model.log))
        t, p = tp

        if action == "init" or pr.epoch < 0:
            pid, epoch = _init_txn_pid(fe, pr.tid)
            if pr.pid >= 0:
                assert pid == pr.pid and epoch == pr.epoch + 1
                model.close(pr.pid, commit=False)  # fencing aborts
            pr.pid = pid
            pr.bump(epoch)
        elif action == "add_parts":
            errs = _add_partitions(fe, pr.tid, pr.pid, pr.epoch, t, [p])
            assert errs[(t, p)] == wire.ERR_NONE
            model.open_entry(pr.pid)["parts"].add(tp)
        elif action == "produce":
            values = fresh_values(rng.randint(1, 3))
            seq = pr.seqs.get(tp, 0)
            err, base = _produce_to(
                fe, t, p, _txn_batch(pr.pid, pr.epoch, seq, values)
            )
            assert err == wire.ERR_NONE, f"txn produce failed: {err}"
            assert base == model.hw(tp)
            pr.seqs[tp] = seq + len(values)
            model.append_txn(pr.pid, tp, values)
        elif action == "produce_plain":
            values = fresh_values(rng.randint(1, 2))
            batch = encode_record_batch([Record(b"k", v, 1) for v in values])
            err, base = _produce_to(fe, t, p, batch)
            assert err == wire.ERR_NONE
            model.append_plain(tp, values)
        elif action == "add_offsets":
            group = rng.choice(GROUPS)
            assert (
                _add_offsets(fe, pr.tid, pr.pid, pr.epoch, group) == wire.ERR_NONE
            )
            model.open_entry(pr.pid)["groups"].add(group)
        elif action == "stage_offset":
            group = rng.choice(GROUPS)
            off = rng.randint(0, 1000)
            errs = _txn_commit_offsets(
                fe, pr.tid, pr.pid, pr.epoch, group, {(t, p): off}
            )
            ent = model.open.get(pr.pid)
            if ent is not None and group in ent["groups"]:
                assert errs[(t, p)] == wire.ERR_NONE
                ent["staged"][(group, t, p)] = off
            else:
                assert errs[(t, p)] == ERR_INVALID_TXN_STATE
        elif action in ("end_commit", "end_abort"):
            commit = action == "end_commit"
            err = _end_txn(fe, pr.tid, pr.pid, pr.epoch, commit=commit)
            if model.close(pr.pid, commit=commit):
                assert err == wire.ERR_NONE
            else:
                assert err == ERR_INVALID_TXN_STATE
        elif action == "end_v4":
            commit = rng.random() < 0.5
            err, new_pid, new_epoch = _end_txn_v4(
                fe, pr.tid, pr.pid, pr.epoch, commit=commit
            )
            if model.close(pr.pid, commit=commit):
                assert err == wire.ERR_NONE
                assert (new_pid, new_epoch) == (pr.pid, pr.epoch + 1)
                pr.bump(new_epoch)  # KIP-890: every completed txn bumps
            else:
                assert err == ERR_INVALID_TXN_STATE
        elif action == "wtm_abort":
            # admin kills (or re-kills) the txn with an abort marker
            rows = _parse_markers(
                fe.handle_request(
                    _markers_req(1, [(pr.pid, pr.epoch, False, [(t, [p])])])
                ),
                1,
            )
            assert rows == [(pr.pid, t, p, wire.ERR_NONE)]
            model.close(pr.pid, commit=False)  # no-op if already closed
        elif action == "zombie" and pr.zombies:
            zpid, zepoch = rng.choice(pr.zombies)
            kind = rng.choice(["produce", "add_parts", "end", "add_offsets", "stage"])
            if kind == "produce":
                err, _ = _produce_to(
                    fe, t, p, _txn_batch(zpid, zepoch, 0, fresh_values(1))
                )
                assert err == ERR_INVALID_PRODUCER_EPOCH
            elif kind == "add_parts":
                errs = _add_partitions(fe, pr.tid, zpid, zepoch, t, [p])
                assert errs[(t, p)] == ERR_INVALID_PRODUCER_EPOCH
            elif kind == "end":
                err = _end_txn(fe, pr.tid, zpid, zepoch, commit=True)
                assert err == ERR_INVALID_PRODUCER_EPOCH
            elif kind == "add_offsets":
                err = _add_offsets(fe, pr.tid, zpid, zepoch, rng.choice(GROUPS))
                assert err == ERR_INVALID_PRODUCER_EPOCH
            else:
                errs = _txn_commit_offsets(
                    fe, pr.tid, zpid, zepoch, rng.choice(GROUPS), {(t, p): 1}
                )
                assert errs[(t, p)] == ERR_INVALID_PRODUCER_EPOCH
        _verify_txn(fe, model)

    # drain: every producer commits, model and broker agree at the end
    for pr in producers:
        if pr.pid in model.open:
            err = _end_txn(fe, pr.tid, pr.pid, pr.epoch, commit=True)
            assert err == wire.ERR_NONE
            model.close(pr.pid, commit=True)
    _verify_txn(fe, model)


# -------------------------------------------- campaign T regressions


def test_abort_never_hides_other_producers_committed_records():
    """Model-fuzz find #1: aborted ranges are per-producer, not
    [txn_start, hw) — B's committed records interleaved inside A's
    aborted window must stay visible."""
    fe = KafkaFrontend()
    fe.wire_log.create_topic("alpha", 1)
    pa, ea = _init_txn_pid(fe, "A")
    pb, eb = _init_txn_pid(fe, "B")
    _add_partitions(fe, "A", pa, ea, "alpha", [0])
    _add_partitions(fe, "B", pb, eb, "alpha", [0])
    assert _produce_to(fe, "alpha", 0, _txn_batch(pa, ea, 0, [b"a0", b"a1"]))[0] == 0
    assert _produce_to(fe, "alpha", 0, _txn_batch(pb, eb, 0, [b"b0", b"b1"]))[0] == 0
    assert _produce_to(fe, "alpha", 0, _txn_batch(pa, ea, 2, [b"a2"]))[0] == 0
    assert _end_txn(fe, "B", pb, eb, commit=True) == wire.ERR_NONE
    assert _end_txn(fe, "A", pa, ea, commit=False) == wire.ERR_NONE
    assert _fetch_vals(fe, "alpha", 0, isolation=1) == [b"b0", b"b1"]


def test_fencing_aborts_zombie_open_txn_records():
    """Model-fuzz find #2: InitProducerId fencing must ABORT the
    zombie's open transaction — its appended records must never become
    visible to read_committed."""
    fe = KafkaFrontend()
    fe.wire_log.create_topic("alpha", 1)
    pid, ep = _init_txn_pid(fe, "Z")
    _add_partitions(fe, "Z", pid, ep, "alpha", [0])
    assert _produce_to(fe, "alpha", 0, _txn_batch(pid, ep, 0, [b"dirty"]))[0] == 0
    pid2, ep2 = _init_txn_pid(fe, "Z")  # fence
    assert (pid2, ep2) == (pid, ep + 1)
    assert _fetch_vals(fe, "alpha", 0, isolation=1) == []
    # the successor's txn proceeds normally over the corpse
    _add_partitions(fe, "Z", pid2, ep2, "alpha", [0])
    assert _produce_to(fe, "alpha", 0, _txn_batch(pid2, ep2, 0, [b"clean"]))[0] == 0
    assert _end_txn(fe, "Z", pid2, ep2, commit=True) == wire.ERR_NONE
    assert _fetch_vals(fe, "alpha", 0, isolation=1) == [b"clean"]


def test_sequences_restart_at_zero_after_epoch_bump():
    """Model-fuzz find #3: sequences are per (pid, epoch) — the fenced
    producer's successor starts at 0 and must be ACCEPTED; duplicate
    detection still works within the new epoch."""
    fe = KafkaFrontend()
    fe.wire_log.create_topic("alpha", 1)
    pid, ep = _init_txn_pid(fe, "S")
    _add_partitions(fe, "S", pid, ep, "alpha", [0])
    assert _produce_to(fe, "alpha", 0, _txn_batch(pid, ep, 0, [b"x", b"y"]))[0] == 0
    assert _end_txn(fe, "S", pid, ep, commit=True) == wire.ERR_NONE
    pid2, ep2 = _init_txn_pid(fe, "S")
    _add_partitions(fe, "S", pid2, ep2, "alpha", [0])
    err, base = _produce_to(fe, "alpha", 0, _txn_batch(pid2, ep2, 0, [b"z"]))
    assert err == wire.ERR_NONE and base == 2
    # retry of the same batch within the new epoch dedups to the
    # original offset
    err2, base2 = _produce_to(fe, "alpha", 0, _txn_batch(pid2, ep2, 0, [b"z"]))
    assert (err2, base2) == (wire.ERR_NONE, 2)
    assert _end_txn(fe, "S", pid2, ep2, commit=True) == wire.ERR_NONE
    assert _fetch_vals(fe, "alpha", 0, isolation=1) == [b"x", b"y", b"z"]


def test_epoch_exhaustion_rolls_producer_id():
    """Model-fuzz find #6: at the int16 epoch ceiling the pid ROLLS
    (new pid, epoch 0) per the broker's ProducerStateManager contract —
    the unchecked bump used to overflow the int16 encode and kill the
    response. The old pid stays fenced; the rolled pid works end to
    end."""
    fe = KafkaFrontend()
    fe.wire_log.create_topic("alpha", 1)
    pid, ep = _init_txn_pid(fe, "roll")
    fe.wire_log._tids["roll"] = (pid, 32766)
    _add_partitions(fe, "roll", pid, 32766, "alpha", [0])
    err, npid, nep = _end_txn_v4(fe, "roll", pid, 32766, commit=True)
    assert (err, nep) == (wire.ERR_NONE, 0) and npid != pid
    # zombie at the retired pid is fenced (producer_epoch == -1)
    err2, _ = _produce_to(fe, "alpha", 0, _txn_batch(pid, 32766, 0, [b"z"]))
    assert err2 == ERR_INVALID_PRODUCER_EPOCH
    # the rolled pid transacts normally
    _add_partitions(fe, "roll", npid, nep, "alpha", [0])
    assert _produce_to(fe, "alpha", 0, _txn_batch(npid, nep, 0, [b"ok"]))[0] == 0
    assert _end_txn(fe, "roll", npid, nep, commit=True) == wire.ERR_NONE
    assert _fetch_vals(fe, "alpha", 0, isolation=1) == [b"ok"]
    # a fencing re-init at the ceiling rolls the same way
    fe.wire_log._tids["roll2"] = (77777, 32767)
    p2, e2 = _init_txn_pid(fe, "roll2")
    assert e2 == 0 and p2 != 77777


# ======================================================= campaign G


CATALOG = {"ta": 4, "tb": 3, "tc": 1}


class FakeClock:
    def __init__(self):
        self.now = 1000.0

    def __call__(self):
        return self.now


class Member:
    def __init__(self, subs, instance=None):
        self.member = ""
        self.epoch = 0
        self.subs = subs
        self.instance = instance
        self.assignment: dict[str, tuple[int, ...]] = {}
        self.prev_assignment: dict[str, tuple[int, ...]] = {}
        self.alive = False


def _check_group_invariants(coord, gid, prev_epoch):
    g = coord.groups[gid]
    owners: dict[tuple[str, int], str] = {}
    for mid, m in g.members.items():
        assert m.member_epoch <= g.group_epoch, (
            f"member epoch {m.member_epoch} above group epoch {g.group_epoch}"
        )
        for topic, parts in m.current.items():
            for part in parts:
                key = (topic, part)
                assert key not in owners, (
                    f"{key} confirmed-owned by both {owners[key]} and {mid}"
                )
                owners[key] = mid
    instances = [m.instance_id for m in g.members.values() if m.instance_id]
    assert len(instances) == len(set(instances)), "duplicate static instance"
    assert g.group_epoch >= prev_epoch, "group epoch went backwards"
    return g.group_epoch


def _hb(coord, **kw):
    resp = coord.handle_heartbeat(_hb_req(**kw))
    _, err, _msg, member, epoch, _int, asg = _parse_hb(
        resp, catalog=tuple(CATALOG)
    )
    return err, member, epoch, asg


def _adopt(c: Member, err, member, epoch, asg):
    assert err == wire.ERR_NONE
    c.member = member or c.member
    c.epoch = epoch
    if asg is not None:
        c.prev_assignment = c.assignment
        c.assignment = asg
    c.alive = True


@pytest.mark.parametrize("seed", [5, 17, 29, 43, 61, 79])
def test_consumer_group_plane_model_fuzz(seed):
    rng = random.Random(seed)
    clock = FakeClock()
    # LIVE catalog: the expand_topic action grows partition counts
    # mid-fuzz — the coordinator must retarget the group on metadata
    # change (KIP-848; model-fuzz find #7, the expansion-never-assigned
    # bug) and the convergence check below covers the CURRENT catalog
    catalog = dict(CATALOG)
    coord = ConsumerGroupCoordinator(
        topic_partitions=lambda: dict(catalog),
        session_timeout_ms=45_000,
        clock=clock,
    )
    gid = f"fuzz-{seed}"
    clients: list[Member] = []
    prev_epoch = 0
    last_hb: dict[int, float] = {}  # client index -> clock at last contact

    def expired(idx):
        return (clock.now - last_hb.get(idx, clock.now)) * 1000 > 45_000

    def join(c: Member, idx, takeover=False):
        err, member, epoch, asg = _hb(
            coord,
            group=gid,
            member="" if (not c.member or takeover) else c.member,
            epoch=0,
            subs=c.subs,
            instance=c.instance,
            owned=None,
        )
        _adopt(c, err, member, epoch, asg)
        last_hb[idx] = clock.now

    for _step in range(220):
        action = rng.choices(
            [
                "join_new",
                "hb_honest",
                "hb_lagged",
                "hb_false_claim",
                "hb_wrong_epoch",
                "subs_change",
                "leave",
                "static_restart",
                "clock_small",
                "clock_expire",
                "expand_topic",
            ],
            weights=[8, 30, 8, 6, 6, 6, 5, 4, 8, 2, 4],
        )[0]
        live = [i for i, c in enumerate(clients) if c.alive]

        if action == "join_new" or not live:
            subs = tuple(
                sorted(rng.sample(list(CATALOG), rng.randint(1, len(CATALOG))))
            )
            instance = (
                f"inst-{seed}-{len(clients)}" if rng.random() < 0.3 else None
            )
            c = Member(subs, instance)
            clients.append(c)
            join(c, len(clients) - 1)
        elif action in ("hb_honest", "hb_lagged", "hb_false_claim"):
            idx = rng.choice(live)
            c = clients[idx]
            if action == "hb_honest":
                owned = dict(c.assignment)
            elif action == "hb_lagged":
                owned = dict(c.prev_assignment)
            else:
                # buggy client: claims one partition it was never
                # granted on top of its real assignment
                owned = {t: tuple(ps) for t, ps in c.assignment.items()}
                ft = rng.choice(list(c.subs))
                fp = rng.randrange(catalog[ft])
                owned[ft] = tuple(sorted(set(owned.get(ft, ())) | {fp}))
            err, member, epoch, asg = _hb(
                coord, group=gid, member=c.member, epoch=c.epoch,
                subs=None, owned=owned, instance=c.instance,
            )
            if expired(idx):
                # lazily expired by the coordinator before lookup. A
                # client that was still at epoch 0 (mid-revocation)
                # heartbeats in JOIN shape with null subscriptions —
                # to the coordinator that is an unknown member's
                # initial join without a subscription: INVALID_REQUEST.
                ok_errs = (wire.ERR_NONE, ERR_UNKNOWN_MEMBER_ID) + (
                    (ERR_INVALID_REQUEST,) if c.epoch == 0 else ()
                )
                assert err in ok_errs, f"unexpected err {err} for expired member"
                if err != wire.ERR_NONE:
                    c.assignment = {}
                    c.prev_assignment = {}
                    c.epoch = 0
                    join(c, idx)
                    continue
            _adopt(c, err, member, epoch, asg)
            last_hb[idx] = clock.now
        elif action == "hb_wrong_epoch":
            idx = rng.choice(live)
            c = clients[idx]
            bad = c.epoch + rng.choice([1, 2, -1]) if c.epoch > 1 else c.epoch + 1
            if bad == c.epoch or bad < 0:
                bad = c.epoch + 1
            err, *_ = _hb(
                coord, group=gid, member=c.member, epoch=bad,
                subs=None, owned=None,
            )
            assert err in (ERR_FENCED_MEMBER_EPOCH, ERR_UNKNOWN_MEMBER_ID)
            if err == ERR_UNKNOWN_MEMBER_ID:  # was lazily expired
                c.assignment = {}
                c.prev_assignment = {}
                join(c, idx)
            else:
                # per the KIP, the fenced member rejoins at epoch 0
                # having dropped everything
                c.assignment = {}
                c.prev_assignment = {}
                err, member, epoch, asg = _hb(
                    coord, group=gid, member=c.member, epoch=0,
                    subs=c.subs, owned={}, instance=c.instance,
                )
                _adopt(c, err, member, epoch, asg)
                last_hb[idx] = clock.now
        elif action == "subs_change":
            idx = rng.choice(live)
            c = clients[idx]
            c.subs = tuple(
                sorted(rng.sample(list(CATALOG), rng.randint(1, len(CATALOG))))
            )
            # a real static client carries its instance id on every
            # request (an expired entry makes this an epoch-0 rejoin,
            # where null-instance would re-register the member as
            # dynamic and orphan the client's static identity)
            err, member, epoch, asg = _hb(
                coord, group=gid, member=c.member, epoch=c.epoch,
                subs=c.subs, owned=dict(c.assignment), instance=c.instance,
            )
            if expired(idx) and err == ERR_UNKNOWN_MEMBER_ID:
                c.assignment = {}
                c.prev_assignment = {}
                join(c, idx)
            else:
                _adopt(c, err, member, epoch, asg)
                last_hb[idx] = clock.now
        elif action == "leave":
            idx = rng.choice(live)
            c = clients[idx]
            err, *_ = _hb(
                coord, group=gid, member=c.member, epoch=-1, subs=None, owned=None
            )
            assert err == wire.ERR_NONE
            c.alive = False
        elif action == "static_restart":
            stat = [i for i in live if clients[i].instance]
            if stat:
                idx = rng.choice(stat)
                old = clients[idx]
                old.alive = False  # the old incarnation is dead
                # if the old entry was already session-expired it is a
                # plain new join; otherwise the takeover must reclaim
                # the SAME member id (KIP-345 carried into KIP-848)
                still_there = (
                    gid in coord.groups
                    and old.member in coord.groups[gid].members
                    and not expired(idx)
                )
                c = Member(old.subs, old.instance)
                clients.append(c)
                join(c, len(clients) - 1, takeover=True)
                if still_there:
                    assert c.member == old.member
        elif action == "clock_small":
            clock.now += rng.uniform(0.5, 10.0)
        elif action == "clock_expire":
            clock.now += 50.0
            # everyone who doesn't heartbeat before the next request is
            # gone; our model marks them for rejoin lazily via expired()
        elif action == "expand_topic":
            t = rng.choice(list(catalog))
            if catalog[t] < 8:
                catalog[t] += rng.randint(1, 2)

        if gid in coord.groups:
            prev_epoch = _check_group_invariants(coord, gid, prev_epoch)

    # ---- quiescence: honest heartbeats must converge to Stable with
    # every subscribed partition owned exactly once
    live = [i for i, c in enumerate(clients) if c.alive]
    if not live:
        return
    for _round in range(12 + 4 * len(live)):
        for idx in live:
            c = clients[idx]
            err, member, epoch, asg = _hb(
                coord, group=gid, member=c.member, epoch=c.epoch,
                subs=None, owned=dict(c.assignment),
            )
            if err in (ERR_UNKNOWN_MEMBER_ID, ERR_INVALID_REQUEST):
                # expired before quiescence began (INVALID_REQUEST is
                # the epoch-0-with-null-subs initial-join shape)
                c.assignment = {}
                c.prev_assignment = {}
                c.epoch = 0
                join(c, idx)
            else:
                _adopt(c, err, member, epoch, asg)
                last_hb[idx] = clock.now
        prev_epoch = _check_group_invariants(coord, gid, prev_epoch)
        g = coord.groups[gid]
        if coord._group_state(g) == "Stable" and all(
            g.members[_mid].current == g.members[_mid].target
            for _mid in g.members
        ):
            break
    g = coord.groups[gid]
    assert coord._group_state(g) == "Stable", (
        f"group failed to converge: epoch {g.group_epoch}, members "
        f"{[(mid, m.member_epoch, m.current, m.target) for mid, m in g.members.items()]}"
    )
    # coverage: every partition of every subscribed topic owned exactly once
    owned_union: dict[tuple[str, int], int] = {}
    subscribed: set[str] = set()
    for m in g.members.values():
        subscribed.update(m.subscriptions)
        for topic, parts in m.current.items():
            for part in parts:
                owned_union[(topic, part)] = owned_union.get((topic, part), 0) + 1
    for topic in subscribed:
        for part in range(catalog[topic]):
            assert owned_union.get((topic, part), 0) == 1, (
                f"{topic}/{part} owned {owned_union.get((topic, part), 0)} times"
            )
    # no member confirms a partition outside the live catalog
    for (topic, part) in owned_union:
        assert part < catalog.get(topic, 0), (
            f"stale grant outside the catalog: {topic}/{part}"
        )


# -------------------------------------------- campaign G regressions


def test_partition_metadata_change_retargets_stable_group():
    """Model-fuzz find (catalog-churn extension): KIP-848 bumps the
    group epoch when subscribed partition metadata changes — a
    partition expansion must reach a stable group on its next
    heartbeat, and a deleted topic's partitions must drain out of
    confirmed ownership."""
    catalog = {"ta": 2}
    coord = ConsumerGroupCoordinator(topic_partitions=lambda: dict(catalog))
    err, m1, e1, a1 = _hb(coord, group="g", member="", epoch=0, subs=("ta",))
    assert err == wire.ERR_NONE and a1 == {"ta": (0, 1)}
    catalog["ta"] = 4  # expansion
    err, _, e2, a2 = _hb(
        coord, group="g", member=m1, epoch=e1, subs=None, owned=a1
    )
    assert err == wire.ERR_NONE and e2 == e1 + 1
    assert a2 == {"ta": (0, 1, 2, 3)}, "expanded partitions never assigned"
    del catalog["ta"]  # deletion
    err, _, e3, a3 = _hb(
        coord, group="g", member=m1, epoch=e2, subs=None, owned=a2
    )
    assert err == wire.ERR_NONE
    assert coord.groups["g"].members[m1].current == {}, (
        "deleted topic's partitions must drain from confirmed ownership"
    )


def test_epoch0_heartbeat_null_fields_mean_unchanged():
    """Model-fuzz find #5: a member still at epoch 0 (its inherited
    ownership pends revocation) heartbeats again in join shape with
    null subscriptions/instance/rack — 'unchanged' per the KIP. The
    coordinator must PRESERVE its prior subscription set and static
    identity, not wipe them; and a genuinely NEW member joining with
    no subscription at all is INVALID_REQUEST."""
    fe = KafkaFrontend()
    fe.wire_log.create_topic("ta", 4)
    fe.wire_log.create_topic("tb", 2)
    coord = fe.consumer_groups
    err, m1, e1, a1 = _hb(
        coord, group="g", member="", epoch=0, subs=("ta", "tb"),
        instance="static-1",
    )
    assert err == wire.ERR_NONE
    # rejoin at epoch 0 with everything-null: state survives
    err, m1b, _, _ = _hb(coord, group="g", member=m1, epoch=0, subs=None)
    assert err == wire.ERR_NONE and m1b == m1
    ms = coord.groups["g"].members[m1]
    assert ms.instance_id == "static-1"
    assert ms.subscriptions == ("ta", "tb")
    # initial join with no subscription shape is rejected
    err, *_ = _hb(coord, group="g", member="", epoch=0, subs=None)
    assert err == ERR_INVALID_REQUEST


def test_false_owned_claim_cannot_steal_confirmed_ownership():
    """Model-fuzz find #4: a member's owned report is clamped to what
    the coordinator actually granted it — a buggy client claiming a
    foreign partition must neither appear as its confirmed owner nor
    stall the real owner's reconciliation."""
    fe = KafkaFrontend()
    fe.wire_log.create_topic("ta", 4)
    fe.wire_log.create_topic("tb", 2)
    coord = fe.consumer_groups
    # m1 owns all of ta
    _, m1, e1, a1 = _hb(coord, group="g", member="", epoch=0, subs=("ta",))
    assert a1 == {"ta": (0, 1, 2, 3)}
    # m2 joins and advances (owns nothing yet), then m3 joins so m2's
    # epoch goes stale — the shrink branch is reachable for m2
    _, m2, e2, a2 = _hb(coord, group="g", member="", epoch=0, subs=("ta",))
    _, m3, e3, a3 = _hb(coord, group="g", member="", epoch=0, subs=("ta",))
    # m2, at its stale epoch, FALSELY claims it owns all of ta
    err, _, _, _ = _hb(
        coord, group="g", member=m2, epoch=e2, subs=None,
        owned={"ta": (0, 1, 2, 3)},
    )
    g = coord.groups["g"]
    claimed = g.members[m2].current
    real = g.members[m1].current
    overlap = {
        (t, p)
        for t, ps in claimed.items()
        for p in ps
        if p in real.get(t, ())
    }
    assert not overlap, f"false claim stole confirmed ownership: {overlap}"

"""Transactional produce: AddPartitionsToTxn (24) + EndTxn (26) +
read_committed fetch isolation + zombie fencing — uncommitted data is
invisible to read_committed consumers, commits reveal it, aborts hide
it forever, and a re-initialized transactional producer fences its
older instance."""

from __future__ import annotations

from kcore_spark.protocol import wire
from kcore_spark.protocol.broker import (
    ERR_INVALID_PRODUCER_EPOCH,
    ERR_INVALID_TXN_STATE,
    decode_fetch_response,
    decode_produce_response,
)
from kcore_spark.protocol.records import Record, decode_all_batches, encode_record_batch
from kcore_spark.protocol.server import KafkaFrontend

from tests.test_idempotent_produce import _init_pid
from tests.test_protocol_versions import _fetch_payload, _produce_payload


def _init_txn_pid(fe, tid, corr=85):
    w = wire.Writer()
    w.int16(wire.INIT_PRODUCER_ID_KEY).int16(0).int32(corr)
    w.nullable_string("pytest")
    w.nullable_string(tid)
    w.int32(60000)
    r = wire.Reader(fe.handle_request(w.bytes()))
    r.int32(), r.int32()
    assert r.int16() == wire.ERR_NONE
    return r.int64(), r.int16()


def _add_partitions(fe, tid, pid, epoch, topic, partitions, corr=86):
    w = wire.Writer()
    w.int16(wire.ADD_PARTITIONS_TO_TXN_KEY).int16(0).int32(corr)
    w.nullable_string("pytest")
    w.nullable_string(tid)
    w.int64(pid).int16(epoch)
    w.int32(1)
    w.nullable_string(topic)
    w.int32(len(partitions))
    for p in partitions:
        w.int32(p)
    r = wire.Reader(fe.handle_request(w.bytes()))
    r.int32(), r.int32()
    out = {}
    for _ in range(r.int32()):
        name = r.nullable_string()
        for _ in range(r.int32()):
            partition = r.int32()
            out[(name, partition)] = r.int16()
    return out


def _end_txn(fe, tid, pid, epoch, commit, corr=87):
    w = wire.Writer()
    w.int16(wire.END_TXN_KEY).int16(0).int32(corr)
    w.nullable_string("pytest")
    w.nullable_string(tid)
    w.int64(pid).int16(epoch)
    w.bool_(commit)
    r = wire.Reader(fe.handle_request(w.bytes()))
    r.int32(), r.int32()
    return r.int16()


def _txn_batch(pid, epoch, seq, values):
    return encode_record_batch(
        [Record(b"k", v, 1) for v in values],
        producer_id=pid, producer_epoch=epoch, base_sequence=seq, transactional=True,
    )


def _produce(fe, batch):
    resp = fe.handle_request(_produce_payload(3, "alpha", 0, batch))
    _, results, _ = decode_produce_response(resp, api_version=3)
    [(_, [row])] = results
    return row[1], row[2]


def _fetch_values(fe, isolation, offset=0):
    payload = bytearray(_fetch_payload(4, "alpha", 0, offset))
    # isolation byte sits after replica_id + 3 int32s in the v4 body;
    # locate it as the byte right before the topics count by rebuilding
    w = wire.Writer()
    w.int16(wire.FETCH_KEY).int16(4).int32(88)
    w.nullable_string("pytest")
    w.int32(-1).int32(100).int32(1).int32(1 << 20)
    w.int8(isolation)
    w.int32(1)
    w.nullable_string("alpha")
    w.int32(1)
    w.int32(0).int64(offset).int32(1 << 20)
    corr, results = decode_fetch_response(fe.handle_request(w.bytes()), api_version=4)
    [(_, [(idx, err, hw, batch)])] = results
    if batch is None:
        return err, hw, []
    return err, hw, [r.value for r in decode_all_batches(batch)]


def test_commit_reveals_abort_hides():
    fe = KafkaFrontend()
    fe.wire_log.create_topic("alpha", 1)
    tid = "txn-app"
    pid, epoch = _init_txn_pid(fe, tid)
    assert _add_partitions(fe, tid, pid, epoch, "alpha", [0]) == {("alpha", 0): 0}
    assert _produce(fe, _txn_batch(pid, epoch, 0, [b"t0", b"t1"])) == (wire.ERR_NONE, 0)

    # open txn: read_committed sees nothing, read_uncommitted sees all
    err, hw, vals = _fetch_values(fe, isolation=1)
    assert (err, hw, vals) == (wire.ERR_NONE, 0, [])
    err, hw, vals = _fetch_values(fe, isolation=0)
    assert (hw, vals) == (2, [b"t0", b"t1"])

    assert _end_txn(fe, tid, pid, epoch, commit=True) == wire.ERR_NONE
    err, hw, vals = _fetch_values(fe, isolation=1)
    assert (hw, vals) == (2, [b"t0", b"t1"])

    # second txn aborted: its records never become visible
    assert _add_partitions(fe, tid, pid, epoch, "alpha", [0]) == {("alpha", 0): 0}
    assert _produce(fe, _txn_batch(pid, epoch, 2, [b"bad"])) == (wire.ERR_NONE, 2)
    assert _end_txn(fe, tid, pid, epoch, commit=False) == wire.ERR_NONE
    err, hw, vals = _fetch_values(fe, isolation=1)
    assert (hw, vals) == (3, [b"t0", b"t1"])  # aborted offset 2 skipped
    _, _, vals = _fetch_values(fe, isolation=0)
    assert vals == [b"t0", b"t1", b"bad"]  # uncommitted readers see it


def test_zombie_producer_fenced():
    fe = KafkaFrontend()
    fe.wire_log.create_topic("alpha", 1)
    tid = "txn-app"
    pid, epoch = _init_txn_pid(fe, tid)
    # a new instance of the same logical producer initializes...
    pid2, epoch2 = _init_txn_pid(fe, tid, corr=90)
    assert pid2 == pid and epoch2 == epoch + 1
    # ...and the old instance is fenced everywhere
    err, _ = _produce(fe, _txn_batch(pid, epoch, 0, [b"z"]))
    assert err == ERR_INVALID_PRODUCER_EPOCH
    assert _add_partitions(fe, tid, pid, epoch, "alpha", [0]) == {
        ("alpha", 0): ERR_INVALID_PRODUCER_EPOCH
    }
    assert _end_txn(fe, tid, pid, epoch, True) == ERR_INVALID_PRODUCER_EPOCH
    # the new instance works
    assert _add_partitions(fe, tid, pid2, epoch2, "alpha", [0]) == {("alpha", 0): 0}
    assert _produce(fe, _txn_batch(pid2, epoch2, 0, [b"ok"])) == (wire.ERR_NONE, 0)
    assert _end_txn(fe, tid, pid2, epoch2, True) == wire.ERR_NONE
    _, hw, vals = _fetch_values(fe, isolation=1)
    assert (hw, vals) == (1, [b"ok"])


def test_end_txn_without_open_txn_is_invalid_state():
    fe = KafkaFrontend()
    fe.wire_log.create_topic("alpha", 1)
    pid, epoch = _init_txn_pid(fe, "t2")
    assert _end_txn(fe, "t2", pid, epoch, True) == ERR_INVALID_TXN_STATE


def test_lso_blocks_later_committed_data_until_open_txn_ends():
    """A second producer's committed records sit ABOVE an open txn's
    start: read_committed must not see them until the open txn ends
    (the LSO contract)."""
    fe = KafkaFrontend()
    fe.wire_log.create_topic("alpha", 1)
    t1_pid, t1_epoch = _init_txn_pid(fe, "p1")
    _add_partitions(fe, "p1", t1_pid, t1_epoch, "alpha", [0])
    assert _produce(fe, _txn_batch(t1_pid, t1_epoch, 0, [b"open"])) == (wire.ERR_NONE, 0)
    # plain (non-transactional) producer appends above it
    plain = encode_record_batch([Record(b"k", b"plain", 1)])
    assert _produce(fe, plain) == (wire.ERR_NONE, 1)
    _, hw, vals = _fetch_values(fe, isolation=1)
    assert (hw, vals) == (0, [])  # LSO pinned at the open txn's start
    assert _end_txn(fe, "p1", t1_pid, t1_epoch, True) == wire.ERR_NONE
    _, hw, vals = _fetch_values(fe, isolation=1)
    assert (hw, vals) == (2, [b"open", b"plain"])


# ------------------------------------------------ txn admin (k65/k66)


def _list_txns_payload(states=(), pids=()):
    w = wire.Writer()
    w.int16(wire.LIST_TRANSACTIONS_KEY).int16(0).int32(55)
    w.nullable_string("pytest")
    w.empty_tagged_fields()
    w.compact_array_len(len(states))
    for s in states:
        w.compact_string(s)
    w.compact_array_len(len(pids))
    for p in pids:
        w.int64(p)
    w.empty_tagged_fields()
    return w.bytes()


def _parse_list_txns(resp):
    r = wire.Reader(resp)
    corr = r.int32()
    r.tagged_fields()
    r.int32()  # throttle
    err = r.int16()
    for _ in range(max(r.compact_array_len(), 0)):
        r.compact_string()
    out = []
    for _ in range(max(r.compact_array_len(), 0)):
        tid, pid, state = r.compact_string(), r.int64(), r.compact_string()
        r.tagged_fields()
        out.append((tid, pid, state))
    return corr, err, out


def test_list_transactions_states_and_filters():
    from kcore_spark.protocol.server import KafkaFrontend

    fe = KafkaFrontend()
    fe.wire_log.create_topic("t", 1)
    pid_a, ep_a = fe.wire_log.init_producer_id("txn-a")
    pid_b, _ = fe.wire_log.init_producer_id("txn-b")
    fe.wire_log.add_partition_to_txn(pid_a, ep_a, "t", 0)

    _, err, all_txns = _parse_list_txns(fe.handle_request(_list_txns_payload()))
    assert err == wire.ERR_NONE
    assert ("txn-a", pid_a, "Ongoing") in all_txns
    assert ("txn-b", pid_b, "Empty") in all_txns

    _, _, ongoing = _parse_list_txns(
        fe.handle_request(_list_txns_payload(states=("Ongoing",)))
    )
    assert [t[0] for t in ongoing] == ["txn-a"]

    _, _, by_pid = _parse_list_txns(
        fe.handle_request(_list_txns_payload(pids=(pid_b,)))
    )
    assert [t[0] for t in by_pid] == ["txn-b"]


def test_describe_transactions_partitions_and_unknown():
    from kcore_spark.protocol.server import KafkaFrontend

    fe = KafkaFrontend()
    fe.wire_log.create_topic("t", 2)
    pid, ep = fe.wire_log.init_producer_id("txn-x")
    fe.wire_log.add_partition_to_txn(pid, ep, "t", 0)
    fe.wire_log.add_partition_to_txn(pid, ep, "t", 1)

    w = wire.Writer()
    w.int16(wire.DESCRIBE_TRANSACTIONS_KEY).int16(0).int32(56)
    w.nullable_string("pytest")
    w.empty_tagged_fields()
    w.compact_array_len(2)
    w.compact_string("txn-x")
    w.compact_string("ghost")
    w.empty_tagged_fields()
    r = wire.Reader(fe.handle_request(w.bytes()))
    assert r.int32() == 56
    r.tagged_fields()
    r.int32()  # throttle
    assert r.compact_array_len() == 2
    # txn-x
    assert r.int16() == wire.ERR_NONE
    assert r.compact_string() == "txn-x"
    assert r.compact_string() == "Ongoing"
    r.int32()  # timeout
    r.int64()  # start time
    assert r.int64() == pid
    assert r.int16() == ep
    assert r.compact_array_len() == 1
    assert r.compact_string() == "t"
    n_parts = r.compact_array_len()
    assert sorted(r.int32() for _ in range(n_parts)) == [0, 1]
    r.tagged_fields()
    r.tagged_fields()
    # ghost
    assert r.int16() == 105  # TRANSACTIONAL_ID_NOT_FOUND
    assert r.compact_string() == "ghost"


# -------------------------- KIP-890 (v4+): batched add, verify, epoch bump


def _add_partitions_v4(fe, txns, corr=95, version=4):
    """txns: [(tid, pid, epoch, verify_only, {topic: [parts]})]."""
    w = wire.Writer()
    w.int16(wire.ADD_PARTITIONS_TO_TXN_KEY).int16(version).int32(corr)
    w.nullable_string("pytest")
    w.empty_tagged_fields()  # header v2
    w.compact_array_len(len(txns))
    for tid, pid, epoch, verify_only, topics in txns:
        w.compact_string(tid)
        w.int64(pid).int16(epoch)
        w.bool_(verify_only)
        w.compact_array_len(len(topics))
        for name, parts in topics.items():
            w.compact_string(name)
            w.compact_array_len(len(parts))
            for p in parts:
                w.int32(p)
            w.empty_tagged_fields()
        w.empty_tagged_fields()
    w.empty_tagged_fields()
    r = wire.Reader(fe.handle_request(w.bytes()))
    r.int32()
    r.tagged_fields()
    r.int32()  # throttle
    top_err = r.int16()
    out = {}
    for _ in range(r.compact_array_len()):
        tid = r.compact_string()
        for _ in range(r.compact_array_len()):
            name = r.compact_string()
            for _ in range(r.compact_array_len()):
                partition = r.int32()
                out[(tid, name, partition)] = r.int16()
                r.tagged_fields()
            r.tagged_fields()
        r.tagged_fields()
    return top_err, out


def _end_txn_v4(fe, tid, pid, epoch, commit, corr=96, version=4):
    w = wire.Writer()
    w.int16(wire.END_TXN_KEY).int16(version).int32(corr)
    w.nullable_string("pytest")
    w.empty_tagged_fields()  # header v2
    w.compact_string(tid)
    w.int64(pid).int16(epoch)
    w.bool_(commit)
    w.empty_tagged_fields()
    r = wire.Reader(fe.handle_request(w.bytes()))
    r.int32()
    r.tagged_fields()
    r.int32()  # throttle
    err = r.int16()
    new_pid = r.int64()
    new_epoch = r.int16()
    return err, new_pid, new_epoch


def test_add_partitions_v4_batches_multiple_transactions():
    fe = KafkaFrontend()
    fe.wire_log.create_topic("alpha", 2)
    pid_a, ep_a = _init_txn_pid(fe, "tid-a")
    pid_b, ep_b = _init_txn_pid(fe, "tid-b", corr=88)
    top, out = _add_partitions_v4(
        fe,
        [
            ("tid-a", pid_a, ep_a, False, {"alpha": [0, 1]}),
            ("tid-b", pid_b, ep_b, False, {"alpha": [0]}),
        ],
    )
    assert top == wire.ERR_NONE
    assert out == {
        ("tid-a", "alpha", 0): wire.ERR_NONE,
        ("tid-a", "alpha", 1): wire.ERR_NONE,
        ("tid-b", "alpha", 0): wire.ERR_NONE,
    }
    assert ("alpha", 0) in fe.wire_log._open_txns[pid_a]
    assert ("alpha", 0) in fe.wire_log._open_txns[pid_b]


def test_add_partitions_v4_verify_only_never_adds():
    fe = KafkaFrontend()
    fe.wire_log.create_topic("alpha", 2)
    pid, ep = _init_txn_pid(fe, "tid-v")
    # verification of a partition NOT in the txn fails and adds nothing
    top, out = _add_partitions_v4(fe, [("tid-v", pid, ep, True, {"alpha": [0]})])
    assert top == wire.ERR_NONE
    assert out[("tid-v", "alpha", 0)] == ERR_INVALID_TXN_STATE
    assert pid not in fe.wire_log._open_txns
    # after a real add, verification of the same partition succeeds
    _add_partitions_v4(fe, [("tid-v", pid, ep, False, {"alpha": [0]})])
    top, out = _add_partitions_v4(fe, [("tid-v", pid, ep, True, {"alpha": [0]})])
    assert out[("tid-v", "alpha", 0)] == wire.ERR_NONE
    # wrong epoch is rejected on the verify path too
    _, out = _add_partitions_v4(fe, [("tid-v", pid, ep + 3, True, {"alpha": [0]})])
    assert out[("tid-v", "alpha", 0)] == ERR_INVALID_PRODUCER_EPOCH


def test_end_txn_v4_bumps_epoch_and_fences_old():
    fe = KafkaFrontend()
    fe.wire_log.create_topic("alpha", 1)
    pid, ep = _init_txn_pid(fe, "tid-e")
    _add_partitions_v4(fe, [("tid-e", pid, ep, False, {"alpha": [0]})])
    err, new_pid, new_epoch = _end_txn_v4(fe, "tid-e", pid, ep, True)
    assert err == wire.ERR_NONE
    assert (new_pid, new_epoch) == (pid, ep + 1)
    # the pre-bump epoch is now fenced for the next transaction
    _, out = _add_partitions_v4(fe, [("tid-e", pid, ep, False, {"alpha": [0]})])
    assert out[("tid-e", "alpha", 0)] == ERR_INVALID_PRODUCER_EPOCH
    # the bumped epoch works
    _, out = _add_partitions_v4(fe, [("tid-e", pid, new_epoch, False, {"alpha": [0]})])
    assert out[("tid-e", "alpha", 0)] == wire.ERR_NONE
    # failed EndTxn reports -1/-1 and does NOT bump
    err, bad_pid, bad_epoch = _end_txn_v4(fe, "tid-e", pid, ep, True)  # stale epoch
    assert err == ERR_INVALID_PRODUCER_EPOCH
    assert (bad_pid, bad_epoch) == (-1, -1)


def test_txn_version_ranges_advertised():
    ranges = {k: (lo, hi) for k, lo, hi in wire.SUPPORTED_APIS}
    assert ranges[wire.ADD_PARTITIONS_TO_TXN_KEY] == (0, 5)
    assert ranges[wire.END_TXN_KEY] == (0, 5)


# -------------------------- DescribeProducers (k61, KIP-664)


def _describe_producers(fe, topics, corr=97):
    """topics: {name: [partitions]} → {(topic, partition): (err, [(pid, epoch, last_seq, txn_start)])}"""
    w = wire.Writer()
    w.int16(wire.DESCRIBE_PRODUCERS_KEY).int16(0).int32(corr)
    w.nullable_string("pytest")
    w.empty_tagged_fields()
    w.compact_array_len(len(topics))
    for name, parts in topics.items():
        w.compact_string(name)
        w.compact_array_len(len(parts))
        for p in parts:
            w.int32(p)
        w.empty_tagged_fields()
    w.empty_tagged_fields()
    r = wire.Reader(fe.handle_request(w.bytes()))
    r.int32()
    r.tagged_fields()
    r.int32()  # throttle
    out = {}
    for _ in range(r.compact_array_len()):
        name = r.compact_string()
        for _ in range(r.compact_array_len()):
            partition = r.int32()
            err = r.int16()
            r.compact_string()  # error_message
            producers = []
            for _ in range(r.compact_array_len()):
                pid = r.int64()
                epoch = r.int32()
                last_seq = r.int32()
                r.int64()  # last_timestamp
                r.int32()  # coordinator_epoch
                txn_start = r.int64()
                r.tagged_fields()
                producers.append((pid, epoch, last_seq, txn_start))
            r.tagged_fields()
            out[(name, partition)] = (err, producers)
        r.tagged_fields()
    return out


def test_describe_producers_reports_declared_and_written_txns():
    fe = KafkaFrontend()
    fe.wire_log.create_topic("alpha", 2)
    pid, ep = _init_txn_pid(fe, "tid-dp")
    _add_partitions(fe, "tid-dp", pid, ep, "alpha", [0, 1])
    # partition 0: declared AND written; partition 1: declared only
    err, base = _produce(fe, _txn_batch(pid, ep, 0, [b"a", b"b"]))
    assert err == wire.ERR_NONE
    out = _describe_producers(fe, {"alpha": [0, 1]})
    err0, prods0 = out[("alpha", 0)]
    assert err0 == wire.ERR_NONE
    assert prods0 == [(pid, ep, 1, base)]  # last_seq = base_seq + n - 1
    err1, prods1 = out[("alpha", 1)]
    # declared-but-unwritten: the hanging-transaction signature
    assert prods1 == [(pid, ep, -1, -1)]
    # unknown partition errors per-partition, not per-request
    out = _describe_producers(fe, {"alpha": [7]})
    assert out[("alpha", 7)][0] == wire.ERR_UNKNOWN_TOPIC_OR_PARTITION


def test_describe_producers_idempotent_only():
    fe = KafkaFrontend()
    fe.wire_log.create_topic("alpha", 1)
    pid, ep = _init_pid(fe)
    from kcore_spark.protocol.records import encode_record_batch

    batch = encode_record_batch(
        [Record(b"k", b"v", 1)], producer_id=pid, producer_epoch=ep, base_sequence=0
    )
    assert _produce(fe, batch)[0] == wire.ERR_NONE
    out = _describe_producers(fe, {"alpha": [0]})
    err, prods = out[("alpha", 0)]
    # non-transactional idempotent producer: no txn start offset
    assert prods == [(pid, ep, 0, -1)]
    assert wire.SUPPORTED_APIS and {k: (lo, hi) for k, lo, hi in wire.SUPPORTED_APIS}[
        wire.DESCRIBE_PRODUCERS_KEY
    ] == (0, 0)

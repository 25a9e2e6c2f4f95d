"""Produce/Fetch data plane: record-batch v2 codec round-trips, CRC
integrity, wire produce→fetch over a real socket, and the flush
bridge into the parquet topic log."""

from __future__ import annotations

import asyncio
import datetime
import struct

import pytest

from kcore_spark.protocol import broker as broker_mod
from kcore_spark.protocol import records as records_mod
from kcore_spark.protocol import wire
from kcore_spark.protocol.broker import (
    WireLog,
    decode_fetch_response,
    decode_produce_response,
    handle_fetch,
    handle_produce,
)
from kcore_spark.protocol.records import (
    Record,
    crc32c,
    decode_all_batches,
    decode_record_batch,
    decode_varint,
    encode_record_batch,
    encode_varint,
)
from kcore_spark.protocol.server import KafkaFrontend

# ------------------------------------------------------ codec


def test_crc32c_known_vectors():
    # RFC 3720 test vector: 32 bytes of zeros → 0x8A9136AA
    assert crc32c(b"\x00" * 32) == 0x8A9136AA
    assert crc32c(b"123456789") == 0xE3069283


def test_varint_zigzag_roundtrip():
    for v in [0, -1, 1, -2, 63, -64, 64, 300, -300, 2**31, -(2**31), 2**62]:
        dec, pos = decode_varint(encode_varint(v), 0)
        assert dec == v


def _sample_records():
    return [
        Record(b"k1", b"v1", 1700000000000, headers=[("h", b"x"), ("empty", None)]),
        Record(None, b"v2", 1700000000123),
        Record(b"k3", None, 1700000001000),
    ]


def test_record_batch_roundtrip():
    batch = encode_record_batch(_sample_records(), base_offset=42)
    base, recs, end = decode_record_batch(batch)
    assert base == 42
    assert end == len(batch)
    assert [r.offset for r in recs] == [42, 43, 44]
    assert recs[0].key == b"k1" and recs[0].value == b"v1"
    assert recs[0].headers == [("h", b"x"), ("empty", None)]
    assert recs[1].key is None and recs[1].value == b"v2"
    assert recs[2].value is None
    assert [r.timestamp_ms for r in recs] == [1700000000000, 1700000000123, 1700000001000]


def test_record_batch_crc_rejects_corruption():
    batch = bytearray(encode_record_batch(_sample_records()))
    batch[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_record_batch(bytes(batch))


# ------------------------------------------------------ produce/fetch handlers


def _produce_payload(topic: str, partition: int, batch: bytes, corr=9, version=3) -> bytes:
    w = wire.Writer()
    w.int16(wire.PRODUCE_KEY).int16(version).int32(corr)
    w.nullable_string("t")  # client_id
    w.nullable_string(None)  # transactional_id
    w.int16(-1)  # acks
    w.int32(30000)
    w.int32(1)
    w.nullable_string(topic)
    w.int32(1)
    w.int32(partition)
    w.nullable_bytes(batch)
    return w.bytes()


def _fetch_payload(topic: str, partition: int, offset: int, corr=11) -> bytes:
    w = wire.Writer()
    w.int16(wire.FETCH_KEY).int16(4).int32(corr)
    w.nullable_string("t")
    w.int32(-1)  # replica_id
    w.int32(100).int32(1).int32(1 << 20)
    w.int8(0)  # isolation
    w.int32(1)
    w.nullable_string(topic)
    w.int32(1)
    w.int32(partition).int64(offset).int32(1 << 20)
    return w.bytes()


def test_produce_then_fetch_roundtrip():
    log = WireLog()
    log.create_topic("t", 2)
    resp = handle_produce(log, _produce_payload("t", 0, encode_record_batch(_sample_records())))
    corr, results, _ = decode_produce_response(resp)
    assert corr == 9
    assert results == [("t", [(0, wire.ERR_NONE, 0, -1)])]
    # second batch appends at offset 3
    resp = handle_produce(log, _produce_payload("t", 0, encode_record_batch(_sample_records())))
    _, results, _ = decode_produce_response(resp)
    assert results[0][1][0][2] == 3

    fr = handle_fetch(log, _fetch_payload("t", 0, 2))
    corr, out = decode_fetch_response(fr)
    assert corr == 11
    (name, [(idx, err, hw, batch)]) = out[0]
    assert (name, idx, err, hw) == ("t", 0, wire.ERR_NONE, 6)
    recs = decode_all_batches(batch)
    assert [r.offset for r in recs] == [2, 3, 4, 5]
    assert recs[0].value is None  # third sample record
    assert recs[1].value == b"v1"


def test_produce_unknown_topic_and_corrupt_batch():
    log = WireLog()
    log.create_topic("t", 1)
    resp = handle_produce(log, _produce_payload("nope", 0, encode_record_batch(_sample_records())))
    _, results, _ = decode_produce_response(resp)
    assert results[0][1][0][1] == wire.ERR_UNKNOWN_TOPIC_OR_PARTITION
    bad = bytearray(encode_record_batch(_sample_records()))
    bad[20] ^= 0xFF
    resp = handle_produce(log, _produce_payload("t", 0, bytes(bad)))
    _, results, _ = decode_produce_response(resp)
    assert results[0][1][0][1] == wire.ERR_CORRUPT_MESSAGE
    assert log.high_watermark("t", 0) == 0  # nothing appended


def test_fetch_out_of_range():
    log = WireLog()
    log.create_topic("t", 1)
    log.append("t", 0, _sample_records())
    fr = handle_fetch(log, _fetch_payload("t", 0, 99))
    _, out = decode_fetch_response(fr)
    assert out[0][1][0][1] == wire.ERR_OFFSET_OUT_OF_RANGE


# ------------------------------------------------------ over the socket


def test_socket_produce_fetch_end_to_end():
    async def run():
        fe = KafkaFrontend(port=0)
        fe.wire_log.create_topic("events", 1)
        await fe.start()
        try:
            reader, writer = await asyncio.open_connection(fe.host, fe.port)

            async def rpc(frame: bytes) -> bytes:
                writer.write(struct.pack(">I", len(frame)) + frame)
                await writer.drain()
                (size,) = struct.unpack(">I", await reader.readexactly(4))
                return await reader.readexactly(size)

            p = await rpc(_produce_payload("events", 0, encode_record_batch(_sample_records())))
            _, results, _ = decode_produce_response(p)
            assert results[0][1][0][1] == wire.ERR_NONE
            f = await rpc(_fetch_payload("events", 0, 0))
            _, out = decode_fetch_response(f)
            recs = decode_all_batches(out[0][1][0][3])
            assert [r.key for r in recs] == [b"k1", None, b"k3"]
            writer.close()
        finally:
            await fe.stop()

    asyncio.run(run())


# ------------------------------------------------------ Spark flush bridge


def test_flush_bridge_to_parquet_log(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    from kcore_spark.sources.topic_log import TopicLog

    tlog = TopicLog(spark, str(tmp_path))
    tlog.create_topic("t", 2)
    wl = WireLog()
    wl.create_topic("t", 2)
    wl.append("t", 0, _sample_records())
    wl.append("t", 1, _sample_records()[:1])
    # the stored batches were checked when appended: flush must not
    # compute a CRC again
    crcs = _count_calls(monkeypatch, records_mod, "crc32c")
    flushed = wl.flush_to_topic_log(spark, tlog, "t")
    assert flushed == 4
    assert wl.flush_to_topic_log(spark, tlog, "t") == 0  # idempotent
    assert crcs == []

    rows = tlog.scan("t").orderBy("partition", "offset").collect()
    assert [(r["partition"], r["offset"]) for r in rows] == [(0, 0), (0, 1), (0, 2), (1, 0)]
    assert rows[0]["key"] == bytearray(b"k1") or rows[0]["key"] == b"k1"
    want = _sample_records() + _sample_records()[:1]
    assert [(_opt_bytes(r["key"]), _opt_bytes(r["value"])) for r in rows] == [
        (w.key, w.value) for w in want
    ]
    ms = tlog.scan("t").orderBy("partition", "offset").select(F.unix_millis("timestamp")).collect()
    assert [m[0] for m in ms] == [w.timestamp_ms for w in want]
    wm = tlog._watermarks("t")
    assert wm == {0: 3, 1: 1}
    # appends after flush continue the same offset sequence
    wl.append("t", 0, _sample_records()[:1])
    wl.flush_to_topic_log(spark, tlog, "t")
    assert tlog._watermarks("t")[0] == 4
    assert tlog.fetch("t", 0, 3, 10).select(F.col("offset")).collect()[0][0] == 3


def test_flush_runs_no_spark_job(spark, tmp_path):
    from kcore_spark.sources.topic_log import TopicLog

    tlog = TopicLog(spark, str(tmp_path))
    tlog.create_topic("t", 2)
    wl = WireLog()
    wl.create_topic("t", 2)
    wl.append("t", 0, _sample_records())
    wl.append("t", 1, _sample_records()[:1])
    sc = spark.sparkContext
    try:
        sc.setJobGroup("flush-no-jobs", "flush")
        assert wl.flush_to_topic_log(spark, tlog, "t") == 4
        # the tracker does see a job run under a group
        sc.setJobGroup("flush-control", "control")
        spark.range(3).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    assert list(tracker.getJobIdsForGroup("flush-no-jobs")) == []
    assert list(tracker.getJobIdsForGroup("flush-control"))
    assert tlog._watermarks("t") == {0: 3, 1: 1}


def _mixed_topic(spark, root):
    """A 2-partition topic whose offsets [0, 3) come from a wire-log
    flush (pyarrow segments), [3, 5) from TopicLog.produce (Spark
    segments) and [5, 7) from the kcore_topic writer's commit. Returns
    the log and the expected
    (partition, offset) -> (key, value, timestamp_ms)."""
    from pyspark.sql import functions as F

    from kcore_spark.sources.pyds import WRITE_DDL, TopicLogWriter
    from kcore_spark.sources.topic_log import TopicLog

    tlog = TopicLog(spark, root)
    tlog.create_topic("t", 2)
    wl = WireLog()
    wl.create_topic("t", 2)
    wl.append("t", 0, _sample_records())
    wl.append("t", 1, _sample_records())
    assert wl.flush_to_topic_log(spark, tlog, "t") == 6
    want = {
        (p, r.offset): (r.key, r.value, r.timestamp_ms)
        for p in (0, 1)
        for r in wl.read("t", p, 0, 10)
    }
    produced = [(b"pk%d" % i, b"pv%d" % i, 1700000005000 + i, i) for i in range(4)]
    df = spark.createDataFrame(
        produced, "key binary, value binary, ts_ms long, seq long"
    ).select("key", "value", F.timestamp_millis("ts_ms").alias("timestamp"), "seq")
    tlog.produce("t", df, partition_expr=(F.col("seq") % 2).cast("int"), order_by=["seq"])
    for k, v, ms, i in produced:
        want[(i % 2, 3 + i // 2)] = (k, v, ms)
    # the writer stages naive datetimes: the segment keeps their wall
    # clock as UTC
    epoch = datetime.datetime(1970, 1, 1)
    one_ms = datetime.timedelta(milliseconds=1)
    written = [
        (b"wk%d" % i, b"wv%d" % i, epoch + (1700000009000 + i) * one_ms, i % 2, i)
        for i in range(4)
    ]
    schema = spark.createDataFrame([], WRITE_DDL).schema
    w = TopicLogWriter({"root": root, "topic": "t"}, schema)
    w.commit([w.write(iter(written))])
    for k, v, ts, p, i in written:
        want[(p, 5 + i // 2)] = (k, v, (ts - epoch) // one_ms)
    return tlog, want


def test_flushed_segment_schema_equals_produced_segment(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tlog, _ = _mixed_topic(spark, str(tmp_path))
    man = tlog._load_manifest("t")
    data_dir = tlog._topic_dir("t") + "/data"
    flushed = [e["file"] for es in man.values() for e in es if e["min"] < 3]
    produced = [e["file"] for es in man.values() for e in es if 3 <= e["min"] < 5]
    written = [e["file"] for es in man.values() for e in es if e["min"] >= 5]
    assert len(flushed) == 2 and len(produced) == 2 and len(written) == 2
    assert all("/part-pr-" in f for f in flushed + written)
    want = pq.read_schema(f"{data_dir}/{produced[0]}")
    for f in flushed + produced + written:
        got = pq.read_schema(f"{data_dir}/{f}")
        assert got.equals(want), (f, got, want)
    assert want.field("timestamp").type == pa.timestamp("us", tz="UTC")
    assert not want.field("timestampType").nullable
    assert "partition" not in want.names


def test_flushed_and_produced_segments_read_alike(spark, tmp_path):
    from pyspark.sql import functions as F

    from kcore_spark.sources.pyds import TopicLogDataSource

    tlog, want = _mixed_topic(spark, str(tmp_path))
    cols = ["partition", "offset", "key", "value", F.unix_millis("timestamp").alias("ms")]

    def as_dict(rows):
        return {
            (r["partition"], r["offset"]): (_opt_bytes(r["key"]), _opt_bytes(r["value"]), r["ms"])
            for r in rows
        }

    scanned = tlog.scan("t").select(*cols).collect()
    assert len(scanned) == 14 and as_dict(scanned) == want
    for p in (0, 1):
        fetched = tlog.fetch("t", p, 0, 100).select(*cols).collect()
        assert [r["offset"] for r in fetched] == [0, 1, 2, 3, 4, 5, 6]
        assert as_dict(fetched) == {k: v for k, v in want.items() if k[0] == p}
        for lo in (2, 4):
            tail = tlog.fetch("t", p, lo, 2).select("offset").collect()
            assert [r["offset"] for r in tail] == [lo, lo + 1]
    assert [tuple(r) for r in tlog.list_offsets("t").collect()] == [(0, 0, 7, 7), (1, 0, 7, 7)]
    spark.dataSource.register(TopicLogDataSource)
    via_ds = (
        spark.read.format("kcore_topic")
        .option("root", tlog.root)
        .option("topic", "t")
        .load()
        .collect()
    )
    # the source's timestamp is NTZ: a naive datetime on the UTC wall clock
    epoch = datetime.datetime(1970, 1, 1)
    via_ds = [
        {**r.asDict(), "ms": (r["timestamp"] - epoch) // datetime.timedelta(milliseconds=1)}
        for r in via_ds
    ]
    assert len(via_ds) == 14 and as_dict(via_ds) == want


# ------------------------------------------------------ handler properties

from hypothesis import given, settings
from hypothesis import strategies as st

_rec = st.builds(
    Record,
    key=st.one_of(st.none(), st.binary(max_size=32)),
    value=st.one_of(st.none(), st.binary(max_size=64)),
    timestamp_ms=st.integers(min_value=0, max_value=2**41),
    offset=st.just(0),
    headers=st.just([]),
)


@settings(max_examples=25, deadline=None)
@given(st.lists(_rec, min_size=1, max_size=8), st.lists(_rec, min_size=1, max_size=8))
def test_produce_fetch_handler_property(batch1, batch2):
    """Any two produced batches fetch back byte-identical with dense,
    contiguous offsets across the batches."""
    log = WireLog()
    log.create_topic("t", 1)
    for b in (batch1, batch2):
        resp = handle_produce(log, _produce_payload("t", 0, encode_record_batch(b)))
        _, results, _ = decode_produce_response(resp)
        assert results[0][1][0][1] == wire.ERR_NONE
    fr = handle_fetch(log, _fetch_payload("t", 0, 0))
    _, out = decode_fetch_response(fr)
    recs = decode_all_batches(out[0][1][0][3])
    want = batch1 + batch2
    assert [r.offset for r in recs] == list(range(len(want)))
    assert [(r.key, r.value, r.timestamp_ms) for r in recs] == [
        (w.key, w.value, w.timestamp_ms) for w in want
    ]


# ------------------------------------------------ Fetch v12 / v13


def _fetch_payload_modern(version, topic, partition, offset, corr=21):
    w = wire.Writer()
    w.int16(wire.FETCH_KEY).int16(version).int32(corr)
    w.nullable_string("t")
    w.empty_tagged_fields()  # flexible header (v12+)
    w.int32(-1)  # replica_id
    w.int32(100).int32(1).int32(1 << 20)
    w.int8(0)  # isolation
    w.int32(0).int32(0)  # session_id / epoch
    w.compact_array_len(1)
    if version >= 13:
        w.uuid(wire.topic_uuid(topic))
    else:
        w.compact_string(topic)
    w.compact_array_len(1)
    w.int32(partition)
    w.int32(-1)  # current_leader_epoch
    w.int64(offset)
    w.int64(-1)  # log_start_offset
    w.int32(1 << 20)
    w.empty_tagged_fields()  # partition
    w.empty_tagged_fields()  # topic
    w.compact_array_len(0)  # forgotten topics
    w.compact_string(None)  # rack_id
    w.empty_tagged_fields()
    return w.bytes()


@pytest.mark.parametrize("version", [12, 13])
def test_fetch_v12_v13_roundtrip(version):
    log = WireLog()
    log.create_topic("modern", 1)
    handle_produce(log, _produce_payload("modern", 0, encode_record_batch(_sample_records())))
    fr = handle_fetch(log, _fetch_payload_modern(version, "modern", 0, 0))
    corr, out = decode_fetch_response(fr, api_version=version)
    assert corr == 21
    (name, [(idx, err, hw, batch)]) = out[0]
    if version >= 13:
        assert name == wire.topic_uuid("modern")  # id-addressed echo
    else:
        assert name == "modern"
    assert (idx, err, hw) == (0, wire.ERR_NONE, 3)
    base, records, _ = decode_record_batch(batch)
    assert base == 0 and len(records) == 3


def test_fetch_v13_unknown_topic_id():
    log = WireLog()
    log.create_topic("known", 1)
    import uuid as uuid_mod

    ghost = uuid_mod.uuid4().bytes
    w = wire.Writer()
    w.int16(wire.FETCH_KEY).int16(13).int32(22)
    w.nullable_string("t")
    w.empty_tagged_fields()
    w.int32(-1)
    w.int32(100).int32(1).int32(1 << 20)
    w.int8(0)
    w.int32(0).int32(0)
    w.compact_array_len(1)
    w.uuid(ghost)
    w.compact_array_len(1)
    w.int32(0).int32(-1).int64(0).int64(-1).int32(1 << 20)
    w.empty_tagged_fields()
    w.empty_tagged_fields()
    w.compact_array_len(0)
    w.compact_string(None)
    w.empty_tagged_fields()
    fr = handle_fetch(log, w.bytes())
    corr, out = decode_fetch_response(fr, api_version=13)
    (tid, [(idx, err, hw, batch)]) = out[0]
    assert tid == ghost  # unresolvable id echoed back
    assert err == wire.ERR_UNKNOWN_TOPIC_ID
    assert batch is None


# ------------------------------------------------ stored batches


def _opt_bytes(b):
    return None if b is None else bytes(b)


def _count_calls(monkeypatch, module, name: str) -> list:
    """Wrap module.name so each call appends its args to the returned list."""
    calls: list = []
    orig = getattr(module, name)

    def counted(*args, **kwargs):
        calls.append(args)
        return orig(*args, **kwargs)

    monkeypatch.setattr(module, name, counted)
    return calls


def _fetched(log: WireLog, topic: str, offset: int, cap: int = 1000):
    """(error, records bytes) of a read_uncommitted Fetch v4."""
    _, out = decode_fetch_response(
        handle_fetch(log, _fetch_payload(topic, 0, offset), max_records_per_partition=cap)
    )
    (_name, [(_idx, err, _hw, batch)]) = out[0]
    return err, batch


def _produced(log: WireLog, topic: str, batch: bytes) -> int:
    _, results, _ = decode_produce_response(handle_produce(log, _produce_payload(topic, 0, batch)))
    return results[0][1][0][1]


def _sent_batch(n: int, first: int, **kw) -> bytes:
    """A producer's batch of n records (values first..first+n-1), with a
    client-side baseOffset and partitionLeaderEpoch the broker replaces."""
    recs = [Record(b"k%d" % i, b"v%d" % i, 1700000000000 + i) for i in range(first, first + n)]
    batch = bytearray(encode_record_batch(recs, **kw))
    struct.pack_into(">i", batch, 12, 7)  # partitionLeaderEpoch: outside the CRC
    return bytes(batch)


def test_whole_stored_batches_fetch_byte_for_byte(monkeypatch):
    """A Fetch made of whole stored batches returns the produced bytes,
    with only baseOffset and partitionLeaderEpoch rewritten, and neither
    encodes a record nor computes a CRC."""
    log = WireLog()
    log.create_topic("t", 1)
    sent = [
        _sent_batch(3, 0),
        _sent_batch(4, 3, producer_id=5, producer_epoch=0, base_sequence=0),
        _sent_batch(2, 7, compression="gzip"),
    ]
    for b in sent:
        assert _produced(log, "t", b) == wire.ERR_NONE
    crcs = _count_calls(monkeypatch, records_mod, "crc32c")
    encodes = _count_calls(monkeypatch, broker_mod, "encode_record_batch")
    err, got = _fetched(log, "t", 0)
    assert err == wire.ERR_NONE
    assert crcs == [] and encodes == []
    want = b"".join(
        struct.pack(">q", base) + b[8:12] + b"\x00\x00\x00\x00" + b[16:]
        for base, b in zip([0, 3, 7], sent)
    )
    assert got == want
    assert [r.value for r in decode_all_batches(got)] == [b"v%d" % i for i in range(9)]


_sizes = st.lists(st.integers(min_value=1, max_value=12), min_size=1, max_size=6)


@settings(max_examples=60, deadline=None)
@given(_sizes, st.data(), st.integers(min_value=1, max_value=30))
def test_fetch_of_stored_batches_equals_read(sizes, data, cap):
    """For any batch sizes, DeleteRecords point, fetch offset and cap,
    the fetched record set decodes to exactly what ``read`` returns."""
    log = WireLog()
    log.create_topic("t", 1)
    first = 0
    for n in sizes:
        assert log.append("t", 0, []) == first  # an empty append stores nothing
        assert _produced(log, "t", _sent_batch(n, first)) == wire.ERR_NONE
        first += n
    hw = log.high_watermark("t", 0)
    assert hw == first
    start = data.draw(st.integers(min_value=0, max_value=hw))
    log.delete_records("t", 0, start)
    offset = data.draw(st.integers(min_value=start, max_value=hw))
    err, got = _fetched(log, "t", offset, cap)
    assert err == wire.ERR_NONE
    want = log.read("t", 0, offset, cap)
    assert len(want) == min(cap, hw - offset)
    assert (decode_all_batches(got) if got else []) == want
    assert [r.value for r in want] == [b"v%d" % i for i in range(offset, offset + len(want))]


def test_fetch_re_encodes_only_the_records_of_cut_batches(monkeypatch):
    log = WireLog()
    log.create_topic("t", 1)
    for first in (0, 10, 20):
        assert _produced(log, "t", _sent_batch(10, first)) == wire.ERR_NONE
    encodes = _count_calls(monkeypatch, broker_mod, "encode_record_batch")
    # window [5, 25): the first batch is cut at 5, the third at 25
    err, got = _fetched(log, "t", 5, cap=20)
    assert err == wire.ERR_NONE
    assert [[r.offset for r in args[0]] for args in encodes] == [
        list(range(5, 10)),
        list(range(20, 25)),
    ]
    assert [r.offset for r in decode_all_batches(got)] == list(range(5, 25))


def test_gzip_batch_fetches_back_compressed():
    log = WireLog()
    log.create_topic("t", 1)
    sent = _sent_batch(5, 0, compression="gzip")
    assert _produced(log, "t", sent) == wire.ERR_NONE
    _err, got = _fetched(log, "t", 0)
    attributes = struct.unpack_from(">h", got, 21)[0]
    assert attributes & 0x07 == 1  # gzip
    assert decode_all_batches(got) == decode_record_batch(sent)[1]


def test_non_dense_inner_offsets_fetch_back_dense():
    log = WireLog()
    log.create_topic("t", 1)
    assert _produced(log, "t", _sent_batch(2, 0)) == wire.ERR_NONE
    gappy = [
        Record(b"a", b"x", 1700000000000, offset=0),
        Record(b"b", b"y", 1700000000001, offset=2),
        Record(b"c", b"z", 1700000000002, offset=5),
    ]
    assert _produced(log, "t", encode_record_batch(gappy)) == wire.ERR_NONE
    assert log.high_watermark("t", 0) == 5
    _err, got = _fetched(log, "t", 0)
    recs = decode_all_batches(got)
    assert [r.offset for r in recs] == [0, 1, 2, 3, 4]
    assert [r.value for r in recs[2:]] == [b"x", b"y", b"z"]
    # the stored batch's header agrees: lastOffsetDelta n-1 at base 2
    assert [(base, n) for base, n in _batch_spans(got)] == [(0, 2), (2, 3)]


def _batch_spans(blob: bytes) -> list[tuple[int, int]]:
    out, pos = [], 0
    while pos < len(blob):
        base, blen = struct.unpack_from(">qi", blob, pos)
        out.append((base, struct.unpack_from(">i", blob, pos + 23)[0] + 1))
        pos += 12 + blen
    return out


def test_produce_refuses_a_second_batch_or_trailing_bytes():
    """Produce v3+ carries exactly one batch per partition: two batches,
    or one batch with trailing bytes, answer INVALID_RECORD and append
    nothing (rather than acknowledging and keeping only the first)."""
    log = WireLog()
    log.create_topic("t", 1)
    two = _sent_batch(3, 0) + _sent_batch(3, 3)
    assert _produced(log, "t", two) == wire.ERR_INVALID_RECORD
    assert _produced(log, "t", _sent_batch(3, 0) + b"\x00") == wire.ERR_INVALID_RECORD
    assert log.high_watermark("t", 0) == 0
    assert _produced(log, "t", _sent_batch(3, 0)) == wire.ERR_NONE
    assert log.high_watermark("t", 0) == 3

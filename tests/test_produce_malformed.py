"""Produce refuses a malformed batch with CORRUPT_MESSAGE and appends
nothing.

The first batches keep a valid length field and CRC, fixed up after
the edit, so only the record parse can notice. Kafka's record-batch
reader rejects all three: "Incorrect declared batch size, records still
remaining" for a short record count or bytes after the last record,
and "Invalid record size" for a wrong length prefix. The last ones are
~64 KB batches, long enough for the CRC's lane-parallel path, with one
bit flipped where that path could miss it. No SparkSession needed.
"""

from __future__ import annotations

import random
import struct

import pytest

from kcore_spark.protocol import records, wire
from kcore_spark.protocol.broker import WireLog, decode_produce_response, handle_produce
from kcore_spark.protocol.records import (
    Record,
    crc32c,
    decode_varint,
    encode_record_batch,
    encode_varint,
)

COUNT_AT, RECORDS_AT = 57, 61  # record count and first record in a magic-v2 batch


def _produce(wl: WireLog, batch: bytes) -> int:
    w = wire.Writer()
    w.int16(wire.PRODUCE_KEY).int16(3).int32(7)
    w.nullable_string("cid")
    w.nullable_string(None)  # transactional_id
    w.int16(-1).int32(30000)
    w.int32(1)
    w.nullable_string("t")
    w.int32(1)
    w.int32(0)
    w.nullable_bytes(batch)
    _corr, [(_name, [row])], _thr = decode_produce_response(bytes(handle_produce(wl, w.bytes())))
    return row[1]


def _fix_up(batch: bytearray) -> bytes:
    """Rewrite the batch length and CRC to match the edited bytes."""
    struct.pack_into(">i", batch, 8, len(batch) - 12)
    struct.pack_into(">I", batch, 17, crc32c(bytes(batch[21:])))
    return bytes(batch)


def _three_records() -> bytearray:
    return bytearray(
        encode_record_batch(
            [Record(b"k%d" % i, b"value-%d" % i, 1_700_000_000_000 + i) for i in range(3)]
        )
    )


def _short_count(b: bytearray) -> None:
    struct.pack_into(">i", b, COUNT_AT, 2)


def _junk_after_last_record(b: bytearray) -> None:
    b += b"\xab" * 8


def _first_length_off_by_one(b: bytearray) -> None:
    rec_len, p = decode_varint(b, RECORDS_AT)
    b[RECORDS_AT:p] = encode_varint(rec_len + 1)


@pytest.mark.parametrize(
    "edit", [_short_count, _junk_after_last_record, _first_length_off_by_one]
)
def test_malformed_batch_is_refused_and_not_appended(edit):
    wl = WireLog()
    wl.create_topic("t", 1)
    good = _three_records()
    assert _produce(wl, _fix_up(bytearray(good))) == 0  # the fix-up alone is harmless
    assert wl.high_watermark("t", 0) == 3

    bad = bytearray(good)
    edit(bad)
    assert _produce(wl, _fix_up(bad)) == wire.ERR_CORRUPT_MESSAGE
    assert wl.high_watermark("t", 0) == 3
    assert len(wl.read_batches("t", 0, 0, 100)) == len(good)


def test_compressed_block_must_end_with_its_last_record():
    """For a compressed batch the records must fill the decompressed
    block; a record count one short leaves its last record unread."""
    wl = WireLog()
    wl.create_topic("t", 1)
    bad = bytearray(
        encode_record_batch(
            [Record(b"k", b"v%d" % i, 1_700_000_000_000) for i in range(3)],
            compression="gzip",
        )
    )
    _short_count(bad)
    assert _produce(wl, _fix_up(bad)) == wire.ERR_CORRUPT_MESSAGE
    assert wl.high_watermark("t", 0) == 0


# ------------------------------------------------ the CRC's lane path

CRC_DATA_AT = 21  # the CRC covers the batch from its attributes on


def _big_batch() -> bytes:
    rng = random.Random(7)
    recs = [Record(b"k%d" % i, rng.randbytes(500), 1_700_000_000_000 + i) for i in range(128)]
    return encode_record_batch(recs)


def _flip_sites(batch: bytes) -> dict[str, int]:
    n = len(batch) - CRC_DATA_AT
    pad = -n % records._LANE  # the kernel's zero padding in front of the first lane
    middle_lane = -(-n // records._LANE) // 2
    return {
        "first covered byte": CRC_DATA_AT,
        "lane boundary": CRC_DATA_AT + middle_lane * records._LANE - pad,
        "last byte": len(batch) - 1,
    }


def test_big_batch_is_on_the_lane_path():
    batch = _big_batch()
    assert 60 * 1024 < len(batch) - CRC_DATA_AT
    assert len(batch) - CRC_DATA_AT >= records._LANE_MIN
    wl = WireLog()
    wl.create_topic("t", 1)
    assert _produce(wl, batch) == 0
    assert wl.high_watermark("t", 0) == 128


@pytest.mark.parametrize("site", ["first covered byte", "lane boundary", "last byte"])
def test_one_flipped_bit_is_corrupt_on_the_lane_path(site):
    batch = _big_batch()
    i = _flip_sites(batch)[site]
    for bit in (0, 7):
        bad = bytearray(batch)
        bad[i] ^= 1 << bit
        wl = WireLog()
        wl.create_topic("t", 1)
        assert _produce(wl, bytes(bad)) == wire.ERR_CORRUPT_MESSAGE, (site, bit)
        assert wl.high_watermark("t", 0) == 0
        assert wl.read_batches("t", 0, 0, 1000) == b""

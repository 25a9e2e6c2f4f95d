"""Kafka record-batch v2 (magic 2) binary codec.

The reference delegates all record encoding to its sarama fork
(`/root/reference/go.mod:10,51`; the fork is absent from the snapshot)
— this is the from-scratch, public-spec implementation of the same
format: CRC32C (Castagnoli), zigzag varints, delta-encoded offsets and
timestamps, per-record headers.

Compression (attributes bits 0-2): none(0) and gzip(1) via stdlib;
snappy(2, xerial stream framing), lz4(3, LZ4 frame) and zstd(4, zstd
frame) via the codecs bundled in pyarrow, gated behind import-try —
when pyarrow is absent those codecs raise UnsupportedCodecError and
the broker answers CORRUPT_MESSAGE rather than crashing.
"""

from __future__ import annotations

import functools
import struct
from dataclasses import dataclass, field

# ------------------------------------------------------ compression codecs

CODEC_IDS = {None: 0, "gzip": 1, "snappy": 2, "lz4": 3, "zstd": 4}
CODEC_NAMES = {v: k for k, v in CODEC_IDS.items()}

_XERIAL_HEADER = b"\x82SNAPPY\x00"


class UnsupportedCodecError(ValueError):
    pass


def _pa_codec(name: str):
    try:
        import pyarrow as pa
    except ImportError as e:  # pragma: no cover - pyarrow is baked in
        raise UnsupportedCodecError(
            f"codec {name!r} needs pyarrow, which is not installed"
        ) from e
    return pa


def _snappy_raw_uncompressed_len(block: bytes) -> int:
    """A raw snappy block starts with a varint of its uncompressed
    length — exactly the size hint pyarrow's one-shot codec needs.

    The declared length is attacker-controlled: a crafted block can
    claim terabytes and make the codec attempt the allocation before
    noticing the payload is garbage. Snappy's worst-case expansion is
    bounded (compressed >= uncompressed/..., in practice compressed
    can't be smaller than ~uncompressed/255 even for all-zero runs),
    so reject anything beyond 256x the compressed size or 1 GiB."""
    n = shift = i = 0
    while True:
        b = block[i]
        n |= (b & 0x7F) << shift
        i += 1
        if not b & 0x80:
            break
        shift += 7
        if shift > 42:  # > 6 varint bytes: length would exceed 4 TiB
            raise ValueError("snappy: unreasonable uncompressed-length varint")
    if n > max(1 << 30, 256 * len(block)):
        raise ValueError(
            f"snappy: declared uncompressed size {n} implausible for "
            f"{len(block)}-byte block"
        )
    return n


def compress_block(name: str, data: bytes) -> bytes:
    """Compress a record block with Kafka's framing for the codec:
    gzip → gzip stream; snappy → xerial-framed stream of raw snappy
    blocks (what the Java client's SnappyOutputStream produces);
    lz4 → LZ4 frame; zstd → zstd frame."""
    if name == "gzip":
        import gzip as _gzip

        # mtime=0: reproducible bytes (the header would otherwise embed
        # the wall clock, breaking golden-byte conformance fixtures)
        return _gzip.compress(data, mtime=0)
    if name == "snappy":
        pa = _pa_codec("snappy")
        block = pa.Codec("snappy").compress(data, asbytes=True)
        return (
            _XERIAL_HEADER
            + struct.pack(">ii", 1, 1)  # version, compat
            + struct.pack(">i", len(block))
            + block
        )
    if name in ("lz4", "zstd"):
        pa = _pa_codec(name)
        sink = pa.BufferOutputStream()
        f = pa.CompressedOutputStream(sink, name)
        f.write(data)
        f.close()
        return sink.getvalue().to_pybytes()
    raise UnsupportedCodecError(f"unknown codec {name!r}")


def decompress_block(name: str, data: bytes) -> bytes:
    if name == "gzip":
        import gzip as _gzip

        return _gzip.decompress(data)
    if name == "snappy":
        pa = _pa_codec("snappy")
        codec = pa.Codec("snappy")
        if data[:8] == _XERIAL_HEADER:
            out = bytearray()
            p = 16  # header + version + compat
            while p < len(data):
                (blen,) = struct.unpack_from(">i", data, p)
                p += 4
                block = data[p : p + blen]
                p += blen
                out += codec.decompress(
                    block,
                    decompressed_size=_snappy_raw_uncompressed_len(block),
                    asbytes=True,
                )
            return bytes(out)
        # raw snappy block (librdkafka-style)
        return codec.decompress(
            data, decompressed_size=_snappy_raw_uncompressed_len(data), asbytes=True
        )
    if name in ("lz4", "zstd"):
        pa = _pa_codec(name)
        f = pa.CompressedInputStream(pa.BufferReader(data), name)
        return f.read()
    raise UnsupportedCodecError(f"unknown codec {name!r}")

# ------------------------------------------------------ CRC32C (software)
#
# Standard library only. A byte loop over a 256-entry table costs one
# Python step per byte, so from _LANE_MIN bytes on the input is cut
# into K = ceil(n / _LANE) lanes of _LANE bytes (zero padding at the
# front) and the table step runs over all lanes at once:
#
# - lanes: byte position i of every lane is buf[i::_LANE], held as one
#   K-byte int. Each lane's 32-bit register is four such ints, one per
#   register byte. The table lookup is a bytes.translate with
#   _CRC32C_BYTES (one 256-byte table per output byte of
#   _CRC32C_TABLE); the XORs are big-int XORs.
# - init: leading zero bytes leave a zero register at zero, and a
#   reflected CRC started at register r equals one started at 0 with r
#   XORed into its first 4 bytes (little-endian), so ~crc goes there.
# - fold: the raw CRC is linear, crc(A + B) = Z_len(B)(crc(A)) ^
#   crc(B), where Z_n is the GF(2) operator "append n zero bytes"
#   (zlib's crc32_combine). Level j pairs neighbouring lanes of
#   _LANE * 2**j bytes, after a zero lane in front if their count is
#   odd; Z for that length is 16 translate tables (4 register bytes
#   in, 4 out), built the first time a level is needed.

_CRC32C_POLY = 0x82F63B78
_CRC32C_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ _CRC32C_POLY if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)
_CRC32C_BYTES = [bytes((t >> s) & 0xFF for t in _CRC32C_TABLE) for s in (0, 8, 16, 24)]

_LANE = 32  # bytes per lane
_LANE_MIN = 512  # below this the byte loop is faster (break-even ~400 B)


def _apply(cols: list[int], x: int) -> int:
    """A GF(2)-linear map of a 32-bit register, given as the images of
    its 32 bits."""
    out = 0
    while x:
        low = x & -x
        out ^= cols[low.bit_length() - 1]
        x ^= low
    return out


@functools.cache
def _zero_shift(level: int) -> tuple[list[int], list[list[bytes]]]:
    """Z for _LANE * 2**level zero bytes: the images of the 32 register
    bits, and the translate tables [input byte][output byte]."""
    if level == 0:
        cols = []
        for i in range(32):
            x = 1 << i
            for _ in range(_LANE):
                x = _CRC32C_TABLE[x & 0xFF] ^ (x >> 8)
            cols.append(x)
    else:  # Z_2n = Z_n after Z_n
        half = _zero_shift(level - 1)[0]
        cols = [_apply(half, c) for c in half]
    translate = []
    for b in range(4):
        t = [0] * 256
        for v in range(1, 256):
            low = v & -v
            t[v] = t[v ^ low] ^ cols[8 * b + low.bit_length() - 1]
        translate.append([bytes((x >> s) & 0xFF for x in t) for s in (0, 8, 16, 24)])
    return cols, translate


def crc32c(data: bytes, crc: int = 0) -> int:
    """CRC-32C (Castagnoli) of ``data``, continuing from ``crc``:
    crc32c(b, crc32c(a)) == crc32c(a + b). Short inputs take the byte
    loop; from _LANE_MIN bytes the lanes run in parallel and are
    folded pairwise (see the section comment above)."""
    n = len(data)
    if n < _LANE_MIN:
        crc = ~crc & 0xFFFFFFFF
        for b in data:
            crc = _CRC32C_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
        return ~crc & 0xFFFFFFFF
    k = -(-n // _LANE)
    pad = k * _LANE - n
    buf = bytearray(pad)
    buf += data
    head = int.from_bytes(buf[pad : pad + 4], "little") ^ (~crc & 0xFFFFFFFF)
    buf[pad : pad + 4] = head.to_bytes(4, "little")

    frm = int.from_bytes
    t0, t1, t2, t3 = _CRC32C_BYTES
    c0 = c1 = c2 = c3 = 0
    for i in range(_LANE):
        x = (c0 ^ frm(buf[i::_LANE], "little")).to_bytes(k, "little")
        c0 = frm(x.translate(t0), "little") ^ c1
        c1 = frm(x.translate(t1), "little") ^ c2
        c2 = frm(x.translate(t2), "little") ^ c3
        c3 = frm(x.translate(t3), "little")

    regs = [c.to_bytes(k, "little") for c in (c0, c1, c2, c3)]
    level = 0
    while k > 1:
        shift = _zero_shift(level)[1]
        if k & 1:  # a zero lane in front: more leading zeros
            regs = [b"\0" + r for r in regs]
            k += 1
        early = [r[0::2] for r in regs]
        k >>= 1
        nxt = []
        for o in range(4):
            v = frm(regs[o][1::2], "little")
            for b in range(4):
                v ^= frm(early[b].translate(shift[b][o]), "little")
            nxt.append(v.to_bytes(k, "little"))
        regs = nxt
        level += 1
    raw = regs[0][0] | regs[1][0] << 8 | regs[2][0] << 16 | regs[3][0] << 24
    return ~raw & 0xFFFFFFFF


# ------------------------------------------------------ zigzag varints


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def _unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def encode_varint(v: int) -> bytes:
    u = _zigzag(v) & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def decode_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    result = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return _unzigzag(result), pos
        shift += 7


# ------------------------------------------------------ records


@dataclass
class Record:
    key: bytes | None
    value: bytes | None
    timestamp_ms: int
    offset: int = 0  # absolute, filled on decode / used for deltas on encode
    headers: list[tuple[str, bytes | None]] = field(default_factory=list)


def _encode_record(rec: Record, base_offset: int, base_ts: int) -> bytes:
    body = bytearray()
    body += b"\x00"  # record attributes
    body += encode_varint(rec.timestamp_ms - base_ts)
    body += encode_varint(rec.offset - base_offset)
    if rec.key is None:
        body += encode_varint(-1)
    else:
        body += encode_varint(len(rec.key))
        body += rec.key
    if rec.value is None:
        body += encode_varint(-1)
    else:
        body += encode_varint(len(rec.value))
        body += rec.value
    body += encode_varint(len(rec.headers))
    for hk, hv in rec.headers:
        kb = hk.encode("utf-8")
        body += encode_varint(len(kb))
        body += kb
        if hv is None:
            body += encode_varint(-1)
        else:
            body += encode_varint(len(hv))
            body += hv
    return encode_varint(len(body)) + bytes(body)


def encode_record_batch(
    records: list[Record],
    base_offset: int = 0,
    compression: str | None = None,
    producer_id: int = -1,
    producer_epoch: int = -1,
    base_sequence: int = -1,
    transactional: bool = False,
) -> bytes:
    """Encode a magic-v2 batch. Offsets are assigned base_offset + i if
    the records don't already carry absolute offsets. compression:
    None, "gzip", "snappy", "lz4" or "zstd" (the records block after
    the count is compressed, batch headers stay plain — per the Kafka
    spec). producer_id/epoch/base_sequence (-1 = non-idempotent) are
    the idempotence headers the broker dedups on."""
    assert records, "empty batch"
    assert compression in CODEC_IDS, f"unknown codec {compression!r}"
    if all(r.offset == 0 for r in records):  # assign sequentially
        recs = [
            Record(r.key, r.value, r.timestamp_ms, base_offset + i, r.headers)
            for i, r in enumerate(records)
        ]
    else:  # caller supplied absolute offsets
        recs = records
    base_ts = min(r.timestamp_ms for r in recs)
    max_ts = max(r.timestamp_ms for r in recs)
    last_delta = recs[-1].offset - base_offset

    rec_block = b"".join(_encode_record(r, base_offset, base_ts) for r in recs)
    attrs = CODEC_IDS[compression] | (0x10 if transactional else 0)
    if compression is not None:
        rec_block = compress_block(compression, rec_block)

    payload = bytearray()
    payload += struct.pack(">h", attrs)
    payload += struct.pack(">i", last_delta)
    payload += struct.pack(">q", base_ts)
    payload += struct.pack(">q", max_ts)
    payload += struct.pack(">q", producer_id)
    payload += struct.pack(">h", producer_epoch)
    payload += struct.pack(">i", base_sequence)
    payload += struct.pack(">i", len(recs))
    payload += rec_block

    crc = crc32c(bytes(payload))
    after_length = (
        struct.pack(">i", 0)  # partitionLeaderEpoch
        + b"\x02"  # magic
        + struct.pack(">I", crc)
        + bytes(payload)
    )
    return struct.pack(">q", base_offset) + struct.pack(">i", len(after_length)) + after_length


def batch_producer_info(buf: bytes, pos: int = 0) -> tuple[int, int, int, int, bool]:
    """Read (producer_id, producer_epoch, base_sequence, record_count,
    transactional) from a magic-v2 batch's fixed-offset header without
    decoding records — the idempotence/transaction checks need only
    these. Field offsets per the public record-batch layout:
    baseOffset(8) batchLength(4) partitionLeaderEpoch(4) magic(1)
    crc(4) attributes(2, bit 4 = transactional) lastOffsetDelta(4)
    baseTs(8) maxTs(8) → producerId at pos+43."""
    attrs = struct.unpack_from(">h", buf, pos + 21)[0]
    pid = struct.unpack_from(">q", buf, pos + 43)[0]
    epoch = struct.unpack_from(">h", buf, pos + 51)[0]
    base_seq = struct.unpack_from(">i", buf, pos + 53)[0]
    n = struct.unpack_from(">i", buf, pos + 57)[0]
    return pid, epoch, base_seq, n, bool(attrs & 0x10)


def decode_record_batch(buf: bytes, pos: int = 0) -> tuple[int, list[Record], int]:
    """Decode one batch at pos → (base_offset, records, new_pos).
    Raises ValueError on CRC mismatch, unsupported magic/compression,
    a record whose length prefix disagrees with its fields, or a record
    count that does not end exactly at the end of the records block."""
    base_offset = struct.unpack_from(">q", buf, pos)[0]
    batch_len = struct.unpack_from(">i", buf, pos + 8)[0]
    end = pos + 12 + batch_len
    magic = buf[pos + 16]  # after partitionLeaderEpoch
    if magic != 2:
        raise ValueError(f"unsupported magic {magic}")
    crc_stored = struct.unpack_from(">I", buf, pos + 17)[0]
    if crc32c(buf[pos + 21 : end]) != crc_stored:
        raise ValueError("record batch CRC mismatch")
    return base_offset, _decode_records(buf, pos, end), end


def decode_verified_batch(batch: bytes) -> list[Record]:
    """Records of one whole batch whose CRC has already been checked —
    a batch the broker validated on Produce and stored. The same parse
    as decode_record_batch without recomputing the CRC, as Kafka's read
    path does."""
    return _decode_records(batch, 0, len(batch))


def _decode_records(buf: bytes, pos: int, end: int) -> list[Record]:
    """The records of the batch at buf[pos:end]. Parses the header
    from baseOffset on and skips the CRC, which the caller has checked."""
    base_offset = struct.unpack_from(">q", buf, pos)[0]
    p = pos + 21
    attributes = struct.unpack_from(">h", buf, p)[0]
    codec = attributes & 0x07
    if codec not in CODEC_NAMES:
        raise ValueError(f"unsupported compression codec {codec}")
    p += 2
    p += 4  # lastOffsetDelta
    base_ts = struct.unpack_from(">q", buf, p)[0]
    p += 8
    p += 8 + 8 + 2 + 4  # maxTs, producerId, producerEpoch, baseSequence
    n = struct.unpack_from(">i", buf, p)[0]
    p += 4
    if codec != 0:
        buf = decompress_block(CODEC_NAMES[codec], buf[p:end])
        p, end = 0, len(buf)
    records = []
    for _ in range(n):
        rec_len, p = decode_varint(buf, p)
        rec_end = p + rec_len
        p += 1  # record attributes
        ts_delta, p = decode_varint(buf, p)
        off_delta, p = decode_varint(buf, p)
        klen, p = decode_varint(buf, p)
        key = None
        if klen >= 0:
            key = buf[p : p + klen]
            p += klen
        vlen, p = decode_varint(buf, p)
        value = None
        if vlen >= 0:
            value = buf[p : p + vlen]
            p += vlen
        nh, p = decode_varint(buf, p)
        headers = []
        for _ in range(nh):
            hklen, p = decode_varint(buf, p)
            hk = buf[p : p + hklen].decode("utf-8")
            p += hklen
            hvlen, p = decode_varint(buf, p)
            hv = None
            if hvlen >= 0:
                hv = buf[p : p + hvlen]
                p += hvlen
            headers.append((hk, hv))
        if p != rec_end:
            raise ValueError(f"invalid record size {rec_len}: parsed {p - rec_end + rec_len}")
        records.append(
            Record(key, value, base_ts + ts_delta, base_offset + off_delta, headers)
        )
    if p != end:
        # as Kafka's "Incorrect declared batch size": the record count
        # must account for every byte of the records block
        raise ValueError(f"{n} records end at byte {p}, the records block at {end}")
    return records


def decode_all_batches(buf: bytes) -> list[Record]:
    """Decode a concatenation of batches (a fetch response payload)."""
    out: list[Record] = []
    pos = 0
    while pos + 12 <= len(buf):
        _, recs, pos = decode_record_batch(buf, pos)
        out.extend(recs)
    return out

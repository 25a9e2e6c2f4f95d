"""CRC-32C of many buffers at once, for the load generator's own work.

The package's codec computes the record-batch CRC one byte at a time in
Python, which is the cost under test on the broker side. The generator
must not pay it too: it encodes every batch before the clock starts and
verifies fetched batches after it stops, so here the table-driven CRC
runs over all buffers in parallel with numpy, one byte position at a
time. ``codec_crc`` then lets the package's encoder and decoder run
unchanged with these precomputed values.
"""

from __future__ import annotations

import contextlib

import numpy as np

_POLY = 0x82F63B78
_TABLE = np.zeros(256, dtype=np.uint32)
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ _POLY if _c & 1 else _c >> 1
    _TABLE[_i] = _c


def crc32c_many(bufs: list[bytes]) -> list[int]:
    """CRC-32C (Castagnoli) of each buffer."""
    if not bufs:
        return []
    lens = np.array([len(b) for b in bufs])
    width = int(lens.max())
    mat = np.zeros((len(bufs), width), dtype=np.uint8)
    for i, b in enumerate(bufs):
        mat[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    crc = np.full(len(bufs), 0xFFFFFFFF, dtype=np.uint32)
    order = np.argsort(-lens, kind="stable")  # longest first: live rows are a prefix
    mat, lens_sorted = mat[order], lens[order]
    live = len(bufs)
    for pos in range(width):
        while live and lens_sorted[live - 1] <= pos:
            live -= 1
        c = crc[:live]
        crc[:live] = _TABLE[(c ^ mat[:live, pos]) & 0xFF] ^ (c >> 8)
    out = np.empty(len(bufs), dtype=np.uint32)
    out[order] = crc ^ 0xFFFFFFFF
    return [int(x) for x in out]


@contextlib.contextmanager
def codec_crc(known: dict[bytes, int] | None = None):
    """Run the package's record codec with CRCs from ``known`` (buffer
    -> CRC, as computed by crc32c_many); unknown buffers get 0, which
    ``patch_batch_crcs`` then replaces in encoded batches."""
    from kcore_spark.protocol import records

    table = known or {}
    orig = records.crc32c
    records.crc32c = lambda data, crc=0: table.get(bytes(data), 0)
    try:
        yield
    finally:
        records.crc32c = orig


CRC_AT, CRC_DATA_AT = 17, 21  # offsets in a magic-v2 batch


def patch_batch_crcs(batches: list[bytes]) -> list[bytes]:
    """Fill in the CRC field of batches encoded under ``codec_crc()``."""
    crcs = crc32c_many([b[CRC_DATA_AT:] for b in batches])
    return [b[:CRC_AT] + c.to_bytes(4, "big") + b[CRC_DATA_AT:] for b, c in zip(batches, crcs)]


def batch_crcs(blobs: list[bytes]) -> dict[bytes, int]:
    """Precomputed CRCs of every batch body in the given records blobs,
    keyed the way the decoder asks for them."""
    import struct

    bodies = []
    for blob in blobs:
        pos = 0
        while pos + 61 <= len(blob):
            (blen,) = struct.unpack_from(">i", blob, pos + 8)
            bodies.append(blob[pos + CRC_DATA_AT : pos + 12 + blen])
            pos += 12 + blen
    return dict(zip(bodies, crc32c_many(bodies)))

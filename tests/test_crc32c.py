"""records.crc32c against a byte-loop reference written here, across
the lane kernel's boundaries, seeds and input types. No SparkSession
needed.
"""

from __future__ import annotations

import random
import subprocess
import sys
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kcore_spark.protocol import records
from kcore_spark.protocol.records import crc32c

_POLY = 0x82F63B78


def _table() -> list[int]:
    out = []
    for n in range(256):
        for _ in range(8):
            n = (n >> 1) ^ _POLY if n & 1 else n >> 1
        out.append(n)
    return out


_T = _table()


def reference(data: bytes, crc: int = 0) -> int:
    crc = ~crc & 0xFFFFFFFF
    for b in data:
        crc = _T[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return ~crc & 0xFFFFFFFF


def _data(n: int, seed: int = 0) -> bytes:
    return random.Random(seed * 1_000_003 + n).randbytes(n)


LANE, LANE_MIN = records._LANE, records._LANE_MIN
BOUNDARY_LENGTHS = sorted(
    {0, 1, 3, 4, 5, 31, 32, 33, LANE_MIN - 1, LANE_MIN, LANE_MIN + 1, 300 * 1024}
    # lane counts around powers of two, and one byte either side of a lane
    | {LANE * k + d for k in (16, 17, 63, 64, 65, 2047, 2048, 2049) for d in (-1, 0, 1)}
)
SEEDS = (0, 1, 0xDEADBEEF, 0xFFFFFFFF)
KINDS = (bytes, bytearray, memoryview)


@pytest.mark.parametrize("n", BOUNDARY_LENGTHS)
def test_matches_byte_loop_at_boundaries(n):
    data = _data(n)
    for seed in SEEDS:
        want = reference(data, seed)
        for kind in KINDS:
            assert crc32c(kind(data), seed) == want, (n, hex(seed), kind.__name__)


@settings(max_examples=25, deadline=None)
@given(
    n=st.one_of(st.integers(0, 2 * LANE_MIN), st.integers(0, 300 * 1024)),
    seed=st.integers(0, 0xFFFFFFFF),
    kind=st.sampled_from(KINDS),
    salt=st.integers(0, 2**16),
)
def test_matches_byte_loop(n, seed, kind, salt):
    data = _data(n, salt)
    assert crc32c(kind(data), seed) == reference(data, seed)


@settings(max_examples=25, deadline=None)
@given(
    a=st.one_of(st.integers(0, 2 * LANE_MIN), st.integers(0, 70 * 1024)),
    b=st.one_of(st.integers(0, 2 * LANE_MIN), st.integers(0, 70 * 1024)),
    salt=st.integers(0, 2**16),
)
def test_chaining(a, b, salt):
    x, y = _data(a, salt), _data(b, salt + 1)
    assert crc32c(y, crc32c(x)) == crc32c(x + y) == reference(x + y)


def test_broker_process_does_not_import_numpy():
    """The wire broker's footprint: the CRC must stay standard library."""
    code = (
        "import sys\n"
        "import kcore_spark.protocol.server, kcore_spark.protocol.broker\n"
        "from kcore_spark.protocol.records import crc32c\n"
        "crc32c(bytes(range(256)) * 256)\n"
        "assert 'numpy' not in sys.modules, 'numpy imported'\n"
    )
    subprocess.run(
        [sys.executable, "-c", code], check=True, timeout=120, cwd=Path(__file__).parents[1]
    )

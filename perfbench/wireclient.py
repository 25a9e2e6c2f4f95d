"""A minimal blocking Kafka client for the load generator.

Requests are framed by hand (Produce v3, Fetch v4, ApiVersions v0) so
that the generator spends no time in the program's own codecs while
the clock runs. Fetch responses are parsed only as far as the record
batch headers: base offset and last offset delta give the next fetch
offset; the records themselves are decoded after the clock stops.
"""

from __future__ import annotations

import socket
import struct

CLIENT_ID = b"perfbench"
PRODUCE_KEY, FETCH_KEY, API_VERSIONS_KEY = 0, 1, 18


def _header(api_key: int, version: int, corr: int) -> bytes:
    return struct.pack(">hhih", api_key, version, corr, len(CLIENT_ID)) + CLIENT_ID


def _string(s: str) -> bytes:
    b = s.encode()
    return struct.pack(">h", len(b)) + b


def produce_request(corr: int, topic: str, partition: int, batch: bytes) -> bytes:
    """Produce v3, acks=1, one partition. Returns the framed request."""
    body = (
        _header(PRODUCE_KEY, 3, corr)
        + struct.pack(">hhi", -1, 1, 30000)  # null transactional_id, acks, timeout
        + struct.pack(">i", 1)
        + _string(topic)
        + struct.pack(">iii", 1, partition, len(batch))
        + batch
    )
    return struct.pack(">i", len(body)) + body


def fetch_request(
    corr: int, topic: str, offsets: dict[int, int], max_wait_ms: int, min_bytes: int
) -> bytes:
    """Fetch v4 (sessionless) for the given partition -> offset map."""
    body = bytearray(_header(FETCH_KEY, 4, corr))
    body += struct.pack(">iiiib", -1, max_wait_ms, min_bytes, 64 * 1024 * 1024, 0)
    body += struct.pack(">i", 1) + _string(topic) + struct.pack(">i", len(offsets))
    for p, off in offsets.items():
        body += struct.pack(">iqi", p, off, 16 * 1024 * 1024)
    return struct.pack(">i", len(body)) + bytes(body)


def api_versions_request(corr: int) -> bytes:
    body = _header(API_VERSIONS_KEY, 0, corr)
    return struct.pack(">i", len(body)) + body


def produce_ack(resp: bytes) -> tuple[int, int, int]:
    """(partition, error, base_offset) of a one-partition Produce v3
    response."""
    pos = 4 + 4  # correlation id, topic count
    (nlen,) = struct.unpack_from(">h", resp, pos)
    pos += 2 + nlen + 4  # topic name, partition count
    part, err, base = struct.unpack_from(">ihq", resp, pos)
    return part, err, base


def fetch_batches(resp: bytes) -> list[tuple[int, int, int, bytes | None]]:
    """[(partition, error, high_watermark, records)] of a Fetch v4
    response, without touching the record bytes."""
    pos = 4 + 4  # correlation id, throttle
    (ntopics,) = struct.unpack_from(">i", resp, pos)
    pos += 4
    out = []
    for _ in range(ntopics):
        (nlen,) = struct.unpack_from(">h", resp, pos)
        pos += 2 + nlen
        (nparts,) = struct.unpack_from(">i", resp, pos)
        pos += 4
        for _ in range(nparts):
            part, err, hw = struct.unpack_from(">ihq", resp, pos)
            pos += 4 + 2 + 8 + 8  # partition, error, hw, last stable offset
            (naborted,) = struct.unpack_from(">i", resp, pos)
            pos += 4 + max(naborted, 0) * 16
            (rlen,) = struct.unpack_from(">i", resp, pos)
            pos += 4
            recs = None
            if rlen >= 0:
                recs = resp[pos : pos + rlen]
                pos += rlen
            out.append((part, err, hw, recs))
    return out


def batch_span(recs: bytes) -> list[tuple[int, int]]:
    """[(base_offset, record_count)] of each magic-v2 batch header in a
    records blob: base offset and last offset delta only."""
    out, pos = [], 0
    while pos + 61 <= len(recs):
        base, blen = struct.unpack_from(">qi", recs, pos)
        (last_delta,) = struct.unpack_from(">i", recs, pos + 23)
        out.append((base, last_delta + 1))
        pos += 12 + blen
    return out


class Connection:
    """One blocking TCP connection speaking length-prefixed frames."""

    def __init__(self, host: str, port: int, timeout: float = 60.0) -> None:
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._buf = bytearray()

    def send(self, frame: bytes) -> None:
        self.sock.sendall(frame)

    def _read_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self.sock.recv(max(65536, n - len(self._buf)))
            if not chunk:
                raise ConnectionError("broker closed the connection")
            self._buf += chunk
        out = bytes(self._buf[:n])
        del self._buf[:n]
        return out

    def recv(self) -> bytes:
        (size,) = struct.unpack(">i", self._read_exact(4))
        return self._read_exact(size)

    def rpc(self, frame: bytes) -> bytes:
        self.send(frame)
        return self.recv()

    def close(self) -> None:
        self.sock.close()

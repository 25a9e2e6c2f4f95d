"""Kafka binary wire codec (the subset the engine speaks).

Hand-rolled big-endian codecs for the Kafka protocol primitives
(INT16/32, NULLABLE_STRING, COMPACT_STRING, UNSIGNED_VARINT, tagged
fields) and the ApiVersions request/response in versions 0-3.

Reference parity (all citations into /root/reference/):
- Frame = 4-byte BE size + payload: `pkg/kafka/kafka_connectian_handler.go:66-95`.
- Request header decode → (api_key, api_version, correlation_id,
  client_id): the sarama-fork decode at `pkg/kafka/kafka_api.go:54-63`.
- ApiVersions (key 18, v3) advertising the supported range:
  `pkg/kafka/kafka_api.go:106-125`, constants `pkg/kafka/versions.go:20-25`.
- Correlation-ID echo: `pkg/kafka/kafka_api.go:100`.

The reference kills the connection on an unknown API key
(`kafka_api.go:95-96`); real Kafka answers ApiVersions version
mismatches with UNSUPPORTED_VERSION (error 35) and a v0 body — we
follow Kafka (SURVEY §3.4 calls this out as a deliberate deviation).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

API_VERSIONS_KEY = 18
METADATA_KEY = 3
PRODUCE_KEY = 0
FETCH_KEY = 1
LIST_OFFSETS_KEY = 2
CREATE_TOPICS_KEY = 19
DELETE_TOPICS_KEY = 20
JOIN_GROUP_KEY = 11
HEARTBEAT_KEY = 12
LEAVE_GROUP_KEY = 13
SYNC_GROUP_KEY = 14
OFFSET_COMMIT_KEY = 8
OFFSET_FETCH_KEY = 9
FIND_COORDINATOR_KEY = 10
DELETE_RECORDS_KEY = 21
DESCRIBE_GROUPS_KEY = 15
LIST_GROUPS_KEY = 16
DELETE_GROUPS_KEY = 42
INIT_PRODUCER_ID_KEY = 22
ADD_PARTITIONS_TO_TXN_KEY = 24
ADD_OFFSETS_TO_TXN_KEY = 25
TXN_OFFSET_COMMIT_KEY = 28
END_TXN_KEY = 26
DESCRIBE_CONFIGS_KEY = 32
ALTER_CONFIGS_KEY = 33
SASL_HANDSHAKE_KEY = 17
SASL_AUTHENTICATE_KEY = 36
OFFSET_DELETE_KEY = 47
DESCRIBE_ACLS_KEY = 29
CREATE_ACLS_KEY = 30
DELETE_ACLS_KEY = 31
CREATE_PARTITIONS_KEY = 37
DESCRIBE_LOG_DIRS_KEY = 35
GET_TELEMETRY_SUBSCRIPTIONS_KEY = 71  # KIP-714 client metrics
PUSH_TELEMETRY_KEY = 72  # KIP-714 metric push
LIST_CLIENT_METRICS_RESOURCES_KEY = 74  # KIP-714 admin read-side
DESCRIBE_TOPIC_PARTITIONS_KEY = 75  # KIP-848-era paginated topic describe
INCREMENTAL_ALTER_CONFIGS_KEY = 44
DESCRIBE_CLUSTER_KEY = 60
DESCRIBE_PRODUCERS_KEY = 61
DESCRIBE_TRANSACTIONS_KEY = 65
LIST_TRANSACTIONS_KEY = 66
DESCRIBE_CLIENT_QUOTAS_KEY = 48
ALTER_CLIENT_QUOTAS_KEY = 49
DESCRIBE_USER_SCRAM_CREDENTIALS_KEY = 50
ALTER_USER_SCRAM_CREDENTIALS_KEY = 51
CONSUMER_GROUP_HEARTBEAT_KEY = 68  # KIP-848 next-gen consumer protocol
CONSUMER_GROUP_DESCRIBE_KEY = 69  # KIP-848 admin read-side
OFFSET_FOR_LEADER_EPOCH_KEY = 23  # KIP-101/KIP-320 truncation detection
ELECT_LEADERS_KEY = 43  # KIP-183/KIP-460 leader election
ALTER_PARTITION_REASSIGNMENTS_KEY = 45  # KIP-455
LIST_PARTITION_REASSIGNMENTS_KEY = 46  # KIP-455
UPDATE_FEATURES_KEY = 57  # KIP-584 finalized feature levels
WRITE_TXN_MARKERS_KEY = 27  # coordinator marker write / hanging-txn abort
DESCRIBE_QUORUM_KEY = 55  # KIP-595/KIP-642 metadata-quorum describe
CREATE_DELEGATION_TOKEN_KEY = 38  # KIP-48 delegation tokens
RENEW_DELEGATION_TOKEN_KEY = 39
EXPIRE_DELEGATION_TOKEN_KEY = 40
DESCRIBE_DELEGATION_TOKEN_KEY = 41
ERR_NONE = 0
ERR_UNKNOWN_TOPIC_OR_PARTITION = 3
ERR_CORRUPT_MESSAGE = 2
ERR_OFFSET_OUT_OF_RANGE = 1
ERR_UNSUPPORTED_VERSION = 35
ERR_UNKNOWN_TOPIC_ID = 100
ERR_INVALID_RECORD = 87

# (api_key, min_version, max_version) advertised by this broker.
SUPPORTED_APIS: tuple[tuple[int, int, int], ...] = (
    (PRODUCE_KEY, 3, 11),
    (FETCH_KEY, 4, 13),
    (LIST_OFFSETS_KEY, 0, 9),
    (METADATA_KEY, 0, 12),
    (OFFSET_COMMIT_KEY, 2, 8),
    (OFFSET_FETCH_KEY, 1, 9),
    (FIND_COORDINATOR_KEY, 0, 4),
    (JOIN_GROUP_KEY, 0, 9),
    (HEARTBEAT_KEY, 0, 4),
    (LEAVE_GROUP_KEY, 0, 5),
    (SYNC_GROUP_KEY, 0, 5),
    (CREATE_TOPICS_KEY, 0, 7),
    (DELETE_TOPICS_KEY, 0, 6),
    (DELETE_RECORDS_KEY, 0, 2),
    (DESCRIBE_GROUPS_KEY, 0, 5),
    (LIST_GROUPS_KEY, 0, 5),
    (DELETE_GROUPS_KEY, 0, 2),
    (INIT_PRODUCER_ID_KEY, 0, 4),
    (ADD_PARTITIONS_TO_TXN_KEY, 0, 5),
    (ADD_OFFSETS_TO_TXN_KEY, 0, 3),
    (TXN_OFFSET_COMMIT_KEY, 0, 3),
    (END_TXN_KEY, 0, 5),
    (DESCRIBE_CONFIGS_KEY, 0, 4),
    (ALTER_CONFIGS_KEY, 0, 2),
    (SASL_HANDSHAKE_KEY, 0, 1),
    (SASL_AUTHENTICATE_KEY, 0, 1),
    (OFFSET_DELETE_KEY, 0, 0),
    (DESCRIBE_ACLS_KEY, 0, 1),
    (CREATE_ACLS_KEY, 0, 1),
    (DELETE_ACLS_KEY, 0, 1),
    (CREATE_PARTITIONS_KEY, 0, 3),
    (DESCRIBE_LOG_DIRS_KEY, 0, 2),
    (GET_TELEMETRY_SUBSCRIPTIONS_KEY, 0, 0),
    (PUSH_TELEMETRY_KEY, 0, 0),
    (LIST_CLIENT_METRICS_RESOURCES_KEY, 0, 0),
    (DESCRIBE_TOPIC_PARTITIONS_KEY, 0, 0),
    (INCREMENTAL_ALTER_CONFIGS_KEY, 0, 1),
    (DESCRIBE_CLUSTER_KEY, 0, 1),
    (DESCRIBE_PRODUCERS_KEY, 0, 0),
    (DESCRIBE_TRANSACTIONS_KEY, 0, 0),
    (LIST_TRANSACTIONS_KEY, 0, 0),
    (DESCRIBE_CLIENT_QUOTAS_KEY, 0, 0),
    (ALTER_CLIENT_QUOTAS_KEY, 0, 0),
    (DESCRIBE_USER_SCRAM_CREDENTIALS_KEY, 0, 0),
    (ALTER_USER_SCRAM_CREDENTIALS_KEY, 0, 0),
    (CONSUMER_GROUP_HEARTBEAT_KEY, 0, 1),
    (CONSUMER_GROUP_DESCRIBE_KEY, 0, 1),
    (OFFSET_FOR_LEADER_EPOCH_KEY, 0, 4),
    (ELECT_LEADERS_KEY, 0, 2),
    (ALTER_PARTITION_REASSIGNMENTS_KEY, 0, 0),
    (LIST_PARTITION_REASSIGNMENTS_KEY, 0, 0),
    (UPDATE_FEATURES_KEY, 0, 1),
    (WRITE_TXN_MARKERS_KEY, 0, 1),
    (DESCRIBE_QUORUM_KEY, 0, 1),
    (CREATE_DELEGATION_TOKEN_KEY, 0, 3),
    (RENEW_DELEGATION_TOKEN_KEY, 0, 2),
    (EXPIRE_DELEGATION_TOKEN_KEY, 0, 2),
    (DESCRIBE_DELEGATION_TOKEN_KEY, 0, 3),
    (API_VERSIONS_KEY, 0, 3),
)


class Reader:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read(self, n: int) -> bytes:
        if self.pos + n > len(self.buf):
            raise EOFError(f"short read: need {n} at {self.pos}, have {len(self.buf)}")
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def int16(self) -> int:
        return struct.unpack(">h", self.read(2))[0]

    def int32(self) -> int:
        return struct.unpack(">i", self.read(4))[0]

    def int64(self) -> int:
        return struct.unpack(">q", self.read(8))[0]

    def int8(self) -> int:
        return self.read(1)[0]

    def float64(self) -> float:
        return struct.unpack(">d", self.read(8))[0]

    def nullable_bytes(self) -> bytes | None:
        n = self.int32()
        if n == -1:
            return None
        return self.read(n)

    def nullable_string(self) -> str | None:
        n = self.int16()
        if n == -1:
            return None
        return self.read(n).decode("utf-8")

    def unsigned_varint(self) -> int:
        shift = 0
        result = 0
        while True:
            b = self.read(1)[0]
            result |= (b & 0x7F) << shift
            if not b & 0x80:
                return result
            shift += 7

    def compact_string(self) -> str | None:
        n = self.unsigned_varint()
        if n == 0:
            return None
        return self.read(n - 1).decode("utf-8")

    def compact_bytes(self) -> bytes | None:
        n = self.unsigned_varint()
        if n == 0:
            return None
        return self.read(n - 1)

    def compact_array_len(self) -> int:
        """Compact array length: 0 encodes null (returned as -1)."""
        return self.unsigned_varint() - 1

    def bool_(self) -> bool:
        return self.read(1)[0] != 0

    def uuid(self) -> bytes:
        return self.read(16)

    def tagged_fields(self) -> None:
        count = self.unsigned_varint()
        for _ in range(count):
            self.unsigned_varint()  # tag
            size = self.unsigned_varint()
            self.read(size)


class Writer:
    def __init__(self) -> None:
        self.parts: list[bytes] = []

    def raw(self, b: bytes) -> "Writer":
        self.parts.append(b)
        return self

    def int16(self, v: int) -> "Writer":
        return self.raw(struct.pack(">h", v))

    def int32(self, v: int) -> "Writer":
        return self.raw(struct.pack(">i", v))

    def int64(self, v: int) -> "Writer":
        return self.raw(struct.pack(">q", v))

    def int8(self, v: int) -> "Writer":
        return self.raw(bytes([v & 0xFF]))

    def float64(self, v: float) -> "Writer":
        return self.raw(struct.pack(">d", v))

    def nullable_bytes(self, b: bytes | None) -> "Writer":
        if b is None:
            return self.int32(-1)
        return self.int32(len(b)).raw(b)

    def nullable_string(self, s: str | None) -> "Writer":
        if s is None:
            return self.int16(-1)
        b = s.encode("utf-8")
        return self.int16(len(b)).raw(b)

    def unsigned_varint(self, v: int) -> "Writer":
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                self.raw(bytes([b | 0x80]))
            else:
                return self.raw(bytes([b]))

    def compact_string(self, s: str | None) -> "Writer":
        if s is None:
            return self.unsigned_varint(0)
        b = s.encode("utf-8")
        return self.unsigned_varint(len(b) + 1).raw(b)

    def compact_array_len(self, n: int) -> "Writer":
        return self.unsigned_varint(n + 1)

    def compact_bytes(self, b: bytes | None) -> "Writer":
        if b is None:
            return self.unsigned_varint(0)
        return self.unsigned_varint(len(b) + 1).raw(b)

    def bool_(self, v: bool) -> "Writer":
        return self.raw(b"\x01" if v else b"\x00")

    def uuid(self, b: bytes) -> "Writer":
        assert len(b) == 16
        return self.raw(b)

    def empty_tagged_fields(self) -> "Writer":
        return self.unsigned_varint(0)

    def bytes(self) -> bytes:
        return b"".join(self.parts)


@dataclass
class RequestHeader:
    api_key: int
    api_version: int
    correlation_id: int
    client_id: str | None


def decode_request_header(r: Reader, flexible: bool) -> RequestHeader:
    """Header v1 (rigid) / v2 (flexible, trailing tagged fields)."""
    h = RequestHeader(r.int16(), r.int16(), r.int32(), None)
    h.client_id = r.nullable_string()
    if flexible:
        r.tagged_fields()
    return h


def is_flexible_request(api_key: int, api_version: int) -> bool:
    """Flexible (compact/tagged) encoding cutover per API key, per the
    upstream protocol JSON schemas' flexibleVersions."""
    if api_key == API_VERSIONS_KEY:
        return api_version >= 3
    if api_key == METADATA_KEY:
        return api_version >= 9
    if api_key == PRODUCE_KEY:
        return api_version >= 9
    if api_key == FETCH_KEY:
        return api_version >= 12
    if api_key in (CONSUMER_GROUP_HEARTBEAT_KEY, CONSUMER_GROUP_DESCRIBE_KEY):
        return True  # flexible from v0 (KIP-848 APIs are born flexible)
    if api_key == JOIN_GROUP_KEY:
        return api_version >= 6
    if api_key == SYNC_GROUP_KEY:
        return api_version >= 4
    if api_key == DELETE_RECORDS_KEY:
        return api_version >= 2
    if api_key == OFFSET_FETCH_KEY:
        return api_version >= 6
    if api_key == CREATE_TOPICS_KEY:
        return api_version >= 5
    if api_key == DELETE_TOPICS_KEY:
        return api_version >= 4
    if api_key == LEAVE_GROUP_KEY:
        return api_version >= 4
    if api_key == DESCRIBE_GROUPS_KEY:
        return api_version >= 5
    if api_key == LIST_GROUPS_KEY:
        return api_version >= 3
    if api_key == INCREMENTAL_ALTER_CONFIGS_KEY:
        return api_version >= 1
    if api_key == DELETE_GROUPS_KEY:
        return api_version >= 2
    if api_key in (ADD_OFFSETS_TO_TXN_KEY, TXN_OFFSET_COMMIT_KEY):
        return api_version >= 3
    if api_key == CREATE_PARTITIONS_KEY:
        return api_version >= 2
    if api_key == DESCRIBE_LOG_DIRS_KEY:
        return api_version >= 2
    if api_key in (
        GET_TELEMETRY_SUBSCRIPTIONS_KEY,
        PUSH_TELEMETRY_KEY,
        LIST_CLIENT_METRICS_RESOURCES_KEY,
        DESCRIBE_TOPIC_PARTITIONS_KEY,
    ):
        return True  # born flexible (KIP-714 / KIP-848 era)
    if api_key == INIT_PRODUCER_ID_KEY:
        return api_version >= 2
    if api_key in (ADD_PARTITIONS_TO_TXN_KEY, END_TXN_KEY):
        return api_version >= 3
    if api_key == DESCRIBE_CONFIGS_KEY:
        return api_version >= 4
    if api_key == ALTER_CONFIGS_KEY:
        return api_version >= 2
    if api_key == OFFSET_FOR_LEADER_EPOCH_KEY:
        return api_version >= 4
    if api_key == ELECT_LEADERS_KEY:
        return api_version >= 2
    if api_key in (
        ALTER_PARTITION_REASSIGNMENTS_KEY,
        LIST_PARTITION_REASSIGNMENTS_KEY,
        UPDATE_FEATURES_KEY,
    ):
        return True  # born flexible (KIP-455 / KIP-584)
    if api_key == WRITE_TXN_MARKERS_KEY:
        return api_version >= 1
    if api_key == DESCRIBE_QUORUM_KEY:
        return True  # born flexible (KIP-595)
    if api_key in (
        CREATE_DELEGATION_TOKEN_KEY,
        RENEW_DELEGATION_TOKEN_KEY,
        EXPIRE_DELEGATION_TOKEN_KEY,
        DESCRIBE_DELEGATION_TOKEN_KEY,
    ):
        return api_version >= 2  # KIP-48 APIs' flexible cutover
    return False


# ------------------------------------------------------ ApiVersions


@dataclass
class ApiVersionsRequest:
    header: RequestHeader
    client_software_name: str | None = None
    client_software_version: str | None = None


def decode_api_versions_request(payload: bytes) -> ApiVersionsRequest:
    r = Reader(payload)
    flexible = False
    # peek api_key/version to pick header flavor
    api_key = struct.unpack(">h", payload[0:2])[0]
    api_version = struct.unpack(">h", payload[2:4])[0]
    flexible = is_flexible_request(api_key, api_version)
    h = decode_request_header(r, flexible)
    req = ApiVersionsRequest(h)
    if h.api_version >= 3 and r.pos < len(r.buf):
        req.client_software_name = r.compact_string()
        req.client_software_version = r.compact_string()
        r.tagged_fields()
    return req


def encode_api_versions_response(
    correlation_id: int,
    api_version: int,
    error_code: int = ERR_NONE,
    apis: tuple[tuple[int, int, int], ...] = SUPPORTED_APIS,
) -> bytes:
    """ApiVersions response v0-v3. NB: the response header is always
    v0 (no tagged fields) for ApiVersions — clients must be able to
    parse the error path before knowing the negotiated version."""
    w = Writer()
    w.int32(correlation_id)
    w.int16(error_code)
    if api_version >= 3:
        w.compact_array_len(len(apis))
        for key, lo, hi in apis:
            w.int16(key).int16(lo).int16(hi).empty_tagged_fields()
        w.int32(0)  # throttle_time_ms
        w.empty_tagged_fields()
    else:
        w.int32(len(apis))
        for key, lo, hi in apis:
            w.int16(key).int16(lo).int16(hi)
        if api_version >= 1:
            w.int32(0)  # throttle_time_ms
    return w.bytes()


def decode_api_versions_response(payload: bytes, api_version: int):
    """Client-side decode (used by tests as the behavioral oracle)."""
    r = Reader(payload)
    correlation_id = r.int32()
    error_code = r.int16()
    apis = []
    if api_version >= 3:
        n = r.unsigned_varint() - 1
        for _ in range(n):
            apis.append((r.int16(), r.int16(), r.int16()))
            r.tagged_fields()
        throttle = r.int32()
        r.tagged_fields()
    else:
        n = r.int32()
        for _ in range(n):
            apis.append((r.int16(), r.int16(), r.int16()))
        throttle = r.int32() if api_version >= 1 else 0
    return correlation_id, error_code, apis, throttle


# ------------------------------------------------------ Metadata (v0-v12)


import functools


@functools.lru_cache(maxsize=8192)
def topic_uuid(name: str) -> bytes:
    """Deterministic per-topic UUID (v10+ topic_id): md5 of the name
    with RFC-4122 version/variant bits set, so the same topic always
    reports the same id across restarts. lru_cached: the uuid→name
    maps rebuilt on hot paths (fetch, KIP-848 heartbeats) hash every
    catalog topic per request without it."""
    import hashlib

    h = bytearray(hashlib.md5(name.encode("utf-8")).digest())
    h[6] = (h[6] & 0x0F) | 0x30  # version 3 (name-based md5)
    h[8] = (h[8] & 0x3F) | 0x80  # RFC 4122 variant
    return bytes(h)


@dataclass
class MetadataRequest:
    header: RequestHeader
    topics: list[str] | None  # None = all topics
    allow_auto_topic_creation: bool = True
    include_topic_authorized_operations: bool = False
    # aligned with `topics`: the request's topic_id per entry (v10+),
    # None for by-name requests. An id-only lookup (null name) decodes
    # as name "" with its id preserved here so the handler can echo it.
    topic_ids: list[bytes | None] | None = None


def decode_metadata_request(payload: bytes) -> MetadataRequest:
    """MetadataRequest v0-v12 (flexible from v9). Topics requested by
    id-only (name null, v10+) decode as an empty-name entry with the
    requested id kept in `topic_ids`; this catalog has no id index, so
    the handler answers those with UNKNOWN_TOPIC_ID echoing the id."""
    r = Reader(payload)
    api_version = struct.unpack(">h", payload[2:4])[0]
    flexible = is_flexible_request(METADATA_KEY, api_version)
    h = decode_request_header(r, flexible)
    topics: list[str] | None
    topic_ids: list[bytes | None] | None = None
    if r.pos >= len(r.buf):
        # header-only request (some clients omit the body entirely for
        # "all topics"): treat as a null topics array
        return MetadataRequest(h, None)
    if flexible:
        n = r.compact_array_len()
        if n < 0:
            topics = None
        else:
            topics = []
            topic_ids = []
            for _ in range(n):
                tid: bytes | None = None
                if api_version >= 10:
                    tid = r.uuid()
                    if tid == b"\x00" * 16:
                        tid = None
                name = r.compact_string()
                r.tagged_fields()
                topics.append(name if name is not None else "")
                topic_ids.append(tid)
    else:
        n = r.int32()
        if n == -1 and api_version >= 1:
            topics = None
        elif n <= 0:
            # v0 has no null marker: empty array historically means ALL
            topics = None if api_version == 0 else []
        else:
            topics = [r.nullable_string() or "" for _ in range(n)]
    req = MetadataRequest(h, topics, topic_ids=topic_ids)
    if r.pos < len(r.buf) and api_version >= 4:
        req.allow_auto_topic_creation = r.bool_()
    if r.pos < len(r.buf) and 8 <= api_version <= 10:
        r.bool_()  # include_cluster_authorized_operations
    if r.pos < len(r.buf) and api_version >= 8:
        req.include_topic_authorized_operations = r.bool_()
    if flexible and r.pos < len(r.buf):
        r.tagged_fields()
    return req


def encode_metadata_response(
    correlation_id: int,
    api_version: int,
    host: str,
    port: int,
    topics: list[tuple[str, int]],
    topic_errors: list[tuple[str, int]] | None = None,
) -> bytes:
    """Metadata response v0-v12 (flexible from v9): single-broker
    cluster (node 0), topics from the TopicLog catalog, every
    partition led by node 0 at leader epoch 0."""
    flexible = api_version >= 9
    w = Writer()
    w.int32(correlation_id)
    if flexible:
        w.empty_tagged_fields()  # response header v1
    if api_version >= 3:
        w.int32(0)  # throttle_time_ms
    # brokers
    w.compact_array_len(1) if flexible else w.int32(1)
    w.int32(0)  # node_id
    w.compact_string(host) if flexible else w.nullable_string(host)
    w.int32(port)
    if api_version >= 1:
        w.compact_string(None) if flexible else w.nullable_string(None)  # rack
    if flexible:
        w.empty_tagged_fields()
    if api_version >= 2:
        cluster = "kcore-spark"
        w.compact_string(cluster) if flexible else w.nullable_string(cluster)
    if api_version >= 1:
        w.int32(0)  # controller_id
    errs = topic_errors or []
    n_topics = len(topics) + len(errs)
    w.compact_array_len(n_topics) if flexible else w.int32(n_topics)
    for entry in errs:
        name, err = entry[0], entry[1]
        req_tid = entry[2] if len(entry) > 2 else None
        w.int16(err)
        if flexible:
            # topic name is non-nullable until v12: id-only lookups echo
            # an empty (not null) name on v9-11, null from v12 on
            w.compact_string(name if (name or api_version < 12) else None)
        else:
            w.nullable_string(name)
        if api_version >= 10:
            # echo the requested topic_id for id-only lookups; unknown
            # by-name topics report the zero uuid (no id exists)
            w.uuid(req_tid if req_tid else b"\x00" * 16)
        if api_version >= 1:
            w.bool_(False)  # is_internal
        w.compact_array_len(0) if flexible else w.int32(0)  # no partitions
        if api_version >= 8:
            w.int32(-2147483648)  # authorized ops: INT32_MIN = omitted
        if flexible:
            w.empty_tagged_fields()
    for name, n_parts in topics:
        w.int16(ERR_NONE)
        w.compact_string(name) if flexible else w.nullable_string(name)
        if api_version >= 10:
            w.uuid(topic_uuid(name))
        if api_version >= 1:
            w.bool_(False)  # is_internal
        w.compact_array_len(n_parts) if flexible else w.int32(n_parts)
        for p in range(n_parts):
            w.int16(ERR_NONE)
            w.int32(p)
            w.int32(0)  # leader = node 0
            if api_version >= 7:
                w.int32(0)  # leader_epoch
            w.compact_array_len(1) if flexible else w.int32(1)  # replicas
            w.int32(0)
            w.compact_array_len(1) if flexible else w.int32(1)  # isr
            w.int32(0)
            if api_version >= 5:
                w.compact_array_len(0) if flexible else w.int32(0)  # offline
            if flexible:
                w.empty_tagged_fields()
        if api_version >= 8:
            w.int32(-2147483648)  # topic_authorized_operations
        if flexible:
            w.empty_tagged_fields()
    if 8 <= api_version <= 10:
        w.int32(-2147483648)  # cluster_authorized_operations
    if flexible:
        w.empty_tagged_fields()
    return w.bytes()


def decode_metadata_response(payload: bytes, api_version: int):
    """Client-side decode (tests' behavioral oracle). Returns
    (correlation_id, brokers, topics) where topics =
    [(err, name, topic_id|None, [partition_index...])]."""
    flexible = api_version >= 9
    r = Reader(payload)
    corr = r.int32()
    if flexible:
        r.tagged_fields()
    if api_version >= 3:
        r.int32()  # throttle
    brokers = []
    nb = r.compact_array_len() if flexible else r.int32()
    for _ in range(nb):
        node = r.int32()
        h = r.compact_string() if flexible else r.nullable_string()
        port = r.int32()
        if api_version >= 1:
            r.compact_string() if flexible else r.nullable_string()  # rack
        if flexible:
            r.tagged_fields()
        brokers.append((node, h, port))
    if api_version >= 2:
        r.compact_string() if flexible else r.nullable_string()  # cluster_id
    if api_version >= 1:
        r.int32()  # controller_id
    out = []
    nt = r.compact_array_len() if flexible else r.int32()
    for _ in range(nt):
        err = r.int16()
        name = r.compact_string() if flexible else r.nullable_string()
        tid = r.uuid() if api_version >= 10 else None
        if api_version >= 1:
            r.bool_()  # is_internal
        parts = []
        np_ = r.compact_array_len() if flexible else r.int32()
        for _ in range(np_):
            r.int16()  # err
            parts.append(r.int32())
            r.int32()  # leader
            if api_version >= 7:
                r.int32()  # leader_epoch
            for _ in range(r.compact_array_len() if flexible else r.int32()):
                r.int32()  # replicas
            for _ in range(r.compact_array_len() if flexible else r.int32()):
                r.int32()  # isr
            if api_version >= 5:
                for _ in range(r.compact_array_len() if flexible else r.int32()):
                    r.int32()  # offline
            if flexible:
                r.tagged_fields()
        if api_version >= 8:
            r.int32()  # topic_authorized_operations
        if flexible:
            r.tagged_fields()
        out.append((err, name, tid, parts))
    if 8 <= api_version <= 10:
        r.int32()  # cluster_authorized_operations
    if flexible:
        r.tagged_fields()
    return corr, brokers, out

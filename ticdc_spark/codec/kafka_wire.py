"""Kafka wire protocol — byte codec for the subset a producer/consumer needs.

Layouts follow the public Kafka protocol guide (kafka.apache.org/protocol).
Each API message has ONE encoder ``enc_X(version, ...)`` and ONE decoder
``dec_X(reader, version)``, the way Kafka's own clients generate theirs
from a message schema's ``validVersions`` and ``flexibleVersions``: the
version sets the message's flexible flag on the ``Writer``/``Reader``,
and ``if version >= N`` gates cover the fields that differ between
versions. The flag picks the string, bytes and array encoding:

- CLASSIC versions — plain big-endian lengths, request header v1,
  response header v0.
- FLEXIBLE (KIP-482) versions — compact (unsigned-varint length + 1)
  strings/arrays/bytes and tagged-field blocks, request header v2,
  response header v1. ApiVersions responses keep header v0 at every
  version (the bootstrap quirk).

``VERSIONS`` lists the versions the codec lays out per API: the classic
floor and the flexible version a post-2.4 broker offers, or the one
version of the admin and SASL messages. The client negotiates among them
with a real ApiVersions exchange (v3 first, v0 down-negotiation on
error 35); the broker answers UNSUPPORTED_VERSION for any other version.

Shared by every version: record batch magic v2 with CRC32C (Castagnoli)
over attributes..end and zigzag-varint record bodies; compression codecs
none/gzip/lz4/zstd (lz4 = LZ4 frame; see codec/compression.py); KIP-98
idempotent/transactional batch attributes and control records.

Reference behavior being reproduced: `pkg/sink/kafka/*` drives sarama/franz-go
producers speaking exactly these frames; this module lets the Spark sink
exercise a real TCP round-trip in-process (see sinks/kafka_broker.py, whose
`flexible_only` mode refuses classic versions).
All from the public spec — no reference code consulted for bytes.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

from ticdc_spark.codec import native_accel as _na

# ---------------------------------------------------------------- crc32c

_CRC32C_POLY = 0x82F63B78  # reflected Castagnoli


def _make_tables(n: int = 8) -> list[list[int]]:
    t0 = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ (_CRC32C_POLY if c & 1 else 0)
        t0.append(c)
    tables = [t0]
    for k in range(1, n):
        prev = tables[k - 1]
        tables.append([t0[prev[i] & 0xFF] ^ (prev[i] >> 8) for i in range(256)])
    return tables


_T = _make_tables(8)


def _crc32c_py(data: bytes, crc: int = 0) -> int:
    """CRC-32C (Castagnoli), slicing-by-8. crc32c(b"123456789") == 0xE3069283."""
    crc = crc ^ 0xFFFFFFFF
    n = len(data)
    i = 0
    t0, t1, t2, t3, t4, t5, t6, t7 = _T
    # slicing-by-8 main loop
    end8 = n - (n % 8)
    while i < end8:
        crc ^= data[i] | (data[i + 1] << 8) | (data[i + 2] << 16) | (data[i + 3] << 24)
        crc = (
            t7[crc & 0xFF]
            ^ t6[(crc >> 8) & 0xFF]
            ^ t5[(crc >> 16) & 0xFF]
            ^ t4[(crc >> 24) & 0xFF]
            ^ t3[data[i + 4]]
            ^ t2[data[i + 5]]
            ^ t1[data[i + 6]]
            ^ t0[data[i + 7]]
        )
        i += 8
    while i < n:
        crc = t0[(crc ^ data[i]) & 0xFF] ^ (crc >> 8)
        i += 1
    return crc ^ 0xFFFFFFFF


# the C kernel when the host could build it (same function — see
# native_accel.py), else the pure-Python loop above
crc32c = _na.crc32c if _na.LIB is not None else _crc32c_py


# ---------------------------------------------------------------- primitives


class Reader:
    """Reads one message. ``flexible`` (KIP-482) switches strings, bytes
    and arrays to their compact form and makes ``skip_tags`` read a
    tagged-fields block; each decoder sets it from its API's version."""

    __slots__ = ("buf", "pos", "flexible")

    def __init__(self, buf: bytes, pos: int = 0, flexible: bool = False):
        self.buf = buf
        self.pos = pos
        self.flexible = flexible

    def _unpack(self, fmt: str, size: int):
        v = struct.unpack_from(fmt, self.buf, self.pos)[0]
        self.pos += size
        return v

    def i8(self):
        return self._unpack(">b", 1)

    def i16(self):
        return self._unpack(">h", 2)

    def i32(self):
        return self._unpack(">i", 4)

    def i64(self):
        return self._unpack(">q", 8)

    def u32(self):
        return self._unpack(">I", 4)

    def _len(self, fmt: str, size: int) -> int:
        return self.uvarint() - 1 if self.flexible else self._unpack(fmt, size)

    def string(self) -> str | None:
        n = self._len(">h", 2)
        if n < 0:
            return None
        s = self.buf[self.pos : self.pos + n].decode("utf-8")
        self.pos += n
        return s

    def bytes_(self) -> bytes | None:
        n = self._len(">i", 4)
        if n < 0:
            return None
        b = self.buf[self.pos : self.pos + n]
        self.pos += n
        return b

    def array_len(self) -> int:
        """-> element count; -1 for a null array."""
        return self._len(">i", 4)

    def varint(self) -> int:
        shift = 0
        result = 0
        while True:
            b = self.buf[self.pos]
            self.pos += 1
            result |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (result >> 1) ^ -(result & 1)  # zigzag decode

    def uvarint(self) -> int:
        shift = 0
        result = 0
        while True:
            b = self.buf[self.pos]
            self.pos += 1
            result |= (b & 0x7F) << shift
            if not b & 0x80:
                return result
            shift += 7

    def raw(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        self.pos += n
        return b

    def remaining(self) -> int:
        return len(self.buf) - self.pos

    def skip_tags(self) -> None:
        """Skip a flexible message's tagged-fields block (we define no
        tagged field); a classic message has none."""
        if not self.flexible:
            return
        for _ in range(self.uvarint()):
            self.uvarint()  # tag
            size = self.uvarint()
            self.pos += size


class Writer:
    """Builds one message: collects its parts and joins them once, so a
    record set is copied into the message one time. ``flexible`` picks
    the encodings as in ``Reader``; ``tags`` writes an empty
    tagged-fields block only when it is set."""

    __slots__ = ("parts", "flexible")

    def __init__(self, flexible: bool = False):
        self.parts: list[bytes] = []
        self.flexible = flexible

    def pack(self, fmt: str, *values) -> None:
        self.parts.append(struct.pack(fmt, *values))

    def _len(self, fmt: str, n: int) -> None:
        self.parts.append(enc_uvarint(n + 1) if self.flexible
                          else struct.pack(fmt, n))

    def string(self, s: str | None) -> None:
        if s is None:
            self._len(">h", -1)
            return
        b = s.encode("utf-8")
        self._len(">h", len(b))
        self.parts.append(b)

    def bytes_(self, b: bytes | None) -> None:
        self._len(">i", -1 if b is None else len(b))
        if b is not None:
            self.parts.append(b)

    def array_len(self, n: int) -> None:
        """n = element count; -1 writes a null array."""
        self._len(">i", n)

    def tags(self) -> None:
        if self.flexible:
            self.parts.append(b"\x00")  # zero tagged fields

    def done(self) -> bytes:
        return b"".join(self.parts)


def enc_uvarint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def enc_varint(v: int) -> bytes:
    v = (v << 1) ^ (v >> 63) if v < 0 else (v << 1)  # zigzag (python ints: use arithmetic form)
    v &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else (v << 1)

# ---------------------------------------------------------------- record batch v2

COMPRESSION_NONE = 0
COMPRESSION_GZIP = 1
COMPRESSION_SNAPPY = 2
COMPRESSION_LZ4 = 3
COMPRESSION_ZSTD = 4

_CODEC_NAMES = {
    "none": COMPRESSION_NONE,
    "gzip": COMPRESSION_GZIP,
    "lz4": COMPRESSION_LZ4,
    "zstd": COMPRESSION_ZSTD,
}
_CODEC_IDS = {v: k for k, v in _CODEC_NAMES.items()}


def _codec_name(codec: int) -> str:
    """The codec/compression.py name for a batch's compression bits."""
    if codec not in _CODEC_IDS:
        raise ValueError(f"unsupported kafka compression codec {codec}")
    return _CODEC_IDS[codec]


def _compress(codec: int, payload: bytes) -> bytes:
    if codec == COMPRESSION_NONE:
        return payload
    from ticdc_spark.codec import compression

    return compression.compress(_codec_name(codec), payload)


def _decompress(codec: int, payload: bytes) -> bytes:
    if codec == COMPRESSION_NONE:
        return payload
    from ticdc_spark.codec import compression

    return compression.decompress(_codec_name(codec), payload)


@dataclass
class Record:
    key: bytes | None
    value: bytes | None
    headers: list[tuple[str, bytes]] = field(default_factory=list)
    timestamp_delta: int = 0
    offset_delta: int = 0


# zigzag varints of -1..8190: null markers, lengths, deltas and header
# counts of ordinary records; anything larger goes through enc_varint
_VARINTS = tuple(enc_varint(v) for v in range(-1, 8191))
_NULL = _VARINTS[0]


def _vi(v: int) -> bytes:
    return _VARINTS[v + 1] if -1 <= v < 8191 else enc_varint(v)


def _enc_record(rec: Record, offset_delta: int) -> bytes:
    key, value, headers = rec.key, rec.value, rec.headers
    hdrs = b""
    if headers:
        parts = []
        for hk, hv in headers:
            kb = hk.encode("utf-8")
            parts += (_vi(len(kb)), kb,
                      _NULL if hv is None else _vi(len(hv)), hv or b"")
        hdrs = b"".join(parts)
    ts = _vi(rec.timestamp_delta)
    off = _vi(offset_delta)
    kl = _NULL if key is None else _vi(len(key))
    vl = _NULL if value is None else _vi(len(value))
    hn = _vi(len(headers))
    key, value = key or b"", value or b""
    size = (1 + len(ts) + len(off) + len(kl) + len(key) + len(vl)
            + len(value) + len(hn) + len(hdrs))
    return b"".join((_vi(size), b"\x00", ts, off, kl, key, vl, value, hn,
                     hdrs))


def encode_record_batch(
    records: list[Record],
    base_offset: int = 0,
    base_timestamp: int = 0,
    compression: str = "none",
    producer_id: int = -1,
    producer_epoch: int = -1,
    base_sequence: int = -1,
    transactional: bool = False,
    control: bool = False,
) -> bytes:
    """One record batch (magic v2). Offsets/timestamps are deltas off the
    batch base; the broker rewrites base_offset on append.  A non-negative
    (producer_id, base_sequence) marks the batch idempotent — the broker
    dedups retries by sequence (KIP-98)."""
    codec = _CODEC_NAMES[compression]
    max_ts_delta = max([0] + [r.timestamp_delta for r in records])
    payload = _compress(codec, b"".join(
        [_enc_record(r, i) for i, r in enumerate(records)]))
    attributes = codec  # bits 0-2 compression
    if transactional:
        attributes |= 0x10  # bit 4 (KIP-98)
    if control:
        attributes |= 0x20  # bit 5: txn marker batch
    after_crc = (
        struct.pack(
            ">hiqqqhii",
            attributes,
            len(records) - 1,  # lastOffsetDelta
            base_timestamp,
            base_timestamp + max_ts_delta,
            producer_id,
            producer_epoch,
            base_sequence,
            len(records),
        )
        + payload
    )
    crc = crc32c(after_crc)
    body = struct.pack(">ibI", 0, 2, crc) + after_crc  # partitionLeaderEpoch, magic, crc
    return struct.pack(">qi", base_offset, len(body)) + body


def decode_record_batches(buf: bytes) -> list[tuple[int, list[Record]]]:
    """Parse a record-set (concatenated batches) -> [(base_offset, records)].

    Verifies each batch's CRC32C; raises on mismatch or non-v2 magic."""
    out = []
    r = Reader(buf)
    while r.remaining() >= 12:
        base_offset = r.i64()
        batch_len = r.i32()
        if r.remaining() < batch_len:
            break  # partial batch at the tail (fetch truncation) — legal
        body = r.raw(batch_len)
        br = Reader(body)
        br.i32()  # partitionLeaderEpoch
        magic = br.i8()
        if magic != 2:
            raise ValueError(f"record batch magic {magic}, expected 2")
        crc = br.u32()
        actual = crc32c(body[br.pos :])
        if crc != actual:
            raise ValueError(f"record batch crc mismatch: {crc:#x} != {actual:#x}")
        attributes = br.i16()
        br.i32()  # lastOffsetDelta
        base_ts = br.i64()
        br.i64()  # maxTimestamp
        br.i64()  # producerId
        br.i16()  # producerEpoch
        br.i32()  # baseSequence
        n_records = br.i32()
        payload = _decompress(attributes & 0x07, body[br.pos :])
        pr = Reader(payload)
        records = []
        for _ in range(n_records):
            pr.varint()  # record length
            pr.i8()  # attributes
            ts_delta = pr.varint()
            off_delta = pr.varint()
            klen = pr.varint()
            key = pr.raw(klen) if klen >= 0 else None
            vlen = pr.varint()
            value = pr.raw(vlen) if vlen >= 0 else None
            n_headers = pr.varint()
            headers = []
            for _ in range(n_headers):
                hklen = pr.varint()
                hk = pr.raw(hklen).decode("utf-8")
                hvlen = pr.varint()
                hv = pr.raw(hvlen) if hvlen >= 0 else None
                headers.append((hk, hv))
            records.append(Record(key, value, headers, ts_delta + base_ts, off_delta))
        out.append((base_offset, records))
    return out

def batch_producer_meta(record_set: bytes) -> tuple[int, int, int, int]:
    """(producer_id, producer_epoch, base_sequence, record_count) of the
    FIRST batch in a record set — what the broker's sequence check
    reads; header-only, no record decode."""
    # baseOffset 8 | len 4 | epoch 4 | magic 1 | crc 4 | attrs 2 |
    # lastOffsetDelta 4 | baseTs 8 | maxTs 8 | producerId@43 |
    # producerEpoch@51 | baseSequence@53 | recordCount@57
    pid = struct.unpack_from(">q", record_set, 43)[0]
    pepoch = struct.unpack_from(">h", record_set, 51)[0]
    base_seq = struct.unpack_from(">i", record_set, 53)[0]
    n = struct.unpack_from(">i", record_set, 57)[0]
    return pid, pepoch, base_seq, n


ATTR_TRANSACTIONAL = 0x10  # batch attributes bit 4
ATTR_CONTROL = 0x20        # batch attributes bit 5

CONTROL_ABORT = 0
CONTROL_COMMIT = 1


def enc_control_record(marker: int, coordinator_epoch: int = 0) -> "Record":
    """Control record (txn marker): key = version i16 0 | type i16,
    value = version i16 0 | coordinator_epoch i32."""
    return Record(struct.pack(">hh", 0, marker),
                  struct.pack(">hi", 0, coordinator_epoch))


def dec_control_record(rec: "Record") -> int:
    """-> CONTROL_ABORT | CONTROL_COMMIT."""
    version, marker = struct.unpack_from(">hh", rec.key, 0)
    if version != 0:
        raise ValueError(f"unknown control record version {version}")
    return marker


def batch_attributes(record_set: bytes, pos: int = 0) -> int:
    """attributes i16 of the batch at ``pos`` (offset 21 past the batch
    start: baseOffset 8 | len 4 | epoch 4 | magic 1 | crc 4)."""
    return struct.unpack_from(">h", record_set, pos + 21)[0]


# ---------------------------------------------------------------- api keys

API_PRODUCE = 0
API_FETCH = 1
API_LIST_OFFSETS = 2
API_METADATA = 3
API_OFFSET_COMMIT = 8
API_OFFSET_FETCH = 9
API_FIND_COORDINATOR = 10
API_JOIN_GROUP = 11
API_HEARTBEAT = 12
API_LEAVE_GROUP = 13
API_SYNC_GROUP = 14
API_SASL_HANDSHAKE = 17
API_API_VERSIONS = 18
API_CREATE_TOPICS = 19
API_INIT_PRODUCER_ID = 22
API_ADD_PARTITIONS_TO_TXN = 24
API_END_TXN = 26
API_DESCRIBE_CONFIGS = 32
API_SASL_AUTHENTICATE = 36

# the versions each encoder and decoder lays out: the classic floor, then
# the flexible version a modern sarama/franz-go client (the reference's
# target, `pkg/sink/kafka/sarama_config.go`) negotiates against a
# post-2.4 broker; admin and SASL messages have one version
VERSIONS = {
    API_API_VERSIONS: (0, 3),
    API_METADATA: (1, 9),
    API_PRODUCE: (3, 9),
    API_FETCH: (4, 12),
    API_LIST_OFFSETS: (1, 7),
    API_FIND_COORDINATOR: (1, 3),
    API_JOIN_GROUP: (2, 6),
    API_SYNC_GROUP: (1, 4),
    API_HEARTBEAT: (1, 4),
    API_LEAVE_GROUP: (1, 4),
    API_OFFSET_COMMIT: (3, 8),
    API_OFFSET_FETCH: (3, 6),
    API_INIT_PRODUCER_ID: (1, 2),
    API_ADD_PARTITIONS_TO_TXN: (0, 3),
    API_END_TXN: (1, 3),
    API_CREATE_TOPICS: (2,),
    API_DESCRIBE_CONFIGS: (0,),
    API_SASL_HANDSHAKE: (1,),
    API_SASL_AUTHENTICATE: (0,),
}

# first flexible version per api key (the "flexibleVersions" of each
# message spec in the protocol guide)
FLEXIBLE_SINCE = {
    API_PRODUCE: 9, API_FETCH: 12, API_LIST_OFFSETS: 6, API_METADATA: 9,
    API_API_VERSIONS: 3, API_FIND_COORDINATOR: 3, API_JOIN_GROUP: 6,
    API_SYNC_GROUP: 4, API_HEARTBEAT: 4, API_LEAVE_GROUP: 4,
    API_OFFSET_COMMIT: 8, API_OFFSET_FETCH: 6, API_INIT_PRODUCER_ID: 2,
    API_ADD_PARTITIONS_TO_TXN: 3, API_END_TXN: 3,
}

ERR_ILLEGAL_GENERATION = 22
ERR_REBALANCE_IN_PROGRESS = 27
ERR_UNSUPPORTED_SASL_MECHANISM = 33
ERR_ILLEGAL_SASL_STATE = 34
ERR_UNSUPPORTED_VERSION = 35
ERR_TOPIC_ALREADY_EXISTS = 36
ERR_INVALID_PARTITIONS = 37
ERR_INVALID_REPLICATION_FACTOR = 38
ERR_OUT_OF_ORDER_SEQUENCE = 45
ERR_INVALID_PRODUCER_EPOCH = 47
ERR_INVALID_TXN_STATE = 48
ERR_SASL_AUTHENTICATION_FAILED = 58
# KIP-227 session error codes
ERR_FETCH_SESSION_ID_NOT_FOUND = 69
ERR_INVALID_FETCH_SESSION_EPOCH = 71

RESOURCE_TOPIC = 2
RESOURCE_BROKER = 4

OFFSET_EARLIEST = -2
OFFSET_LATEST = -1


def is_flexible(api_key: int, api_version: int) -> bool:
    lo = FLEXIBLE_SINCE.get(api_key)
    return lo is not None and api_version >= lo


def _by_topic(rows) -> dict[str, list]:
    """[(topic, value)] -> {topic: [value]} in first-seen order."""
    out: dict[str, list] = {}
    for topic, value in rows:
        out.setdefault(topic, []).append(value)
    return out


# ---------------------------------------------------------------- framing


def frame_request(api_key: int, api_version: int, correlation_id: int,
                  client_id: str, body: bytes) -> bytes:
    """Request header v1, or v2 (v1 plus a tagged-fields block) for a
    flexible version; the client id stays a classic string in both."""
    w = Writer()
    w.pack(">hhi", api_key, api_version, correlation_id)
    w.string(client_id)
    w.flexible = is_flexible(api_key, api_version)
    w.tags()
    hdr = w.done()
    return b"".join((struct.pack(">i", len(hdr) + len(body)), hdr, body))


def parse_request_header(buf: bytes) -> tuple[int, int, int, str | None, Reader]:
    """The header version is derivable from (api_key, api_version), which
    is why the protocol put them first."""
    r = Reader(buf)
    api_key = r.i16()
    api_version = r.i16()
    corr = r.i32()
    client_id = r.string()
    r.flexible = is_flexible(api_key, api_version)
    r.skip_tags()
    return api_key, api_version, corr, client_id, r


def _response_header_v1(api_key: int, api_version: int) -> bool:
    # ApiVersions responses keep header v0 at every version, so a client
    # can read the error a broker sends for a version it doesn't know
    return api_key != API_API_VERSIONS and is_flexible(api_key, api_version)


def frame_response(api_key: int, api_version: int, correlation_id: int,
                   body: bytes) -> bytes:
    """Response header v0, or v1 (v0 plus a tagged-fields block) for a
    flexible version."""
    hdr = struct.pack(">i", correlation_id)
    if _response_header_v1(api_key, api_version):
        hdr += b"\x00"
    return b"".join((struct.pack(">i", len(hdr) + len(body)), hdr, body))


def parse_response_header(buf: bytes, api_key: int,
                          api_version: int) -> tuple[int, Reader]:
    """-> (correlation id, reader at the body)."""
    r = Reader(buf, flexible=_response_header_v1(api_key, api_version))
    corr = r.i32()
    r.skip_tags()
    return corr, r


# ---------------------------------------------------------------- ApiVersions


def enc_api_versions_request(version: int, software_name: str = "ticdc-spark",
                             software_version: str = "4") -> bytes:
    w = Writer(is_flexible(API_API_VERSIONS, version))
    if version >= 3:
        w.string(software_name)
        w.string(software_version)
    w.tags()
    return w.done()


def dec_api_versions_request(r: Reader, version: int) -> tuple[str | None, str | None]:
    r.flexible = is_flexible(API_API_VERSIONS, version)
    name = software_version = None
    if version >= 3:
        name, software_version = r.string(), r.string()
    r.skip_tags()
    return name, software_version


def enc_api_versions_response(version: int, supported: dict[int, tuple[int, int]],
                              error_code: int = 0) -> bytes:
    w = Writer(is_flexible(API_API_VERSIONS, version))
    w.pack(">h", error_code)
    w.array_len(len(supported))
    for key, (lo, hi) in sorted(supported.items()):
        w.pack(">hhh", key, lo, hi)
        w.tags()
    if version >= 1:
        w.pack(">i", 0)  # throttle_time_ms
    w.tags()
    return w.done()


def dec_api_versions_response(r: Reader, version: int) -> dict[int, tuple[int, int]]:
    r.flexible = is_flexible(API_API_VERSIONS, version)
    err = r.i16()
    if err:
        raise IOError(f"ApiVersions error {err}")
    out = {}
    for _ in range(r.array_len()):
        key, lo, hi = r.i16(), r.i16(), r.i16()
        r.skip_tags()
        out[key] = (lo, hi)
    if version >= 1:
        r.i32()  # throttle_time_ms
    r.skip_tags()
    return out


# ---------------------------------------------------------------- Metadata


def enc_metadata_request(version: int, topics: list[str] | None) -> bytes:
    w = Writer(is_flexible(API_METADATA, version))
    w.array_len(-1 if topics is None else len(topics))
    for t in topics or ():
        w.string(t)
        w.tags()
    if version >= 4:
        w.pack(">?", True)  # allow_auto_topic_creation
    if version >= 8:
        w.pack(">??", False, False)  # include_{cluster,topic}_authorized_operations
    w.tags()
    return w.done()


def dec_metadata_request(r: Reader, version: int) -> list[str] | None:
    r.flexible = is_flexible(API_METADATA, version)
    n = r.array_len()
    topics = None if n < 0 else []
    for _ in range(n):
        topics.append(r.string())
        r.skip_tags()
    if version >= 4:
        r.i8()  # allow_auto_topic_creation
    if version >= 8:
        r.raw(2)  # include_{cluster,topic}_authorized_operations
    r.skip_tags()
    return topics


def enc_metadata_response(
    version: int, host: str, port: int, topics: dict[str, int], node_id: int = 0
) -> bytes:
    """``topics`` values: partition count, or (error_code, 0) for a
    topic the broker refuses to auto-create (UNKNOWN_TOPIC_OR_PARTITION
    when auto.create.topics.enable=false)."""
    w = Writer(is_flexible(API_METADATA, version))
    if version >= 3:
        w.pack(">i", 0)  # throttle_time_ms
    w.array_len(1)  # one broker
    w.pack(">i", node_id)
    w.string(host)
    w.pack(">i", port)
    w.string(None)  # rack
    w.tags()
    if version >= 2:
        w.string("ticdc-spark-cluster")
    w.pack(">i", node_id)  # controller_id
    w.array_len(len(topics))
    for name, spec in sorted(topics.items()):
        terr, n_parts = spec if isinstance(spec, tuple) else (0, spec)
        w.pack(">h", terr)
        w.string(name)
        w.pack(">?", False)  # is_internal
        w.array_len(n_parts)
        for p in range(n_parts):
            w.pack(">hii", 0, p, node_id)  # error_code, index, leader
            if version >= 7:
                w.pack(">i", 0)  # leader_epoch
            for _ in range(2):  # replicas, isr
                w.array_len(1)
                w.pack(">i", node_id)
            if version >= 5:
                w.array_len(0)  # offline_replicas
            w.tags()
        if version >= 8:
            w.pack(">i", -2147483648)  # topic_authorized_operations
        w.tags()
    if version >= 8:
        w.pack(">i", -2147483648)  # cluster_authorized_operations
    w.tags()
    return w.done()


def dec_metadata_response(r: Reader, version: int) -> dict:
    r.flexible = is_flexible(API_METADATA, version)
    if version >= 3:
        r.i32()  # throttle_time_ms
    brokers = []
    for _ in range(r.array_len()):
        brokers.append({"node_id": r.i32(), "host": r.string(), "port": r.i32(),
                        "rack": r.string()})
        r.skip_tags()
    if version >= 2:
        r.string()  # cluster_id
    controller = r.i32()
    topics = {}
    for _ in range(r.array_len()):
        err = r.i16()
        name = r.string()
        r.i8()  # is_internal
        parts = []
        for _ in range(r.array_len()):
            perr, idx, leader = r.i16(), r.i32(), r.i32()
            if version >= 7:
                r.i32()  # leader_epoch
            replicas = [r.i32() for _ in range(r.array_len())]
            isr = [r.i32() for _ in range(r.array_len())]
            if version >= 5:
                for _ in range(r.array_len()):  # offline_replicas
                    r.i32()
            r.skip_tags()
            parts.append({"error": perr, "index": idx, "leader": leader,
                          "replicas": replicas, "isr": isr})
        if version >= 8:
            r.i32()  # topic_authorized_operations
        r.skip_tags()
        topics[name] = {"error": err, "partitions": parts}
    if version >= 8:
        r.i32()  # cluster_authorized_operations
    r.skip_tags()
    return {"brokers": brokers, "controller": controller, "topics": topics}


# ---------------------------------------------------------------- Produce


def enc_produce_request(
    version: int, topic_data: dict[str, dict[int, bytes]], acks: int = -1,
    timeout_ms: int = 30000, txn_id: str | None = None
) -> bytes:
    w = Writer(is_flexible(API_PRODUCE, version))
    w.string(txn_id)
    w.pack(">hi", acks, timeout_ms)
    w.array_len(len(topic_data))
    for topic, parts in topic_data.items():
        w.string(topic)
        w.array_len(len(parts))
        for idx, record_set in parts.items():
            w.pack(">i", idx)
            w.bytes_(record_set)
            w.tags()
        w.tags()
    w.tags()
    return w.done()


def dec_produce_request(
        r: Reader, version: int
) -> tuple[str | None, int, int, dict[str, dict[int, bytes]]]:
    r.flexible = is_flexible(API_PRODUCE, version)
    txn_id = r.string()
    acks = r.i16()
    timeout = r.i32()
    topic_data: dict[str, dict[int, bytes]] = {}
    for _ in range(r.array_len()):
        topic = r.string()
        parts = {}
        for _ in range(r.array_len()):
            idx = r.i32()
            parts[idx] = r.bytes_()
            r.skip_tags()
        r.skip_tags()
        topic_data[topic] = parts
    r.skip_tags()
    return txn_id, acks, timeout, topic_data


def enc_produce_response(version: int,
                         results: dict[str, dict[int, tuple[int, int]]]) -> bytes:
    """results: topic -> partition -> (error_code, base_offset)."""
    w = Writer(is_flexible(API_PRODUCE, version))
    w.array_len(len(results))
    for topic, parts in results.items():
        w.string(topic)
        w.array_len(len(parts))
        for idx, (err, base_offset) in parts.items():
            w.pack(">ihqq", idx, err, base_offset, -1)  # log_append_time
            if version >= 5:
                w.pack(">q", 0)  # log_start_offset
            if version >= 8:
                w.array_len(0)  # record_errors
                w.string(None)  # error_message
            w.tags()
        w.tags()
    w.pack(">i", 0)  # throttle_time_ms
    w.tags()
    return w.done()


def dec_produce_response(r: Reader, version: int) -> dict[str, dict[int, tuple[int, int]]]:
    r.flexible = is_flexible(API_PRODUCE, version)
    out: dict[str, dict[int, tuple[int, int]]] = {}
    for _ in range(r.array_len()):
        topic = r.string()
        parts = {}
        for _ in range(r.array_len()):
            idx = r.i32()
            err = r.i16()
            base_offset = r.i64()
            r.i64()  # log_append_time
            if version >= 5:
                r.i64()  # log_start_offset
            if version >= 8:
                for _ in range(r.array_len()):  # record_errors
                    r.i32()
                    r.string()
                    r.skip_tags()
                r.string()  # error_message
            r.skip_tags()
            parts[idx] = (err, base_offset)
        r.skip_tags()
        out[topic] = parts
    r.i32()  # throttle_time_ms
    r.skip_tags()
    return out


# ---------------------------------------------------------------- Fetch


def enc_fetch_request(
    version: int, wants: list[tuple[str, int, int, int]], isolation: int = 0,
    max_bytes: int = 1 << 26, session_id: int = 0, session_epoch: int = -1,
    forgotten: list[tuple[str, list[int]]] | None = None,
) -> bytes:
    """``wants``: [(topic, partition, fetch_offset, partition_max_bytes)].
    KIP-227 sessions (v7+): epoch -1 = sessionless, 0 = full request
    opening a session, >0 = incremental (``wants`` lists only CHANGED
    partitions, ``forgotten`` removes partitions from the session)."""
    w = Writer(is_flexible(API_FETCH, version))
    w.pack(">iiii", -1, 100, 1, max_bytes)  # replica_id, max_wait, min_bytes, max_bytes
    w.pack(">b", isolation)  # 0 READ_UNCOMMITTED | 1 READ_COMMITTED
    if version >= 7:
        w.pack(">ii", session_id, session_epoch)
    by_topic = _by_topic((t, (p, off, pmax)) for t, p, off, pmax in wants)
    w.array_len(len(by_topic))
    for topic, plist in by_topic.items():
        w.string(topic)
        w.array_len(len(plist))
        for partition, offset, pmax in plist:
            w.pack(">i", partition)
            if version >= 9:
                w.pack(">i", -1)  # current_leader_epoch
            w.pack(">q", offset)
            if version >= 12:
                w.pack(">i", -1)  # last_fetched_epoch
            if version >= 5:
                w.pack(">q", -1)  # log_start_offset
            w.pack(">i", pmax)
            w.tags()
        w.tags()
    if version >= 7:
        forgotten = forgotten or []
        w.array_len(len(forgotten))
        for topic, parts in forgotten:
            w.string(topic)
            w.array_len(len(parts))
            for p in parts:
                w.pack(">i", p)
            w.tags()
    if version >= 11:
        w.string("")  # rack_id
    w.tags()
    return w.done()


def dec_fetch_request(
    r: Reader, version: int,
) -> tuple[int, int, int, list[tuple[str, int, int, int]],
           list[tuple[str, list[int]]]]:
    """-> (isolation, session_id, session_epoch, wants, forgotten); a
    classic request reads as sessionless (0, -1)."""
    r.flexible = is_flexible(API_FETCH, version)
    r.raw(16)  # replica_id, max_wait, min_bytes, max_bytes
    isolation = r.i8()
    session_id, session_epoch = (r.i32(), r.i32()) if version >= 7 else (0, -1)
    wants = []
    for _ in range(r.array_len()):
        topic = r.string()
        for _ in range(r.array_len()):
            partition = r.i32()
            if version >= 9:
                r.i32()  # current_leader_epoch
            offset = r.i64()
            if version >= 12:
                r.i32()  # last_fetched_epoch
            if version >= 5:
                r.i64()  # log_start_offset
            wants.append((topic, partition, offset, r.i32()))
            r.skip_tags()
        r.skip_tags()
    forgotten: list[tuple[str, list[int]]] = []
    if version >= 7:
        for _ in range(r.array_len()):
            topic = r.string()
            forgotten.append((topic, [r.i32() for _ in range(r.array_len())]))
            r.skip_tags()
    if version >= 11:
        r.string()  # rack_id
    r.skip_tags()
    return isolation, session_id, session_epoch, wants, forgotten


def enc_fetch_response(
    version: int, parts: list, session_id: int = 0, error_code: int = 0
) -> bytes:
    """parts: 5-tuples (topic, partition, error_code, hw, record_set) or
    7-tuples adding (last_stable_offset, aborted:[(pid, first_off)]).
    ``session_id``/``error_code``: KIP-227 session fields (v7+; error 69 =
    FETCH_SESSION_ID_NOT_FOUND, 71 = INVALID_FETCH_SESSION_EPOCH)."""
    w = Writer(is_flexible(API_FETCH, version))
    w.pack(">i", 0)  # throttle_time_ms
    if version >= 7:
        w.pack(">hi", error_code, session_id)
    by_topic = _by_topic((p[0], p[1:]) for p in parts)
    w.array_len(len(by_topic))
    for topic, plist in by_topic.items():
        w.string(topic)
        w.array_len(len(plist))
        for idx, err, hw, rs, *txn in plist:
            lso, aborted = txn or (hw, [])
            w.pack(">ihqq", idx, err, hw, lso)
            if version >= 5:
                w.pack(">q", 0)  # log_start_offset
            w.array_len(len(aborted))
            for pid, first in aborted:
                w.pack(">qq", pid, first)
                w.tags()
            if version >= 11:
                w.pack(">i", -1)  # preferred_read_replica
            w.bytes_(rs)
            w.tags()
        w.tags()
    w.tags()
    return w.done()


def dec_fetch_response(r: Reader, version: int) -> tuple[int, int, list[tuple]]:
    """-> (top_error_code, session_id, [(topic, idx, err, hw, lso,
    aborted:[(pid, first)], record_set)]) — KIP-227 errors 69/71 surface
    instead of raising, so a client can fall back to a full request."""
    r.flexible = is_flexible(API_FETCH, version)
    r.i32()  # throttle_time_ms
    top_err, session_id = (r.i16(), r.i32()) if version >= 7 else (0, 0)
    out = []
    for _ in range(r.array_len()):
        topic = r.string()
        for _ in range(r.array_len()):
            idx, err, hw, lso = r.i32(), r.i16(), r.i64(), r.i64()
            if version >= 5:
                r.i64()  # log_start_offset
            aborted = []
            for _ in range(r.array_len()):
                aborted.append((r.i64(), r.i64()))
                r.skip_tags()
            if version >= 11:
                r.i32()  # preferred_read_replica
            rs = r.bytes_() or b""
            r.skip_tags()
            out.append((topic, idx, err, hw, lso, aborted, rs))
        r.skip_tags()
    r.skip_tags()
    return top_err, session_id, out


# ---------------------------------------------------------------- ListOffsets
# how consumers seek earliest (-2) / latest (-1) / by timestamp before
# fetching — sarama's OffsetOldest/OffsetNewest and GetOffset(ts)


def enc_list_offsets_request(version: int, topic: str, partition: int,
                             timestamp: int) -> bytes:
    w = Writer(is_flexible(API_LIST_OFFSETS, version))
    w.pack(">i", -1)  # replica_id
    if version >= 2:
        w.pack(">b", 0)  # isolation_level
    w.array_len(1)
    w.string(topic)
    w.array_len(1)
    w.pack(">i", partition)
    if version >= 4:
        w.pack(">i", -1)  # current_leader_epoch
    w.pack(">q", timestamp)
    w.tags()  # partition
    w.tags()  # topic
    w.tags()
    return w.done()


def dec_list_offsets_request(r: Reader, version: int) -> list[tuple[str, int, int]]:
    r.flexible = is_flexible(API_LIST_OFFSETS, version)
    r.i32()  # replica_id
    if version >= 2:
        r.i8()  # isolation_level
    out = []
    for _ in range(r.array_len()):
        topic = r.string()
        for _ in range(r.array_len()):
            partition = r.i32()
            if version >= 4:
                r.i32()  # current_leader_epoch
            out.append((topic, partition, r.i64()))
            r.skip_tags()
        r.skip_tags()
    r.skip_tags()
    return out


def enc_list_offsets_response(
    version: int, results: list[tuple[str, int, int, int, int]]
) -> bytes:
    """results: [(topic, partition, error_code, timestamp, offset)]."""
    w = Writer(is_flexible(API_LIST_OFFSETS, version))
    if version >= 2:
        w.pack(">i", 0)  # throttle_time_ms
    by_topic = _by_topic((t, rest) for t, *rest in results)
    w.array_len(len(by_topic))
    for t, parts in by_topic.items():
        w.string(t)
        w.array_len(len(parts))
        for p, err, ts, off in parts:
            w.pack(">ihqq", p, err, ts, off)
            if version >= 4:
                w.pack(">i", -1)  # leader_epoch
            w.tags()
        w.tags()
    w.tags()
    return w.done()


def dec_list_offsets_response(
        r: Reader, version: int) -> dict[tuple[str, int], tuple[int, int]]:
    """-> {(topic, partition): (timestamp, offset)}."""
    r.flexible = is_flexible(API_LIST_OFFSETS, version)
    if version >= 2:
        r.i32()  # throttle_time_ms
    out = {}
    for _ in range(r.array_len()):
        topic = r.string()
        for _ in range(r.array_len()):
            p, err, ts, off = r.i32(), r.i16(), r.i64(), r.i64()
            if version >= 4:
                r.i32()  # leader_epoch
            r.skip_tags()
            if err:
                raise IOError(f"ListOffsets error {err} on {topic}/{p}")
            out[(topic, p)] = (ts, off)
        r.skip_tags()
    r.skip_tags()
    return out


# ---------------------------------------------------------------- groups
# Consumer-group coordination (what the reference's cmd/kafka-consumer
# does through sarama): FindCoordinator, JoinGroup, SyncGroup, Heartbeat,
# LeaveGroup, OffsetCommit, OffsetFetch.


def enc_find_coordinator_request(version: int, key: str, key_type: int = 0) -> bytes:
    w = Writer(is_flexible(API_FIND_COORDINATOR, version))
    w.string(key)
    w.pack(">b", key_type)
    w.tags()
    return w.done()


def dec_find_coordinator_request(r: Reader, version: int) -> tuple[str, int]:
    r.flexible = is_flexible(API_FIND_COORDINATOR, version)
    key, key_type = r.string(), r.i8()
    r.skip_tags()
    return key, key_type


def enc_find_coordinator_response(version: int, node_id: int, host: str,
                                  port: int) -> bytes:
    w = Writer(is_flexible(API_FIND_COORDINATOR, version))
    w.pack(">ih", 0, 0)  # throttle_time_ms, error_code
    w.string(None)  # error_message
    w.pack(">i", node_id)
    w.string(host)
    w.pack(">i", port)
    w.tags()
    return w.done()


def dec_find_coordinator_response(r: Reader, version: int) -> tuple[str, int]:
    r.flexible = is_flexible(API_FIND_COORDINATOR, version)
    r.i32()  # throttle_time_ms
    err = r.i16()
    r.string()  # error_message
    if err:
        raise IOError(f"FindCoordinator error {err}")
    r.i32()  # node_id
    host, port = r.string(), r.i32()
    r.skip_tags()
    return host, port


def enc_consumer_metadata(topics: list[str]) -> bytes:
    """The "consumer" protocol metadata a JoinGroup carries: version,
    topics, user data. It keeps its classic framing in every JoinGroup
    version (opaque to the broker, versioned separately)."""
    w = Writer()
    w.pack(">h", 0)
    w.array_len(len(topics))
    for t in topics:
        w.string(t)
    w.bytes_(b"")
    return w.done()


def dec_consumer_metadata(md: bytes) -> list[str]:
    r = Reader(md)
    r.i16()  # version
    return [r.string() for _ in range(r.i32())]


def enc_join_group_request(
    version: int, group_id: str, member_id: str, topics: list[str],
    session_timeout_ms: int = 10000, rebalance_timeout_ms: int = 3000,
    group_instance_id: str | None = None,
) -> bytes:
    w = Writer(is_flexible(API_JOIN_GROUP, version))
    w.string(group_id)
    w.pack(">ii", session_timeout_ms, rebalance_timeout_ms)
    w.string(member_id)
    if version >= 5:
        w.string(group_instance_id)  # KIP-345 static member
    w.string("consumer")
    w.array_len(1)
    w.string("range")
    w.bytes_(enc_consumer_metadata(topics))
    w.tags()
    w.tags()
    return w.done()


def dec_join_group_request(r: Reader, version: int) -> dict:
    r.flexible = is_flexible(API_JOIN_GROUP, version)
    group_id = r.string()
    session_timeout = r.i32()
    rebalance_timeout = r.i32()
    member_id = r.string()
    group_instance_id = r.string() if version >= 5 else None
    protocol_type = r.string()
    protocols = []
    for _ in range(r.array_len()):
        protocols.append((r.string(), r.bytes_()))
        r.skip_tags()
    r.skip_tags()
    return {"group_id": group_id, "session_timeout": session_timeout,
            "rebalance_timeout": rebalance_timeout, "member_id": member_id,
            "group_instance_id": group_instance_id,
            "protocol_type": protocol_type, "protocols": protocols}


def enc_join_group_response(
    version: int, error_code: int, generation: int, protocol: str, leader: str,
    member_id: str, members: list[tuple[str, bytes]],
) -> bytes:
    w = Writer(is_flexible(API_JOIN_GROUP, version))
    w.pack(">ihi", 0, error_code, generation)
    w.string(protocol)
    w.string(leader)
    w.string(member_id)
    w.array_len(len(members))
    for mid, md in members:
        w.string(mid)
        if version >= 5:
            w.string(None)  # group_instance_id
        w.bytes_(md)
        w.tags()
    w.tags()
    return w.done()


def dec_join_group_response(r: Reader, version: int) -> dict:
    r.flexible = is_flexible(API_JOIN_GROUP, version)
    r.i32()  # throttle_time_ms
    err = r.i16()
    generation = r.i32()
    protocol = r.string()
    leader = r.string()
    member_id = r.string()
    members = []
    for _ in range(r.array_len()):
        mid = r.string()
        if version >= 5:
            r.string()  # group_instance_id
        members.append((mid, r.bytes_()))
        r.skip_tags()
    r.skip_tags()
    return {"error": err, "generation": generation, "protocol": protocol,
            "leader": leader, "member_id": member_id, "members": members}


def enc_consumer_assignment(topic_partitions: dict[str, list[int]],
                            user_data: bytes = b"") -> bytes:
    """``user_data`` is the consumer protocol's assignor-metadata field
    (what sticky/cooperative assignors use); this repo's range assignor
    carries the generation's member count in it so followers can detect
    a fully-formed group without polling."""
    w = Writer()
    w.pack(">h", 0)
    w.array_len(len(topic_partitions))
    for t, parts in sorted(topic_partitions.items()):
        w.string(t)
        w.array_len(len(parts))
        for p in parts:
            w.pack(">i", p)
    w.bytes_(user_data)
    return w.done()


def dec_consumer_assignment(buf: bytes) -> dict[str, list[int]]:
    out, _ = dec_consumer_assignment_full(buf)
    return out


def dec_consumer_assignment_full(
        buf: bytes) -> tuple[dict[str, list[int]], bytes]:
    """-> (assignment, user_data)."""
    if not buf:
        return {}, b""
    r = Reader(buf)
    r.i16()  # version
    out: dict[str, list[int]] = {}
    for _ in range(r.i32()):
        t = r.string()
        out[t] = [r.i32() for _ in range(r.i32())]
    user = r.bytes_() if r.remaining() else b""
    return out, user or b""


def enc_sync_group_request(
    version: int, group_id: str, generation: int, member_id: str,
    assignments: list[tuple[str, bytes]], group_instance_id: str | None = None,
) -> bytes:
    w = Writer(is_flexible(API_SYNC_GROUP, version))
    w.string(group_id)
    w.pack(">i", generation)
    w.string(member_id)
    if version >= 3:
        w.string(group_instance_id)
    w.array_len(len(assignments))
    for mid, a in assignments:
        w.string(mid)
        w.bytes_(a)
        w.tags()
    w.tags()
    return w.done()


def dec_sync_group_request(r: Reader, version: int) -> dict:
    r.flexible = is_flexible(API_SYNC_GROUP, version)
    group_id = r.string()
    generation = r.i32()
    member_id = r.string()
    group_instance_id = r.string() if version >= 3 else None
    assignments = []
    for _ in range(r.array_len()):
        assignments.append((r.string(), r.bytes_()))
        r.skip_tags()
    r.skip_tags()
    return {"group_id": group_id, "generation": generation,
            "member_id": member_id, "group_instance_id": group_instance_id,
            "assignments": assignments}


def enc_sync_group_response(version: int, error_code: int, assignment: bytes) -> bytes:
    w = Writer(is_flexible(API_SYNC_GROUP, version))
    w.pack(">ih", 0, error_code)  # throttle_time_ms, error_code
    w.bytes_(assignment)
    w.tags()
    return w.done()


def dec_sync_group_response(r: Reader, version: int) -> tuple[int, bytes]:
    r.flexible = is_flexible(API_SYNC_GROUP, version)
    r.i32()  # throttle_time_ms
    err, assignment = r.i16(), r.bytes_() or b""
    r.skip_tags()
    return err, assignment


def enc_heartbeat_request(version: int, group_id: str, generation: int,
                          member_id: str,
                          group_instance_id: str | None = None) -> bytes:
    w = Writer(is_flexible(API_HEARTBEAT, version))
    w.string(group_id)
    w.pack(">i", generation)
    w.string(member_id)
    if version >= 3:
        w.string(group_instance_id)
    w.tags()
    return w.done()


def dec_heartbeat_request(r: Reader, version: int) -> tuple[str, int, str, str | None]:
    r.flexible = is_flexible(API_HEARTBEAT, version)
    group_id, generation, member_id = r.string(), r.i32(), r.string()
    group_instance_id = r.string() if version >= 3 else None
    r.skip_tags()
    return group_id, generation, member_id, group_instance_id


def enc_heartbeat_response(version: int, error_code: int) -> bytes:
    w = Writer(is_flexible(API_HEARTBEAT, version))
    w.pack(">ih", 0, error_code)  # throttle_time_ms, error_code
    w.tags()
    return w.done()


def dec_heartbeat_response(r: Reader, version: int) -> int:
    r.flexible = is_flexible(API_HEARTBEAT, version)
    r.i32()  # throttle_time_ms
    err = r.i16()
    r.skip_tags()
    return err


def enc_leave_group_request(version: int, group_id: str, member_id: str) -> bytes:
    w = Writer(is_flexible(API_LEAVE_GROUP, version))
    w.string(group_id)
    if version >= 3:  # the single member became a members array
        w.array_len(1)
        w.string(member_id)
        w.string(None)  # group_instance_id
        w.tags()
    else:
        w.string(member_id)
    w.tags()
    return w.done()


def dec_leave_group_request(r: Reader, version: int) -> tuple[str, list[str]]:
    r.flexible = is_flexible(API_LEAVE_GROUP, version)
    group_id = r.string()
    if version < 3:
        return group_id, [r.string()]
    members = []
    for _ in range(r.array_len()):
        members.append(r.string())
        r.string()  # group_instance_id
        r.skip_tags()
    r.skip_tags()
    return group_id, members


def enc_leave_group_response(version: int, error_code: int,
                             members: list[str]) -> bytes:
    w = Writer(is_flexible(API_LEAVE_GROUP, version))
    w.pack(">ih", 0, error_code)  # throttle_time_ms, error_code
    if version >= 3:
        w.array_len(len(members))
        for mid in members:
            w.string(mid)
            w.string(None)  # group_instance_id
            w.pack(">h", 0)
            w.tags()
    w.tags()
    return w.done()


def dec_leave_group_response(r: Reader, version: int) -> int:
    r.flexible = is_flexible(API_LEAVE_GROUP, version)
    r.i32()  # throttle_time_ms
    err = r.i16()
    if version >= 3:
        for _ in range(r.array_len()):
            r.string()
            r.string()
            member_err = r.i16()
            r.skip_tags()
            err = err or member_err
    r.skip_tags()
    return err


def enc_offset_commit_request(
    version: int, group_id: str, generation: int, member_id: str,
    offsets: dict[tuple[str, int], int], group_instance_id: str | None = None,
) -> bytes:
    w = Writer(is_flexible(API_OFFSET_COMMIT, version))
    w.string(group_id)
    w.pack(">i", generation)
    w.string(member_id)
    if version >= 7:
        w.string(group_instance_id)
    if 2 <= version <= 4:
        w.pack(">q", -1)  # retention_time_ms
    by_topic = _by_topic((t, (p, off)) for (t, p), off in offsets.items())
    w.array_len(len(by_topic))
    for t, parts in by_topic.items():
        w.string(t)
        w.array_len(len(parts))
        for p, off in parts:
            w.pack(">iq", p, off)
            if version >= 6:
                w.pack(">i", -1)  # committed_leader_epoch
            w.string(None)  # metadata
            w.tags()
        w.tags()
    w.tags()
    return w.done()


def dec_offset_commit_request(r: Reader, version: int) -> dict:
    r.flexible = is_flexible(API_OFFSET_COMMIT, version)
    group_id = r.string()
    generation = r.i32()
    member_id = r.string()
    group_instance_id = r.string() if version >= 7 else None
    if 2 <= version <= 4:
        r.i64()  # retention_time_ms
    offsets: dict[tuple[str, int], int] = {}
    for _ in range(r.array_len()):
        t = r.string()
        for _ in range(r.array_len()):
            p = r.i32()
            off = r.i64()
            if version >= 6:
                r.i32()  # committed_leader_epoch
            r.string()  # metadata
            r.skip_tags()
            offsets[(t, p)] = off
        r.skip_tags()
    r.skip_tags()
    return {"group_id": group_id, "generation": generation,
            "member_id": member_id, "group_instance_id": group_instance_id,
            "offsets": offsets}


def enc_offset_commit_response(version: int,
                               results: dict[tuple[str, int], int]) -> bytes:
    w = Writer(is_flexible(API_OFFSET_COMMIT, version))
    w.pack(">i", 0)  # throttle_time_ms
    by_topic = _by_topic((t, (p, err)) for (t, p), err in results.items())
    w.array_len(len(by_topic))
    for t, parts in by_topic.items():
        w.string(t)
        w.array_len(len(parts))
        for p, err in parts:
            w.pack(">ih", p, err)
            w.tags()
        w.tags()
    w.tags()
    return w.done()


def dec_offset_commit_response(r: Reader, version: int) -> dict[tuple[str, int], int]:
    r.flexible = is_flexible(API_OFFSET_COMMIT, version)
    r.i32()  # throttle_time_ms
    out = {}
    for _ in range(r.array_len()):
        t = r.string()
        for _ in range(r.array_len()):
            p = r.i32()
            out[(t, p)] = r.i16()
            r.skip_tags()
        r.skip_tags()
    r.skip_tags()
    return out


def enc_offset_fetch_request(version: int, group_id: str,
                             topic_partitions: dict[str, list[int]]) -> bytes:
    w = Writer(is_flexible(API_OFFSET_FETCH, version))
    w.string(group_id)
    w.array_len(len(topic_partitions))
    for t, parts in topic_partitions.items():
        w.string(t)
        w.array_len(len(parts))
        for p in parts:
            w.pack(">i", p)
        w.tags()
    w.tags()
    return w.done()


def dec_offset_fetch_request(r: Reader, version: int) -> tuple[str, dict[str, list[int]]]:
    r.flexible = is_flexible(API_OFFSET_FETCH, version)
    group_id = r.string()
    out: dict[str, list[int]] = {}
    for _ in range(r.array_len()):
        t = r.string()
        out[t] = [r.i32() for _ in range(r.array_len())]
        r.skip_tags()
    r.skip_tags()
    return group_id, out


def enc_offset_fetch_response(version: int,
                              offsets: dict[tuple[str, int], int]) -> bytes:
    w = Writer(is_flexible(API_OFFSET_FETCH, version))
    w.pack(">i", 0)  # throttle_time_ms
    by_topic = _by_topic((t, (p, off)) for (t, p), off in offsets.items())
    w.array_len(len(by_topic))
    for t, parts in by_topic.items():
        w.string(t)
        w.array_len(len(parts))
        for p, off in parts:
            w.pack(">iq", p, off)
            if version >= 5:
                w.pack(">i", -1)  # committed_leader_epoch
            w.string(None)  # metadata
            w.pack(">h", 0)  # error_code
            w.tags()
        w.tags()
    w.pack(">h", 0)  # top-level error
    w.tags()
    return w.done()


def dec_offset_fetch_response(r: Reader, version: int) -> dict[tuple[str, int], int]:
    r.flexible = is_flexible(API_OFFSET_FETCH, version)
    r.i32()  # throttle_time_ms
    out = {}
    for _ in range(r.array_len()):
        t = r.string()
        for _ in range(r.array_len()):
            p = r.i32()
            off = r.i64()
            if version >= 5:
                r.i32()  # committed_leader_epoch
            r.string()  # metadata
            err = r.i16()
            r.skip_tags()
            if err:
                raise IOError(f"OffsetFetch error {err} on {t}/{p}")
            out[(t, p)] = off
        r.skip_tags()
    r.i16()  # top-level error
    r.skip_tags()
    return out


# ---------------------------------------------------------------- producer ids and transactions
# KIP-98: InitProducerId for idempotent produces, AddPartitionsToTxn and
# EndTxn for transactional ones.


def enc_init_producer_id_request(version: int, txn_id: str | None = None,
                                 txn_timeout_ms: int = 60000) -> bytes:
    w = Writer(is_flexible(API_INIT_PRODUCER_ID, version))
    w.string(txn_id)
    w.pack(">i", txn_timeout_ms)
    w.tags()
    return w.done()


def dec_init_producer_id_request(r: Reader, version: int) -> tuple[str | None, int]:
    r.flexible = is_flexible(API_INIT_PRODUCER_ID, version)
    txn_id, timeout = r.string(), r.i32()
    r.skip_tags()
    return txn_id, timeout


def enc_init_producer_id_response(version: int, producer_id: int,
                                  producer_epoch: int = 0,
                                  error_code: int = 0) -> bytes:
    w = Writer(is_flexible(API_INIT_PRODUCER_ID, version))
    w.pack(">ihqh", 0, error_code, producer_id, producer_epoch)
    w.tags()
    return w.done()


def dec_init_producer_id_response(r: Reader, version: int) -> tuple[int, int]:
    r.flexible = is_flexible(API_INIT_PRODUCER_ID, version)
    r.i32()  # throttle_time_ms
    err, pid, epoch = r.i16(), r.i64(), r.i16()
    r.skip_tags()
    if err:
        raise IOError(f"InitProducerId error {err}")
    return pid, epoch


def enc_add_partitions_to_txn_request(
    version: int, txn_id: str, producer_id: int, producer_epoch: int,
    topic_partitions: dict[str, list[int]],
) -> bytes:
    w = Writer(is_flexible(API_ADD_PARTITIONS_TO_TXN, version))
    w.string(txn_id)
    w.pack(">qh", producer_id, producer_epoch)
    w.array_len(len(topic_partitions))
    for t, parts in topic_partitions.items():
        w.string(t)
        w.array_len(len(parts))
        for p in parts:
            w.pack(">i", p)
        w.tags()
    w.tags()
    return w.done()


def dec_add_partitions_to_txn_request(
        r: Reader, version: int) -> tuple[str, int, int, dict[str, list[int]]]:
    r.flexible = is_flexible(API_ADD_PARTITIONS_TO_TXN, version)
    txn_id, pid, epoch = r.string(), r.i64(), r.i16()
    tps: dict[str, list[int]] = {}
    for _ in range(r.array_len()):
        t = r.string()
        tps[t] = [r.i32() for _ in range(r.array_len())]
        r.skip_tags()
    r.skip_tags()
    return txn_id, pid, epoch, tps


def enc_add_partitions_to_txn_response(
        version: int, results: dict[str, dict[int, int]]) -> bytes:
    w = Writer(is_flexible(API_ADD_PARTITIONS_TO_TXN, version))
    w.pack(">i", 0)  # throttle_time_ms
    w.array_len(len(results))
    for t, parts in results.items():
        w.string(t)
        w.array_len(len(parts))
        for p, err in parts.items():
            w.pack(">ih", p, err)
            w.tags()
        w.tags()
    w.tags()
    return w.done()


def dec_add_partitions_to_txn_response(
        r: Reader, version: int) -> dict[str, dict[int, int]]:
    r.flexible = is_flexible(API_ADD_PARTITIONS_TO_TXN, version)
    r.i32()  # throttle_time_ms
    out: dict[str, dict[int, int]] = {}
    for _ in range(r.array_len()):
        t = r.string()
        parts: dict[int, int] = {}
        for _ in range(r.array_len()):
            p = r.i32()
            parts[p] = r.i16()
            r.skip_tags()
        r.skip_tags()
        out[t] = parts
    r.skip_tags()
    return out


def enc_end_txn_request(version: int, txn_id: str, producer_id: int,
                        producer_epoch: int, committed: bool) -> bytes:
    w = Writer(is_flexible(API_END_TXN, version))
    w.string(txn_id)
    w.pack(">qh?", producer_id, producer_epoch, committed)
    w.tags()
    return w.done()


def dec_end_txn_request(r: Reader, version: int) -> tuple[str, int, int, bool]:
    r.flexible = is_flexible(API_END_TXN, version)
    txn_id, pid, epoch, committed = r.string(), r.i64(), r.i16(), r.i8() != 0
    r.skip_tags()
    return txn_id, pid, epoch, committed


def enc_end_txn_response(version: int, error_code: int = 0) -> bytes:
    w = Writer(is_flexible(API_END_TXN, version))
    w.pack(">ih", 0, error_code)  # throttle_time_ms, error_code
    w.tags()
    return w.done()


def dec_end_txn_response(r: Reader, version: int) -> int:
    r.flexible = is_flexible(API_END_TXN, version)
    r.i32()  # throttle_time_ms
    err = r.i16()
    r.skip_tags()
    return err


# ---------------------------------------------------------------- admin
# CreateTopics v2 + DescribeConfigs v0 — what the reference's topic
# manager does through sarama's ClusterAdminClient (`pkg/sink/kafka/
# admin.go` CreateTopic, options.go getTopicConfig/getBrokerConfig).
# Each has one (classic) version; ``version`` keeps the calling shape.


def enc_create_topics_request(
    version: int, topics: list[tuple[str, int, int, dict[str, str]]],
    timeout_ms: int = 10000, validate_only: bool = False,
) -> bytes:
    """topics: [(name, num_partitions, replication_factor, configs)]."""
    w = Writer()
    w.array_len(len(topics))
    for name, n_parts, repl, configs in topics:
        w.string(name)
        w.pack(">ih", n_parts, repl)
        w.array_len(0)  # manual assignments: none
        w.array_len(len(configs))
        for k, v in configs.items():
            w.string(k)
            w.string(v)
    w.pack(">i?", timeout_ms, validate_only)
    return w.done()


def dec_create_topics_request(
        r: Reader, version: int) -> tuple[list[tuple[str, int, int, dict]], bool]:
    out = []
    for _ in range(r.array_len()):
        name = r.string()
        n_parts = r.i32()
        repl = r.i16()
        for _ in range(r.array_len()):  # assignments
            r.i32()
            for _ in range(r.array_len()):
                r.i32()
        configs = {}
        for _ in range(r.array_len()):
            ck = r.string()  # NB: dict[k]=v evaluates the VALUE first
            configs[ck] = r.string()
        out.append((name, n_parts, repl, configs))
    r.i32()  # timeout
    return out, r.i8() != 0


def enc_create_topics_response(version: int,
                               results: dict[str, tuple[int, str | None]]) -> bytes:
    w = Writer()
    w.pack(">i", 0)  # throttle_time_ms
    w.array_len(len(results))
    for name, (err, msg) in results.items():
        w.string(name)
        w.pack(">h", err)
        w.string(msg)
    return w.done()


def dec_create_topics_response(
        r: Reader, version: int) -> dict[str, tuple[int, str | None]]:
    r.i32()  # throttle_time_ms
    out = {}
    for _ in range(r.array_len()):
        name = r.string()
        out[name] = (r.i16(), r.string())
    return out


def enc_describe_configs_request(
    version: int, resources: list[tuple[int, str, list[str] | None]],
) -> bytes:
    w = Writer()
    w.array_len(len(resources))
    for rtype, name, keys in resources:
        w.pack(">b", rtype)
        w.string(name)
        w.array_len(-1 if keys is None else len(keys))
        for k in keys or ():
            w.string(k)
    return w.done()


def dec_describe_configs_request(
        r: Reader, version: int) -> list[tuple[int, str, list[str] | None]]:
    out = []
    for _ in range(r.array_len()):
        rtype = r.i8()
        name = r.string()
        n = r.array_len()
        keys = None if n < 0 else [r.string() for _ in range(n)]
        out.append((rtype, name, keys))
    return out


def enc_describe_configs_response(
    version: int, results: list[tuple[int, str | None, int, str, dict[str, str | None]]],
) -> bytes:
    """results: [(error_code, error_message, resource_type, name, configs)]."""
    w = Writer()
    w.pack(">i", 0)  # throttle_time_ms
    w.array_len(len(results))
    for err, msg, rtype, name, configs in results:
        w.pack(">h", err)
        w.string(msg)
        w.pack(">b", rtype)
        w.string(name)
        w.array_len(len(configs))
        for k, v in configs.items():
            w.string(k)
            w.string(v)
            w.pack(">???", False, True, False)  # read_only, is_default, is_sensitive
    return w.done()


def dec_describe_configs_response(
        r: Reader, version: int) -> list[tuple[int, str, dict[str, str | None]]]:
    r.i32()  # throttle_time_ms
    out = []
    for _ in range(r.array_len()):
        err = r.i16()
        r.string()  # error_message
        rtype = r.i8()
        name = r.string()
        configs = {}
        for _ in range(r.array_len()):
            k = r.string()
            configs[k] = r.string()
            r.raw(3)  # read_only, is_default, is_sensitive
        if err:
            raise IOError(f"DescribeConfigs error {err} on {rtype}/{name}")
        out.append((rtype, name, configs))
    return out


# ---------------------------------------------------------------- sasl
# SaslHandshake v1 + SaslAuthenticate v0 — the authentication surface the
# reference's sarama config drives (sarama_config.go SASL mechanisms:
# PLAIN, SCRAM-SHA-256/512). One (classic) version each.


def enc_sasl_handshake_request(version: int, mechanism: str) -> bytes:
    w = Writer()
    w.string(mechanism)
    return w.done()


def dec_sasl_handshake_request(r: Reader, version: int) -> str:
    return r.string()


def enc_sasl_handshake_response(version: int, error_code: int,
                                mechanisms: list[str]) -> bytes:
    w = Writer()
    w.pack(">h", error_code)
    w.array_len(len(mechanisms))
    for m in mechanisms:
        w.string(m)
    return w.done()


def dec_sasl_handshake_response(r: Reader, version: int) -> tuple[int, list[str]]:
    err = r.i16()
    return err, [r.string() for _ in range(r.array_len())]


def enc_sasl_authenticate_request(version: int, auth_bytes: bytes) -> bytes:
    w = Writer()
    w.bytes_(auth_bytes)
    return w.done()


def dec_sasl_authenticate_request(r: Reader, version: int) -> bytes:
    return r.bytes_() or b""


def enc_sasl_authenticate_response(version: int, error_code: int,
                                   error_message: str | None,
                                   auth_bytes: bytes) -> bytes:
    w = Writer()
    w.pack(">h", error_code)
    w.string(error_message)
    w.bytes_(auth_bytes)
    return w.done()


def dec_sasl_authenticate_response(r: Reader, version: int) -> tuple[int, str | None, bytes]:
    return r.i16(), r.string(), (r.bytes_() or b"")

"""Kafka wire protocol — byte codec for the subset a producer/consumer needs.

Layouts follow the public Kafka protocol guide (kafka.apache.org/protocol).
TWO header/field families coexist, negotiated per-connection via a real
ApiVersions exchange (v3 first, v0 down-negotiation on error 35):

- CLASSIC (non-flexible) versions — plain big-endian primitives, request
  header v1, response header v0: ApiVersions v0, Metadata v1, Produce v3,
  Fetch v4, ListOffsets v0, and the group/txn families' legacy versions.
- FLEXIBLE (KIP-482) versions — compact (unsigned-varint-length) strings/
  arrays/bytes + tagged fields, request header v2 / response header v1:
  ApiVersions v3, Metadata v9, Produce v9, Fetch v12, ListOffsets v7
  (incl. by-timestamp), FindCoordinator v3, JoinGroup v6, SyncGroup v4,
  Heartbeat v4, OffsetCommit v8, OffsetFetch v6, LeaveGroup v4,
  InitProducerId v2, AddPartitionsToTxn v3, EndTxn v3.
  (ApiVersions responses always carry header v0 — the bootstrap quirk.)

Shared by both families: record batch magic v2 with CRC32C (Castagnoli)
over attributes..end and zigzag-varint record bodies; compression codecs
none/gzip/lz4/zstd (lz4 = LZ4 frame; see codec/compression.py); KIP-98
idempotent/transactional batch attributes and control records.

Reference behavior being reproduced: `pkg/sink/kafka/*` drives sarama/franz-go
producers speaking exactly these frames; this module lets the Spark sink
exercise a real TCP round-trip in-process (see sinks/kafka_broker.py, whose
default `flexible_only` mode refuses classic versions).
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


def enc_str(s: str | None) -> bytes:
    if s is None:
        return struct.pack(">h", -1)
    b = s.encode("utf-8")
    return struct.pack(">h", len(b)) + b


def enc_bytes(b: bytes | None) -> bytes:
    if b is None:
        return struct.pack(">i", -1)
    return struct.pack(">i", len(b)) + b


class Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

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

    def string(self) -> str | None:
        n = self.i16()
        if n < 0:
            return None
        s = self.buf[self.pos : self.pos + n].decode("utf-8")
        self.pos += n
        return s

    def bytes_(self) -> bytes | None:
        n = self.i32()
        if n < 0:
            return None
        b = self.buf[self.pos : self.pos + n]
        self.pos += n
        return b

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

    def raw(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        self.pos += n
        return b

    def remaining(self) -> int:
        return len(self.buf) - self.pos

    # -- flexible-version (KIP-482) primitives

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

    def compact_string(self) -> str | None:
        n = self.uvarint() - 1
        if n < 0:
            return None
        s = self.buf[self.pos : self.pos + n].decode("utf-8")
        self.pos += n
        return s

    def compact_bytes(self) -> bytes | None:
        n = self.uvarint() - 1
        if n < 0:
            return None
        b = self.buf[self.pos : self.pos + n]
        self.pos += n
        return b

    def compact_array_len(self) -> int:
        """-> element count; -1 for a null array."""
        return self.uvarint() - 1

    def skip_tags(self) -> None:
        """Skip a tagged-fields block (we define none)."""
        for _ in range(self.uvarint()):
            self.uvarint()  # tag
            size = self.uvarint()
            self.pos += size


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


# ---------------------------------------------------------------- request framing

API_PRODUCE = 0
API_FETCH = 1
API_METADATA = 3
API_API_VERSIONS = 18

SUPPORTED = {API_PRODUCE: (3, 3), API_FETCH: (4, 4), API_METADATA: (1, 1), API_API_VERSIONS: (0, 0)}


def frame_request(api_key: int, api_version: int, correlation_id: int, client_id: str, body: bytes) -> bytes:
    hdr = struct.pack(">hhi", api_key, api_version, correlation_id) + enc_str(client_id)
    msg = hdr + body
    return struct.pack(">i", len(msg)) + msg


def parse_request_header(buf: bytes) -> tuple[int, int, int, str | None, Reader]:
    """Header v1, or v2 (same + tagged fields) when (api_key, version)
    is flexible — the header version is derivable from those two i16s,
    which is why the protocol put them first."""
    r = Reader(buf)
    api_key = r.i16()
    api_version = r.i16()
    corr = r.i32()
    client_id = r.string()
    if is_flexible(api_key, api_version):
        r.skip_tags()
    return api_key, api_version, corr, client_id, r


def frame_response(correlation_id: int, body: bytes) -> bytes:
    msg = struct.pack(">i", correlation_id) + body
    return struct.pack(">i", len(msg)) + msg


def frame_response_flex(correlation_id: int, body: bytes) -> bytes:
    """Response header v1: correlation id + tagged fields (ApiVersions
    responses are the exception — always header v0)."""
    msg = struct.pack(">i", correlation_id) + b"\x00" + body
    return struct.pack(">i", len(msg)) + msg


# --------- ApiVersions v0


def enc_api_versions_response(supported: dict[int, tuple[int, int]] | None = None) -> bytes:
    supported = SUPPORTED if supported is None else supported
    body = struct.pack(">h", 0)  # error_code
    body += struct.pack(">i", len(supported))
    for key, (lo, hi) in sorted(supported.items()):
        body += struct.pack(">hhh", key, lo, hi)
    return body


def dec_api_versions_response(r: Reader) -> dict[int, tuple[int, int]]:
    err = r.i16()
    if err:
        raise IOError(f"ApiVersions error {err}")
    n = r.i32()
    return {r.i16(): (r.i16(), r.i16()) for _ in range(n)}


# --------- Metadata v1


def enc_metadata_request(topics: list[str] | None) -> bytes:
    if topics is None:
        return struct.pack(">i", -1)
    body = struct.pack(">i", len(topics))
    for t in topics:
        body += enc_str(t)
    return body


def dec_metadata_request(r: Reader) -> list[str] | None:
    n = r.i32()
    if n < 0:
        return None
    return [r.string() for _ in range(n)]


def enc_metadata_response(
    host: str, port: int, topics: dict[str, int], node_id: int = 0
) -> bytes:
    """``topics`` values: partition count, or (error_code, 0) for a
    topic the broker refuses to auto-create (UNKNOWN_TOPIC_OR_PARTITION
    when auto.create.topics.enable=false)."""
    body = struct.pack(">i", 1)  # one broker
    body += struct.pack(">i", node_id) + enc_str(host) + struct.pack(">i", port) + enc_str(None)
    body += struct.pack(">i", node_id)  # controller_id
    body += struct.pack(">i", len(topics))
    for name, spec in sorted(topics.items()):
        terr, n_parts = spec if isinstance(spec, tuple) else (0, spec)
        body += struct.pack(">h", terr) + enc_str(name) + struct.pack(">?", False)
        body += struct.pack(">i", n_parts)
        for p in range(n_parts):
            body += struct.pack(">hiii", 0, p, node_id, 1) + struct.pack(">i", node_id)
            body += struct.pack(">i", 1) + struct.pack(">i", node_id)
    return body


def dec_metadata_response(r: Reader) -> dict:
    brokers = []
    for _ in range(r.i32()):
        brokers.append({"node_id": r.i32(), "host": r.string(), "port": r.i32(), "rack": r.string()})
    controller = r.i32()
    topics = {}
    for _ in range(r.i32()):
        err = r.i16()
        name = r.string()
        r._unpack(">?", 1)  # is_internal
        parts = []
        for _ in range(r.i32()):
            perr = r.i16()
            idx = r.i32()
            leader = r.i32()
            replicas = [r.i32() for _ in range(r.i32())]
            isr = [r.i32() for _ in range(r.i32())]
            parts.append({"error": perr, "index": idx, "leader": leader, "replicas": replicas, "isr": isr})
        topics[name] = {"error": err, "partitions": parts}
    return {"brokers": brokers, "controller": controller, "topics": topics}


# --------- Produce v3


def enc_produce_request(
    topic_data: dict[str, dict[int, bytes]], acks: int = -1, timeout_ms: int = 30000
) -> bytes:
    body = enc_str(None)  # transactional_id
    body += struct.pack(">hi", acks, timeout_ms)
    body += struct.pack(">i", len(topic_data))
    for topic, parts in topic_data.items():
        body += enc_str(topic) + struct.pack(">i", len(parts))
        for idx, record_set in parts.items():
            body += struct.pack(">i", idx) + enc_bytes(record_set)
    return body


def dec_produce_request(r: Reader) -> tuple[str | None, int, int, dict[str, dict[int, bytes]]]:
    txn_id = r.string()
    acks = r.i16()
    timeout = r.i32()
    topic_data: dict[str, dict[int, bytes]] = {}
    for _ in range(r.i32()):
        topic = r.string()
        parts = {}
        for _ in range(r.i32()):
            idx = r.i32()
            parts[idx] = r.bytes_()
        topic_data[topic] = parts
    return txn_id, acks, timeout, topic_data


def enc_produce_response(results: dict[str, dict[int, tuple[int, int]]]) -> bytes:
    """results: topic -> partition -> (error_code, base_offset)."""
    body = struct.pack(">i", len(results))
    for topic, parts in results.items():
        body += enc_str(topic) + struct.pack(">i", len(parts))
        for idx, (err, base_offset) in parts.items():
            body += struct.pack(">ihqq", idx, err, base_offset, -1)  # log_append_time
    body += struct.pack(">i", 0)  # throttle_time_ms (trails in Produce v1-v5)
    return body


def dec_produce_response(r: Reader) -> dict[str, dict[int, tuple[int, int]]]:
    out: dict[str, dict[int, tuple[int, int]]] = {}
    for _ in range(r.i32()):
        topic = r.string()
        parts = {}
        for _ in range(r.i32()):
            idx = r.i32()
            err = r.i16()
            base_offset = r.i64()
            r.i64()  # log_append_time
            parts[idx] = (err, base_offset)
        out[topic] = parts
    r.i32()  # throttle_time_ms
    return out


# --------- Fetch v4


def enc_fetch_request(
    topic: str, partition: int, fetch_offset: int, max_bytes: int = 1 << 26,
    isolation: int = 0
) -> bytes:
    body = struct.pack(">iiii", -1, 100, 1, max_bytes)  # replica_id, max_wait, min_bytes, max_bytes
    body += bytes([isolation])  # 0 READ_UNCOMMITTED | 1 READ_COMMITTED
    body += struct.pack(">i", 1) + enc_str(topic) + struct.pack(">i", 1)
    body += struct.pack(">iqi", partition, fetch_offset, max_bytes)
    return body


def dec_fetch_request(r: Reader) -> tuple[int, list[tuple[str, int, int, int]]]:
    r.i32()  # replica_id
    r.i32()  # max_wait
    r.i32()  # min_bytes
    r.i32()  # max_bytes
    isolation = r.i8()
    out = []
    for _ in range(r.i32()):
        topic = r.string()
        for _ in range(r.i32()):
            partition = r.i32()
            offset = r.i64()
            pmax = r.i32()
            out.append((topic, partition, offset, pmax))
    return isolation, out


def enc_fetch_response(
    parts: list
) -> bytes:
    """parts: [(topic, partition, error_code, high_watermark, record_set)]
    or 7-tuples adding (last_stable_offset, aborted:[(pid, first_off)])."""
    by_topic: dict[str, list] = {}
    for p in parts:
        topic, idx, err, hw, rs = p[:5]
        lso, aborted = (p[5], p[6]) if len(p) > 5 else (hw, [])
        by_topic.setdefault(topic, []).append((idx, err, hw, lso, aborted, rs))
    body = struct.pack(">i", 0)  # throttle_time_ms (leads in Fetch v1+)
    body += struct.pack(">i", len(by_topic))
    for topic, plist in by_topic.items():
        body += enc_str(topic) + struct.pack(">i", len(plist))
        for idx, err, hw, lso, aborted, rs in plist:
            body += struct.pack(">ihqq", idx, err, hw, lso)
            body += struct.pack(">i", len(aborted))
            for pid, first in aborted:
                body += struct.pack(">qq", pid, first)
            body += enc_bytes(rs)
    return body


def dec_fetch_response(r: Reader) -> list[tuple]:
    """-> [(topic, idx, err, hw, lso, aborted:[(pid, first)], record_set)]."""
    r.i32()  # throttle
    out = []
    for _ in range(r.i32()):
        topic = r.string()
        for _ in range(r.i32()):
            idx = r.i32()
            err = r.i16()
            hw = r.i64()
            lso = r.i64()
            aborted = [(r.i64(), r.i64()) for _ in range(r.i32())]
            rs = r.bytes_() or b""
            out.append((topic, idx, err, hw, lso, aborted, rs))
    return out


# ---------------------------------------------------------------- groups
# Consumer-group coordination (what the reference's cmd/kafka-consumer
# does through sarama): FindCoordinator v1, JoinGroup v2, SyncGroup v1,
# Heartbeat v1, LeaveGroup v1, OffsetCommit v3, OffsetFetch v3 — all
# non-flexible versions, layouts from the public protocol guide.

API_OFFSET_COMMIT = 8
API_OFFSET_FETCH = 9
API_FIND_COORDINATOR = 10
API_JOIN_GROUP = 11
API_HEARTBEAT = 12
API_LEAVE_GROUP = 13
API_SYNC_GROUP = 14

SUPPORTED.update({
    API_OFFSET_COMMIT: (3, 3), API_OFFSET_FETCH: (3, 3),
    API_FIND_COORDINATOR: (1, 1), API_JOIN_GROUP: (2, 2),
    API_HEARTBEAT: (1, 1), API_LEAVE_GROUP: (1, 1), API_SYNC_GROUP: (1, 1),
})

# error codes used by the group plane
ERR_OFFSET_OUT_OF_RANGE = 1
ERR_COORDINATOR_NOT_AVAILABLE = 15
ERR_ILLEGAL_GENERATION = 22
ERR_UNKNOWN_MEMBER_ID = 25
ERR_REBALANCE_IN_PROGRESS = 27


def enc_find_coordinator_request(key: str, key_type: int = 0) -> bytes:
    return enc_str(key) + struct.pack(">b", key_type)


def dec_find_coordinator_request(r: Reader) -> tuple[str, int]:
    return r.string(), r.i8()


def enc_find_coordinator_response(node_id: int, host: str, port: int) -> bytes:
    return (struct.pack(">ih", 0, 0) + enc_str(None)
            + struct.pack(">i", node_id) + enc_str(host) + struct.pack(">i", port))


def dec_find_coordinator_response(r: Reader) -> tuple[str, int]:
    r.i32()  # throttle
    err = r.i16()
    r.string()  # error_message
    if err:
        raise IOError(f"FindCoordinator error {err}")
    r.i32()  # node_id
    return r.string(), r.i32()


def enc_join_group_request(
    group_id: str, member_id: str, topics: list[str],
    session_timeout_ms: int = 10000, rebalance_timeout_ms: int = 3000,
) -> bytes:
    # embedded "consumer" protocol metadata: version, topics, userdata
    md = struct.pack(">h", 0) + struct.pack(">i", len(topics))
    for t in topics:
        md += enc_str(t)
    md += enc_bytes(b"")
    body = enc_str(group_id)
    body += struct.pack(">ii", session_timeout_ms, rebalance_timeout_ms)
    body += enc_str(member_id) + enc_str("consumer")
    body += struct.pack(">i", 1) + enc_str("range") + enc_bytes(md)
    return body


def dec_join_group_request(r: Reader) -> dict:
    group_id = r.string()
    session_timeout = r.i32()
    rebalance_timeout = r.i32()
    member_id = r.string()
    protocol_type = r.string()
    protocols = []
    for _ in range(r.i32()):
        protocols.append((r.string(), r.bytes_()))
    return {"group_id": group_id, "session_timeout": session_timeout,
            "rebalance_timeout": rebalance_timeout, "member_id": member_id,
            "protocol_type": protocol_type, "protocols": protocols}


def dec_consumer_metadata(md: bytes) -> list[str]:
    r = Reader(md)
    r.i16()  # version
    return [r.string() for _ in range(r.i32())]


def enc_join_group_response(
    error_code: int, generation: int, protocol: str, leader: str,
    member_id: str, members: list[tuple[str, bytes]],
) -> bytes:
    body = struct.pack(">ih", 0, error_code)
    body += struct.pack(">i", generation)
    body += enc_str(protocol) + enc_str(leader) + enc_str(member_id)
    body += struct.pack(">i", len(members))
    for mid, md in members:
        body += enc_str(mid) + enc_bytes(md)
    return body


def dec_join_group_response(r: Reader) -> dict:
    r.i32()  # throttle
    err = r.i16()
    generation = r.i32()
    protocol = r.string()
    leader = r.string()
    member_id = r.string()
    members = [(r.string(), r.bytes_()) for _ in range(r.i32())]
    return {"error": err, "generation": generation, "protocol": protocol,
            "leader": leader, "member_id": member_id, "members": members}


def enc_consumer_assignment(topic_partitions: dict[str, list[int]],
                            user_data: bytes = b"") -> bytes:
    """``user_data`` is the consumer protocol's assignor-metadata field
    (what sticky/cooperative assignors use); this repo's range assignor
    carries the generation's member count in it so followers can detect
    a fully-formed group without polling."""
    out = struct.pack(">h", 0) + struct.pack(">i", len(topic_partitions))
    for t, parts in sorted(topic_partitions.items()):
        out += enc_str(t) + struct.pack(">i", len(parts))
        for p in parts:
            out += struct.pack(">i", p)
    return out + enc_bytes(user_data)


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
    group_id: str, generation: int, member_id: str,
    assignments: list[tuple[str, bytes]],
) -> bytes:
    body = enc_str(group_id) + struct.pack(">i", generation) + enc_str(member_id)
    body += struct.pack(">i", len(assignments))
    for mid, a in assignments:
        body += enc_str(mid) + enc_bytes(a)
    return body


def dec_sync_group_request(r: Reader) -> dict:
    group_id = r.string()
    generation = r.i32()
    member_id = r.string()
    assignments = [(r.string(), r.bytes_()) for _ in range(r.i32())]
    return {"group_id": group_id, "generation": generation,
            "member_id": member_id, "assignments": assignments}


def enc_sync_group_response(error_code: int, assignment: bytes) -> bytes:
    return struct.pack(">ih", 0, error_code) + enc_bytes(assignment)


def dec_sync_group_response(r: Reader) -> tuple[int, bytes]:
    r.i32()
    return r.i16(), (r.bytes_() or b"")


def enc_heartbeat_request(group_id: str, generation: int, member_id: str) -> bytes:
    return enc_str(group_id) + struct.pack(">i", generation) + enc_str(member_id)


def dec_heartbeat_request(r: Reader) -> tuple[str, int, str]:
    return r.string(), r.i32(), r.string()


def enc_error_only_response(error_code: int) -> bytes:
    return struct.pack(">ih", 0, error_code)


def dec_error_only_response(r: Reader) -> int:
    r.i32()
    return r.i16()


def enc_leave_group_request(group_id: str, member_id: str) -> bytes:
    return enc_str(group_id) + enc_str(member_id)


def dec_leave_group_request(r: Reader) -> tuple[str, str]:
    return r.string(), r.string()


def enc_offset_commit_request(
    group_id: str, generation: int, member_id: str,
    offsets: dict[tuple[str, int], int],
) -> bytes:
    body = enc_str(group_id) + struct.pack(">i", generation) + enc_str(member_id)
    body += struct.pack(">q", -1)  # retention_time_ms
    by_topic: dict[str, list[tuple[int, int]]] = {}
    for (t, p), off in offsets.items():
        by_topic.setdefault(t, []).append((p, off))
    body += struct.pack(">i", len(by_topic))
    for t, parts in by_topic.items():
        body += enc_str(t) + struct.pack(">i", len(parts))
        for p, off in parts:
            body += struct.pack(">iq", p, off) + enc_str(None)
    return body


def dec_offset_commit_request(r: Reader) -> dict:
    group_id = r.string()
    generation = r.i32()
    member_id = r.string()
    r.i64()  # retention
    offsets: dict[tuple[str, int], int] = {}
    for _ in range(r.i32()):
        t = r.string()
        for _ in range(r.i32()):
            p = r.i32()
            off = r.i64()
            r.string()  # metadata
            offsets[(t, p)] = off
    return {"group_id": group_id, "generation": generation,
            "member_id": member_id, "offsets": offsets}


def enc_offset_commit_response(results: dict[tuple[str, int], int]) -> bytes:
    by_topic: dict[str, list[tuple[int, int]]] = {}
    for (t, p), err in results.items():
        by_topic.setdefault(t, []).append((p, err))
    body = struct.pack(">i", 0)
    body += struct.pack(">i", len(by_topic))
    for t, parts in by_topic.items():
        body += enc_str(t) + struct.pack(">i", len(parts))
        for p, err in parts:
            body += struct.pack(">ih", p, err)
    return body


def dec_offset_commit_response(r: Reader) -> dict[tuple[str, int], int]:
    r.i32()
    out = {}
    for _ in range(r.i32()):
        t = r.string()
        for _ in range(r.i32()):
            p = r.i32()
            out[(t, p)] = r.i16()
    return out


def enc_offset_fetch_request(group_id: str, topic_partitions: dict[str, list[int]]) -> bytes:
    body = enc_str(group_id)
    body += struct.pack(">i", len(topic_partitions))
    for t, parts in topic_partitions.items():
        body += enc_str(t) + struct.pack(">i", len(parts))
        for p in parts:
            body += struct.pack(">i", p)
    return body


def dec_offset_fetch_request(r: Reader) -> tuple[str, dict[str, list[int]]]:
    group_id = r.string()
    out: dict[str, list[int]] = {}
    for _ in range(r.i32()):
        t = r.string()
        out[t] = [r.i32() for _ in range(r.i32())]
    return group_id, out


def enc_offset_fetch_response(offsets: dict[tuple[str, int], int]) -> bytes:
    by_topic: dict[str, list[tuple[int, int]]] = {}
    for (t, p), off in offsets.items():
        by_topic.setdefault(t, []).append((p, off))
    body = struct.pack(">i", 0)
    body += struct.pack(">i", len(by_topic))
    for t, parts in by_topic.items():
        body += enc_str(t) + struct.pack(">i", len(parts))
        for p, off in parts:
            body += struct.pack(">iq", p, off) + enc_str(None) + struct.pack(">h", 0)
    body += struct.pack(">h", 0)  # top-level error
    return body


def dec_offset_fetch_response(r: Reader) -> dict[tuple[str, int], int]:
    r.i32()
    out = {}
    for _ in range(r.i32()):
        t = r.string()
        for _ in range(r.i32()):
            p = r.i32()
            off = r.i64()
            r.string()
            err = r.i16()
            if err:
                raise IOError(f"OffsetFetch error {err} on {t}/{p}")
            out[(t, p)] = off
    r.i16()
    return out


# ---------------------------------------------------------------- admin
# CreateTopics v2 + DescribeConfigs v0 — what the reference's topic
# manager does through sarama's ClusterAdminClient (`pkg/sink/kafka/
# admin.go` CreateTopic, options.go getTopicConfig/getBrokerConfig).

API_CREATE_TOPICS = 19
API_DESCRIBE_CONFIGS = 32

SUPPORTED.update({API_CREATE_TOPICS: (2, 2), API_DESCRIBE_CONFIGS: (0, 0)})

RESOURCE_TOPIC = 2
RESOURCE_BROKER = 4

ERR_TOPIC_ALREADY_EXISTS = 36
ERR_INVALID_PARTITIONS = 37
ERR_INVALID_REPLICATION_FACTOR = 38


def enc_create_topics_request(
    topics: list[tuple[str, int, int, dict[str, str]]],
    timeout_ms: int = 10000, validate_only: bool = False,
) -> bytes:
    """topics: [(name, num_partitions, replication_factor, configs)]."""
    body = struct.pack(">i", len(topics))
    for name, n_parts, repl, configs in topics:
        body += enc_str(name) + struct.pack(">ih", n_parts, repl)
        body += struct.pack(">i", 0)  # manual assignments: none
        body += struct.pack(">i", len(configs))
        for k, v in configs.items():
            body += enc_str(k) + enc_str(v)
    body += struct.pack(">i?", timeout_ms, validate_only)
    return body


def dec_create_topics_request(r: Reader) -> tuple[list[tuple[str, int, int, dict]], bool]:
    out = []
    for _ in range(r.i32()):
        name = r.string()
        n_parts = r.i32()
        repl = r.i16()
        for _ in range(r.i32()):  # assignments
            r.i32()
            for _ in range(r.i32()):
                r.i32()
        configs = {}
        for _ in range(r.i32()):
            ck = r.string()  # NB: dict[k]=v evaluates the VALUE first
            configs[ck] = r.string()
        out.append((name, n_parts, repl, configs))
    r.i32()  # timeout
    validate_only = r._unpack(">?", 1)
    return out, validate_only


def enc_create_topics_response(results: dict[str, tuple[int, str | None]]) -> bytes:
    body = struct.pack(">i", 0)
    body += struct.pack(">i", len(results))
    for name, (err, msg) in results.items():
        body += enc_str(name) + struct.pack(">h", err) + enc_str(msg)
    return body


def dec_create_topics_response(r: Reader) -> dict[str, tuple[int, str | None]]:
    r.i32()
    out = {}
    for _ in range(r.i32()):
        name = r.string()
        out[name] = (r.i16(), r.string())
    return out


def enc_describe_configs_request(
    resources: list[tuple[int, str, list[str] | None]],
) -> bytes:
    body = struct.pack(">i", len(resources))
    for rtype, name, keys in resources:
        body += struct.pack(">b", rtype) + enc_str(name)
        if keys is None:
            body += struct.pack(">i", -1)
        else:
            body += struct.pack(">i", len(keys))
            for k in keys:
                body += enc_str(k)
    return body


def dec_describe_configs_request(r: Reader) -> list[tuple[int, str, list[str] | None]]:
    out = []
    for _ in range(r.i32()):
        rtype = r.i8()
        name = r.string()
        n = r.i32()
        keys = None if n < 0 else [r.string() for _ in range(n)]
        out.append((rtype, name, keys))
    return out


def enc_describe_configs_response(
    results: list[tuple[int, str | None, int, str, dict[str, str | None]]],
) -> bytes:
    """results: [(error_code, error_message, resource_type, name, configs)]."""
    body = struct.pack(">i", 0)
    body += struct.pack(">i", len(results))
    for err, msg, rtype, name, configs in results:
        body += struct.pack(">h", err) + enc_str(msg)
        body += struct.pack(">b", rtype) + enc_str(name)
        body += struct.pack(">i", len(configs))
        for k, v in configs.items():
            body += enc_str(k) + enc_str(v)
            body += struct.pack(">???", False, True, False)  # ro/default/sensitive
    return body


def dec_describe_configs_response(r: Reader) -> list[tuple[int, str, dict[str, str | None]]]:
    r.i32()
    out = []
    for _ in range(r.i32()):
        err = r.i16()
        r.string()  # error_message
        rtype = r.i8()
        name = r.string()
        configs = {}
        for _ in range(r.i32()):
            k = r.string()
            v = r.string()
            r.raw(3)  # read_only, is_default, is_sensitive
            configs[k] = v
        if err:
            raise IOError(f"DescribeConfigs error {err} on {rtype}/{name}")
        out.append((rtype, name, configs))
    return out


# ---------------------------------------------------------------- sasl
# SaslHandshake v1 + SaslAuthenticate v0 — the authentication surface the
# reference's sarama config drives (sarama_config.go SASL mechanisms:
# PLAIN, SCRAM-SHA-256/512).

API_SASL_HANDSHAKE = 17
API_SASL_AUTHENTICATE = 36

SUPPORTED.update({API_SASL_HANDSHAKE: (1, 1), API_SASL_AUTHENTICATE: (0, 0)})

ERR_ILLEGAL_SASL_STATE = 34
ERR_UNSUPPORTED_SASL_MECHANISM = 33
ERR_SASL_AUTHENTICATION_FAILED = 58


def enc_sasl_handshake_request(mechanism: str) -> bytes:
    return enc_str(mechanism)


def dec_sasl_handshake_request(r: Reader) -> str:
    return r.string()


def enc_sasl_handshake_response(error_code: int, mechanisms: list[str]) -> bytes:
    body = struct.pack(">h", error_code) + struct.pack(">i", len(mechanisms))
    for m in mechanisms:
        body += enc_str(m)
    return body


def dec_sasl_handshake_response(r: Reader) -> tuple[int, list[str]]:
    err = r.i16()
    return err, [r.string() for _ in range(r.i32())]


def enc_sasl_authenticate_request(auth_bytes: bytes) -> bytes:
    return enc_bytes(auth_bytes)


def dec_sasl_authenticate_request(r: Reader) -> bytes:
    return r.bytes_() or b""


def enc_sasl_authenticate_response(error_code: int, error_message: str | None,
                                   auth_bytes: bytes) -> bytes:
    return struct.pack(">h", error_code) + enc_str(error_message) + enc_bytes(auth_bytes)


def dec_sasl_authenticate_response(r: Reader) -> tuple[int, str | None, bytes]:
    return r.i16(), r.string(), (r.bytes_() or b"")


# ---------------------------------------------------------------- offsets
# ListOffsets v1 (key 2): how consumers seek earliest (-2) / latest (-1)
# before fetching — sarama's OffsetOldest/OffsetNewest.

API_LIST_OFFSETS = 2

SUPPORTED.update({API_LIST_OFFSETS: (1, 1)})

OFFSET_EARLIEST = -2
OFFSET_LATEST = -1


def enc_list_offsets_request(topic: str, partition: int, timestamp: int) -> bytes:
    body = struct.pack(">i", -1)  # replica_id
    body += struct.pack(">i", 1) + enc_str(topic) + struct.pack(">i", 1)
    body += struct.pack(">iq", partition, timestamp)
    return body


def dec_list_offsets_request(r: Reader) -> list[tuple[str, int, int]]:
    r.i32()  # replica_id
    out = []
    for _ in range(r.i32()):
        topic = r.string()
        for _ in range(r.i32()):
            partition = r.i32()
            ts = r.i64()
            out.append((topic, partition, ts))
    return out


def enc_list_offsets_response(results: list[tuple[str, int, int, int, int]]) -> bytes:
    """results: [(topic, partition, error_code, timestamp, offset)]."""
    by_topic: dict[str, list] = {}
    for t, p, err, ts, off in results:
        by_topic.setdefault(t, []).append((p, err, ts, off))
    body = struct.pack(">i", len(by_topic))
    for t, parts in by_topic.items():
        body += enc_str(t) + struct.pack(">i", len(parts))
        for p, err, ts, off in parts:
            body += struct.pack(">ihqq", p, err, ts, off)
    return body


def dec_list_offsets_response(r: Reader) -> dict[tuple[str, int], tuple[int, int]]:
    out = {}
    for _ in range(r.i32()):
        topic = r.string()
        for _ in range(r.i32()):
            p = r.i32()
            err = r.i16()
            r.i64()  # timestamp
            off = r.i64()
            if err:
                raise IOError(f"ListOffsets error {err} on {topic}/{p}")
            out[(topic, p)] = (err, off)
    return out


# ---------------------------------------------------------------- flexible
# KIP-482 flexible versions: compact (uvarint-length+1) strings/arrays/
# bytes and tagged-field blocks, request header v2 / response header v1.
# One modern version pair per hot API — Produce v9, Fetch v12,
# ListOffsets v7, negotiated via a real ApiVersions v3 exchange — which
# is what any post-2.4 broker speaks with the reference's sarama
# configuration (`pkg/sink/kafka/sarama_config.go`). Layouts from the
# public protocol guide (kafka.apache.org/protocol); no reference code
# consulted for bytes.

ERR_UNSUPPORTED_VERSION = 35

# first flexible version per api key (from the protocol guide's
# "flexibleVersions" in each message spec)
FLEXIBLE_SINCE = {
    API_PRODUCE: 9,
    API_FETCH: 12,
    API_LIST_OFFSETS: 6,
    API_METADATA: 9,
    API_API_VERSIONS: 3,
}


def is_flexible(api_key: int, api_version: int) -> bool:
    lo = FLEXIBLE_SINCE.get(api_key)
    return lo is not None and api_version >= lo


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


def enc_compact_str(s: str | None) -> bytes:
    if s is None:
        return b"\x00"
    b = s.encode("utf-8")
    return enc_uvarint(len(b) + 1) + b


def enc_compact_bytes(b: bytes | None) -> bytes:
    if b is None:
        return b"\x00"
    return enc_uvarint(len(b) + 1) + b


def enc_compact_array_len(n: int) -> bytes:
    """n = element count; -1 encodes a null array."""
    return enc_uvarint(n + 1)


def enc_tags() -> bytes:
    return b"\x00"  # zero tagged fields


def frame_request_flex(api_key: int, api_version: int, correlation_id: int,
                       client_id: str, body: bytes) -> bytes:
    """Request header v2: like v1 (client_id stays a NON-compact nullable
    string) plus a trailing tagged-fields block."""
    hdr = (struct.pack(">hhi", api_key, api_version, correlation_id)
           + enc_str(client_id) + enc_tags())
    msg = hdr + body
    return struct.pack(">i", len(msg)) + msg


# --------- ApiVersions v3 (flexible; response header stays v0 — the
# protocol's bootstrap special case so old clients can parse the error)


def enc_api_versions_request_v3(name: str = "ticdc-spark",
                                version: str = "4") -> bytes:
    return enc_compact_str(name) + enc_compact_str(version) + enc_tags()


def dec_api_versions_request_v3(r: Reader) -> tuple[str, str]:
    name = r.compact_string()
    ver = r.compact_string()
    r.skip_tags()
    return name, ver


def enc_api_versions_response_v3(supported: dict[int, tuple[int, int]],
                                 error_code: int = 0) -> bytes:
    body = struct.pack(">h", error_code)
    body += enc_compact_array_len(len(supported))
    for key, (lo, hi) in sorted(supported.items()):
        body += struct.pack(">hhh", key, lo, hi) + enc_tags()
    body += struct.pack(">i", 0)  # throttle_time_ms
    body += enc_tags()
    return body


def dec_api_versions_response_v3(r: Reader) -> dict[int, tuple[int, int]]:
    err = r.i16()
    if err:
        raise IOError(f"ApiVersions error {err}")
    out = {}
    for _ in range(r.compact_array_len()):
        key, lo, hi = r.i16(), r.i16(), r.i16()
        r.skip_tags()
        out[key] = (lo, hi)
    r.i32()  # throttle
    r.skip_tags()
    return out


# --------- Produce v9 (flexible)


def enc_produce_request_v9(
    topic_data: dict[str, dict[int, bytes]], acks: int = -1,
    timeout_ms: int = 30000, txn_id: str | None = None
) -> bytes:
    body = enc_compact_str(txn_id)
    body += struct.pack(">hi", acks, timeout_ms)
    body += enc_compact_array_len(len(topic_data))
    for topic, parts in topic_data.items():
        body += enc_compact_str(topic) + enc_compact_array_len(len(parts))
        for idx, record_set in parts.items():
            body += struct.pack(">i", idx) + enc_compact_bytes(record_set)
            body += enc_tags()
        body += enc_tags()
    body += enc_tags()
    return body


def dec_produce_request_v9(r: Reader) -> tuple[str | None, int, int, dict[str, dict[int, bytes]]]:
    txn_id = r.compact_string()
    acks = r.i16()
    timeout = r.i32()
    topic_data: dict[str, dict[int, bytes]] = {}
    for _ in range(r.compact_array_len()):
        topic = r.compact_string()
        parts = {}
        for _ in range(r.compact_array_len()):
            idx = r.i32()
            parts[idx] = r.compact_bytes()
            r.skip_tags()
        r.skip_tags()
        topic_data[topic] = parts
    r.skip_tags()
    return txn_id, acks, timeout, topic_data


def enc_produce_response_v9(results: dict[str, dict[int, tuple[int, int]]]) -> bytes:
    """results: topic -> partition -> (error_code, base_offset)."""
    body = enc_compact_array_len(len(results))
    for topic, parts in results.items():
        body += enc_compact_str(topic) + enc_compact_array_len(len(parts))
        for idx, (err, base_offset) in parts.items():
            body += struct.pack(">ihqqq", idx, err, base_offset, -1, 0)
            body += enc_compact_array_len(0)  # record_errors
            body += enc_compact_str(None)  # error_message
            body += enc_tags()
        body += enc_tags()
    body += struct.pack(">i", 0)  # throttle
    body += enc_tags()
    return body


def dec_produce_response_v9(r: Reader) -> dict[str, dict[int, tuple[int, int]]]:
    out: dict[str, dict[int, tuple[int, int]]] = {}
    for _ in range(r.compact_array_len()):
        topic = r.compact_string()
        parts = {}
        for _ in range(r.compact_array_len()):
            idx = r.i32()
            err = r.i16()
            base_offset = r.i64()
            r.i64()  # log_append_time
            r.i64()  # log_start_offset
            for _ in range(r.compact_array_len()):  # record_errors
                r.i32()
                r.compact_string()
                r.skip_tags()
            r.compact_string()  # error_message
            r.skip_tags()
            parts[idx] = (err, base_offset)
        r.skip_tags()
        out[topic] = parts
    r.i32()  # throttle
    r.skip_tags()
    return out


# --------- Fetch v12 (flexible)


def enc_fetch_request_v12(
    topic: str, partition: int, fetch_offset: int, max_bytes: int = 1 << 26,
    isolation: int = 0
) -> bytes:
    """Sessionless single-partition fetch (session_id=0, epoch=-1)."""
    return enc_fetch_request_v12_session(
        0, -1, [(topic, partition, fetch_offset, max_bytes)],
        isolation=isolation, max_bytes=max_bytes)


def enc_fetch_request_v12_session(
    session_id: int, session_epoch: int,
    wants: list[tuple[str, int, int, int]],
    forgotten: list[tuple[str, list[int]]] | None = None,
    isolation: int = 0, max_bytes: int = 1 << 26,
) -> bytes:
    """KIP-227 fetch: epoch -1 = sessionless, 0 = full request opening a
    session, >0 = incremental (``wants`` lists only CHANGED partitions,
    ``forgotten`` removes partitions from the session)."""
    body = struct.pack(">iiii", -1, 100, 1, max_bytes)
    body += bytes([isolation])  # 0 READ_UNCOMMITTED | 1 READ_COMMITTED
    body += struct.pack(">ii", session_id, session_epoch)
    by_topic: dict[str, list[tuple[int, int, int]]] = {}
    for topic, partition, offset, pmax in wants:
        by_topic.setdefault(topic, []).append((partition, offset, pmax))
    body += enc_compact_array_len(len(by_topic))
    for topic, plist in by_topic.items():
        body += enc_compact_str(topic)
        body += enc_compact_array_len(len(plist))
        for partition, offset, pmax in plist:
            body += struct.pack(">iiqiqi", partition, -1, offset, -1, -1,
                                pmax)
            body += enc_tags()  # partition
        body += enc_tags()  # topic
    forgotten = forgotten or []
    body += enc_compact_array_len(len(forgotten))
    for topic, parts in forgotten:
        body += enc_compact_str(topic)
        body += enc_compact_array_len(len(parts))
        for p in parts:
            body += struct.pack(">i", p)
        body += enc_tags()
    body += enc_compact_str("")  # rack_id
    body += enc_tags()
    return body


def dec_fetch_request_v12(r: Reader) -> tuple[int, list[tuple[str, int, int, int]]]:
    isolation, _sid, _epoch, wants, _forgotten = (
        dec_fetch_request_v12_session(r))
    return isolation, wants


def dec_fetch_request_v12_session(
    r: Reader,
) -> tuple[int, int, int, list[tuple[str, int, int, int]],
           list[tuple[str, list[int]]]]:
    """-> (isolation, session_id, session_epoch, wants, forgotten)."""
    r.i32()  # replica_id
    r.i32()  # max_wait
    r.i32()  # min_bytes
    r.i32()  # max_bytes
    isolation = r.i8()
    session_id = r.i32()
    session_epoch = r.i32()
    out = []
    for _ in range(max(r.compact_array_len(), 0)):
        topic = r.compact_string()
        for _ in range(max(r.compact_array_len(), 0)):
            partition = r.i32()
            r.i32()  # current_leader_epoch
            offset = r.i64()
            r.i32()  # last_fetched_epoch
            r.i64()  # log_start_offset
            pmax = r.i32()
            r.skip_tags()
            out.append((topic, partition, offset, pmax))
        r.skip_tags()
    forgotten: list[tuple[str, list[int]]] = []
    for _ in range(max(r.compact_array_len(), 0)):
        topic = r.compact_string()
        parts = [r.i32() for _ in range(max(r.compact_array_len(), 0))]
        r.skip_tags()
        forgotten.append((topic, parts))
    r.compact_string()  # rack_id
    r.skip_tags()
    return isolation, session_id, session_epoch, out, forgotten


def enc_fetch_response_v12(
    parts: list, session_id: int = 0, error_code: int = 0
) -> bytes:
    """parts: 5-tuples (topic, partition, error_code, hw, record_set) or
    7-tuples adding (last_stable_offset, aborted:[(pid, first_off)]).
    ``session_id``/``error_code``: KIP-227 session fields (error 69 =
    FETCH_SESSION_ID_NOT_FOUND, 71 = INVALID_FETCH_SESSION_EPOCH)."""
    by_topic: dict[str, list] = {}
    for p in parts:
        topic, idx, err, hw, rs = p[:5]
        lso, aborted = (p[5], p[6]) if len(p) > 5 else (hw, [])
        by_topic.setdefault(topic, []).append((idx, err, hw, lso, aborted, rs))
    body = struct.pack(">ihi", 0, error_code, session_id)
    body += enc_compact_array_len(len(by_topic))
    for topic, plist in by_topic.items():
        body += enc_compact_str(topic) + enc_compact_array_len(len(plist))
        for idx, err, hw, lso, aborted, rs in plist:
            body += struct.pack(">ihqqq", idx, err, hw, lso, 0)
            body += enc_compact_array_len(len(aborted))
            for pid, first in aborted:
                body += struct.pack(">qq", pid, first) + enc_tags()
            body += struct.pack(">i", -1)  # preferred_read_replica
            body += enc_compact_bytes(rs)
            body += enc_tags()
        body += enc_tags()
    body += enc_tags()
    return body


def dec_fetch_response_v12(r: Reader) -> list[tuple]:
    """-> [(topic, idx, err, hw, lso, aborted:[(pid, first)], record_set)]."""
    top_err, _sid, out = dec_fetch_response_v12_session(r)
    if top_err:
        raise IOError(f"fetch error {top_err}")
    return out


def dec_fetch_response_v12_session(
        r: Reader) -> tuple[int, int, list[tuple]]:
    """-> (top_error_code, session_id, parts) — the session-aware shape
    (KIP-227 errors 69/71 surface instead of raising, so a client can
    fall back to a full request)."""
    r.i32()  # throttle
    top_err = r.i16()
    session_id = r.i32()
    out = []
    for _ in range(r.compact_array_len()):
        topic = r.compact_string()
        for _ in range(r.compact_array_len()):
            idx = r.i32()
            err = r.i16()
            hw = r.i64()
            lso = r.i64()
            r.i64()  # log_start_offset
            n_aborted = r.compact_array_len()
            aborted = []
            for _ in range(max(n_aborted, 0)):
                aborted.append((r.i64(), r.i64()))
                r.skip_tags()
            r.i32()  # preferred_read_replica
            rs = r.compact_bytes() or b""
            r.skip_tags()
            out.append((topic, idx, err, hw, lso, aborted, rs))
        r.skip_tags()
    r.skip_tags()
    return top_err, session_id, out


# KIP-227 session error codes
ERR_FETCH_SESSION_ID_NOT_FOUND = 69
ERR_INVALID_FETCH_SESSION_EPOCH = 71

# KIP-345 static membership
ERR_FENCED_INSTANCE_ID = 82


# --------- ListOffsets v7 (flexible) — adds real timestamp lookup


def enc_list_offsets_request_v7(topic: str, partition: int,
                                timestamp: int) -> bytes:
    body = struct.pack(">ib", -1, 0)  # replica_id, isolation_level
    body += enc_compact_array_len(1)
    body += enc_compact_str(topic)
    body += enc_compact_array_len(1)
    body += struct.pack(">iiq", partition, -1, timestamp)
    body += enc_tags()  # partition
    body += enc_tags()  # topic
    body += enc_tags()
    return body


def dec_list_offsets_request_v7(r: Reader) -> list[tuple[str, int, int]]:
    r.i32()  # replica_id
    r.i8()  # isolation
    out = []
    for _ in range(r.compact_array_len()):
        topic = r.compact_string()
        for _ in range(r.compact_array_len()):
            partition = r.i32()
            r.i32()  # current_leader_epoch
            ts = r.i64()
            r.skip_tags()
            out.append((topic, partition, ts))
        r.skip_tags()
    r.skip_tags()
    return out


def enc_list_offsets_response_v7(
    results: list[tuple[str, int, int, int, int]]
) -> bytes:
    """results: [(topic, partition, error_code, timestamp, offset)]."""
    by_topic: dict[str, list] = {}
    for t, p, err, ts, off in results:
        by_topic.setdefault(t, []).append((p, err, ts, off))
    body = struct.pack(">i", 0)  # throttle
    body += enc_compact_array_len(len(by_topic))
    for t, parts in by_topic.items():
        body += enc_compact_str(t) + enc_compact_array_len(len(parts))
        for p, err, ts, off in parts:
            body += struct.pack(">ihqqi", p, err, ts, off, -1)
            body += enc_tags()
        body += enc_tags()
    body += enc_tags()
    return body


def dec_list_offsets_response_v7(r: Reader) -> dict[tuple[str, int], tuple[int, int]]:
    r.i32()  # throttle
    out = {}
    for _ in range(r.compact_array_len()):
        topic = r.compact_string()
        for _ in range(r.compact_array_len()):
            p = r.i32()
            err = r.i16()
            ts = r.i64()
            off = r.i64()
            r.i32()  # leader_epoch
            r.skip_tags()
            if err:
                raise IOError(f"ListOffsets error {err} on {topic}/{p}")
            out[(topic, p)] = (ts, off)
        r.skip_tags()
    r.skip_tags()
    return out


# --------- InitProducerId v1 (KIP-98 idempotent producer)

API_INIT_PRODUCER_ID = 22
SUPPORTED[API_INIT_PRODUCER_ID] = (1, 1)

ERR_OUT_OF_ORDER_SEQUENCE = 45
ERR_DUPLICATE_SEQUENCE = 46
ERR_UNKNOWN_PRODUCER_ID = 59


def enc_init_producer_id_request(txn_id: str | None = None,
                                 txn_timeout_ms: int = 60000) -> bytes:
    return enc_str(txn_id) + struct.pack(">i", txn_timeout_ms)


def dec_init_producer_id_request(r: Reader) -> tuple[str | None, int]:
    return r.string(), r.i32()


def enc_init_producer_id_response(producer_id: int,
                                  producer_epoch: int = 0,
                                  error_code: int = 0) -> bytes:
    return struct.pack(">ihqh", 0, error_code, producer_id, producer_epoch)


def dec_init_producer_id_response(r: Reader) -> tuple[int, int]:
    r.i32()  # throttle
    err = r.i16()
    if err:
        raise IOError(f"InitProducerId error {err}")
    return r.i64(), r.i16()


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


# --------- Transactions (KIP-98 second half: markers + READ_COMMITTED)

API_ADD_PARTITIONS_TO_TXN = 24
API_END_TXN = 26
SUPPORTED[API_ADD_PARTITIONS_TO_TXN] = (0, 0)
SUPPORTED[API_END_TXN] = (1, 1)

ERR_INVALID_PRODUCER_EPOCH = 47
ERR_INVALID_TXN_STATE = 48

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


def enc_add_partitions_to_txn_request(
    txn_id: str, producer_id: int, producer_epoch: int,
    topic_partitions: dict[str, list[int]]) -> bytes:
    body = enc_str(txn_id) + struct.pack(">qh", producer_id, producer_epoch)
    body += struct.pack(">i", len(topic_partitions))
    for topic, parts in topic_partitions.items():
        body += enc_str(topic) + struct.pack(">i", len(parts))
        for p in parts:
            body += struct.pack(">i", p)
    return body


def dec_add_partitions_to_txn_request(r: Reader) -> tuple[str, int, int, dict[str, list[int]]]:
    txn_id = r.string()
    pid = r.i64()
    epoch = r.i16()
    tps: dict[str, list[int]] = {}
    for _ in range(r.i32()):
        topic = r.string()
        tps[topic] = [r.i32() for _ in range(r.i32())]
    return txn_id, pid, epoch, tps


def enc_add_partitions_to_txn_response(
    results: dict[str, dict[int, int]]) -> bytes:
    body = struct.pack(">ii", 0, len(results))  # throttle
    for topic, parts in results.items():
        body += enc_str(topic) + struct.pack(">i", len(parts))
        for p, err in parts.items():
            body += struct.pack(">ih", p, err)
    return body


def dec_add_partitions_to_txn_response(r: Reader) -> dict[str, dict[int, int]]:
    r.i32()  # throttle
    out: dict[str, dict[int, int]] = {}
    for _ in range(r.i32()):
        topic = r.string()
        parts = {}
        for _ in range(r.i32()):
            p = r.i32()
            parts[p] = r.i16()
        out[topic] = parts
    return out


def enc_end_txn_request(txn_id: str, producer_id: int, producer_epoch: int,
                        committed: bool) -> bytes:
    return (enc_str(txn_id)
            + struct.pack(">qh?", producer_id, producer_epoch, committed))


def dec_end_txn_request(r: Reader) -> tuple[str, int, int, bool]:
    return (r.string(), r.i64(), r.i16(),
            bool(r._unpack(">?", 1)))


def enc_end_txn_response(error_code: int = 0) -> bytes:
    return struct.pack(">ih", 0, error_code)


def dec_end_txn_response(r: Reader) -> int:
    r.i32()  # throttle
    return r.i16()


# --------- Metadata v9 (flexible)


def enc_metadata_request_v9(topics: list[str] | None) -> bytes:
    if topics is None:
        body = enc_compact_array_len(-1)
    else:
        body = enc_compact_array_len(len(topics))
        for t in topics:
            body += enc_compact_str(t) + enc_tags()
    body += b"\x01\x00\x00"  # allow_auto_topic_creation, 2x include_*_ops
    body += enc_tags()
    return body


def dec_metadata_request_v9(r: Reader) -> list[str] | None:
    n = r.compact_array_len()
    if n < 0:
        r.i8()
        r.i8()
        r.i8()
        r.skip_tags()
        return None
    out = []
    for _ in range(n):
        out.append(r.compact_string())
        r.skip_tags()
    r.i8()  # allow_auto_topic_creation
    r.i8()  # include_cluster_authorized_operations
    r.i8()  # include_topic_authorized_operations
    r.skip_tags()
    return out


def enc_metadata_response_v9(
    host: str, port: int, topics: dict[str, int], node_id: int = 0
) -> bytes:
    body = struct.pack(">i", 0)  # throttle
    body += enc_compact_array_len(1)  # brokers
    body += struct.pack(">i", node_id) + enc_compact_str(host)
    body += struct.pack(">i", port) + enc_compact_str(None) + enc_tags()
    body += enc_compact_str("ticdc-spark-cluster")
    body += struct.pack(">i", node_id)  # controller_id
    body += enc_compact_array_len(len(topics))
    for name, spec in sorted(topics.items()):
        terr, n_parts = spec if isinstance(spec, tuple) else (0, spec)
        body += struct.pack(">h", terr) + enc_compact_str(name) + b"\x00"
        body += enc_compact_array_len(n_parts)
        for p in range(n_parts):
            body += struct.pack(">hiii", 0, p, node_id, 0)
            body += enc_compact_array_len(1) + struct.pack(">i", node_id)
            body += enc_compact_array_len(1) + struct.pack(">i", node_id)
            body += enc_compact_array_len(0)  # offline_replicas
            body += enc_tags()
        body += struct.pack(">i", -2147483648)  # topic_authorized_operations
        body += enc_tags()
    body += struct.pack(">i", -2147483648)  # cluster_authorized_operations
    body += enc_tags()
    return body


def dec_metadata_response_v9(r: Reader) -> dict:
    r.i32()  # throttle
    brokers = []
    for _ in range(r.compact_array_len()):
        node_id = r.i32()
        host = r.compact_string()
        port = r.i32()
        rack = r.compact_string()
        r.skip_tags()
        brokers.append({"node_id": node_id, "host": host, "port": port,
                        "rack": rack})
    r.compact_string()  # cluster_id
    controller = r.i32()
    topics = {}
    for _ in range(r.compact_array_len()):
        err = r.i16()
        name = r.compact_string()
        r.i8()  # is_internal
        parts = []
        for _ in range(r.compact_array_len()):
            perr = r.i16()
            idx = r.i32()
            leader = r.i32()
            r.i32()  # leader_epoch
            replicas = [r.i32() for _ in range(r.compact_array_len())]
            isr = [r.i32() for _ in range(r.compact_array_len())]
            for _ in range(r.compact_array_len()):  # offline
                r.i32()
            r.skip_tags()
            parts.append({"error": perr, "index": idx, "leader": leader,
                          "replicas": replicas, "isr": isr})
        r.i32()  # topic_authorized_operations
        r.skip_tags()
        topics[name] = {"error": err, "partitions": parts}
    r.i32()  # cluster_authorized_operations
    r.skip_tags()
    return {"brokers": brokers, "controller": controller, "topics": topics}


# --------- KIP-482 flexible versions of the group/txn families.
# Same logical payloads as the classic codecs above, re-framed with
# compact strings/arrays/bytes + tagged fields (request header v2 /
# response header v1): FindCoordinator v3, JoinGroup v6, SyncGroup v4,
# Heartbeat v4, LeaveGroup v4, OffsetCommit v8, OffsetFetch v6,
# InitProducerId v2, AddPartitionsToTxn v3, EndTxn v3 — the versions a
# modern franz-go/sarama client (the reference's target,
# `pkg/sink/kafka/sarama_config.go`) negotiates against a post-2.4
# broker.  Layouts from the public protocol guide
# (kafka.apache.org/protocol), like the rest of this module.

FLEXIBLE_SINCE.update({
    API_FIND_COORDINATOR: 3, API_JOIN_GROUP: 6, API_SYNC_GROUP: 4,
    API_HEARTBEAT: 4, API_LEAVE_GROUP: 4, API_OFFSET_COMMIT: 8,
    API_OFFSET_FETCH: 6, API_INIT_PRODUCER_ID: 2,
    API_ADD_PARTITIONS_TO_TXN: 3, API_END_TXN: 3,
})

SUPPORTED.update({
    API_FIND_COORDINATOR: (1, 3), API_JOIN_GROUP: (2, 6),
    API_SYNC_GROUP: (1, 4), API_HEARTBEAT: (1, 4),
    API_LEAVE_GROUP: (1, 4), API_OFFSET_COMMIT: (3, 8),
    API_OFFSET_FETCH: (3, 6), API_INIT_PRODUCER_ID: (1, 2),
    API_ADD_PARTITIONS_TO_TXN: (0, 3), API_END_TXN: (1, 3),
})


def enc_find_coordinator_request_v3(key: str, key_type: int = 0) -> bytes:
    return enc_compact_str(key) + struct.pack(">b", key_type) + enc_tags()


def dec_find_coordinator_request_v3(r: Reader) -> tuple[str, int]:
    key = r.compact_string()
    key_type = r.i8()
    r.skip_tags()
    return key, key_type


def enc_find_coordinator_response_v3(node_id: int, host: str,
                                     port: int) -> bytes:
    return (struct.pack(">ih", 0, 0) + enc_compact_str(None)
            + struct.pack(">i", node_id) + enc_compact_str(host)
            + struct.pack(">i", port) + enc_tags())


def dec_find_coordinator_response_v3(r: Reader) -> tuple[str, int]:
    r.i32()  # throttle
    err = r.i16()
    r.compact_string()  # error_message
    if err:
        raise IOError(f"FindCoordinator error {err}")
    r.i32()  # node_id
    host = r.compact_string()
    port = r.i32()
    r.skip_tags()
    return host, port


def enc_join_group_request_v6(
    group_id: str, member_id: str, topics: list[str],
    session_timeout_ms: int = 10000, rebalance_timeout_ms: int = 3000,
    group_instance_id: str | None = None,
) -> bytes:
    # the embedded "consumer" protocol metadata blob keeps its own
    # classic framing (it's opaque to the broker, versioned separately)
    md = struct.pack(">h", 0) + struct.pack(">i", len(topics))
    for t in topics:
        md += enc_str(t)
    md += enc_bytes(b"")
    body = enc_compact_str(group_id)
    body += struct.pack(">ii", session_timeout_ms, rebalance_timeout_ms)
    body += enc_compact_str(member_id)
    body += enc_compact_str(group_instance_id)  # KIP-345 static member
    body += enc_compact_str("consumer")
    body += enc_compact_array_len(1)
    body += enc_compact_str("range") + enc_compact_bytes(md) + enc_tags()
    return body + enc_tags()


def dec_join_group_request_v6(r: Reader) -> dict:
    group_id = r.compact_string()
    session_timeout = r.i32()
    rebalance_timeout = r.i32()
    member_id = r.compact_string()
    group_instance_id = r.compact_string()
    protocol_type = r.compact_string()
    protocols = []
    for _ in range(max(r.compact_array_len(), 0)):
        name = r.compact_string()
        md = r.compact_bytes()
        r.skip_tags()
        protocols.append((name, md))
    r.skip_tags()
    return {"group_id": group_id, "session_timeout": session_timeout,
            "rebalance_timeout": rebalance_timeout, "member_id": member_id,
            "group_instance_id": group_instance_id,
            "protocol_type": protocol_type, "protocols": protocols}


def enc_join_group_response_v6(
    error_code: int, generation: int, protocol: str, leader: str,
    member_id: str, members: list[tuple[str, bytes]],
) -> bytes:
    body = struct.pack(">ih", 0, error_code)
    body += struct.pack(">i", generation)
    body += enc_compact_str(protocol) + enc_compact_str(leader)
    body += enc_compact_str(member_id)
    body += enc_compact_array_len(len(members))
    for mid, md in members:
        body += (enc_compact_str(mid) + enc_compact_str(None)
                 + enc_compact_bytes(md) + enc_tags())
    return body + enc_tags()


def dec_join_group_response_v6(r: Reader) -> dict:
    r.i32()  # throttle
    err = r.i16()
    generation = r.i32()
    protocol = r.compact_string()
    leader = r.compact_string()
    member_id = r.compact_string()
    members = []
    for _ in range(max(r.compact_array_len(), 0)):
        mid = r.compact_string()
        r.compact_string()  # group_instance_id
        md = r.compact_bytes()
        r.skip_tags()
        members.append((mid, md))
    r.skip_tags()
    return {"error": err, "generation": generation, "protocol": protocol,
            "leader": leader, "member_id": member_id, "members": members}


def enc_sync_group_request_v4(
    group_id: str, generation: int, member_id: str,
    assignments: list[tuple[str, bytes]],
    group_instance_id: str | None = None,
) -> bytes:
    body = enc_compact_str(group_id) + struct.pack(">i", generation)
    body += enc_compact_str(member_id)
    body += enc_compact_str(group_instance_id)
    body += enc_compact_array_len(len(assignments))
    for mid, a in assignments:
        body += enc_compact_str(mid) + enc_compact_bytes(a) + enc_tags()
    return body + enc_tags()


def dec_sync_group_request_v4(r: Reader) -> dict:
    group_id = r.compact_string()
    generation = r.i32()
    member_id = r.compact_string()
    group_instance_id = r.compact_string()
    assignments = []
    for _ in range(max(r.compact_array_len(), 0)):
        mid = r.compact_string()
        a = r.compact_bytes()
        r.skip_tags()
        assignments.append((mid, a))
    r.skip_tags()
    return {"group_id": group_id, "generation": generation,
            "member_id": member_id,
            "group_instance_id": group_instance_id,
            "assignments": assignments}


def enc_sync_group_response_v4(error_code: int, assignment: bytes) -> bytes:
    return (struct.pack(">ih", 0, error_code)
            + enc_compact_bytes(assignment) + enc_tags())


def dec_sync_group_response_v4(r: Reader) -> tuple[int, bytes]:
    r.i32()
    err = r.i16()
    a = r.compact_bytes() or b""
    r.skip_tags()
    return err, a


def enc_heartbeat_request_v4(group_id: str, generation: int,
                             member_id: str,
                             group_instance_id: str | None = None) -> bytes:
    return (enc_compact_str(group_id) + struct.pack(">i", generation)
            + enc_compact_str(member_id)
            + enc_compact_str(group_instance_id) + enc_tags())


def dec_heartbeat_request_v4(r: Reader) -> tuple[str, int, str, str | None]:
    group_id = r.compact_string()
    generation = r.i32()
    member_id = r.compact_string()
    group_instance_id = r.compact_string()
    r.skip_tags()
    return group_id, generation, member_id, group_instance_id


def enc_error_only_response_flex(error_code: int) -> bytes:
    return struct.pack(">ih", 0, error_code) + enc_tags()


def dec_error_only_response_flex(r: Reader) -> int:
    r.i32()
    err = r.i16()
    r.skip_tags()
    return err


def enc_leave_group_request_v4(group_id: str, member_id: str) -> bytes:
    # v3+ switched the single member field to a members array
    return (enc_compact_str(group_id) + enc_compact_array_len(1)
            + enc_compact_str(member_id) + enc_compact_str(None)
            + enc_tags() + enc_tags())


def dec_leave_group_request_v4(r: Reader) -> tuple[str, list[str]]:
    group_id = r.compact_string()
    members = []
    for _ in range(max(r.compact_array_len(), 0)):
        mid = r.compact_string()
        r.compact_string()  # group_instance_id
        r.skip_tags()
        members.append(mid)
    r.skip_tags()
    return group_id, members


def enc_leave_group_response_v4(error_code: int,
                                members: list[str]) -> bytes:
    body = struct.pack(">ih", 0, error_code)
    body += enc_compact_array_len(len(members))
    for mid in members:
        body += (enc_compact_str(mid) + enc_compact_str(None)
                 + struct.pack(">h", 0) + enc_tags())
    return body + enc_tags()


def dec_leave_group_response_v4(r: Reader) -> int:
    r.i32()
    err = r.i16()
    for _ in range(max(r.compact_array_len(), 0)):
        r.compact_string()
        r.compact_string()
        member_err = r.i16()
        r.skip_tags()
        err = err or member_err
    r.skip_tags()
    return err


def enc_offset_commit_request_v8(
    group_id: str, generation: int, member_id: str,
    offsets: dict[tuple[str, int], int],
    group_instance_id: str | None = None,
) -> bytes:
    body = enc_compact_str(group_id) + struct.pack(">i", generation)
    body += enc_compact_str(member_id)
    body += enc_compact_str(group_instance_id)
    by_topic: dict[str, list[tuple[int, int]]] = {}
    for (t, p), off in offsets.items():
        by_topic.setdefault(t, []).append((p, off))
    body += enc_compact_array_len(len(by_topic))
    for t, parts in by_topic.items():
        body += enc_compact_str(t) + enc_compact_array_len(len(parts))
        for p, off in parts:
            body += struct.pack(">iqi", p, off, -1)  # leader_epoch -1
            body += enc_compact_str(None) + enc_tags()
        body += enc_tags()
    return body + enc_tags()


def dec_offset_commit_request_v8(r: Reader) -> dict:
    group_id = r.compact_string()
    generation = r.i32()
    member_id = r.compact_string()
    group_instance_id = r.compact_string()
    offsets: dict[tuple[str, int], int] = {}
    for _ in range(max(r.compact_array_len(), 0)):
        t = r.compact_string()
        for _ in range(max(r.compact_array_len(), 0)):
            p = r.i32()
            off = r.i64()
            r.i32()  # leader_epoch
            r.compact_string()  # metadata
            r.skip_tags()
            offsets[(t, p)] = off
        r.skip_tags()
    r.skip_tags()
    return {"group_id": group_id, "generation": generation,
            "member_id": member_id,
            "group_instance_id": group_instance_id, "offsets": offsets}


def enc_offset_commit_response_v8(
        results: dict[tuple[str, int], int]) -> bytes:
    by_topic: dict[str, list[tuple[int, int]]] = {}
    for (t, p), err in results.items():
        by_topic.setdefault(t, []).append((p, err))
    body = struct.pack(">i", 0)
    body += enc_compact_array_len(len(by_topic))
    for t, parts in by_topic.items():
        body += enc_compact_str(t) + enc_compact_array_len(len(parts))
        for p, err in parts:
            body += struct.pack(">ih", p, err) + enc_tags()
        body += enc_tags()
    return body + enc_tags()


def dec_offset_commit_response_v8(r: Reader) -> dict[tuple[str, int], int]:
    r.i32()
    out = {}
    for _ in range(max(r.compact_array_len(), 0)):
        t = r.compact_string()
        for _ in range(max(r.compact_array_len(), 0)):
            p = r.i32()
            out[(t, p)] = r.i16()
            r.skip_tags()
        r.skip_tags()
    r.skip_tags()
    return out


def enc_offset_fetch_request_v6(
        group_id: str, topic_partitions: dict[str, list[int]]) -> bytes:
    body = enc_compact_str(group_id)
    body += enc_compact_array_len(len(topic_partitions))
    for t, parts in topic_partitions.items():
        body += enc_compact_str(t) + enc_compact_array_len(len(parts))
        for p in parts:
            body += struct.pack(">i", p)
        body += enc_tags()
    return body + enc_tags()


def dec_offset_fetch_request_v6(
        r: Reader) -> tuple[str, dict[str, list[int]]]:
    group_id = r.compact_string()
    out: dict[str, list[int]] = {}
    for _ in range(max(r.compact_array_len(), 0)):
        t = r.compact_string()
        out[t] = [r.i32() for _ in range(max(r.compact_array_len(), 0))]
        r.skip_tags()
    r.skip_tags()
    return group_id, out


def enc_offset_fetch_response_v6(
        offsets: dict[tuple[str, int], int]) -> bytes:
    by_topic: dict[str, list[tuple[int, int]]] = {}
    for (t, p), off in offsets.items():
        by_topic.setdefault(t, []).append((p, off))
    body = struct.pack(">i", 0)
    body += enc_compact_array_len(len(by_topic))
    for t, parts in by_topic.items():
        body += enc_compact_str(t) + enc_compact_array_len(len(parts))
        for p, off in parts:
            body += struct.pack(">iqi", p, off, -1)  # leader_epoch -1
            body += enc_compact_str(None) + struct.pack(">h", 0)
            body += enc_tags()
        body += enc_tags()
    body += struct.pack(">h", 0)  # top-level error
    return body + enc_tags()


def dec_offset_fetch_response_v6(r: Reader) -> dict[tuple[str, int], int]:
    r.i32()
    out = {}
    for _ in range(max(r.compact_array_len(), 0)):
        t = r.compact_string()
        for _ in range(max(r.compact_array_len(), 0)):
            p = r.i32()
            off = r.i64()
            r.i32()  # leader_epoch
            r.compact_string()  # metadata
            err = r.i16()
            r.skip_tags()
            if err:
                raise IOError(f"OffsetFetch error {err} on {t}/{p}")
            out[(t, p)] = off
        r.skip_tags()
    r.i16()  # top-level error
    r.skip_tags()
    return out


def enc_init_producer_id_request_v2(txn_id: str | None = None,
                                    txn_timeout_ms: int = 60000) -> bytes:
    return (enc_compact_str(txn_id) + struct.pack(">i", txn_timeout_ms)
            + enc_tags())


def dec_init_producer_id_request_v2(r: Reader) -> tuple[str | None, int]:
    txn_id = r.compact_string()
    timeout = r.i32()
    r.skip_tags()
    return txn_id, timeout


def enc_init_producer_id_response_v2(producer_id: int,
                                     producer_epoch: int = 0,
                                     error_code: int = 0) -> bytes:
    return (struct.pack(">ihqh", 0, error_code, producer_id,
                        producer_epoch) + enc_tags())


def dec_init_producer_id_response_v2(r: Reader) -> tuple[int, int]:
    r.i32()  # throttle
    err = r.i16()
    pid = r.i64()
    epoch = r.i16()
    r.skip_tags()
    if err:
        raise IOError(f"InitProducerId error {err}")
    return pid, epoch


def enc_add_partitions_to_txn_request_v3(
    txn_id: str, producer_id: int, producer_epoch: int,
    topic_partitions: dict[str, list[int]],
) -> bytes:
    body = enc_compact_str(txn_id)
    body += struct.pack(">qh", producer_id, producer_epoch)
    body += enc_compact_array_len(len(topic_partitions))
    for t, parts in topic_partitions.items():
        body += enc_compact_str(t) + enc_compact_array_len(len(parts))
        for p in parts:
            body += struct.pack(">i", p)
        body += enc_tags()
    return body + enc_tags()


def dec_add_partitions_to_txn_request_v3(
        r: Reader) -> tuple[str, int, int, dict[str, list[int]]]:
    txn_id = r.compact_string()
    pid = r.i64()
    epoch = r.i16()
    tps: dict[str, list[int]] = {}
    for _ in range(max(r.compact_array_len(), 0)):
        t = r.compact_string()
        tps[t] = [r.i32() for _ in range(max(r.compact_array_len(), 0))]
        r.skip_tags()
    r.skip_tags()
    return txn_id, pid, epoch, tps


def enc_add_partitions_to_txn_response_v3(
        results: dict[str, dict[int, int]]) -> bytes:
    body = struct.pack(">i", 0)
    body += enc_compact_array_len(len(results))
    for t, parts in results.items():
        body += enc_compact_str(t) + enc_compact_array_len(len(parts))
        for p, err in parts.items():
            body += struct.pack(">ih", p, err) + enc_tags()
        body += enc_tags()
    return body + enc_tags()


def dec_add_partitions_to_txn_response_v3(
        r: Reader) -> dict[str, dict[int, int]]:
    r.i32()
    out: dict[str, dict[int, int]] = {}
    for _ in range(max(r.compact_array_len(), 0)):
        t = r.compact_string()
        parts: dict[int, int] = {}
        for _ in range(max(r.compact_array_len(), 0)):
            p = r.i32()
            parts[p] = r.i16()
            r.skip_tags()
        r.skip_tags()
        out[t] = parts
    r.skip_tags()
    return out


def enc_end_txn_request_v3(txn_id: str, producer_id: int,
                           producer_epoch: int, committed: bool) -> bytes:
    return (enc_compact_str(txn_id)
            + struct.pack(">qh?", producer_id, producer_epoch, committed)
            + enc_tags())


def dec_end_txn_request_v3(r: Reader) -> tuple[str, int, int, bool]:
    txn_id = r.compact_string()
    pid = r.i64()
    epoch = r.i16()
    committed = r.i8() != 0
    r.skip_tags()
    return txn_id, pid, epoch, committed


def enc_end_txn_response_v3(error_code: int = 0) -> bytes:
    return struct.pack(">ih", 0, error_code) + enc_tags()


def dec_end_txn_response_v3(r: Reader) -> int:
    r.i32()
    err = r.i16()
    r.skip_tags()
    return err

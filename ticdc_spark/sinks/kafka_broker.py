"""In-process Kafka broker speaking the real wire protocol over TCP.

Serves every API `codec/kafka_wire.py` encodes, at each version it lays
out (``kw.VERSIONS``), against an in-memory log — one
append-only list of record batches per (topic, partition), with base
offsets rewritten on append exactly like a real broker.

Purpose: give the Kafka sink (`sinks/kafka.py`) a live endpoint to
round-trip against in tests and oracle queries. The reference exercises
`pkg/sink/kafka` against real clusters; this container has none, so the
broker is the honest substitute — the bytes on the socket are the real
protocol, CRC32C verified on ingest like a broker with
`log.message.format.version=2`.

Scale note: this is a TEST endpoint. In production the same producer
bytes target a real cluster; nothing here sits on the data path.
"""

from __future__ import annotations

import socketserver
import struct
import threading
import time

from ticdc_spark.codec import kafka_wire as kw
from ticdc_spark.endpoint import Endpoint, recv_exact


class OutOfOrderSequence(Exception):
    """Idempotent-producer sequence gap (error 45 on the wire)."""


class _Log:
    """One partition's log: raw v2 batches with rewritten base offsets.
    Idempotent producers (KIP-98): per-pid (last base sequence, count,
    offset) so an exact retry of the last batch dedups to its original
    offset and a sequence gap rejects with OUT_OF_ORDER_SEQUENCE (a real
    broker keeps the last 5 batches; the retry case is depth 1)."""

    __slots__ = ("batches", "next_offset", "lock", "producers",
                 "ongoing", "aborted")

    def __init__(self):
        self.batches: list[bytes] = []
        self.next_offset = 0
        self.lock = threading.Lock()
        self.producers: dict[int, tuple[int, int, int]] = {}
        # transactions: pid -> first offset of its open txn; closed
        # aborted ranges as (pid, first, last-inclusive-of-marker)
        self.ongoing: dict[int, int] = {}
        self.aborted: list[tuple[int, int, int]] = []

    def append(self, record_set: bytes) -> int:
        """Validate + append every batch in the set; returns the base offset
        assigned to the first batch (errors leave the log untouched)."""
        kw.decode_record_batches(record_set)  # raises on bad CRC/magic
        with self.lock:
            # rewrite each batch's baseOffset (first 8 bytes) to its assigned
            # offset — CRC stays valid because it doesn't cover baseOffset.
            # Stage into a local list and commit only after the whole set
            # parses: a truncated trailing batch (tolerated by decode above,
            # which ignores partial tails) must not leave earlier batches
            # appended with next_offset never advanced — that assigns
            # duplicate base offsets to the next append and corrupts the log.
            out_base: int | None = None
            pos = 0
            assigned = self.next_offset
            staged: list[bytes] = []
            producer_updates: dict[int, tuple[int, int, int]] = {}
            # txn-open offsets are staged too: a batch rejected by the
            # sequence check (or deduped as a retry) must NOT leave a
            # stale self.ongoing entry, or the LSO pins forever and a
            # later ABORT marker's range swallows other producers' data.
            ongoing_updates: dict[int, int] = {}
            while pos + 12 <= len(record_set):
                batch_len = struct.unpack_from(">i", record_set, pos + 8)[0]
                end = pos + 12 + batch_len
                if batch_len < 0 or end > len(record_set):
                    break  # partial tail — mirror decode's tolerance
                body = record_set[pos + 8 : end]
                n_records = struct.unpack_from(">i", record_set, pos + 57)[0]
                pid, _pepoch, bseq, _n = kw.batch_producer_meta(
                    record_set[pos:end])
                attrs = kw.batch_attributes(record_set, pos)
                if pid >= 0 and bseq >= 0:
                    st = producer_updates.get(pid, self.producers.get(pid))
                    if st is not None:
                        last_seq, last_n, last_off = st
                        if bseq == last_seq:
                            # exact retry of the last batch: dedup to
                            # its original base offset, append nothing
                            # (and open no txn — the original did)
                            if out_base is None:
                                out_base = last_off
                            pos = end
                            continue
                        if bseq != last_seq + last_n:
                            raise OutOfOrderSequence(
                                f"pid {pid}: sequence {bseq}, expected "
                                f"{last_seq + last_n}")
                    producer_updates[pid] = (bseq, n_records, assigned)
                if (attrs & kw.ATTR_TRANSACTIONAL and pid >= 0
                        and pid not in self.ongoing
                        and pid not in ongoing_updates):
                    ongoing_updates[pid] = assigned  # txn's first offset
                staged.append(struct.pack(">q", assigned) + body)
                if out_base is None:
                    out_base = assigned
                assigned += n_records
                pos = end
            if out_base is None:
                raise ValueError("empty record set")
            self.batches.extend(staged)
            self.next_offset = assigned
            self.producers.update(producer_updates)
            self.ongoing.update(ongoing_updates)
            return out_base

    def append_control(self, pid: int, epoch: int, marker: int) -> int:
        """Write a txn-marker control batch for ``pid``; an ABORT closes
        the pid's open range into ``aborted``.  -> marker offset."""
        batch = kw.encode_record_batch(
            [kw.enc_control_record(marker)], producer_id=pid,
            producer_epoch=epoch, transactional=True, control=True)
        with self.lock:
            off = self.next_offset
            self.batches.append(struct.pack(">q", off) + batch[8:])
            self.next_offset = off + 1
            first = self.ongoing.pop(pid, None)
            if marker == kw.CONTROL_ABORT and first is not None:
                self.aborted.append((pid, first, off))
            return off

    def stable_view(self, fetch_offset: int) -> tuple[int, list[tuple[int, int]]]:
        """READ_COMMITTED metadata: (last stable offset, aborted ranges
        whose data could appear at/after ``fetch_offset``)."""
        with self.lock:
            lso = min(self.ongoing.values(), default=self.next_offset)
            ab = [(pid, first) for pid, first, last in self.aborted
                  if last >= fetch_offset]
            return lso, ab

    def offset_for_timestamp(self, ts: int) -> tuple[int, int]:
        """ListOffsets timestamp lookup: the first record whose timestamp
        is >= ts -> (that record's timestamp, its offset); (-1, -1) when
        every record is older.  Scans batches in offset order (the mini
        log has no .timeindex); skips a batch early via its header
        maxTimestamp, so the record decode only runs on the containing
        batch — the same shape as an index-segment probe."""
        with self.lock:
            batches = list(self.batches)
        for b in batches:
            # baseOffset 8 | len 4 | epoch 4 | magic 1 | crc 4 | attrs 2 |
            # lastOffsetDelta 4 | baseTs 8 | maxTs @35
            max_ts = struct.unpack_from(">q", b, 35)[0]
            if max_ts < ts:
                continue
            for base_off, records in kw.decode_record_batches(b):
                for rec in records:
                    # decode stores the ABSOLUTE timestamp in
                    # timestamp_delta (base_ts folded in)
                    if rec.timestamp_delta >= ts:
                        return rec.timestamp_delta, base_off + rec.offset_delta
        return -1, -1

    def read_from(self, offset: int, max_bytes: int) -> tuple[bytes, int]:
        with self.lock:
            out = bytearray()
            for b in self.batches:
                base = struct.unpack_from(">q", b, 0)[0]
                n = struct.unpack_from(">i", b, 57)[0]  # recordCount at fixed offset
                if base + n <= offset:
                    continue
                out += b
                if len(out) >= max_bytes:
                    break
            return bytes(out), self.next_offset


# recordCount fixed offset inside a stored batch:
#  baseOffset 8 | batchLength 4 | leaderEpoch 4 | magic 1 | crc 4 |
#  attributes 2 | lastOffsetDelta 4 | baseTs 8 | maxTs 8 | producerId 8 |
#  producerEpoch 2 | baseSequence 4  => 8+4+4+1+4+2+4+8+8+8+2+4 = 57


class KafkaBroker(Endpoint):
    """Threaded single-node broker bound to 127.0.0.1:<ephemeral port>."""

    def __init__(self, host: str = "127.0.0.1", default_partitions: int = 4,
                 sasl_users: dict[str, str] | None = None,
                 sasl_mechanisms: tuple[str, ...] = ("PLAIN", "SCRAM-SHA-256",
                                                     "SCRAM-SHA-512"),
                 tls: bool = False,
                 mutual_tls: bool = False,
                 oauth_jwt_secret: str | None = None,
                 oauth_now: int = 1_700_000_100,
                 flexible_only: bool = False,
                 gssapi_service: tuple[str, str, str] | None = None,
                 auto_create_topics: bool = True):
        # tls=True: an SSL (or SASL_SSL, with sasl_users) listener — a
        # fresh self-signed cert; clients pin it via broker.ca_pem.
        # mutual_tls=True additionally demands a client certificate
        # chained to the broker's CA (the reference Credential's
        # cert-path/key-path half); mint one via issue_client_cert().
        super().__init__(host, tls, mutual_tls)
        self.default_partitions = default_partitions
        # advertised version ranges span the codec's versions per API;
        # flexible_only floors every API that has a flexible version at
        # it (ApiVersions keeps v0 for the bootstrap) — the modern-broker
        # shape a post-2.4 cluster presents to sarama
        # (`pkg/sink/kafka/sarama_config.go` negotiates past v9/v12)
        self.supported = {}
        for api, versions in kw.VERSIONS.items():
            lo, hi = versions[0], versions[-1]
            if (flexible_only and api != kw.API_API_VERSIONS
                    and kw.is_flexible(api, hi)):
                lo = hi
            self.supported[api] = (lo, hi)
        # when sasl_users is set, every API except ApiVersions/SaslHandshake/
        # SaslAuthenticate is rejected with ILLEGAL_SASL_STATE until the
        # connection authenticates — real listener semantics (SASL_PLAINTEXT)
        self.sasl_users = sasl_users
        self.sasl_mechanisms = list(sasl_mechanisms)
        # OAUTHBEARER: tokens are HS256 JWTs verified against this secret
        # (the broker side of the reference's oauth2 token provider flow);
        # oauth_now = deterministic clock for exp checks
        self.oauth_jwt_secret = oauth_jwt_secret
        self.oauth_now = oauth_now
        if oauth_jwt_secret is not None and "OAUTHBEARER" not in self.sasl_mechanisms:
            self.sasl_mechanisms.append("OAUTHBEARER")
        # GSSAPI: (service_principal, password, realm) — the broker's
        # long-term key (an in-code keytab) for accepting AP-REQs; the
        # KDC that issued the tickets holds the same principal entry
        # auto.create.topics.enable: when False, Metadata/Produce for an
        # unknown topic answer UNKNOWN_TOPIC_OR_PARTITION instead of
        # materializing it — the broker side of the reference's
        # auto-create-topic=false deployment (`options.go:287-289`:
        # TiCDC must then create the topic itself or error out)
        self.auto_create_topics = auto_create_topics
        # acks observability for conformance tests: every Produce
        # request's acks field in arrival order
        self.seen_produce_acks: list[int] = []
        self.gssapi_service = gssapi_service
        self._gssapi_key = None
        if gssapi_service is not None:
            from ticdc_spark.codec import krb5 as _krb5
            from ticdc_spark.codec import krb5crypto as _kc

            svc, pw, realm = gssapi_service
            self._gssapi_key = _kc.string_to_key(
                pw, _krb5.default_salt(realm, svc))
            if "GSSAPI" not in self.sasl_mechanisms:
                self.sasl_mechanisms.append("GSSAPI")
        self.topics: dict[str, dict[int, _Log]] = {}
        self._topics_lock = threading.Lock()
        self._next_pid = 1000  # InitProducerId allocator (KIP-98)
        # transactional.id -> {"pid", "epoch", "partitions": set}; pid -> epoch
        self._txns: dict[str, dict] = {}
        self._pid_epochs: dict[int, int] = {}
        self.groups: dict[str, "_Group"] = {}
        self._groups_lock = threading.Lock()
        # KIP-227 incremental fetch sessions: session_id -> {"epoch",
        # "parts": {(topic, partition): [fetch_offset, max_bytes]}}
        self._fetch_sessions: dict[int, dict] = {}
        self._next_fetch_session = 1
        self._fetch_sessions_lock = threading.Lock()
        # broker-level config a real cluster exposes via DescribeConfigs;
        # new topics inherit max.message.bytes from it like a real broker
        self.broker_configs = {"message.max.bytes": "1048588"}
        self.topic_configs: dict[str, dict[str, str]] = {}
        broker = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self):
                from ticdc_spark import failpoint

                conn_state = {"authenticated": broker.sasl_users is None,
                              "mechanism": None, "scram": None}
                sock = broker._accept_tls(self.request)
                if sock is None:
                    return  # failed handshake (plaintext client, bad ciphers)
                try:
                    while True:
                        hdr = recv_exact(sock, 4)
                        if hdr is None:
                            return
                        (size,) = struct.unpack(">i", hdr)
                        payload = recv_exact(sock, size)
                        if payload is None:
                            return
                        # chaos hook: kill the connection mid-conversation
                        # (arm `kafka/drop-connection` with N*return(1));
                        # producers must retry/reconnect like sarama's
                        # MaxRetry budget (`pkg/sink/kafka` defaultMaxRetry)
                        if failpoint.inject("kafka/drop-connection"):
                            return
                        resp = broker._dispatch(payload, conn_state)
                        sock.sendall(resp)
                except (ConnectionResetError, BrokenPipeError):
                    return

        self._listen(Handler)

    @property
    def bootstrap(self) -> str:
        return f"{self.host}:{self.port}"

    # -- log access

    def _get_topic(self, name: str, create: bool = True) -> dict[int, _Log] | None:
        with self._topics_lock:
            t = self.topics.get(name)
            if t is None and create:
                t = {p: _Log() for p in range(self.default_partitions)}
                self.topics[name] = t
            return t

    def create_topic(self, name: str, partitions: int):
        with self._topics_lock:
            self.topics[name] = {p: _Log() for p in range(partitions)}

    def high_watermark(self, topic: str, partition: int) -> int:
        t = self._get_topic(topic, create=False)
        return t[partition].next_offset if t and partition in t else 0

    def log(self, topic: str, partition: int) -> "_Log":
        """Test-introspection handle on a partition's log."""
        return self._get_topic(topic, create=False)[partition]

    def _sasl_authenticate(self, auth: bytes, conn_state: dict
                           ) -> tuple[int, str | None, bytes]:
        """-> the SaslAuthenticate response's (error_code, error_message,
        auth_bytes)."""
        import base64
        import os as _os

        from ticdc_spark.codec import scram as _scram

        mech = conn_state.get("mechanism")
        if self.sasl_users is None or mech is None:
            return kw.ERR_ILLEGAL_SASL_STATE, "handshake first", b""
        if mech == "GSSAPI":
            from ticdc_spark.codec import gssapi as _gss

            if self.gssapi_service is None:
                return (kw.ERR_UNSUPPORTED_SASL_MECHANISM,
                        "GSSAPI not configured", b"")
            st = conn_state.setdefault("gss", {"phase": "context"})
            try:
                if st["phase"] == "context":
                    # round 1: AP-REQ in, AP-REP out
                    session_key, info, reply = _gss.accept_context_token(
                        auth, self._gssapi_key)
                    st.update(phase="offer", key=session_key,
                              client=info["cname"])
                    return 0, None, reply
                if st["phase"] == "offer":
                    # round 2 (empty client bytes): RFC 4752 offer out
                    st["phase"] = "choice"
                    return 0, None, _gss.sec_layer_offer(st["key"])
                if st["phase"] == "choice":
                    _gss.verify_sec_layer_choice(st["key"], auth)
                    conn_state["authenticated"] = True
                    st["phase"] = "done"
                    return 0, None, b""
            except (ValueError, AssertionError, KeyError) as e:
                conn_state["gss"] = {"phase": "context"}
                return kw.ERR_SASL_AUTHENTICATION_FAILED, str(e), b""
            return kw.ERR_ILLEGAL_SASL_STATE, "GSSAPI already complete", b""
        if mech == "OAUTHBEARER":
            from ticdc_spark.codec import oauth2 as _oauth2

            if self.oauth_jwt_secret is None:
                return kw.ERR_UNSUPPORTED_SASL_MECHANISM, "OAUTHBEARER not configured", b""
            token = _oauth2.parse_oauthbearer_response(auth)
            claims = (None if token is None else _oauth2.jwt_verify(
                token, self.oauth_jwt_secret, self.oauth_now))
            if claims is None:
                # RFC 7628 §3.2.2: failure returns a JSON body; the client
                # must answer \x01 before the connection fails
                return (kw.ERR_SASL_AUTHENTICATION_FAILED,
                        "Authentication failed", b'{"status":"invalid_token"}')
            conn_state["authenticated"] = True
            return 0, None, b""
        if mech == "PLAIN":
            try:
                _zid, user, pw = auth.decode("utf-8").split("\x00")
            except ValueError:
                return kw.ERR_SASL_AUTHENTICATION_FAILED, "malformed PLAIN", b""
            if self.sasl_users.get(user) != pw:
                return kw.ERR_SASL_AUTHENTICATION_FAILED, "Authentication failed", b""
            conn_state["authenticated"] = True
            return 0, None, b""
        # SCRAM-SHA-256/512: two SaslAuthenticate rounds
        algo = "sha512" if mech == "SCRAM-SHA-512" else "sha256"
        if conn_state["scram"] is None:
            client_first = auth.decode("utf-8")
            try:
                # the saslname is escaped per RFC 5802 §5.1 (',' -> =2C,
                # '=' -> =3D), so the comma/equals split is unambiguous;
                # unescape recovers the real username (and rejects any
                # stray '=' sequence as malformed)
                user = _scram.saslname_unescape(
                    dict(p.split("=", 1)
                         for p in client_first.split(",")[2:])["n"])
            except (KeyError, ValueError):
                return kw.ERR_SASL_AUTHENTICATION_FAILED, "malformed client-first", b""
            if user not in self.sasl_users:
                return kw.ERR_SASL_AUTHENTICATION_FAILED, "unknown user", b""
            server_first = _scram.server_first_message(
                client_first,
                base64.b64encode(_os.urandom(12)).decode(),
                _os.urandom(16), 4096)
            conn_state["scram"] = (user, client_first, server_first)
            return 0, None, server_first.encode("utf-8")
        user, client_first, server_first = conn_state["scram"]
        ok, server_final = _scram.server_verify_final(
            client_first, server_first, auth.decode("utf-8"),
            self.sasl_users[user], algo=algo)
        if not ok:
            conn_state["scram"] = None
            return kw.ERR_SASL_AUTHENTICATION_FAILED, "Authentication failed", b""
        conn_state["authenticated"] = True
        return 0, None, server_final.encode("utf-8")

    def _get_group(self, group_id: str) -> "_Group":
        with self._groups_lock:
            g = self.groups.get(group_id)
            if g is None:
                g = _Group()
                self.groups[group_id] = g
            return g

    # -- protocol dispatch

    def _dispatch(self, payload: bytes, conn_state: dict | None = None) -> bytes:
        conn_state = conn_state if conn_state is not None else {"authenticated": True}
        api_key, v, corr, _client, r = kw.parse_request_header(payload)

        def reply(body: bytes) -> bytes:
            return kw.frame_response(api_key, v, corr, body)

        def refuse(error_code: int, supported: dict | None = None) -> bytes:
            # an error shaped as an ApiVersions v0 response: a client can
            # read it whatever version it sent
            return kw.frame_response(kw.API_API_VERSIONS, 0, corr,
                                     kw.enc_api_versions_response(
                                         0, supported or {}, error_code))

        lo, hi = self.supported.get(api_key, (0, -1))
        if not lo <= v <= hi or v not in kw.VERSIONS.get(api_key, ()):
            # UNSUPPORTED_VERSION also for an advertised version the codec
            # has no layout for; to an unknown ApiVersions version a real
            # broker adds its ranges, so the client can down-negotiate
            # instead of disconnecting
            return refuse(kw.ERR_UNSUPPORTED_VERSION,
                          self.supported if api_key == kw.API_API_VERSIONS
                          else None)
        if api_key == kw.API_API_VERSIONS:
            kw.dec_api_versions_request(r, v)
            return reply(kw.enc_api_versions_response(v, self.supported))
        if api_key == kw.API_SASL_HANDSHAKE:
            mech = kw.dec_sasl_handshake_request(r, v)
            if self.sasl_users is None or mech not in self.sasl_mechanisms:
                return reply(kw.enc_sasl_handshake_response(
                    v, kw.ERR_UNSUPPORTED_SASL_MECHANISM, self.sasl_mechanisms))
            conn_state["mechanism"] = mech
            conn_state["scram"] = None
            return reply(kw.enc_sasl_handshake_response(v, 0, self.sasl_mechanisms))
        if api_key == kw.API_SASL_AUTHENTICATE:
            return reply(kw.enc_sasl_authenticate_response(v, *self._sasl_authenticate(
                kw.dec_sasl_authenticate_request(r, v), conn_state)))
        if not conn_state.get("authenticated"):
            # pre-auth API use on a SASL listener
            return refuse(kw.ERR_ILLEGAL_SASL_STATE)
        if api_key == kw.API_METADATA:
            names = kw.dec_metadata_request(r, v)
            if names is None:
                with self._topics_lock:
                    listing = {t: len(p) for t, p in self.topics.items()}
            else:
                listing = {}
                for name in names:
                    # auto-create like auto.create.topics.enable (gated)
                    t = self._get_topic(name,
                                        create=self.auto_create_topics)
                    listing[name] = ((3, 0) if t is None  # UNKNOWN_TOPIC
                                     else len(t))
            return reply(kw.enc_metadata_response(v, self.host, self.port, listing))
        if api_key == kw.API_PRODUCE:
            _txn, acks, _timeout, topic_data = kw.dec_produce_request(r, v)
            self.seen_produce_acks.append(acks)
            results: dict[str, dict[int, tuple[int, int]]] = {}
            for topic, parts in topic_data.items():
                t = self._get_topic(topic, create=self.auto_create_topics)
                results[topic] = {}
                for idx, record_set in parts.items():
                    if t is None or idx not in t:
                        results[topic][idx] = (3, -1)  # UNKNOWN_TOPIC_OR_PARTITION
                        continue
                    pid0, pep0, _, _ = kw.batch_producer_meta(record_set)
                    known = self._pid_epochs.get(pid0)
                    if (pid0 >= 0 and known is not None and pep0 < known):
                        # zombie fencing: an older incarnation's epoch
                        results[topic][idx] = (
                            kw.ERR_INVALID_PRODUCER_EPOCH, -1)
                        continue
                    try:
                        base = t[idx].append(record_set)
                        results[topic][idx] = (0, base)
                    except OutOfOrderSequence:
                        results[topic][idx] = (
                            kw.ERR_OUT_OF_ORDER_SEQUENCE, -1)
                    except (ValueError, struct.error):
                        results[topic][idx] = (2, -1)  # CORRUPT_MESSAGE
            if acks == 0:
                # fire-and-forget: the protocol sends NO response for
                # acks=0 — replying would desynchronize correlation ids
                # on a spec-conforming client (sendall(b"") is a no-op)
                return b""
            return reply(kw.enc_produce_response(v, results))
        if api_key == kw.API_INIT_PRODUCER_ID:
            txn_id, _timeout = kw.dec_init_producer_id_request(r, v)
            with self._topics_lock:
                if txn_id is not None:
                    # transactional: same pid, BUMPED epoch — re-init
                    # fences the previous incarnation (zombie writer)
                    st = self._txns.get(txn_id)
                    if st is None:
                        st = {"pid": self._next_pid, "epoch": 0,
                              "partitions": set()}
                        self._next_pid += 1
                    else:
                        st = {"pid": st["pid"], "epoch": st["epoch"] + 1,
                              "partitions": set()}
                    self._txns[txn_id] = st
                    self._pid_epochs[st["pid"]] = st["epoch"]
                    pid, epoch = st["pid"], st["epoch"]
                else:
                    pid, epoch = self._next_pid, 0
                    self._next_pid += 1
            return reply(kw.enc_init_producer_id_response(v, pid, epoch))
        if api_key == kw.API_ADD_PARTITIONS_TO_TXN:
            txn_id, pid, epoch, tps = kw.dec_add_partitions_to_txn_request(r, v)
            st = self._txns.get(txn_id)
            results = {}
            for topic, parts in tps.items():
                # honor auto_create_topics here too: a broker with
                # auto-create disabled must not materialize unknown
                # topics through the transactional APIs — answer
                # UNKNOWN_TOPIC_OR_PARTITION like the Metadata/Produce
                # paths do
                t = self._get_topic(topic, create=self.auto_create_topics)
                err = 0
                if t is None:
                    err = 3  # UNKNOWN_TOPIC_OR_PARTITION
                elif st is None or st["pid"] != pid:
                    err = kw.ERR_INVALID_TXN_STATE
                elif st["epoch"] != epoch:
                    err = kw.ERR_INVALID_PRODUCER_EPOCH
                results[topic] = {p: err for p in parts}
                if not err:
                    st["partitions"].update((topic, p) for p in parts)
            return reply(kw.enc_add_partitions_to_txn_response(v, results))
        if api_key == kw.API_END_TXN:
            txn_id, pid, epoch, committed = kw.dec_end_txn_request(r, v)
            st = self._txns.get(txn_id)
            if st is None or st["pid"] != pid:
                return reply(kw.enc_end_txn_response(v, kw.ERR_INVALID_TXN_STATE))
            if st["epoch"] != epoch:
                return reply(kw.enc_end_txn_response(v, kw.ERR_INVALID_PRODUCER_EPOCH))
            marker = kw.CONTROL_COMMIT if committed else kw.CONTROL_ABORT
            for topic, p in sorted(st["partitions"]):
                # registered partitions always exist (AddPartitionsToTxn
                # gates on auto_create_topics), but never re-create a
                # topic deleted since registration
                t = self._get_topic(topic, create=False)
                if t is not None and p in t:
                    t[p].append_control(pid, epoch, marker)
            st["partitions"] = set()
            return reply(kw.enc_end_txn_response(v, 0))
        if api_key == kw.API_LIST_OFFSETS:
            results = []
            for topic, partition, ts in kw.dec_list_offsets_request(r, v):
                t = self._get_topic(topic, create=False)
                if t is None or partition not in t:
                    results.append((topic, partition, 3, -1, -1))
                    continue
                if ts == kw.OFFSET_EARLIEST:
                    results.append((topic, partition, 0, -1, 0))
                elif ts == kw.OFFSET_LATEST:
                    results.append(
                        (topic, partition, 0, -1, t[partition].next_offset))
                else:
                    # timestamp lookup: first record with ts >= target
                    # (a real broker consults the .timeindex; the mini
                    # log scans its batches)
                    found_ts, off = t[partition].offset_for_timestamp(ts)
                    results.append((topic, partition, 0, found_ts, off))
            return reply(kw.enc_list_offsets_response(v, results))
        if api_key == kw.API_CREATE_TOPICS:
            topics, validate_only = kw.dec_create_topics_request(r, v)
            results = {}
            for name, n_parts, repl, configs in topics:
                with self._topics_lock:
                    if name in self.topics:
                        results[name] = (kw.ERR_TOPIC_ALREADY_EXISTS,
                                         f"Topic '{name}' already exists.")
                        continue
                    if n_parts == 0:
                        results[name] = (kw.ERR_INVALID_PARTITIONS,
                                         "Number of partitions must be larger than 0.")
                        continue
                    if repl > 1:
                        # single-node broker: a replication factor above
                        # the broker count is refused exactly like a real
                        # cluster (INVALID_REPLICATION_FACTOR)
                        results[name] = (
                            kw.ERR_INVALID_REPLICATION_FACTOR,
                            f"Replication factor: {repl} larger than "
                            "available brokers: 1.")
                        continue
                    if not validate_only:
                        n = self.default_partitions if n_parts < 0 else n_parts
                        self.topics[name] = {p: _Log() for p in range(n)}
                        # topic max.message.bytes defaults from the broker
                        # (the reference's adjustNewTopicOptions premise)
                        tc = {"max.message.bytes":
                              self.broker_configs["message.max.bytes"]}
                        tc.update(configs)
                        self.topic_configs[name] = tc
                    results[name] = (0, None)
            return reply(kw.enc_create_topics_response(v, results))
        if api_key == kw.API_DESCRIBE_CONFIGS:
            results = []
            for rtype, name, keys in kw.dec_describe_configs_request(r, v):
                if rtype == kw.RESOURCE_BROKER:
                    cfg = dict(self.broker_configs)
                elif rtype == kw.RESOURCE_TOPIC:
                    with self._topics_lock:
                        if name not in self.topics:
                            results.append((3, "unknown topic", rtype, name, {}))
                            continue
                        cfg = dict(self.topic_configs.get(name, {}))
                else:
                    results.append((87, "unsupported resource", rtype, name, {}))
                    continue
                if keys is not None:
                    cfg = {k: cfg.get(k) for k in keys}
                results.append((0, None, rtype, name, cfg))
            return reply(kw.enc_describe_configs_response(v, results))
        if api_key == kw.API_FIND_COORDINATOR:
            kw.dec_find_coordinator_request(r, v)
            # single-node: this broker coordinates every group
            return reply(kw.enc_find_coordinator_response(v, 0, self.host, self.port))
        if api_key == kw.API_JOIN_GROUP:
            req = kw.dec_join_group_request(r, v)
            g = self._get_group(req["group_id"])
            res = g.join(req["member_id"], req["protocols"][0][1],
                         instance_id=req["group_instance_id"])
            if res["error"]:
                return reply(kw.enc_join_group_response(
                    v, res["error"], -1, "", "", res["member_id"], []))
            return reply(kw.enc_join_group_response(
                v, 0, res["generation"], "range", res["leader"],
                res["member_id"], res["members"]))
        if api_key == kw.API_SYNC_GROUP:
            req = kw.dec_sync_group_request(r, v)
            g = self._get_group(req["group_id"])
            err = g.fence_check(req["member_id"], req["group_instance_id"])
            assignment = b""
            if not err:
                err, assignment = g.sync(
                    req["member_id"], req["generation"],
                    req["assignments"])
            return reply(kw.enc_sync_group_response(v, err, assignment))
        if api_key == kw.API_HEARTBEAT:
            group_id, generation, member_id, instance_id = (
                kw.dec_heartbeat_request(r, v))
            g = self._get_group(group_id)
            err = (g.fence_check(member_id, instance_id)
                   or g.heartbeat(member_id, generation))
            return reply(kw.enc_heartbeat_response(v, err))
        if api_key == kw.API_LEAVE_GROUP:
            group_id, members = kw.dec_leave_group_request(r, v)
            g = self._get_group(group_id)
            errs = [g.leave(mid) for mid in members]
            top = next((e for e in errs if e), 0)
            return reply(kw.enc_leave_group_response(v, top, members))
        if api_key == kw.API_OFFSET_COMMIT:
            req = kw.dec_offset_commit_request(r, v)
            g = self._get_group(req["group_id"])
            fence = g.fence_check(req["member_id"], req["group_instance_id"])
            results = {}
            with g.lock:
                for tp, off in req["offsets"].items():
                    if fence:
                        results[tp] = fence  # FENCED_INSTANCE_ID
                    elif (req["member_id"] not in g.members
                            or req["generation"] != g.generation):
                        results[tp] = kw.ERR_ILLEGAL_GENERATION
                    else:
                        g.offsets[tp] = off
                        results[tp] = 0
            return reply(kw.enc_offset_commit_response(v, results))
        if api_key == kw.API_OFFSET_FETCH:
            group_id, wants = kw.dec_offset_fetch_request(r, v)
            g = self._get_group(group_id)
            out = {}
            with g.lock:
                for t, parts in wants.items():
                    for p in parts:
                        out[(t, p)] = g.offsets.get((t, p), -1)
            return reply(kw.enc_offset_fetch_response(v, out))
        if api_key == kw.API_FETCH:
            isolation, sid, epoch, wants, forgotten = kw.dec_fetch_request(r, v)
            # KIP-227 session resolution (epoch -1 = sessionless, the
            # only shape of a classic request; 0 = full request opening
            # a session, >0 = incremental)
            resp_sid = 0
            incremental = False
            if epoch == 0:
                with self._fetch_sessions_lock:
                    resp_sid = self._next_fetch_session
                    self._next_fetch_session += 1
                    self._fetch_sessions[resp_sid] = {
                        "epoch": 1,
                        "parts": {(t, p): [off, pmax]
                                  for t, p, off, pmax in wants},
                    }
            elif epoch > 0:
                with self._fetch_sessions_lock:
                    sess = self._fetch_sessions.get(sid)
                    if sess is None:
                        return reply(kw.enc_fetch_response(
                            v, [], error_code=kw.ERR_FETCH_SESSION_ID_NOT_FOUND))
                    if epoch != sess["epoch"]:
                        return reply(kw.enc_fetch_response(
                            v, [], session_id=sid,
                            error_code=kw.ERR_INVALID_FETCH_SESSION_EPOCH))
                    sess["epoch"] += 1
                    for t, p, off, pmax in wants:  # add/update
                        sess["parts"][(t, p)] = [off, pmax]
                    for t, plist in forgotten:
                        for p in plist:
                            sess["parts"].pop((t, p), None)
                    wants = [(t, p, off, pmax) for (t, p), (off, pmax)
                             in sess["parts"].items()]
                    resp_sid = sid
                    incremental = True
            parts = []
            for topic, partition, offset, pmax in wants:
                t = self._get_topic(topic, create=False)
                if t is None or partition not in t:
                    parts.append((topic, partition, 3, 0, b""))
                    continue
                data, hw = t[partition].read_from(offset, pmax)
                if incremental and not data and hw <= offset:
                    # incremental responses omit unchanged partitions —
                    # the bandwidth win KIP-227 exists for
                    continue
                if isolation == 1:  # READ_COMMITTED: lso + aborted ranges
                    lso, aborted = t[partition].stable_view(offset)
                    parts.append(
                        (topic, partition, 0, hw, data, lso, aborted))
                else:
                    parts.append((topic, partition, 0, hw, data))
            # NOTE: a KIP-227 broker NEVER advances a session's cached
            # fetch offsets — the CLIENT re-lists any partition whose
            # position moved in its next incremental request (that is
            # FetchSession.poll's rule); the cached offset only changes
            # when a request lists the partition.
            return reply(kw.enc_fetch_response(v, parts, session_id=resp_sid))
        raise AssertionError("unreachable")


class _Group:
    """One consumer group's coordinator state (the broker-side half of
    the JoinGroup/SyncGroup dance). States mirror a real coordinator:
    Empty -> PreparingRebalance (join barrier) -> CompletingRebalance
    (awaiting the leader's SyncGroup) -> Stable."""

    REBALANCE_WINDOW_S = 2.0
    #: KIP-134 group.initial.rebalance.delay.ms: the first rebalance of an
    #: EMPTY group waits this long for more joiners, re-armed per new
    #: joiner and capped by REBALANCE_WINDOW_S — otherwise the first of
    #: several concurrent joiners completes a generation alone
    INITIAL_REBALANCE_DELAY_S = 0.2

    def __init__(self):
        self.lock = threading.Lock()
        self.cond = threading.Condition(self.lock)
        self.generation = 0
        self.members: dict[str, bytes] = {}      # member_id -> metadata (stable set)
        self.joined: dict[str, bytes] = {}       # members of the in-flight rebalance
        self.leader: str | None = None
        self.rebalancing = False
        self.assignments: dict[str, bytes] = {}
        self.sync_generation = -1
        self.offsets: dict[tuple[str, int], int] = {}
        self._next_member = 0
        # KIP-345 static membership: group.instance.id -> member_id
        self.static: dict[str, str] = {}
        # monotonic time before which an empty group's first rebalance
        # may not complete (0: no initial delay pending)
        self._initial_until = 0.0
        self._initial_cap = 0.0

    def join(self, member_id: str, metadata: bytes,
             instance_id: str | None = None) -> dict:
        with self.cond:
            if instance_id is not None:
                fast = self._join_static(member_id, metadata, instance_id)
                if fast is not None:
                    return fast
                member_id = self.static[instance_id]
            elif not member_id:
                self._next_member += 1
                member_id = f"member-{self._next_member}"
            now = time.monotonic()
            if not self.rebalancing:
                self.rebalancing = True
                self.joined = {}
                if not self.members:
                    self._initial_cap = now + self.REBALANCE_WINDOW_S
            if not self.members and member_id not in self.joined:
                self._initial_until = min(
                    now + self.INITIAL_REBALANCE_DELAY_S, self._initial_cap)
                self.cond.notify_all()  # waiters re-read the delay
            self.joined[member_id] = metadata
            # barrier: wait until every member of the PREVIOUS stable set
            # has rejoined (plus any newcomers) and an empty group's
            # initial delay is over, or the window lapses and stragglers
            # are evicted — then the first waiter completes the
            # rebalance for everyone
            deadline = now + self.REBALANCE_WINDOW_S
            while self.rebalancing:
                expected = set(self.members) | set(self.joined)
                wait_initial = self._initial_until - time.monotonic()
                if set(self.joined) >= expected and wait_initial <= 0:
                    self._complete()
                    break
                remaining = deadline - time.monotonic()
                if remaining <= 0:
                    self._complete()  # evict stragglers
                    break
                self.cond.wait(min(remaining, wait_initial)
                               if wait_initial > 0 else remaining)
            if member_id not in self.members:
                # a concurrent completion evicted us (joined after the
                # window closed) — caller should retry
                return {"error": 27, "member_id": member_id}  # REBALANCE_IN_PROGRESS
            return {
                "error": 0,
                "generation": self.generation,
                "member_id": member_id,
                "leader": self.leader,
                "members": sorted(self.members.items()) if member_id == self.leader else [],
            }

    def _join_static(self, member_id: str, metadata: bytes,
                     instance_id: str) -> dict | None:
        """KIP-345 static join (caller holds the lock).  A known
        instance rejoining a STABLE group takes over its seat with a
        fresh member id and NO rebalance — the whole point of static
        membership; the displaced member id is fenced.  A non-empty
        member id that doesn't match the instance's registration is a
        zombie — FENCED_INSTANCE_ID.  Returns None to fall through to
        the normal join barrier (first join of this instance, or the
        group is mid-rebalance) with ``self.static[instance_id]``
        resolved."""
        known = self.static.get(instance_id)
        if member_id and known is not None and member_id != known:
            return {"error": 82, "member_id": member_id}  # FENCED
        if (known is not None and known in self.members
                and not self.rebalancing):
            # takeover: swap the seat to a fresh member id (the old id
            # is now fenced), keep generation and assignment
            self._next_member += 1
            new_id = f"member-{self._next_member}"
            self.members[new_id] = metadata
            del self.members[known]
            if known in self.assignments:
                self.assignments[new_id] = self.assignments.pop(known)
            if self.leader == known:
                self.leader = new_id
            self.static[instance_id] = new_id
            return {
                "error": 0,
                "generation": self.generation,
                "member_id": new_id,
                # the rejoin must get the CACHED assignment, not compute
                # a new one: report the old leader id and no member list
                # so the client takes the follower SyncGroup path
                # (KIP-345: "the leader rejoin will not trigger
                # rebalance")
                "leader": known if self.leader == new_id else self.leader,
                "members": [],
            }
        if known is None or known not in self.members:
            # first join of this instance (or its seat was evicted):
            # register, then take the normal barrier path
            self._next_member += 1
            self.static[instance_id] = f"member-{self._next_member}"
        return None

    def fence_check(self, member_id: str,
                    instance_id: str | None) -> int:
        """0, or FENCED_INSTANCE_ID when the (instance, member) pairing
        is stale (another incarnation took the seat)."""
        if (instance_id is not None
                and self.static.get(instance_id) != member_id):
            return 82
        return 0

    def _complete(self):
        if not self.rebalancing:
            return
        self.members = dict(self.joined)
        self.generation += 1
        self.leader = sorted(self.members)[0] if self.members else None
        self.rebalancing = False
        self.assignments = {}
        self.cond.notify_all()

    def sync(self, member_id: str, generation: int, assignments: list[tuple[str, bytes]]) -> tuple[int, bytes]:
        with self.cond:
            if member_id not in self.members:
                return 25, b""  # UNKNOWN_MEMBER_ID
            if generation != self.generation or self.rebalancing:
                return 22, b""  # ILLEGAL_GENERATION
            if member_id == self.leader and assignments:
                self.assignments = dict(assignments)
                self.sync_generation = generation
                self.cond.notify_all()
            while self.sync_generation != generation:
                if self.rebalancing or generation != self.generation:
                    return 27, b""
                self.cond.wait(_Group.REBALANCE_WINDOW_S)
            return 0, self.assignments.get(member_id, b"")

    def heartbeat(self, member_id: str, generation: int) -> int:
        with self.lock:
            if member_id not in self.members:
                return 25
            if self.rebalancing:
                return 27
            if generation != self.generation:
                return 22
            return 0

    def leave(self, member_id: str) -> int:
        with self.cond:
            self.members.pop(member_id, None)
            self.joined.pop(member_id, None)
            # next heartbeat of the survivors triggers their rejoin
            self.rebalancing = True
            self.joined = {}
            self.cond.notify_all()
            return 0

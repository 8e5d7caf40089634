"""Kafka wire-protocol client: connect, handshake, produce, fetch.

The producer path mirrors what the reference's sarama/franz-go clients do
on behalf of `pkg/sink/kafka`: ApiVersions handshake, Metadata for the
topic, then Produce requests carrying v2 record batches (acks=-1). The
consumer path is the storage-consumer analogue: Fetch loops until the
high watermark. Every request goes out at the version the handshake
negotiated from the codec's ``kw.VERSIONS``.

Runs inside executor Python workers (each partition dials its own TCP
connection) — see sink_queries.kafka_live_roundtrip for the distributed
composition.
"""

from __future__ import annotations

import socket
import struct

from ticdc_spark.codec import kafka_wire as kw
from ticdc_spark.endpoint import recv_exact

# GSSAPI credentials cache (see _sasl_auth): full-credentials key ->
# (service ticket, session key).  Worker processes are reused across
# tasks, so one AS+TGS exchange serves every connection of a run.
_KRB_CCACHE: dict = {}


class KafkaConn:
    def __init__(self, host: str, port: int, client_id: str = "ticdc-spark",
                 timeout: float = 30.0, sasl: tuple[str, str, str] | None = None,
                 tls_ca: bytes | None = None,
                 tls_client_cert: tuple[bytes, bytes] | None = None,
                 kafka_version: str | None = None,
                 tls_insecure: bool = False):
        """``sasl``: (mechanism, username, password) — PLAIN or
        SCRAM-SHA-256, run after the ApiVersions probe like sarama's
        SASL_PLAINTEXT dialer. ``tls_ca``: PEM to pin for an SSL/SASL_SSL
        listener (the enable-tls + ca-path sink-URI options);
        ``tls_client_cert``: (cert_pem, key_pem) presented to an mTLS
        listener (the cert-path/key-path options).

        ``kafka_version`` ([sink.kafka-config] kafka-version,
        `pkg/sink/kafka/options.go:253-255` IsAssignedVersion): caps the
        negotiated request versions the way sarama's version gates do —
        a version below 2.4.0 (KIP-482) never sends flexible frames,
        even to a broker that offers them."""
        self._version_cap = (
            tuple(int(x) for x in kafka_version.split(".")[:3])
            if kafka_version else None)
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        if tls_insecure:
            # insecure-skip-verify (`pkg/config/sink.go:494`; only when
            # EnableTLS, `options.go:423-425`; sarama sets
            # tls.Config.InsecureSkipVerify, `sarama_config.go:112`):
            # TLS transport WITHOUT chain or hostname verification
            from ticdc_spark.codec.tlsutil import insecure_client_context

            cert, key = tls_client_cert or (None, None)
            self.sock = insecure_client_context(cert, key).wrap_socket(
                self.sock, server_hostname=host)
        elif tls_ca is not None:
            from ticdc_spark.codec.tlsutil import client_context

            cert, key = tls_client_cert or (None, None)
            self.sock = client_context(tls_ca, cert, key).wrap_socket(
                self.sock, server_hostname=host)
        self.client_id = client_id
        self._corr = 0
        self.api_versions = self._handshake()
        if sasl is not None:
            self._sasl_auth(*sasl)

    @classmethod
    def from_bootstrap(cls, bootstrap: str, **kw_) -> "KafkaConn":
        host, port = bootstrap.rsplit(":", 1)
        return cls(host, int(port), **kw_)

    def close(self):
        try:
            self.sock.close()
        except OSError:
            pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    # -- request/response round trip

    def _send_only(self, api_key: int, api_version: int,
                   body: bytes) -> None:
        """Fire-and-forget request: acks=0 produces get NO response on
        the wire (replying would desynchronize correlation ids), so the
        sender must not wait — sarama's NoResponse path."""
        self._corr += 1
        self.sock.sendall(kw.frame_request(api_key, api_version, self._corr,
                                           self.client_id, body))

    def _call(self, api_key: int, api_version: int, body: bytes) -> kw.Reader:
        self._corr += 1
        corr = self._corr
        self.sock.sendall(kw.frame_request(api_key, api_version, corr,
                                           self.client_id, body))
        hdr = recv_exact(self.sock, 4)
        if hdr is None:
            raise IOError("broker closed connection")
        (size,) = struct.unpack(">i", hdr)
        payload = recv_exact(self.sock, size)
        if payload is None:
            raise IOError("broker closed connection mid-response")
        got_corr, r = kw.parse_response_header(payload, api_key, api_version)
        if got_corr != corr:
            raise IOError(f"correlation id mismatch: sent {corr}, got {got_corr}")
        return r

    def _rpc(self, api_key: int, enc, dec, *args, **kwargs):
        """One request/response at the negotiated version of ``api_key``:
        ``dec(reader, version)`` of the reply to ``enc(version, *args)``."""
        ver = self._ver[api_key]
        return dec(self._call(api_key, ver, enc(ver, *args, **kwargs)), ver)

    def _handshake(self) -> dict[int, tuple[int, int]]:
        """ApiVersions negotiation like a modern client: lead with v3
        (flexible); a broker that caps lower answers UNSUPPORTED_VERSION
        in v0 format with its ranges, and we re-probe with v0.  Then pin,
        per API, the newest of the codec's versions the broker offers."""
        r = self._call(kw.API_API_VERSIONS, 3, kw.enc_api_versions_request(3))
        err = r.i16()
        if err == kw.ERR_UNSUPPORTED_VERSION:
            versions = kw.dec_api_versions_response(self._call(
                kw.API_API_VERSIONS, 0, kw.enc_api_versions_request(0)), 0)
        elif err:
            raise IOError(f"ApiVersions error {err}")
        else:
            r.pos -= 2  # rewind the peeked error code
            versions = kw.dec_api_versions_response(r, 3)

        # kafka-version downgrade: below 2.4.0 there are no flexible
        # (KIP-482) frames — an assigned old version pins the classic
        # floors, matching sarama's version-gated request construction
        classic = (self._version_cap is not None
                   and self._version_cap < (2, 4, 0))

        def pick(api: int) -> int:
            ours = kw.VERSIONS[api]
            if api not in versions:
                # a minimal broker's map omits the api: assume the floor
                return ours[0]
            lo, hi = versions[api]
            for v in (ours[:1] if classic else ours[::-1]):
                if lo <= v <= hi:
                    return v
            raise IOError(f"broker doesn't support api {api} at any of "
                          f"v{ours} (offers {lo}..{hi})")

        self._ver = {api: pick(api) for api in kw.VERSIONS}
        return versions

    def _sasl_auth(self, mechanism: str, username: str, password: str,
                   gssapi_opts: dict | None = None) -> None:
        import base64
        import os as _os

        err, offered = self._rpc(kw.API_SASL_HANDSHAKE,
                                 kw.enc_sasl_handshake_request,
                                 kw.dec_sasl_handshake_response, mechanism)
        if err:
            raise IOError(f"SASL mechanism {mechanism} rejected "
                          f"(error {err}; broker offers {offered})")

        def authenticate(payload: bytes) -> bytes:
            aerr, msg, out = self._rpc(kw.API_SASL_AUTHENTICATE,
                                       kw.enc_sasl_authenticate_request,
                                       kw.dec_sasl_authenticate_response,
                                       payload)
            if aerr:
                raise IOError(f"SASL authentication failed: {msg}")
            return out

        if mechanism == "GSSAPI":
            # RFC 4752 over Kerberos (RFC 4120/4121): kinit at the KDC,
            # TGS for the broker service principal, AP-REQ/AP-REP
            # context, then the wrapped security-layer negotiation.
            # ``username`` = client principal, ``password`` = its
            # password; gssapi_opts = {"kdc", "realm", "service"} plus
            # optionally "key" (the long-term key read from a keytab —
            # sasl-gssapi-auth-type=keytab, `pkg/security/sasl.go:113`).
            from ticdc_spark.codec import gssapi as _gss
            from ticdc_spark.sinks.kdc_server import (get_service_ticket,
                                                      kinit)

            opts = gssapi_opts or {}
            kdc, realm = opts["kdc"], opts["realm"]
            service = opts["service"]
            # per-process credentials cache (the MIT ccache shape every
            # real Kerberos client keeps): tickets are reusable until
            # expiry by design, only the AP-REQ authenticator must be
            # fresh per context (and init_context_token mints one per
            # call).  Keyed by the FULL credentials, so a wrong
            # password never hits a cached ticket and refusal
            # semantics are untouched.  Saves one AS + one TGS exchange
            # per connection (guide §4.5 — heavyweight init once).
            # NOTE: the cache key holds the plaintext password for the
            # process lifetime — acceptable for this in-process test
            # KDC, do NOT lift the pattern into a real client (key on a
            # digest and store tickets in a real ccache instead).
            ck = (kdc, realm, username, password, opts.get("key"), service)

            def fresh_ticket():
                tgt, tgt_key = kinit(kdc, realm, username, password,
                                     client_key=opts.get("key"))
                st, skey = get_service_ticket(kdc, realm, username, tgt,
                                              tgt_key, service)
                if len(_KRB_CCACHE) < 256:
                    _KRB_CCACHE[ck] = (st, skey)
                return st, skey

            cached = _KRB_CCACHE.get(ck)
            st, skey = cached if cached is not None else fresh_ticket()
            try:
                ap_rep = authenticate(
                    _gss.init_context_token(st, skey, realm, username))
                _gss.check_ap_rep(ap_rep, skey)
            except Exception:
                # a cached service ticket can go stale (KDC/broker
                # restarted with a rotated service key in a long-lived
                # worker): evict and retry ONCE with a fresh kinit so
                # the process has a path back; a genuinely bad
                # credential fails the retry the same way it always did
                if cached is None:
                    raise
                _KRB_CCACHE.pop(ck, None)
                st, skey = fresh_ticket()
                ap_rep = authenticate(
                    _gss.init_context_token(st, skey, realm, username))
                _gss.check_ap_rep(ap_rep, skey)
            offer = authenticate(b"")  # solicit the security-layer offer
            authenticate(_gss.sec_layer_choice(skey, offer))
            return
        if mechanism == "PLAIN":
            authenticate(b"\x00" + username.encode() + b"\x00" + password.encode())
            return
        if mechanism == "OAUTHBEARER":
            # the provider fetches a bearer token first (oauth2_token_
            # provider.go: client-credentials grant), then one
            # SaslAuthenticate round carries the RFC 7628 response.
            # Preferred form: gssapi_opts carries the sasl-oauth-*
            # family (`pkg/config/sink.go:483-489` via
            # config.kafka_sasl_spec) — token_url/client_id/
            # client_secret/scopes/grant_type/audience.  Legacy form:
            # username = token URL, password = "client_id:client_secret".
            from ticdc_spark.codec import oauth2 as _oauth2

            opts = gssapi_opts or {}
            if opts.get("token_url"):
                token = _oauth2.fetch_token(
                    opts["token_url"], opts["client_id"],
                    opts["client_secret"],
                    audience=opts.get("audience") or None,
                    scope=(" ".join(opts["scopes"])
                           if opts.get("scopes") else None),
                    grant_type=opts.get("grant_type",
                                        "client_credentials"))
            else:
                client_id, _, client_secret = password.partition(":")
                token = _oauth2.fetch_token(username, client_id,
                                            client_secret)
            authenticate(_oauth2.oauthbearer_initial_response(token))
            return
        if mechanism in ("SCRAM-SHA-256", "SCRAM-SHA-512"):
            from ticdc_spark.codec import scram as _scram

            algo = "sha512" if mechanism == "SCRAM-SHA-512" else "sha256"
            client_first = _scram.client_first_message(
                username, base64.b64encode(_os.urandom(12)).decode())
            server_first = authenticate(client_first.encode()).decode()
            final, expect_sig = _scram.client_final_message(
                client_first, server_first, password, algo=algo)
            server_final = authenticate(final.encode()).decode()
            if not _scram.client_check_server_final(server_final, expect_sig):
                raise IOError("SCRAM server signature mismatch (MITM?)")
            return
        raise ValueError(f"unsupported SASL mechanism {mechanism}")

    # -- api calls

    def metadata(self, topics: list[str] | None = None) -> dict:
        return self._rpc(kw.API_METADATA, kw.enc_metadata_request,
                         kw.dec_metadata_response, topics)

    def init_producer_id(self, txn_id: str | None = None) -> tuple[int, int]:
        """KIP-98: acquire a (producer_id, epoch) from the broker for
        idempotent produces; with ``txn_id``, register/fence the
        transactional producer (same pid, bumped epoch on re-init)."""
        return self._rpc(kw.API_INIT_PRODUCER_ID,
                         kw.enc_init_producer_id_request,
                         kw.dec_init_producer_id_response, txn_id)

    def add_partitions_to_txn(self, txn_id: str, producer: tuple[int, int],
                              topic_partitions: dict[str, list[int]]) -> None:
        res = self._rpc(kw.API_ADD_PARTITIONS_TO_TXN,
                        kw.enc_add_partitions_to_txn_request,
                        kw.dec_add_partitions_to_txn_response,
                        txn_id, producer[0], producer[1], topic_partitions)
        for topic, parts in res.items():
            for p, err in parts.items():
                if err:
                    raise IOError(
                        f"AddPartitionsToTxn {topic}/{p}: error {err}")

    def end_txn(self, txn_id: str, producer: tuple[int, int],
                commit: bool) -> None:
        err = self._rpc(kw.API_END_TXN, kw.enc_end_txn_request,
                        kw.dec_end_txn_response,
                        txn_id, producer[0], producer[1], commit)
        if err:
            raise IOError(f"EndTxn: error {err}")

    def produce(
        self,
        topic: str,
        partition: int,
        records: list[kw.Record],
        compression: str = "none",
        base_timestamp: int = 0,
        producer: tuple[int, int] | None = None,
        base_sequence: int = -1,
        transactional: bool = False,
        acks: int = -1,
    ) -> int:
        """Produce one batch; returns the assigned base offset.
        ``producer=(pid, epoch)`` + ``base_sequence`` make the batch
        idempotent: a retry resent with the same sequence dedups broker-
        side to the original offset (exactly-once produce).

        ``acks`` (required-acks, `options.go:80-108`): -1 WaitForAll
        (default), 1 WaitForLocal, 0 NoResponse — with acks=0 the
        broker sends NOTHING back; the call returns -1 immediately
        (fire-and-forget, no delivery guarantee)."""
        pid, pepoch = producer if producer is not None else (-1, -1)
        record_set = kw.encode_record_batch(
            records, base_timestamp=base_timestamp, compression=compression,
            producer_id=pid, producer_epoch=pepoch,
            base_sequence=base_sequence, transactional=transactional,
        )
        resp = self._produce_request({topic: {partition: record_set}}, acks)
        return -1 if resp is None else resp[topic][partition][1]

    def produce_all(self, batches: dict[str, dict[int, list[kw.Record]]]
                    ) -> None:
        """Produce one batch per partition in ONE Produce request
        (acks=-1); any partition's error fails the call.  The broadcast
        shape: a control message to every partition costs one round
        trip, not one per partition."""
        self._produce_request({
            topic: {p: kw.encode_record_batch(recs)
                    for p, recs in parts.items()}
            for topic, parts in batches.items()})

    def _produce_request(self, topic_data: dict[str, dict[int, bytes]],
                         acks: int = -1) -> dict | None:
        """Send encoded record sets and check every partition's error
        code -> the decoded response ``{topic: {partition: (err, base)}}``;
        acks=0 waits for nothing and returns None."""
        ver = self._ver[kw.API_PRODUCE]
        body = kw.enc_produce_request(ver, topic_data, acks=acks)
        if acks == 0:
            self._send_only(kw.API_PRODUCE, ver, body)
            return None
        resp = kw.dec_produce_response(
            self._call(kw.API_PRODUCE, ver, body), ver)
        for topic, parts in topic_data.items():
            for partition in parts:
                err, _base = resp[topic][partition]
                if err:
                    raise IOError(f"produce to {topic}/{partition} failed: "
                                  f"error_code={err}")
        return resp

    def fetch_all(self, topic: str, partition: int, from_offset: int = 0,
                  isolation: str = "read_uncommitted",
                  ) -> list[tuple[int, kw.Record]]:
        """Fetch every record in [from_offset, high watermark) ->
        [(offset, record)].  Control batches (txn markers) are never
        surfaced; under ``isolation="read_committed"`` data from aborted
        transactions is filtered using the response's aborted list and
        the abort markers, and the scan stops at the last stable offset
        (open transactions stay invisible)."""
        iso = 1 if isolation == "read_committed" else 0
        out: list[tuple[int, kw.Record]] = []
        offset = from_offset
        while True:
            top_err, _, resp = self._rpc(
                kw.API_FETCH, kw.enc_fetch_request, kw.dec_fetch_response,
                [(topic, partition, offset, 1 << 26)], isolation=iso)
            if top_err:
                raise IOError(f"fetch error {top_err}")
            (_, _, err, hw, lso, aborted, record_set) = resp[0]
            if err:
                raise IOError(f"fetch {topic}/{partition}@{offset}: error_code={err}")
            end = lso if iso else hw
            if not record_set:
                return out
            recs, nxt = _fold_record_set(record_set, offset, end, aborted,
                                         iso)
            out += recs
            if nxt == offset or nxt >= end:
                return out
            offset = nxt


def _fold_record_set(record_set: bytes, start: int, end: int, aborted,
                     iso: int) -> tuple[list[tuple[int, kw.Record]], int]:
    """The READ_COMMITTED fold of one partition's fetched record set ->
    ([(offset, record)] within [start, end), the next fetch position).

    Control batches (txn markers) never surface.  Under ``iso=1`` the
    scan stops at ``end`` (the LSO) and transactional batches inside the
    response's ``aborted`` ranges [(pid, first offset)] are dropped; an
    ABORT marker consumes its pid's oldest pending range (commits
    don't).  A partial tail batch ends the scan."""
    abort_pending: dict[int, list[int]] = {}
    for pid_a, first in sorted(aborted or (), key=lambda x: x[1]):
        abort_pending.setdefault(pid_a, []).append(first)
    out: list[tuple[int, kw.Record]] = []
    nxt = start
    pos = 0
    while pos + 12 <= len(record_set):
        blen = struct.unpack_from(">i", record_set, pos + 8)[0]
        bend = pos + 12 + blen
        if blen < 0 or bend > len(record_set):
            break  # partial tail
        batch = record_set[pos:bend]
        pos = bend
        base = struct.unpack_from(">q", batch, 0)[0]
        if base >= end:
            continue
        attrs = kw.batch_attributes(batch)
        pid = kw.batch_producer_meta(batch)[0]
        nxt = max(nxt, base + struct.unpack_from(">i", batch, 57)[0])
        if attrs & kw.ATTR_CONTROL:
            if iso and abort_pending.get(pid):
                [(_, recs0)] = kw.decode_record_batches(batch)
                if (kw.dec_control_record(recs0[0]) == kw.CONTROL_ABORT
                        and base > abort_pending[pid][0]):
                    abort_pending[pid].pop(0)
            continue
        if (iso and (attrs & kw.ATTR_TRANSACTIONAL)
                and abort_pending.get(pid)
                and base >= abort_pending[pid][0]):
            # inside an aborted transaction — only transactional batches
            # filter; an idempotent-only batch from the same pid
            # interleaved in the range stays visible
            continue
        for b2, records in kw.decode_record_batches(batch):
            for rec in records:
                off = b2 + rec.offset_delta
                if start <= off < end:
                    out.append((off, rec))
    return out, nxt


class FetchSession:
    """KIP-227 incremental fetch session — the steady-state fetch loop a
    modern sarama/franz-go consumer (the reference's client family,
    `pkg/sink/kafka/sarama_config.go`) runs against a post-1.1 broker:
    the FIRST poll sends a full request (session_epoch=0, every
    partition listed) and learns a session id; every later poll is an
    incremental frame that lists NO partitions (the broker serves from
    its cached session state and omits unchanged partitions from the
    response).  ``seek()`` re-lists one partition to move its position;
    ``forget()`` removes one.  Session errors 69/71 (broker restart,
    cache eviction, epoch desync) transparently fall back to a new full
    request at the current positions.  Requires the flexible Fetch v12.
    """

    def __init__(self, conn: KafkaConn,
                 assignments: dict[tuple[str, int], int],
                 isolation: str = "read_uncommitted"):
        if conn._ver[kw.API_FETCH] < 12:
            raise RuntimeError("fetch sessions need the flexible "
                               "Fetch v12 (broker negotiated "
                               f"v{conn._ver[kw.API_FETCH]})")
        self.conn = conn
        self.iso = 1 if isolation == "read_committed" else 0
        self.positions = dict(assignments)  # (topic, p) -> next offset
        self.session_id = 0
        self.epoch = 0  # 0 = next request is full
        self._pending: dict[tuple[str, int], int] = {}  # seeks to send
        self._forgotten: list[tuple[str, int]] = []

    def seek(self, topic: str, partition: int, offset: int) -> None:
        self.positions[(topic, partition)] = offset
        self._pending[(topic, partition)] = offset

    def forget(self, topic: str, partition: int) -> None:
        self.positions.pop((topic, partition), None)
        self._pending.pop((topic, partition), None)
        self._forgotten.append((topic, partition))

    def poll(self) -> dict[tuple[str, int], list[tuple[int, kw.Record]]]:
        """One fetch round -> {(topic, partition): [(offset, record)]}
        holding only partitions with new data."""
        if self.epoch == 0:
            wants = [(t, p, off, 1 << 26)
                     for (t, p), off in self.positions.items()]
            forgotten: list = []
        else:
            wants = [(t, p, off, 1 << 26)
                     for (t, p), off in self._pending.items()]
            by_topic: dict[str, list[int]] = {}
            for t, p in self._forgotten:
                by_topic.setdefault(t, []).append(p)
            forgotten = sorted(by_topic.items())
        top_err, sid, parts = self.conn._rpc(
            kw.API_FETCH, kw.enc_fetch_request, kw.dec_fetch_response, wants,
            isolation=self.iso, session_id=self.session_id,
            session_epoch=self.epoch, forgotten=forgotten)
        if top_err in (kw.ERR_FETCH_SESSION_ID_NOT_FOUND,
                       kw.ERR_INVALID_FETCH_SESSION_EPOCH):
            # session lost: retry as a full request (KIP-227 client rule)
            self.session_id, self.epoch = 0, 0
            self._pending.clear()
            self._forgotten.clear()
            return self.poll()
        if top_err:
            raise IOError(f"fetch session error {top_err}")
        if self.epoch == 0 and sid:
            self.session_id = sid
        self.epoch += 1
        self._pending.clear()
        self._forgotten.clear()
        out: dict[tuple[str, int], list[tuple[int, kw.Record]]] = {}
        for topic, idx, err, hw, lso, aborted, rs in parts:
            if err:
                raise IOError(f"fetch {topic}/{idx}: error {err}")
            if not rs:
                continue
            old_pos = self.positions.get((topic, idx), 0)
            recs, new_pos = _fold_record_set(
                rs, old_pos, lso if self.iso else hw, aborted, self.iso)
            if recs:
                out[(topic, idx)] = recs
            if new_pos != old_pos:
                # KIP-227 client rule: a partition whose position moved
                # is RE-LISTED in the next incremental request — the
                # broker's cached fetch offset never advances by itself
                self.positions[(topic, idx)] = new_pos
                self._pending[(topic, idx)] = new_pos
        return out


class ConsumerGroupMember:
    """Consumer-group membership — the coordination loop the reference's
    `cmd/kafka-consumer` gets from sarama: FindCoordinator, JoinGroup,
    client-side range assignment by the elected leader, SyncGroup,
    heartbeats, offset commit/fetch, LeaveGroup. One TCP connection; the
    group protocol rides the same wire as produce/fetch."""

    def __init__(self, bootstrap: str, group_id: str, topics: list[str],
                 group_instance_id: str | None = None):
        # group_instance_id: KIP-345 static membership — a restarted
        # process with the same instance id takes its seat back with NO
        # rebalance (needs the flexible JoinGroup v6+ wire)
        self.group_id = group_id
        self.topics = topics
        self.instance_id = group_instance_id
        self.member_id = ""
        self.generation = -1
        self.assignment: dict[str, list[int]] = {}
        self.group_size: int | None = None  # from assignor user_data
        # FindCoordinator names the group's coordinator; dial it (here the
        # same single broker, but the redirect is honored like a client)
        with KafkaConn.from_bootstrap(bootstrap) as bootconn:
            host, port = bootconn._rpc(kw.API_FIND_COORDINATOR,
                                       kw.enc_find_coordinator_request,
                                       kw.dec_find_coordinator_response,
                                       group_id)
        self.conn = KafkaConn(host, port, client_id=f"cg-{group_id}")

    def close(self):
        self.conn.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    # -- join/sync with rejoin-on-rebalance

    def join_and_sync(self, max_rejoins: int = 5) -> dict[str, list[int]]:
        for _ in range(max_rejoins):
            resp = self.conn._rpc(
                kw.API_JOIN_GROUP, kw.enc_join_group_request,
                kw.dec_join_group_response, self.group_id, self.member_id,
                self.topics, group_instance_id=self.instance_id)
            self.member_id = resp["member_id"]
            if resp["error"] == kw.ERR_REBALANCE_IN_PROGRESS:
                continue
            if resp["error"]:
                raise IOError(f"JoinGroup error {resp['error']}")
            self.generation = resp["generation"]
            assignments: list[tuple[str, bytes]] = []
            if resp["member_id"] == resp["leader"]:
                assignments = self._range_assign(resp["members"])
            err, blob = self.conn._rpc(
                kw.API_SYNC_GROUP, kw.enc_sync_group_request,
                kw.dec_sync_group_response, self.group_id, self.generation,
                self.member_id, assignments,
                group_instance_id=self.instance_id)
            if err in (kw.ERR_REBALANCE_IN_PROGRESS, kw.ERR_ILLEGAL_GENERATION):
                continue
            if err:
                raise IOError(f"SyncGroup error {err}")
            self.assignment, user = kw.dec_consumer_assignment_full(blob)
            # group size from the leader's assignor user_data (absent
            # when the leader is a foreign assignor -> None)
            self.group_size = (struct.unpack(">i", user)[0]
                               if len(user) == 4 else None)
            return self.assignment
        raise IOError("rebalance did not settle")

    def _range_assign(self, members: list[tuple[str, bytes]]) -> list[tuple[str, bytes]]:
        """Client-side range assignor (the leader's job in the consumer
        protocol): per topic, contiguous partition ranges over the sorted
        member list, first members absorbing the remainder."""
        md = self.conn.metadata(sorted({t for _, m in members
                                        for t in kw.dec_consumer_metadata(m)}))
        plan: dict[str, dict[str, list[int]]] = {mid: {} for mid, _ in members}
        subs = {mid: set(kw.dec_consumer_metadata(m)) for mid, m in members}
        for topic, info in sorted(md["topics"].items()):
            want = sorted(mid for mid in subs if topic in subs[mid])
            if not want:
                continue
            parts = sorted(p["index"] for p in info["partitions"])
            n, r = divmod(len(parts), len(want))
            start = 0
            for i, mid in enumerate(want):
                take = n + (1 if i < r else 0)
                if take:
                    plan[mid][topic] = parts[start : start + take]
                start += take
        # assignor user_data carries the generation's member count so
        # every follower can see when the group is fully formed (the
        # event-driven settle fast path) without extra wire calls
        user = struct.pack(">i", len(members))
        return [(mid, kw.enc_consumer_assignment(tp, user_data=user))
                for mid, tp in plan.items()]

    # -- offsets + heartbeat + leave

    def heartbeat(self) -> int:
        return self.conn._rpc(
            kw.API_HEARTBEAT, kw.enc_heartbeat_request,
            kw.dec_heartbeat_response, self.group_id, self.generation,
            self.member_id, group_instance_id=self.instance_id)

    def commit_offsets(self, offsets: dict[tuple[str, int], int]) -> None:
        res = self.conn._rpc(
            kw.API_OFFSET_COMMIT, kw.enc_offset_commit_request,
            kw.dec_offset_commit_response, self.group_id, self.generation,
            self.member_id, offsets, group_instance_id=self.instance_id)
        bad = {tp: e for tp, e in res.items() if e}
        if bad:
            raise IOError(f"OffsetCommit errors: {bad}")

    def fetch_committed(self) -> dict[tuple[str, int], int]:
        return self.conn._rpc(
            kw.API_OFFSET_FETCH, kw.enc_offset_fetch_request,
            kw.dec_offset_fetch_response, self.group_id, self.assignment)

    def poll_assigned(self) -> dict[tuple[str, int], list]:
        """Consume [committed, hw) for every assigned partition and commit
        the new positions — one reference consumer-loop turn."""
        committed = self.fetch_committed() if self.assignment else {}
        out: dict[tuple[str, int], list] = {}
        new_offsets = {}
        for topic, parts in self.assignment.items():
            for p in parts:
                start = committed.get((topic, p), -1)
                start = 0 if start < 0 else start
                recs = self.conn.fetch_all(topic, p, from_offset=start)
                out[(topic, p)] = recs
                if recs:
                    new_offsets[(topic, p)] = recs[-1][0] + 1
        if new_offsets:
            self.commit_offsets(new_offsets)
        return out

    def leave(self) -> None:
        self.conn._rpc(kw.API_LEAVE_GROUP, kw.enc_leave_group_request,
                       kw.dec_leave_group_response, self.group_id,
                       self.member_id)


# -- admin calls (ClusterAdminClient parity: `pkg/sink/kafka/admin.go`)


def create_topic(conn: KafkaConn, name: str, num_partitions: int,
                 replication_factor: int = 1, configs: dict | None = None,
                 validate_only: bool = False) -> None:
    res = conn._rpc(
        kw.API_CREATE_TOPICS, kw.enc_create_topics_request,
        kw.dec_create_topics_response,
        [(name, num_partitions, replication_factor, configs or {})],
        validate_only=validate_only)
    err, msg = res[name]
    if err and err != kw.ERR_TOPIC_ALREADY_EXISTS:
        raise IOError(f"CreateTopics {name}: error {err}: {msg}")
    if err == kw.ERR_TOPIC_ALREADY_EXISTS:
        raise FileExistsError(msg)


def describe_configs(conn: KafkaConn, resource_type: int, name: str,
                     keys: list[str] | None = None) -> dict[str, str | None]:
    res = conn._rpc(kw.API_DESCRIBE_CONFIGS, kw.enc_describe_configs_request,
                    kw.dec_describe_configs_response,
                    [(resource_type, name, keys)])
    return res[0][2]


def adjust_options(
    conn: KafkaConn, topic: str,
    max_message_bytes: int = 10 * 1024 * 1024,
    partition_num: int = 0,
    replication_factor: int = 1,
    auto_create: bool = True,
) -> dict:
    """`pkg/sink/kafka/options.go` AdjustOptions: existing topic -> its
    `max.message.bytes` + partition count reconcile (configured 0 adopts
    the real count; configured > real is an error); missing topic ->
    broker `message.max.bytes`, then create with defaultPartitionNum=3
    when unspecified."""
    md = conn.metadata()  # full listing: don't auto-create on lookup
    exists = topic in md["topics"]
    if exists:
        raw = describe_configs(conn, kw.RESOURCE_TOPIC, topic,
                               ["max.message.bytes"]).get("max.message.bytes")
        if raw is not None:
            max_message_bytes = int(raw)
        real = len(md["topics"][topic]["partitions"])
        if partition_num == 0:
            partition_num = real
        elif partition_num > real:
            raise ValueError(
                f"partition-num {partition_num} > topic partition count {real}")
    else:
        raw = describe_configs(conn, kw.RESOURCE_BROKER, "0",
                               ["message.max.bytes"]).get("message.max.bytes")
        if raw is not None:
            max_message_bytes = int(raw)
        if partition_num == 0:
            partition_num = 3  # defaultPartitionNum
        if auto_create:
            create_topic(conn, topic, partition_num, replication_factor)
    return {"max_message_bytes": max_message_bytes,
            "partition_num": partition_num}


def list_offset(conn: KafkaConn, topic: str, partition: int,
                timestamp: int = kw.OFFSET_LATEST) -> int:
    """Earliest (-2) / latest (-1) offset — the consumer's seek call."""
    res = conn._rpc(kw.API_LIST_OFFSETS, kw.enc_list_offsets_request,
                    kw.dec_list_offsets_response, topic, partition, timestamp)
    return res[(topic, partition)][1]


def offset_for_timestamp(conn: KafkaConn, topic: str, partition: int,
                         timestamp: int) -> tuple[int, int]:
    """Timestamp-based seek (sarama's Client.GetOffset(ts) shape):
    -> (timestamp of the first record >= ts, its offset); (-1, -1) when
    everything in the log is older."""
    ver = conn._ver[kw.API_LIST_OFFSETS]
    if ver < 6:
        # the classic (v0) down-negotiation path returns segment base
        # offsets, not timestamp-indexed lookups — refuse loudly rather
        # than send an unsupported version
        raise RuntimeError(
            "broker negotiated ListOffsets v%d; timestamp lookup needs "
            "the flexible v6+ semantics" % ver)
    res = conn._rpc(kw.API_LIST_OFFSETS, kw.enc_list_offsets_request,
                    kw.dec_list_offsets_response, topic, partition, timestamp)
    return res[(topic, partition)]

"""In-process Pulsar broker speaking the real binary protocol over TCP.

Serves CONNECT/PRODUCER/SEND (payload frames, CRC32C verified) and
SUBSCRIBE/FLOW/MESSAGE push against an in-memory per-topic log. A new
subscription always replays the topic from entry 0 (a reader at
``earliest``), which is what the round-trip queries need.

Purpose: live endpoint for `pkg/sink/pulsar` parity — the frames on the
socket are the public binary protocol; see sinks/pulsar_client.py.
TEST endpoint only; production targets a real cluster.
"""

from __future__ import annotations

import socketserver
import struct
import threading

from ticdc_spark.codec import pulsar_wire as pw
from ticdc_spark.endpoint import Endpoint, recv_exact


class PulsarBroker(Endpoint):
    def __init__(self, host: str = "127.0.0.1", token: str | None = None,
                 tls: bool = False, mutual_tls: bool = False,
                 oauth2_jwt_secret: str | None = None,
                 oauth2_audience: str | None = None,
                 oauth2_now: int = 1_700_000_100,
                 basic_users: dict[str, str] | None = None,
                 require_tls_auth: bool = False):
        # tls=True: a pulsar+ssl:// listener with a fresh self-signed cert;
        # mutual_tls=True demands a client certificate chained to the
        # broker's CA (pulsar's tlsRequireTrustedClientCertOnConnect shape)
        super().__init__(host, tls, mutual_tls)
        # token auth (the reference's `authentication-token` pulsar config,
        # `pkg/sink/pulsar/config.go`): CONNECT must carry
        # auth_method_name="token" + the exact credential
        self.token = token
        # OAuth2 (the reference's sink OAuth2 block,
        # `pkg/config/sink.go:581-597` wired in
        # `pkg/sink/pulsar/factory.go:110-118`): the client runs a
        # client-credentials exchange against the issuer and presents
        # the access token as token auth on the wire (Pulsar's
        # AuthenticationOAuth2 shape); the broker verifies the HS256
        # JWT signature, expiry, and `aud` claim
        self.oauth2_jwt_secret = oauth2_jwt_secret
        self.oauth2_audience = oauth2_audience
        self.oauth2_now = oauth2_now
        # basic auth (the reference's basic-user-name/basic-password,
        # `pkg/sink/pulsar/factory.go:105-109`): Pulsar's
        # AuthenticationBasic presents method "basic" with
        # "user:password" auth data (AuthenticationProviderBasic shape)
        self.basic_users = basic_users
        # mTLS *authentication* (factory.go:122-125): on top of the
        # mutual-TLS transport, CONNECT must declare method "tls"
        # (AuthenticationProviderTls — identity comes from the verified
        # client certificate, auth data is empty)
        self.require_tls_auth = require_tls_auth
        if require_tls_auth and not mutual_tls:
            raise ValueError("require_tls_auth needs mutual_tls=True")
        # topic -> list of (metadata, payload, crc, checked); index ==
        # entryId. crc/checked cached at append so FLOW re-framing per
        # consumer is pure concat (the CRC doesn't cover the command).
        self.topics: dict[str, list[tuple[bytes, bytes, int, bytes]]] = {}
        self._lock = threading.Lock()
        broker = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self):
                sock = broker._accept_tls(self.request)
                if sock is None:
                    return
                try:
                    broker._serve(sock)
                except (ConnectionResetError, BrokenPipeError):
                    return

        self._listen(Handler)

    @property
    def service_url(self) -> str:
        scheme = "pulsar+ssl" if self.tls else "pulsar"
        return f"{scheme}://{self.host}:{self.port}"

    def topic_size(self, topic: str) -> int:
        with self._lock:
            return len(self.topics.get(topic, ()))

    # -- one connection

    def _serve(self, sock):
        producers: dict[int, str] = {}  # producer_id -> topic
        consumers: dict[int, tuple[str, int]] = {}  # consumer_id -> (topic, next_entry)
        connected = False
        while True:
            hdr = recv_exact(sock, 4)
            if hdr is None:
                return
            (total,) = struct.unpack(">I", hdr)
            body = recv_exact(sock, total)
            if body is None:
                return
            # chaos hook: kill the connection mid-conversation (arm
            # `pulsar/drop-connection` with N*return(1)); producers must
            # reconnect + re-register like the real client's retry loop
            from ticdc_spark import failpoint
            if failpoint.inject("pulsar/drop-connection"):
                return
            try:
                command, metadata, payload, crc, checked = pw.parse_frame_raw(body)
            except ValueError as e:
                sock.sendall(pw.frame_simple(pw.cmd_error(0, str(e))))
                continue
            cmd_type, sub = pw.parse_base_command(command)

            if cmd_type == pw.CONNECT:
                if self.oauth2_jwt_secret is not None:
                    from ticdc_spark.codec import oauth2 as _oauth2

                    method = pw.pb_str(sub, 5)
                    data = pw.pb_one(sub, 3, b"")
                    claims = (_oauth2.jwt_verify(
                        data.decode("utf-8", "replace"),
                        self.oauth2_jwt_secret, self.oauth2_now)
                        if method == "token" else None)
                    if claims is None or (
                            self.oauth2_audience is not None
                            and claims.get("aud") != self.oauth2_audience):
                        sock.sendall(pw.frame_simple(pw.cmd_error(
                            0, "AuthenticationError: invalid oauth2 token")))
                        return
                elif self.token is not None:
                    method = pw.pb_str(sub, 5)
                    data = pw.pb_one(sub, 3, b"")
                    if method != "token" or data != self.token.encode():
                        sock.sendall(pw.frame_simple(
                            pw.cmd_error(0, "AuthenticationError: invalid token")))
                        return
                elif self.basic_users is not None:
                    method = pw.pb_str(sub, 5)
                    data = pw.pb_one(sub, 3, b"")
                    user, _, password = data.decode(
                        "utf-8", "replace").partition(":")
                    if (method != "basic"
                            or self.basic_users.get(user) != password
                            or not password):
                        sock.sendall(pw.frame_simple(pw.cmd_error(
                            0, "AuthenticationError: invalid basic "
                               "credentials")))
                        return
                elif self.require_tls_auth:
                    # transport already proved the client cert (the
                    # mTLS wrap rejects untrusted chains); the provider
                    # additionally demands the declared method
                    if pw.pb_str(sub, 5) != "tls":
                        sock.sendall(pw.frame_simple(pw.cmd_error(
                            0, "AuthenticationError: tls authentication "
                               "required")))
                        return
                connected = True
                sock.sendall(pw.frame_simple(pw.cmd_connected()))
            elif not connected:
                sock.sendall(pw.frame_simple(pw.cmd_error(0, "not connected")))
            elif cmd_type == pw.PING:
                sock.sendall(pw.frame_simple(pw.cmd_pong()))
            elif cmd_type == pw.PRODUCER:
                topic = pw.pb_str(sub, 1)
                producer_id = pw.pb_one(sub, 2, 0)
                request_id = pw.pb_one(sub, 3, 0)
                producers[producer_id] = topic
                with self._lock:
                    self.topics.setdefault(topic, [])
                sock.sendall(pw.frame_simple(
                    pw.cmd_producer_success(request_id, f"p-{producer_id}")))
            elif cmd_type == pw.SEND:
                producer_id = pw.pb_one(sub, 1, 0)
                sequence_id = pw.pb_one(sub, 2, 0)
                topic = producers.get(producer_id)
                if topic is None or metadata is None:
                    sock.sendall(pw.frame_simple(pw.cmd_error(0, "unknown producer or no payload")))
                    continue
                with self._lock:
                    log = self.topics[topic]
                    entry_id = len(log)
                    log.append((metadata, payload or b"", crc, checked))
                sock.sendall(pw.frame_simple(
                    pw.cmd_send_receipt(producer_id, sequence_id, 0, entry_id)))
            elif cmd_type == pw.SUBSCRIBE:
                topic = pw.pb_str(sub, 1)
                consumer_id = pw.pb_one(sub, 4, 0)
                request_id = pw.pb_one(sub, 5, 0)
                with self._lock:
                    self.topics.setdefault(topic, [])
                consumers[consumer_id] = (topic, 0)  # replay from earliest
                sock.sendall(pw.frame_simple(pw.cmd_success(request_id)))
            elif cmd_type == pw.FLOW:
                consumer_id = pw.pb_one(sub, 1, 0)
                permits = pw.pb_one(sub, 2, 0)
                state = consumers.get(consumer_id)
                if state is None:
                    sock.sendall(pw.frame_simple(pw.cmd_error(0, "unknown consumer")))
                    continue
                topic, next_entry = state
                with self._lock:
                    log = list(self.topics.get(topic, ()))
                out = bytearray()
                sent = 0
                while sent < permits and next_entry < len(log):
                    _, _, crc, checked = log[next_entry]
                    out += pw.frame_payload_precrc(
                        pw.cmd_message(consumer_id, 0, next_entry), crc, checked)
                    next_entry += 1
                    sent += 1
                consumers[consumer_id] = (topic, next_entry)
                if out:
                    sock.sendall(bytes(out))
            elif cmd_type == pw.GET_LAST_MESSAGE_ID:
                consumer_id = pw.pb_one(sub, 1, 0)
                request_id = pw.pb_one(sub, 2, 0)
                state = consumers.get(consumer_id)
                if state is None:
                    sock.sendall(pw.frame_simple(pw.cmd_error(request_id, "unknown consumer")))
                    continue
                n = self.topic_size(state[0])
                sock.sendall(pw.frame_simple(
                    pw.cmd_get_last_message_id_response(request_id, 0, n - 1)))
            elif cmd_type in (pw.ACK, pw.CLOSE_PRODUCER, pw.CLOSE_CONSUMER):
                pass  # fire-and-forget in this subset
            else:
                sock.sendall(pw.frame_simple(pw.cmd_error(0, f"unsupported command {cmd_type}")))

"""Pulsar binary-protocol client: producer and reader.

What the Go client does for `pkg/sink/pulsar`: CONNECT handshake, a
PRODUCER registration per topic, SEND payload frames (metadata carries
the partition key + properties; CRC32C over metadata+payload), receipts
awaited per message. Reading uses SUBSCRIBE + GET_LAST_MESSAGE_ID +
FLOW-permit message push, i.e. a reader from ``earliest`` to the end.
"""

from __future__ import annotations

import socket
import struct

from ticdc_spark.codec import pulsar_wire as pw
from ticdc_spark.endpoint import recv_exact

_NEG_ONE = (1 << 64) - 1


class PulsarConn:
    def __init__(self, host: str, port: int, timeout: float = 60.0,
                 token: str | None = None, tls_ca: bytes | None = None,
                 tls_client_cert: tuple[bytes, bytes] | None = None,
                 oauth2: dict | None = None,
                 basic: dict | None = None,
                 tls_auth: bool = False,
                 connect_timeout: float | None = None,
                 send_timeout: float | None = None):
        # oauth2: {"issuer_url" (token endpoint), "client_id",
        # "client_secret", "audience"?, "scope"?} — the reference's
        # sink OAuth2 block (`pkg/config/sink.go:581-597`,
        # `pkg/sink/pulsar/factory.go:110-118`).  Pulsar's
        # AuthenticationOAuth2 runs the client-credentials exchange and
        # presents the access token with auth_method_name="token".
        # basic: {"user", "password"} — AuthenticationBasic
        # (`factory.go:105-109`), method "basic" + "user:password" data.
        # tls_auth: AuthenticationTLS (`factory.go:122-125`) — the
        # identity is the client cert; CONNECT declares method "tls".
        if oauth2 is not None:
            from ticdc_spark.codec.oauth2 import fetch_token

            token = fetch_token(
                oauth2["issuer_url"], oauth2["client_id"],
                oauth2["client_secret"],
                audience=oauth2.get("audience"),
                scope=oauth2.get("scope"))
        # connection-timeout bounds the TCP establishment, send-timeout
        # the wait for any unacknowledged request (`pkg/config/sink.go:
        # 624-625,640-643`; pulsar.ClientOptions at factory.go:38)
        self.sock = socket.create_connection(
            (host, port), timeout=connect_timeout or timeout)
        self.sock.settimeout(send_timeout or timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        if tls_ca is not None:
            from ticdc_spark.codec.tlsutil import client_context

            cert, key = tls_client_cert or (None, None)
            self.sock = client_context(tls_ca, cert, key).wrap_socket(
                self.sock, server_hostname=host)
        self._ids = 0
        self._producer_topics: dict[int, int] = {}  # producer_id -> next sequence_id
        if token is not None:
            connect = pw.cmd_connect(auth_method_name="token",
                                     auth_data=token.encode())
        elif basic is not None:
            connect = pw.cmd_connect(
                auth_method_name="basic",
                auth_data=f"{basic['user']}:{basic['password']}".encode())
        elif tls_auth:
            connect = pw.cmd_connect(auth_method_name="tls", auth_data=b"")
        else:
            connect = pw.cmd_connect()
        resp = self._call(pw.frame_simple(connect))
        cmd_type, _ = pw.parse_base_command(resp[0])
        if cmd_type != pw.CONNECTED:
            raise IOError(f"expected CONNECTED, got command {cmd_type}")

    @classmethod
    def from_service_url(cls, url: str, **kw) -> "PulsarConn":
        hostport = url.split("://", 1)[1]
        host, port = hostport.rsplit(":", 1)
        return cls(host, int(port), **kw)

    def close(self):
        try:
            self.sock.close()
        except OSError:
            pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def _next_id(self) -> int:
        self._ids += 1
        return self._ids

    # -- framing

    def _read_frame(self) -> tuple[bytes, bytes | None, bytes | None]:
        hdr = recv_exact(self.sock, 4)
        if hdr is None:
            raise IOError("broker closed connection")
        (total,) = struct.unpack(">I", hdr)
        body = recv_exact(self.sock, total)
        if body is None:
            raise IOError("broker closed mid-frame")
        return pw.parse_frame(body)

    def _call(self, frame: bytes) -> tuple[bytes, bytes | None, bytes | None]:
        self.sock.sendall(frame)
        out = self._read_frame()
        cmd_type, sub = pw.parse_base_command(out[0])
        if cmd_type == pw.ERROR:
            raise IOError(f"pulsar error: {pw.pb_str(sub, 3)}")
        return out

    # -- producer

    def create_producer(self, topic: str) -> int:
        producer_id = self._next_id()
        resp = self._call(pw.frame_simple(
            pw.cmd_producer(topic, producer_id, self._next_id())))
        cmd_type, _ = pw.parse_base_command(resp[0])
        if cmd_type != pw.PRODUCER_SUCCESS:
            raise IOError(f"expected PRODUCER_SUCCESS, got {cmd_type}")
        self._producer_topics[producer_id] = 0
        return producer_id

    def send(
        self,
        producer_id: int,
        payload: bytes,
        partition_key: str | None = None,
        properties: list[tuple[str, str]] | None = None,
        publish_time: int = 0,
    ) -> int:
        """Send one message, await the receipt; returns the entryId."""
        seq = self._producer_topics[producer_id]
        self._producer_topics[producer_id] = seq + 1
        md = pw.message_metadata(f"p-{producer_id}", seq, publish_time,
                                 partition_key, properties)
        resp = self._call(pw.frame_payload(pw.cmd_send(producer_id, seq), md, payload))
        cmd_type, sub = pw.parse_base_command(resp[0])
        if cmd_type != pw.SEND_RECEIPT:
            raise IOError(f"expected SEND_RECEIPT, got {cmd_type}")
        if pw.pb_one(sub, 2) != seq:
            raise IOError("receipt sequence mismatch")
        mid = pw.pb_decode(pw.pb_one(sub, 3))
        return pw.pb_one(mid, 2, 0)

    def send_pipelined(
        self,
        producer_id: int,
        messages: list[tuple[bytes, str | None]],
        window: int = 64,
        batch_size: int = 500,
    ) -> int:
        """Batched + pipelined produce like the real client's defaults:
        messages pack into SEND frames of ≤``batch_size`` (one broker
        entry each, SingleMessageMetadata per message), with up to
        ``window`` frames in flight before receipts are drained in order
        (single connection => ordered receipts; window keeps the receipt
        backlog far below socket buffers, no duplex deadlock).
        Returns the count of messages acknowledged."""
        seq0 = self._producer_topics[producer_id]
        in_flight: list[tuple[int, int]] = []  # (seq, n_messages)
        acked = 0
        seq = seq0
        for i in range(0, len(messages), batch_size):
            chunk = messages[i : i + batch_size]
            md = pw.batch_message_metadata(f"p-{producer_id}", seq, 0, len(chunk))
            self.sock.sendall(pw.frame_payload(
                pw.cmd_send(producer_id, seq), md, pw.encode_batch_payload(chunk)))
            in_flight.append((seq, len(chunk)))
            seq += 1
            if len(in_flight) >= window:
                acked += self._drain_receipts(in_flight)
                in_flight = []
        acked += self._drain_receipts(in_flight)
        self._producer_topics[producer_id] = seq
        return acked

    def _drain_receipts(self, in_flight: list[tuple[int, int]]) -> int:
        acked = 0
        for seq, n_msgs in in_flight:
            command, _, _ = self._read_frame()
            cmd_type, sub = pw.parse_base_command(command)
            if cmd_type == pw.ERROR:
                raise IOError(f"pulsar error: {pw.pb_str(sub, 3)}")
            if cmd_type != pw.SEND_RECEIPT:
                raise IOError(f"expected SEND_RECEIPT, got {cmd_type}")
            if pw.pb_one(sub, 2) != seq:
                raise IOError("receipt sequence mismatch")
            acked += n_msgs
        return acked

    # -- reader (earliest -> last)

    def read_all(self, topic: str, permits_per_flow: int = 1000) -> list[dict]:
        """Subscribe fresh and drain [earliest, last]; returns dicts with
        entry_id, partition_key, properties, payload."""
        consumer_id = self._next_id()
        resp = self._call(pw.frame_simple(
            pw.cmd_subscribe(topic, f"sub-{consumer_id}", consumer_id, self._next_id())))
        cmd_type, _ = pw.parse_base_command(resp[0])
        if cmd_type != pw.SUCCESS:
            raise IOError(f"expected SUCCESS, got {cmd_type}")
        resp = self._call(pw.frame_simple(
            pw.cmd_get_last_message_id(consumer_id, self._next_id())))
        cmd_type, sub = pw.parse_base_command(resp[0])
        if cmd_type != pw.GET_LAST_MESSAGE_ID_RESPONSE:
            raise IOError(f"expected GET_LAST_MESSAGE_ID_RESPONSE, got {cmd_type}")
        last_entry = pw.pb_one(pw.pb_decode(pw.pb_one(sub, 1)), 2, _NEG_ONE)
        if last_entry == _NEG_ONE:
            return []
        out: list[dict] = []
        entries_read = 0
        while entries_read <= last_entry:
            self.sock.sendall(pw.frame_simple(pw.cmd_flow(consumer_id, permits_per_flow)))
            got_any = False
            granted = permits_per_flow
            while entries_read <= last_entry:
                command, metadata, payload = self._read_frame()
                cmd_type, sub = pw.parse_base_command(command)
                if cmd_type == pw.ERROR:
                    raise IOError(f"pulsar error: {pw.pb_str(sub, 3)}")
                if cmd_type != pw.MESSAGE:
                    raise IOError(f"expected MESSAGE, got {cmd_type}")
                md = pw.parse_message_metadata(metadata)
                entry_id = pw.pb_one(pw.pb_decode(pw.pb_one(sub, 2)), 2, 0)
                n_batch = md["num_messages_in_batch"]
                if n_batch:
                    for bi, (pl, key) in enumerate(
                        pw.parse_batch_payload(payload, n_batch)
                    ):
                        out.append({
                            "entry_id": entry_id, "batch_index": bi,
                            "partition_key": key, "properties": [],
                            "payload": pl,
                        })
                else:
                    out.append({
                        "entry_id": entry_id, "batch_index": None,
                        "partition_key": md["partition_key"],
                        "properties": md["properties"],
                        "payload": payload,
                    })
                got_any = True
                entries_read += 1
                granted -= 1
                if granted == 0:
                    break  # permits exhausted; issue a new FLOW
            if not got_any:
                raise IOError("broker sent no messages for granted permits")
        return out

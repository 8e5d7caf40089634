"""The scaffolding every in-process stand-in endpoint shares.

Each downstream (Kafka, Pulsar, MySQL, the Kerberos KDC, the S3/GCS/
Azure object stores, the OAuth2 issuer, the schema registry and the
control-plane API) is a threaded listener on ``host:<ephemeral port>``
running one protocol handler.  :class:`Endpoint` owns everything around
that handler:

- the TLS material, built once from ``(host, tls, mutual_tls)``: a
  self-signed leaf, or under ``mutual_tls`` a per-endpoint CA whose
  server context demands client certificates chained to it
  (``issue_client_cert`` mints them);
- the listener: a backlog of 128, daemon handler threads, address reuse
  and TCP_NODELAY on every accepted connection;
- the lifecycle: ``start()`` returns the endpoint, ``stop()`` is a no-op
  before ``start()`` and safe to repeat, and the context manager.

Where TLS wraps stays with the protocol: :class:`HttpEndpoint` wraps the
listening socket (HTTPS); a TCP protocol wraps each connection itself
(:meth:`Endpoint._accept_tls` — Kafka and Pulsar at accept, MySQL at its
in-protocol SSLRequest upgrade).
"""

from __future__ import annotations

import socket
import socketserver
import ssl
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_POLL_S = 0.02  # serve-loop poll interval: the most stop() waits

class _Listener:
    allow_reuse_address = True
    daemon_threads = True
    # executor tasks connect in one burst per wave; the stdlib backlog
    # of 5 drops SYNs -> 1 s retransmit per connect
    request_queue_size = 128

    def get_request(self):
        sock, addr = super().get_request()
        # a response written in several segments must not wait out the
        # peer's delayed ACK (a flat ~40 ms per request with Nagle on)
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        return sock, addr


class _TCPListener(_Listener, socketserver.ThreadingTCPServer):
    pass


class _HTTPListener(_Listener, ThreadingHTTPServer):
    pass


def recv_exact(sock, n: int) -> bytes | None:
    """Read exactly ``n`` bytes; None when the peer closes first."""
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            return None
        buf += chunk
    return bytes(buf)


class Endpoint:
    """A threaded TCP stand-in; subclasses build their handler and call
    :meth:`_listen` with it."""

    _listener = _TCPListener

    def __init__(self, host: str = "127.0.0.1", tls: bool = False,
                 mutual_tls: bool = False):
        if mutual_tls and not tls:
            raise ValueError("mutual_tls requires tls=True")
        self.host = host
        self.tls = tls
        self.mutual_tls = mutual_tls
        self.ca_pem = None
        self._ca_key = None
        self._tls_ctx = None
        if tls:
            from ticdc_spark.codec import tlsutil

            if mutual_tls:
                self.ca_pem, self._ca_key, self._tls_ctx = (
                    tlsutil.mutual_server_material(host))
            else:
                cert_pem, key_pem = tlsutil.make_self_signed(host)
                self.ca_pem = cert_pem
                self._tls_ctx = tlsutil.server_context(cert_pem, key_pem)
        self._server = None
        self._thread = None

    def _listen(self, handler, port: int = 0) -> None:
        self._server = self._listener((self.host, port), handler)
        self.port = self._server.server_address[1]

    def _accept_tls(self, sock):
        """Per-connection TLS -> the wrapped socket (the plain one when
        TLS is off), or None when the handshake fails (a plaintext
        client, a missing or foreign client certificate)."""
        if self._tls_ctx is None:
            return sock
        try:
            return self._tls_ctx.wrap_socket(sock, server_side=True)
        except (ssl.SSLError, OSError):
            return None

    def issue_client_cert(self, name: str = "client") -> tuple[bytes, bytes]:
        """Mint a client certificate the mTLS listener accepts
        (-> (cert_pem, key_pem), chained to ``ca_pem``)."""
        from ticdc_spark.codec import tlsutil

        if self._ca_key is None:
            raise ValueError("endpoint is not in mutual_tls mode")
        return tlsutil.issue_cert(self.ca_pem, self._ca_key, name,
                                  client=True)

    def start(self):
        if self._thread is None:
            # the serve loop notices shutdown() once per poll interval,
            # so the interval bounds how long stop() waits
            self._thread = threading.Thread(
                target=self._server.serve_forever,
                kwargs={"poll_interval": _POLL_S}, daemon=True)
            self._thread.start()
        return self

    def stop(self) -> None:
        # socketserver.shutdown() waits for a serve loop to exit, so it
        # must only run once one has started
        if self._thread is None:
            return
        self._thread = None
        self._server.shutdown()
        self._server.server_close()

    def __enter__(self):
        self.start()
        return self

    def __exit__(self, *exc):
        self.stop()


class HttpHandler(BaseHTTPRequestHandler):
    """Base of the HTTP endpoints' handlers: no per-request stderr log."""

    def log_message(self, *a):
        pass


class HttpEndpoint(Endpoint):
    """A threaded HTTP stand-in; with ``tls`` the listening socket is
    wrapped, so every connection is HTTPS."""

    _listener = _HTTPListener

    def _listen(self, handler, port: int = 0) -> None:
        super()._listen(handler, port)
        if self._tls_ctx is not None:
            self._server.socket = self._tls_ctx.wrap_socket(
                self._server.socket, server_side=True)

    @property
    def endpoint(self) -> str:
        scheme = "https" if self.tls else "http"
        return f"{scheme}://{self.host}:{self.port}"

"""Minimal HTTP/1.1 wire for the in-process storage endpoints.

``http.client``'s request/getresponse subset re-implemented over a raw
socket: the stdlib path costs ~0.5 ms of client CPU per request (status
line + header parsing routes through the email parser) which, times the
~300 requests a storage live query makes and the 32-way task fan-out,
is a visible slice of the query wall (guide §4.2 — per-task work).
This parser does one buffered readline loop and a Content-Length read:
~3x less per-request CPU, and it exposes explicit **pipelining** —
send N requests back-to-back, then read N responses — which removes
the per-request round-trip convoy against the single-GIL endpoint
(measured 0.43 s -> 0.14 s for a 32-process x 5-GET wave).

Framing assumptions, valid for every mini server in this repo (all are
``BaseHTTPRequestHandler`` subclasses): responses always carry
Content-Length (no chunked transfer), HEAD/204/304 responses have no
body, keep-alive is on (protocol_version HTTP/1.1).  A mid-response
EOF raises ConnectionError so caller retry loops reconnect.

Half-open guard: a peer that accepts a connection and never answers
would hold every request for the connection's full ``timeout``.  So
each request waits at most ``GUARD_S`` plus its body's transfer time at
``MIN_RATE``, capped at ``timeout``: a small request fails in seconds,
a large upload keeps the long bound.  A timed-out read closes the
connection, so the caller's retry reconnects instead of reading a late
reply to the wrong request.
"""

from __future__ import annotations

import socket
from urllib.parse import urlsplit

GUARD_S = 5.0  # per-request wait for a bodiless or small request
MIN_RATE = 1 << 20  # bytes/s a large body is allowed to take beyond it


class _Resp:
    __slots__ = ("status", "_headers", "_body")

    def __init__(self, status: int, headers: list, body: bytes):
        self.status = status
        self._headers = headers
        self._body = body

    def read(self) -> bytes:
        return self._body

    def getheaders(self) -> list:
        return self._headers

    def getheader(self, name: str, default=None):
        ln = name.lower()
        for k, v in self._headers:
            if k.lower() == ln:
                return v
        return default


class HttpWire:
    """One persistent connection; ``request``/``getresponse`` mirror the
    ``http.client`` calls the storage clients already make, ``pipeline``
    is the batched fast path."""

    def __init__(self, host: str, port: int, timeout: float = 60,
                 context=None):
        self.host, self.port, self.timeout = host, port, timeout
        self._context = context  # ssl.SSLContext for https endpoints
        self._sock = None
        self._rfile = None
        self._pending = 0  # responses not yet read (pipeline depth)

    # -- connection -----------------------------------------------------

    def _connect(self) -> None:
        s = socket.create_connection((self.host, self.port),
                                     timeout=self.request_timeout(0))
        s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        if self._context is not None:
            s = self._context.wrap_socket(s, server_hostname=self.host)
        self._sock = s
        self._rfile = s.makefile("rb")
        self._pending = 0

    def close(self) -> None:
        if self._rfile is not None:
            try:
                self._rfile.close()
            except OSError:
                pass
            self._rfile = None
        if self._sock is not None:
            try:
                self._sock.close()
            except OSError:
                pass
            self._sock = None
        self._pending = 0

    def request_timeout(self, nbytes: int) -> float:
        """Socket timeout for a request (or pipelined batch) whose
        bodies total ``nbytes``."""
        return min(self.timeout, GUARD_S + nbytes / MIN_RATE)

    def _send(self, data: bytes, nbytes: int) -> None:
        if self._sock is None:
            self._connect()
        self._sock.settimeout(self.request_timeout(nbytes))
        try:
            self._sock.sendall(data)
        except TimeoutError:
            self.close()
            raise

    # -- encode / decode -------------------------------------------------

    def _encode(self, method: str, url: str, body: bytes | None,
                headers: dict | None) -> bytes:
        headers = headers or {}
        parts = [f"{method} {url} HTTP/1.1\r\n"]
        if not any(k.lower() == "host" for k in headers):
            parts.append(f"Host: {self.host}:{self.port}\r\n")
        has_cl = False
        for k, v in headers.items():
            if k.lower() == "content-length":
                has_cl = True
            parts.append(f"{k}: {v}\r\n")
        if not has_cl:
            parts.append(f"Content-Length: {len(body or b'')}\r\n")
        parts.append("\r\n")
        head = "".join(parts).encode("latin-1")
        return head + (body or b"")

    def _read_response(self, method: str) -> _Resp:
        try:
            return self._parse_response(method)
        except TimeoutError:
            self.close()
            raise

    def _parse_response(self, method: str) -> _Resp:
        f = self._rfile
        line = f.readline(65536)
        if not line:
            self.close()
            raise ConnectionError("server closed connection")
        try:
            status = int(line.split(None, 2)[1])
        except (IndexError, ValueError):
            self.close()
            raise ConnectionError(f"bad status line {line!r}")
        headers: list = []
        clen = 0
        conn_close = False
        while True:
            ln = f.readline(65536)
            if ln in (b"\r\n", b"\n"):
                break
            if not ln:
                self.close()
                raise ConnectionError("EOF in headers")
            k, _, v = ln.partition(b":")
            k = k.decode("latin-1").strip()
            v = v.decode("latin-1").strip()
            headers.append((k, v))
            lk = k.lower()
            if lk == "content-length":
                clen = int(v)
            elif lk == "connection" and v.lower() == "close":
                conn_close = True
        if method == "HEAD" or status in (204, 304) or 100 <= status < 200:
            body = b""
        elif clen > 0:
            body = f.read(clen)
            if len(body) != clen:
                self.close()
                raise ConnectionError("EOF in body")
        else:
            body = b""
        self._pending -= 1
        if conn_close:
            self.close()
        return _Resp(status, headers, body)

    # -- http.client-compatible surface ----------------------------------

    def request(self, method: str, url: str, body: bytes | None = None,
                headers: dict | None = None) -> None:
        self._last_method = method
        self._send(self._encode(method, url, body, headers), len(body or b""))
        self._pending += 1

    def getresponse(self) -> _Resp:
        return self._read_response(self._last_method)

    # -- pipelined fast path ----------------------------------------------

    def pipeline(self, reqs: list) -> list:
        """reqs: [(method, url, body, headers)] -> [_Resp], in order.
        All requests are sent in one sendall, then all responses read;
        on any transport error the connection is closed and the error
        propagates (callers fall back to per-item requests)."""
        if not reqs:
            return []
        buf = b"".join(self._encode(m, u, b, h) for m, u, b, h in reqs)
        self._send(buf, sum(len(b or b"") for _m, _u, b, _h in reqs))
        self._pending += len(reqs)
        return [self._read_response(m) for m, _u, _b, _h in reqs]


class StoreClient:
    """The object-store client core the S3, GCS and Azure dialects share:
    one ``HttpWire`` (pinned CA and optional client certificate for an
    https:// endpoint), single-object get/put and their pipelined batch
    forms.  A dialect supplies ``_get_req``/``_put_req`` (-> a signed
    ``(method, url, body, headers)``) and ``_check(op, key, resp)``,
    which raises its error for a failed response.

    Each dialect also opens large uploads the same way: ``open_large``
    returns the resume handle (S3 upload id, GCS session, Azure's
    staged block list) that ``put_object_large`` takes after
    ``part_size``, so a retried upload sends only what the server lacks.
    """

    def __init__(self, endpoint: str, tls_ca: bytes | None = None,
                 tls_client_cert: tuple[bytes, bytes] | None = None):
        u = urlsplit(endpoint)
        self.host, self.port = u.hostname, u.port
        context = None
        if u.scheme == "https":
            from ticdc_spark.codec.tlsutil import client_context

            if tls_ca is None:
                raise ValueError("https endpoint needs tls_ca (pinned CA)")
            cert, key = tls_client_cert or (None, None)
            context = client_context(tls_ca, cert, key)
        self.conn = HttpWire(self.host, self.port, context=context)

    def close(self) -> None:
        self.conn.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def _send(self, req: tuple) -> _Resp:
        return self.conn.pipeline([req])[0]

    def put_object(self, bucket: str, key: str, body: bytes) -> str:
        """Single-shot upload -> the ETag the store answered ("" if none)."""
        resp = self._send(self._put_req(bucket, key, body))
        self._check("put", key, resp)
        return resp.getheader("ETag", "")

    def get_object(self, bucket: str, key: str) -> bytes:
        resp = self._send(self._get_req(bucket, key))
        self._check("get", key, resp)
        return resp.read()

    # -- pipelined batch ops: one round trip per in-flight window instead
    # of one per object — removes the request/response convoy against
    # the single-GIL test endpoint

    def get_objects(self, bucket: str, keys: list,
                    max_in_flight: int = 16) -> list:
        """Pipelined GETs -> bodies in ``keys`` order."""
        out: list = []
        for i in range(0, len(keys), max_in_flight):
            chunk = keys[i:i + max_in_flight]
            reqs = [self._get_req(bucket, k) for k in chunk]
            for k, resp in zip(chunk, self.conn.pipeline(reqs)):
                self._check("get", k, resp)
                out.append(resp.read())
        return out

    def put_objects(self, bucket: str, items: list,
                    max_in_flight: int = 16,
                    max_bytes: int = 4 * 1024 * 1024) -> None:
        """Pipelined single-shot uploads for ``[(key, body)]``; the window
        is bounded by count AND bytes so huge objects don't buffer."""
        i = 0
        while i < len(items):
            reqs, j, nbytes = [], i, 0
            while (j < len(items) and len(reqs) < max_in_flight
                   and (not reqs or nbytes < max_bytes)):
                k, b = items[j]
                reqs.append(self._put_req(bucket, k, b))
                nbytes += len(b)
                j += 1
            for (k, _b), resp in zip(items[i:j], self.conn.pipeline(reqs)):
                self._check("put", k, resp)
            i = j

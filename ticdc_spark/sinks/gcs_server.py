"""In-process GCS endpoint speaking the JSON API subset a storage sink
needs (cloud.google.com/storage/docs/json_api — public REST spec):

- media upload:  POST /upload/storage/v1/b/{bucket}/o?uploadType=media&name=K
- resumable upload: POST ...?uploadType=resumable&name=K -> session URI in
  the Location header; chunks PUT to the session with
  ``Content-Range: bytes S-E/T`` answer 308 (Resume Incomplete, with the
  received ``Range``) until the final chunk completes with 200; a
  ``bytes */T`` probe with an empty body reports progress — the
  crash-recovery handshake.  Non-final chunks must be multiples of
  256 KiB, like real GCS.
- media download: GET /storage/v1/b/{bucket}/o/{object}?alt=media
- list objects:   GET /storage/v1/b/{bucket}/o?prefix=&maxResults=&pageToken=
  with real nextPageToken pagination

Auth: `Authorization: Bearer <token>` checked against the configured
token (the oauth2 token a real deployment gets from its service
account), 401 otherwise.  Session PUTs authenticate by the session URI
itself (upload_id), per the documented resumable-session semantics.

Reference parity target: the gcs:// scheme of the external-storage lib
behind `pkg/config/sink_protocol.go:133-139`.  Scale note: TEST
endpoint — in production the same client bytes target real GCS.
"""

from __future__ import annotations

import base64
import hashlib
import json
import threading
from urllib.parse import parse_qs, quote, unquote, urlsplit

from ticdc_spark.endpoint import HttpEndpoint, HttpHandler
from ticdc_spark.sinks.http_wire import StoreClient


class MiniGCSServer(HttpEndpoint):
    def __init__(self, token: str = "gcs-test-token",
                 host: str = "127.0.0.1", tls: bool = False,
                 mutual_tls: bool = False):
        # tls=True: an https:// endpoint with a fresh self-signed cert
        # (clients pin it via server.ca_pem); mutual_tls additionally
        # demands a client certificate chained to the server's CA
        super().__init__(host, tls, mutual_tls)
        self.token = token
        self.buckets: dict[str, dict[str, bytes]] = {}
        # resumable sessions: upload_id -> {bucket, name, data, total}
        self.sessions: dict[str, dict] = {}
        self._session_seq = 0
        self._lock = threading.Lock()
        srv = self

        class Handler(HttpHandler):
            protocol_version = "HTTP/1.1"

            def _json(self, status: int, obj) -> None:
                body = json.dumps(obj).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _bytes(self, status: int, body: bytes) -> None:
                self.send_response(status)
                self.send_header("Content-Type", "application/octet-stream")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _err(self, status: int, message: str) -> None:
                self._json(status, {"error": {"code": status,
                                              "message": message}})

            def _authed(self) -> bool:
                got = self.headers.get("Authorization", "")
                if got == f"Bearer {srv.token}":
                    return True
                self._err(401, "Invalid Credentials")
                return False

            def do_POST(self):
                # drain the body FIRST: an early 401 must not leave the
                # payload unread on the keep-alive socket (the next
                # request would parse it as garbage)
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n)
                if not self._authed():
                    return
                u = urlsplit(self.path)
                q = {k: v[-1] for k, v in parse_qs(u.query).items()}
                parts = u.path.strip("/").split("/")
                # /upload/storage/v1/b/{bucket}/o
                if (len(parts) == 6 and parts[0] == "upload"
                        and parts[1:4] == ["storage", "v1", "b"]
                        and parts[5] == "o"):
                    bucket = parts[4]
                    if q.get("uploadType") == "resumable":
                        if "name" not in q:
                            return self._err(400, "resumable upload "
                                                  "needs name=")
                        with srv._lock:
                            srv._session_seq += 1
                            uid = f"resum-{srv._session_seq:08d}"
                            srv.sessions[uid] = {
                                "bucket": bucket, "name": q["name"],
                                "data": bytearray(), "total": None}
                        # absolute session URI on the server's ACTUAL
                        # scheme — a conformant client follows this URL
                        # verbatim, so a hardcoded http:// would
                        # downgrade TLS sessions
                        loc = (f"{srv.endpoint}/upload/storage/v1/b/{bucket}/o"
                               f"?uploadType=resumable&upload_id={uid}")
                        self.send_response(200)
                        self.send_header("Location", loc)
                        self.send_header("Content-Length", "0")
                        self.end_headers()
                        return
                    if q.get("uploadType") != "media" or "name" not in q:
                        return self._err(400, "media upload needs "
                                              "uploadType=media&name=")
                    name = q["name"]
                    with srv._lock:
                        srv.buckets.setdefault(bucket, {})[name] = body
                    md5 = base64.b64encode(
                        hashlib.md5(body).digest()).decode()
                    return self._json(200, {
                        "kind": "storage#object", "bucket": bucket,
                        "name": name, "size": str(len(body)),
                        "md5Hash": md5})
                self._err(404, "unknown upload path")

            def do_PUT(self):
                # resumable-session chunk or status probe; the session
                # id IS the credential (no Bearer re-check, per spec)
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n)
                u = urlsplit(self.path)
                q = {k: v[-1] for k, v in parse_qs(u.query).items()}
                uid = q.get("upload_id", "")
                with srv._lock:
                    sess = srv.sessions.get(uid)
                if sess is None:
                    return self._err(404, "no such upload session")
                if sess.get("done"):
                    # completed sessions stay queryable: a client whose
                    # final-chunk 200 was lost re-probes and gets the
                    # finished metadata, not a 404
                    return self._finalized_json(sess)
                cr = self.headers.get("Content-Range", "")
                import re as _re

                m = _re.fullmatch(r"bytes (\*|\d+-\d+)/(\*|\d+)", cr)
                if not m:
                    return self._err(400, f"bad Content-Range {cr!r}")
                total = None if m.group(2) == "*" else int(m.group(2))
                with srv._lock:
                    if total is not None:
                        sess["total"] = total
                    if m.group(1) == "*":
                        if sess["total"] == len(sess["data"]):
                            # a */T probe that matches what we hold
                            # finalizes (covers the empty object)
                            return self._finalize(sess)
                        # status probe (empty body)
                        return self._resumable_progress(sess)
                    start, end = (int(x) for x in m.group(1).split("-"))
                    if end - start + 1 != len(body):
                        return self._err(400, "Content-Range/body "
                                              "length mismatch")
                    received = len(sess["data"])
                    if start > received:
                        # gap: report current progress, client re-syncs
                        return self._resumable_progress(sess)
                    is_final = (sess["total"] is not None
                                and end + 1 == sess["total"])
                    if not is_final and len(body) % (256 * 1024):
                        return self._err(
                            400, "non-final chunk must be a multiple "
                                 "of 256 KiB")
                    sess["data"][start:] = body  # idempotent overwrite
                    if is_final:
                        return self._finalize(sess)
                    return self._resumable_progress(sess)

            def _finalize(self, sess: dict) -> None:
                """Commit the session's bytes as the object (idempotent:
                re-finalizing a done session re-answers the metadata)."""
                data = bytes(sess["data"])
                srv.buckets.setdefault(sess["bucket"], {})[
                    sess["name"]] = data
                sess["done"] = True
                self._finalized_json(sess)

            def _finalized_json(self, sess: dict) -> None:
                data = bytes(sess["data"])
                self._json(200, {
                    "kind": "storage#object", "bucket": sess["bucket"],
                    "name": sess["name"], "size": str(len(data)),
                    "md5Hash": base64.b64encode(
                        hashlib.md5(data).digest()).decode()})

            def _resumable_progress(self, sess: dict) -> None:
                """308 Resume Incomplete with the received Range."""
                self.send_response(308)
                received = len(sess["data"])
                if received:
                    self.send_header("Range", f"bytes=0-{received - 1}")
                self.send_header("Content-Length", "0")
                self.end_headers()

            def do_GET(self):
                if not self._authed():
                    return
                u = urlsplit(self.path)
                q = {k: v[-1] for k, v in parse_qs(u.query).items()}
                parts = u.path.strip("/").split("/", 4)
                # /storage/v1/b/{bucket}/o[/{object}]
                if (len(parts) >= 4 and parts[0:3] == ["storage", "v1", "b"]
                        and len(parts) == 5):
                    bucket = parts[3]
                    rest = parts[4]
                    if rest == "o":  # list
                        prefix = q.get("prefix", "")
                        max_results = int(q.get("maxResults", 1000))
                        with srv._lock:
                            keys = sorted(
                                k for k in srv.buckets.get(bucket, {})
                                if k.startswith(prefix))
                        start = 0
                        if "pageToken" in q:
                            after = base64.urlsafe_b64decode(
                                q["pageToken"]).decode()
                            start = next(
                                (i + 1 for i, k in enumerate(keys)
                                 if k == after), len(keys))
                        page = keys[start:start + max_results]
                        rest_keys = keys[start + max_results:]
                        out = {
                            "kind": "storage#objects",
                            "items": [{"name": k,
                                       "size": str(len(srv.buckets[bucket][k]))}
                                      for k in page],
                        }
                        if rest_keys and page:
                            out["nextPageToken"] = base64.urlsafe_b64encode(
                                page[-1].encode()).decode()
                        return self._json(200, out)
                    if rest.startswith("o/"):  # media download
                        name = unquote(rest[2:])
                        if q.get("alt") != "media":
                            return self._err(400, "alt=media required")
                        with srv._lock:
                            body = srv.buckets.get(bucket, {}).get(name)
                        if body is None:
                            return self._err(404, f"No such object: {name}")
                        return self._bytes(200, body)
                self._err(404, "unknown path")

        self._listen(Handler)


class GCSClient(StoreClient):
    """JSON-API client for the subset above: put/get/list with Bearer
    auth — the S3Client surface so the storage sink is scheme-generic."""

    def __init__(self, endpoint: str, token: str,
                 tls_ca: bytes | None = None,
                 tls_client_cert: tuple[bytes, bytes] | None = None):
        super().__init__(endpoint, tls_ca, tls_client_cert)
        self.token = token

    def _req(self, method: str, path: str, body: bytes = b"",
             extra: dict | None = None) -> tuple:
        headers = {"Authorization": f"Bearer {self.token}",
                   "Content-Length": str(len(body))}
        if extra:
            headers.update(extra)
        return method, path, body, headers

    def _get_req(self, bucket: str, key: str) -> tuple:
        return self._req(
            "GET", f"/storage/v1/b/{bucket}/o/{quote(key, safe='')}?alt=media")

    def _put_req(self, bucket: str, key: str, body: bytes) -> tuple:
        return self._req(
            "POST", f"/upload/storage/v1/b/{bucket}/o?uploadType=media"
                    f"&name={quote(key, safe='')}", body)

    @staticmethod
    def _check(op: str, key: str, resp) -> None:
        if resp.status != 200:
            raise IOError(f"gcs {op} {key}: {resp.status} "
                          f"{resp.read()[:200]!r}")

    def _request_h(self, method: str, path: str, body: bytes = b"",
                   extra: dict | None = None) -> tuple[int, dict, bytes]:
        resp = self._send(self._req(method, path, body, extra))
        return resp.status, dict(resp.getheaders()), resp.read()

    # -- resumable upload (uploadType=resumable; the scale path for
    # large objects — media upload is single-shot like S3's single PUT)

    def create_resumable(self, bucket: str, key: str) -> str:
        """Open a resumable session -> the session path (relative URI
        carrying upload_id) from the Location header."""
        status, headers, data = self._request_h(
            "POST",
            f"/upload/storage/v1/b/{bucket}/o?uploadType=resumable"
            f"&name={quote(key, safe='')}")
        if status != 200 or "Location" not in headers:
            raise IOError(f"gcs resumable open: {status} {data[:200]!r}")
        loc = headers["Location"]
        return loc[loc.index("/upload/"):]

    # a large upload's resume handle (StoreClient) is its session
    open_large = create_resumable

    def resumable_status(self, session: str, total: int) -> int:
        """bytes */T probe -> number of bytes the server has (the
        crash-recovery handshake); raises if the session is gone."""
        status, headers, data = self._request_h(
            "PUT", session, extra={"Content-Range": f"bytes */{total}"})
        if status == 308:
            rng = headers.get("Range", "")
            return int(rng.rsplit("-", 1)[1]) + 1 if rng else 0
        if status == 200:
            return total
        raise IOError(f"gcs resumable status: {status} {data[:200]!r}")

    def put_chunk(self, session: str, chunk: bytes, start: int,
                  total: int) -> int:
        """Upload one chunk -> server's received byte count (== total
        when the object finalizes)."""
        end = start + len(chunk) - 1
        status, headers, data = self._request_h(
            "PUT", session, chunk,
            extra={"Content-Range": f"bytes {start}-{end}/{total}"})
        if status == 200:
            return total
        if status == 308:
            rng = headers.get("Range", "")
            return int(rng.rsplit("-", 1)[1]) + 1 if rng else 0
        raise IOError(f"gcs chunk put: {status} {data[:200]!r}")

    def put_object_large(self, bucket: str, key: str, body: bytes,
                         part_size: int = 8 * 1024 * 1024,
                         session: str | None = None) -> None:
        """Resumable PUT in ``part_size`` chunks (must be a 256 KiB
        multiple, like real GCS).  Pass the ``session`` of an
        interrupted attempt to resume from the server's byte count."""
        if part_size % (256 * 1024):
            raise ValueError("part_size must be a multiple of 256 KiB")
        total = len(body)
        if session is None:
            session = self.create_resumable(bucket, key)
            pos = 0
        else:
            pos = self.resumable_status(session, total)
        if total == 0:
            if self.resumable_status(session, 0) != 0:
                raise IOError("gcs resumable: empty-object finalize failed")
            return
        while pos < total:
            pos = self.put_chunk(session, body[pos:pos + part_size],
                                 pos, total)

    def list_objects(self, bucket: str,
                     max_keys: int = 1000) -> list[tuple[str, int]]:
        out: list[tuple[str, int]] = []
        token = None
        while True:
            path = f"/storage/v1/b/{bucket}/o?maxResults={max_keys}"
            if token:
                path += f"&pageToken={token}"
            status, _, data = self._request_h("GET", path)
            if status != 200:
                raise IOError(f"gcs list: {status} {data[:200]!r}")
            doc = json.loads(data)
            out += [(i["name"], int(i["size"]))
                    for i in doc.get("items", [])]
            token = doc.get("nextPageToken")
            if not token:
                return out

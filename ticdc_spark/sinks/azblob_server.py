"""In-process Azure Blob endpoint speaking the Blob service REST subset
a storage sink needs (learn.microsoft.com/rest/api/storageservices —
public spec):

- Put Blob:  PUT /{container}/{blob} with x-ms-blob-type: BlockBlob
- Put Block: PUT /{container}/{blob}?comp=block&blockid=B64 (staged
  uncommitted), Put Block List: PUT ?comp=blocklist with the
  <BlockList> XML (<Latest>/<Uncommitted>/<Committed> entries) commits
  the listed blocks in order — the large-object path (a single Put Blob
  caps at 5000 MiB; real sinks stream blocks).  Get Block List:
  GET ?comp=blocklist&blocklisttype=all — the crash-resume probe.
- Get Blob:  GET /{container}/{blob}
- List Blobs: GET /{container}?restype=container&comp=list&prefix=&
  maxresults=&marker=  (XML EnumerationResults with real NextMarker)

Auth: SharedKey — `Authorization: SharedKey {account}:{signature}` with
signature = HMAC-SHA256(base64-decoded key, string-to-sign) per the
2009-09-19+ Blob string-to-sign layout (VERB, content headers,
CanonicalizedHeaders = sorted x-ms-*, CanonicalizedResource =
/account/path + sorted query params).  Verified server-side; 403 on
mismatch.

Reference parity target: the azblob:// scheme of the external-storage
lib behind `pkg/config/sink_protocol.go:133-139`.  TEST endpoint — in
production the same client bytes target real Azure.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import threading
from urllib.parse import parse_qs, quote, unquote, urlsplit
from xml.sax.saxutils import escape, quoteattr, unescape

from ticdc_spark.endpoint import HttpEndpoint, HttpHandler
from ticdc_spark.sinks.http_wire import StoreClient

_XML = 'application/xml'


def string_to_sign(method: str, account: str, path: str,
                   query: dict[str, str], headers: dict[str, str]) -> str:
    """Blob-service SharedKey string-to-sign (the 14-line canonical
    layout).  Empty Content-Length encodes as '' per the 2015-02-21+
    rule; x-ms-* headers sort lexicographically; every query param of
    the canonicalized resource appears as \\nname:value sorted by name."""
    h = {k.lower(): v.strip() for k, v in headers.items()}
    cl = h.get("content-length", "")
    if cl == "0":
        cl = ""
    fields = [
        method.upper(),
        h.get("content-encoding", ""),
        h.get("content-language", ""),
        cl,
        h.get("content-md5", ""),
        h.get("content-type", ""),
        "",  # Date — x-ms-date rides in canonicalized headers instead
        h.get("if-modified-since", ""),
        h.get("if-match", ""),
        h.get("if-none-match", ""),
        h.get("if-unmodified-since", ""),
        h.get("range", ""),
    ]
    canon_headers = "".join(
        f"{k}:{h[k]}\n" for k in sorted(h) if k.startswith("x-ms-"))
    canon_resource = f"/{account}{path}"
    for k in sorted(query):
        canon_resource += f"\n{k}:{query[k]}"
    return "\n".join(fields) + "\n" + canon_headers + canon_resource


def sign(key_b64: str, sts: str) -> str:
    mac = hmac.new(base64.b64decode(key_b64), sts.encode("utf-8"),
                   hashlib.sha256)
    return base64.b64encode(mac.digest()).decode()


class MiniAzureBlobServer(HttpEndpoint):
    def __init__(self, account: str = "cdcaccount",
                 key_b64: str | None = None, host: str = "127.0.0.1",
                 tls: bool = False, mutual_tls: bool = False):
        # tls=True: an https:// endpoint (fresh self-signed cert, pinned
        # via server.ca_pem); mutual_tls demands a chained client cert
        super().__init__(host, tls, mutual_tls)
        self.account = account
        self.key_b64 = key_b64 or base64.b64encode(
            b"azure-test-shared-key-32-bytes!!").decode()
        self.containers: dict[str, dict[str, bytes]] = {}
        # staged (uncommitted) blocks: (container, blob) -> {block_id: bytes}
        self.uncommitted: dict[tuple[str, str], dict[str, bytes]] = {}
        # committed block composition, kept so <Committed> entries in a
        # later Put Block List can re-reference them
        self.committed_blocks: dict[tuple[str, str], dict[str, bytes]] = {}
        self._lock = threading.Lock()
        srv = self

        class Handler(HttpHandler):
            protocol_version = "HTTP/1.1"

            def _send(self, status: int, body: bytes = b"",
                      ctype: str = _XML) -> None:
                self.send_response(status)
                if body:
                    self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                if body:
                    self.wfile.write(body)

            def _authed(self, body_len: int) -> bool:
                u = urlsplit(self.path)
                q = {k: v[-1] for k, v in
                     parse_qs(u.query, keep_blank_values=True).items()}
                sts = string_to_sign(
                    self.command, srv.account, unquote(u.path), q,
                    dict(self.headers.items()))
                want = f"SharedKey {srv.account}:{sign(srv.key_b64, sts)}"
                if self.headers.get("Authorization", "") == want:
                    return True
                self._send(403, b"<Error><Code>AuthenticationFailed"
                                b"</Code></Error>")
                return False

            def do_PUT(self):
                n = int(self.headers.get("Content-Length", 0))
                if not self._authed(n):
                    self.rfile.read(n)
                    return
                body = self.rfile.read(n)
                u = urlsplit(self.path)
                q = {k: v[-1] for k, v in
                     parse_qs(u.query, keep_blank_values=True).items()}
                container, _, blob = unquote(u.path).strip("/").partition("/")
                if not blob:
                    return self._send(400, b"<Error><Code>InvalidUri"
                                           b"</Code></Error>")
                if q.get("comp") == "block":
                    bid = q.get("blockid", "")
                    if not bid:
                        return self._send(400, b"<Error><Code>"
                                               b"MissingRequiredQueryParameter"
                                               b"</Code></Error>")
                    with srv._lock:
                        srv.uncommitted.setdefault(
                            (container, blob), {})[bid] = body
                    return self._send(201)
                if q.get("comp") == "blocklist":
                    return self._put_block_list(container, blob, body)
                if self.headers.get("x-ms-blob-type") != "BlockBlob":
                    return self._send(400, b"<Error><Code>"
                                           b"UnsupportedBlobType"
                                           b"</Code></Error>")
                with srv._lock:
                    srv.containers.setdefault(container, {})[blob] = body
                    # a single-shot Put Blob resets any block state
                    srv.uncommitted.pop((container, blob), None)
                    srv.committed_blocks.pop((container, blob), None)
                self._send(201)

            def _put_block_list(self, container: str, blob: str,
                                body: bytes):
                import re as _re

                entries = _re.findall(
                    r"<(Latest|Committed|Uncommitted)>(.*?)</\1>",
                    body.decode())
                key = (container, blob)
                with srv._lock:
                    unc = srv.uncommitted.get(key, {})
                    com = srv.committed_blocks.get(key, {})
                    chunks: list[tuple[str, bytes]] = []
                    for kind, bid in entries:
                        # <Latest>: uncommitted wins over committed;
                        # the others pin one list explicitly
                        if kind == "Uncommitted":
                            blk = unc.get(bid)
                        elif kind == "Committed":
                            blk = com.get(bid)
                        else:
                            blk = unc.get(bid, com.get(bid))
                        if blk is None:
                            return self._send(
                                400, b"<Error><Code>InvalidBlockList"
                                     b"</Code></Error>")
                        chunks.append((bid, blk))
                    srv.containers.setdefault(container, {})[blob] = (
                        b"".join(b for _, b in chunks))
                    srv.committed_blocks[key] = dict(chunks)
                    srv.uncommitted.pop(key, None)
                self._send(201)

            def do_GET(self):
                if not self._authed(0):
                    return
                u = urlsplit(self.path)
                q = {k: v[-1] for k, v in
                     parse_qs(u.query, keep_blank_values=True).items()}
                container, _, blob = unquote(u.path).strip("/").partition("/")
                if not blob and q.get("restype") == "container" \
                        and q.get("comp") == "list":
                    prefix = q.get("prefix", "")
                    maxresults = int(q.get("maxresults", 5000))
                    with srv._lock:
                        keys = sorted(
                            k for k in srv.containers.get(container, {})
                            if k.startswith(prefix))
                    start = 0
                    if q.get("marker"):
                        after = base64.urlsafe_b64decode(
                            q["marker"]).decode()
                        start = next((i + 1 for i, k in enumerate(keys)
                                      if k == after), len(keys))
                    page = keys[start:start + maxresults]
                    rest = keys[start + maxresults:]
                    blobs = "".join(
                        f"<Blob><Name>{escape(k)}</Name><Properties>"
                        f"<Content-Length>"
                        f"{len(srv.containers[container][k])}"
                        f"</Content-Length></Properties></Blob>"
                        for k in page)
                    marker = ""
                    if rest and page:
                        nm = base64.urlsafe_b64encode(
                            page[-1].encode()).decode()
                        marker = f"<NextMarker>{nm}</NextMarker>"
                    xml = (f'<?xml version="1.0" encoding="utf-8"?>'
                           f"<EnumerationResults ContainerName="
                           f"{quoteattr(container)}><Blobs>{blobs}</Blobs>"
                           f"{marker}</EnumerationResults>")
                    return self._send(200, xml.encode())
                if blob and q.get("comp") == "blocklist":
                    key = (container, blob)
                    with srv._lock:
                        com = dict(srv.committed_blocks.get(key, {}))
                        unc = dict(srv.uncommitted.get(key, {}))
                    want = q.get("blocklisttype", "committed").lower()
                    com_xml = "".join(
                        f"<Block><Name>{b}</Name><Size>{len(d)}</Size>"
                        f"</Block>" for b, d in com.items())
                    unc_xml = "".join(
                        f"<Block><Name>{b}</Name><Size>{len(d)}</Size>"
                        f"</Block>" for b, d in sorted(unc.items()))
                    inner = ""
                    if want in ("committed", "all"):
                        inner += f"<CommittedBlocks>{com_xml}</CommittedBlocks>"
                    if want in ("uncommitted", "all"):
                        inner += (f"<UncommittedBlocks>{unc_xml}"
                                  f"</UncommittedBlocks>")
                    xml = ('<?xml version="1.0" encoding="utf-8"?>'
                           f"<BlockList>{inner}</BlockList>")
                    return self._send(200, xml.encode())
                with srv._lock:
                    body = srv.containers.get(container, {}).get(blob)
                if body is None:
                    return self._send(404, b"<Error><Code>BlobNotFound"
                                           b"</Code></Error>")
                self._send(200, body, ctype="application/octet-stream")

        self._listen(Handler)


class AzBlobClient(StoreClient):
    """SharedKey-signing client with the S3Client surface (put/get/list),
    so the storage sink is scheme-generic."""

    def __init__(self, endpoint: str, account: str, key_b64: str,
                 x_ms_date: str = "Thu, 01 Jan 2026 00:00:00 GMT",
                 tls_ca: bytes | None = None,
                 tls_client_cert: tuple[bytes, bytes] | None = None):
        super().__init__(endpoint, tls_ca, tls_client_cert)
        self.account = account
        self.key_b64 = key_b64
        # deterministic clock, like the S3 client's amz_date
        self.x_ms_date = x_ms_date

    def _build_req(self, method: str, path: str, query: dict[str, str],
                   body: bytes = b"",
                   extra: dict[str, str] | None = None):
        """``path`` is the DECODED resource path — it signs as-is (both
        sides canonicalize the decoded form) and percent-encodes only
        on the request line.  -> (method, url, body, headers)."""
        headers = {
            "x-ms-date": self.x_ms_date,
            "x-ms-version": "2021-08-06",
            "Content-Length": str(len(body)),
        }
        if extra:
            headers.update(extra)
        sts = string_to_sign(method, self.account, path, query, headers)
        headers["Authorization"] = (
            f"SharedKey {self.account}:{sign(self.key_b64, sts)}")
        qs = "&".join(f"{k}={quote(str(v), safe='')}"
                      for k, v in query.items())
        url = quote(path) + (f"?{qs}" if qs else "")
        return method, url, body, headers

    def _request(self, method: str, path: str, query: dict[str, str],
                 body: bytes = b"",
                 extra: dict[str, str] | None = None) -> tuple[int, bytes]:
        resp = self._send(self._build_req(method, path, query, body, extra))
        return resp.status, resp.read()

    def _get_req(self, container: str, key: str) -> tuple:
        return self._build_req("GET", f"/{container}/{key}", {})

    def _put_req(self, container: str, key: str, body: bytes) -> tuple:
        return self._build_req("PUT", f"/{container}/{key}", {}, body,
                               extra={"x-ms-blob-type": "BlockBlob"})

    @staticmethod
    def _check(op: str, key: str, resp) -> None:
        if resp.status != (201 if op == "put" else 200):
            raise IOError(f"azblob {op} {key}: {resp.status} "
                          f"{resp.read()[:200]!r}")

    # -- block-blob staged upload (the large-object path: a single Put
    # Blob caps out; blocks stage independently and commit atomically)

    @staticmethod
    def block_id(n: int, chunk: bytes = b"") -> str:
        """Deterministic base64 block id (all ids of one blob must have
        equal length, per the service rule).  The id embeds the chunk's
        MD5, so a resumed attempt can only match a staged block whose
        CONTENT is identical — the Azure analog of the S3 resume's
        ListParts ETag comparison (a size-only match would silently
        commit a stale block if the retry's bytes changed)."""
        import hashlib

        digest = hashlib.md5(chunk).hexdigest()[:16]
        return base64.b64encode(
            f"block-{n:08d}-{digest}".encode()).decode()

    def put_block(self, container: str, key: str, block_id: str,
                  body: bytes) -> None:
        status, data = self._request(
            "PUT", f"/{container}/{key}",
            {"comp": "block", "blockid": block_id}, body)
        if status != 201:
            raise IOError(f"azblob put block: {status} {data[:200]!r}")

    def put_block_list(self, container: str, key: str,
                       block_ids: list[str],
                       kind: str = "Latest") -> None:
        xml = ("<?xml version=\"1.0\" encoding=\"utf-8\"?><BlockList>"
               + "".join(f"<{kind}>{b}</{kind}>" for b in block_ids)
               + "</BlockList>").encode()
        status, data = self._request(
            "PUT", f"/{container}/{key}", {"comp": "blocklist"}, xml)
        if status != 201:
            raise IOError(f"azblob put block list: {status} {data[:200]!r}")

    def get_block_list(self, container: str, key: str,
                       blocklisttype: str = "all",
                       ) -> tuple[list[tuple[str, int]], list[tuple[str, int]]]:
        """-> (committed, uncommitted) [(block_id, size)] — the
        crash-resume probe."""
        import re

        status, data = self._request(
            "GET", f"/{container}/{key}",
            {"comp": "blocklist", "blocklisttype": blocklisttype})
        if status != 200:
            raise IOError(f"azblob get block list: {status} {data[:200]!r}")
        xml = data.decode()

        def blocks(section: str) -> list[tuple[str, int]]:
            m = re.search(f"<{section}>(.*?)</{section}>", xml, re.S)
            if not m:
                return []
            return [(b, int(s)) for b, s in re.findall(
                r"<Block><Name>(.*?)</Name><Size>(\d+)</Size></Block>",
                m.group(1))]

        return blocks("CommittedBlocks"), blocks("UncommittedBlocks")

    @staticmethod
    def open_large(container: str, key: str) -> bool:
        """The resume handle of a large upload.  Azure keeps it server
        side — the blob's staged block list, probed on resume — so
        opening one creates nothing."""
        return True

    def put_object_large(self, container: str, key: str, body: bytes,
                         part_size: int = 8 * 1024 * 1024,
                         resume: bool = False) -> None:
        """Staged block upload + atomic commit.  With ``resume=True``,
        blocks the service already holds uncommitted are skipped — the
        mid-upload crash/retry path.  The match is by id, and the id
        embeds the chunk's content MD5 (see ``block_id``), so identical
        id+size means identical bytes — a staged block from an attempt
        whose content has since changed gets a different id and is
        simply re-staged."""
        have: dict[str, int] = {}
        if resume:
            _, unc = self.get_block_list(container, key)
            have = dict(unc)
        ids: list[str] = []
        for i in range(0, max(len(body), 1), part_size):
            chunk = body[i:i + part_size]
            bid = self.block_id(i // part_size, chunk)
            if have.get(bid) != len(chunk):
                self.put_block(container, key, bid, chunk)
            ids.append(bid)
        self.put_block_list(container, key, ids)

    def list_objects(self, container: str,
                     max_keys: int = 5000) -> list[tuple[str, int]]:
        import re

        out: list[tuple[str, int]] = []
        marker = ""
        while True:
            q = {"restype": "container", "comp": "list",
                 "maxresults": str(max_keys)}
            if marker:
                q["marker"] = marker
            status, data = self._request("GET", f"/{container}", q)
            if status != 200:
                raise IOError(f"azblob list: {status} {data[:200]!r}")
            xml = data.decode()
            for m in re.finditer(
                    r"<Blob><Name>(.*?)</Name><Properties>"
                    r"<Content-Length>(\d+)</Content-Length>", xml):
                out.append((unescape(m.group(1)), int(m.group(2))))
            nm = re.search(r"<NextMarker>(.*?)</NextMarker>", xml)
            if not nm:
                return out
            marker = nm.group(1)

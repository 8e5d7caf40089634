"""In-process S3 endpoint speaking the real REST API over HTTP.

PutObject / GetObject / HeadObject / DeleteObject / ListObjectsV2 (with
prefix, max-keys and real continuation-token pagination), plus the
multipart-upload family — CreateMultipartUpload (POST ?uploads),
UploadPart (PUT ?partNumber&uploadId), ListParts (GET ?uploadId),
CompleteMultipartUpload (POST ?uploadId, multipart ETag
``md5(concat(part_digests))-N``), AbortMultipartUpload (DELETE
?uploadId) — XML responses in the S3 shapes, and SigV4 verification on
every request (403 + SignatureDoesNotMatch on failure) — the surface
the reference's cloud-storage sink drives through the AWS SDK
(`downstreamadapter/sink/cloudstorage`, storage URIs `s3://...`; large
redo/storage files stream through a multipart writer,
`pkg/redo/writer/memory/file_worker.go:197-203`).

TEST endpoint: production points the same sink at real object storage.
"""

from __future__ import annotations

import base64
import hashlib
import socket
import threading
from urllib.parse import parse_qs, unquote, urlsplit
from xml.sax.saxutils import escape

from ticdc_spark.codec import awssig
from ticdc_spark.endpoint import HttpEndpoint, HttpHandler

_XMLNS = "http://s3.amazonaws.com/doc/2006-03-01/"


def _bucket_key(bucket: str, key: str) -> str:
    return f"<Bucket>{escape(bucket)}</Bucket><Key>{escape(key)}</Key>"


class MiniS3Server(HttpEndpoint):
    def __init__(self, access_key: str = "AKIDTEST", secret_key: str = "s3cr3t",
                 host: str = "127.0.0.1", tls: bool = False,
                 mutual_tls: bool = False):
        # tls=True: an https:// endpoint with a fresh self-signed cert;
        # mutual_tls=True demands a client certificate chained to the
        # server's CA (mint one with issue_client_cert())
        super().__init__(host, tls, mutual_tls)
        self.access_key = access_key
        self.secret_key = secret_key
        self.buckets: dict[str, dict[str, bytes]] = {}
        # open multipart uploads: upload_id -> {bucket, key, parts{n: bytes}}
        self.uploads: dict[str, dict] = {}
        self._upload_seq = 0
        self._lock = threading.Lock()
        srv = self

        class Handler(HttpHandler):
            protocol_version = "HTTP/1.1"

            def _xml(self, code: int, body: str):
                data = ('<?xml version="1.0" encoding="UTF-8"?>\n' + body).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/xml")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def _error(self, code: int, s3_code: str, message: str):
                self._xml(code, f"<Error><Code>{s3_code}</Code>"
                                f"<Message>{escape(message)}</Message></Error>")

            def _authed(self, body: bytes) -> bool:
                auth = self.headers.get("Authorization", "")
                sp = urlsplit(self.path)
                headers = {k: v for k, v in self.headers.items()}
                try:
                    info = awssig.parse_authorization(auth)
                    if info["access_key"] != srv.access_key:
                        raise ValueError("unknown access key")
                    # payload integrity, then signature over the canonical
                    # request exactly as the client signed it
                    claimed = self.headers.get("x-amz-content-sha256", "")
                    if claimed != hashlib.sha256(body).hexdigest():
                        raise ValueError("content sha mismatch")
                    if not awssig.verify(self.command, unquote(sp.path),
                                         sp.query, headers, auth,
                                         srv.secret_key):
                        raise ValueError("bad signature")
                    return True
                except (ValueError, KeyError) as e:
                    self._error(403, "SignatureDoesNotMatch", str(e))
                    return False

            def _route(self):
                sp = urlsplit(self.path)
                parts = unquote(sp.path).lstrip("/").split("/", 1)
                bucket = parts[0]
                key = parts[1] if len(parts) > 1 else ""
                return bucket, key, parse_qs(sp.query, keep_blank_values=True)

            def do_PUT(self):
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n)
                if not self._authed(body):
                    return
                bucket, key, q = self._route()
                from ticdc_spark import failpoint

                if failpoint.inject("storage/stall-put"):
                    # chaos: the object store throttles — S3's 503
                    # SlowDown; a spool-backed writer parks the batch
                    # on local disk instead of blocking on this
                    return self._error(503, "SlowDown",
                                       "Please reduce your request rate.")
                if "partNumber" in q and "uploadId" in q:
                    return self._upload_part(bucket, key, q, body)
                with srv._lock:
                    srv.buckets.setdefault(bucket, {})[key] = body
                etag = hashlib.md5(body).hexdigest()
                self.send_response(200)
                self.send_header("ETag", f'"{etag}"')
                self.send_header("Content-Length", "0")
                self.end_headers()

            def _get_upload(self, bucket: str, key: str, q: dict):
                uid = q["uploadId"][0]
                up = srv.uploads.get(uid)
                if up is None or up["bucket"] != bucket or up["key"] != key:
                    self._error(404, "NoSuchUpload",
                                "The specified upload does not exist.")
                    return None, uid
                return up, uid

            def _drop_connection(self):
                # shutdown first: rfile/wfile still hold the fd, so a
                # bare close() sends no FIN and the client only notices
                # at its read timeout
                self.connection.shutdown(socket.SHUT_RDWR)
                self.connection.close()

            def _upload_part(self, bucket: str, key: str, q: dict,
                             body: bytes):
                from ticdc_spark import failpoint

                if failpoint.inject("storage/drop-upload-part"):
                    # chaos: kill the connection mid-upload with the
                    # part UNRECORDED — the client must reconnect,
                    # ListParts, and resume
                    self._drop_connection()
                    return
                pn = int(q["partNumber"][0])
                if not 1 <= pn <= 10000:
                    return self._error(400, "InvalidArgument",
                                       "partNumber must be in 1..10000")
                with srv._lock:
                    up, _ = self._get_upload(bucket, key, q)
                    if up is None:
                        return
                    up["parts"][pn] = body
                self.send_response(200)
                self.send_header(
                    "ETag", f'"{hashlib.md5(body).hexdigest()}"')
                self.send_header("Content-Length", "0")
                self.end_headers()

            def do_POST(self):
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n)
                if not self._authed(body):
                    return
                bucket, key, q = self._route()
                if "uploads" in q:
                    with srv._lock:
                        srv._upload_seq += 1
                        uid = f"mpu-{srv._upload_seq:08d}"
                        srv.uploads[uid] = {"bucket": bucket, "key": key,
                                            "parts": {}}
                    return self._xml(200, (
                        f'<InitiateMultipartUploadResult xmlns="{_XMLNS}">'
                        f"{_bucket_key(bucket, key)}"
                        f"<UploadId>{uid}</UploadId>"
                        "</InitiateMultipartUploadResult>"))
                if "uploadId" in q:
                    return self._complete_upload(bucket, key, q, body)
                self._error(400, "InvalidRequest", "unsupported POST")

            def _complete_upload(self, bucket: str, key: str, q: dict,
                                 body: bytes):
                import re as _re

                from ticdc_spark import failpoint

                drop_after = failpoint.inject("storage/drop-complete-response")

                listed = [(int(m.group(1)), m.group(2).strip().strip('"'))
                          for m in _re.finditer(
                              r"<Part>\s*<PartNumber>(\d+)</PartNumber>"
                              r"\s*<ETag>(?:&quot;)?\"?([0-9a-f]+)"
                              r"\"?(?:&quot;)?</ETag>\s*</Part>", body.decode())]
                if not listed:
                    return self._error(400, "MalformedXML",
                                       "no parts in CompleteMultipartUpload")
                if listed != sorted(listed, key=lambda p: p[0]):
                    return self._error(400, "InvalidPartOrder",
                                       "parts must be in ascending order")
                with srv._lock:
                    up, uid = self._get_upload(bucket, key, q)
                    if up is None:
                        return
                    chunks, digests = [], []
                    for pn, etag in listed:
                        part = up["parts"].get(pn)
                        if part is None or hashlib.md5(part).hexdigest() != etag:
                            return self._error(
                                400, "InvalidPart",
                                f"part {pn} not found or ETag mismatch")
                        chunks.append(part)
                        digests.append(hashlib.md5(part).digest())
                    data = b"".join(chunks)
                    srv.buckets.setdefault(bucket, {})[key] = data
                    del srv.uploads[uid]
                if drop_after:
                    # chaos: the completion COMMITTED but the response
                    # is lost — the client's retry sees NoSuchUpload and
                    # must verify the object instead of failing
                    self._drop_connection()
                    return
                mp_etag = (hashlib.md5(b"".join(digests)).hexdigest()
                           + f"-{len(listed)}")
                self._xml(200, (
                    f'<CompleteMultipartUploadResult xmlns="{_XMLNS}">'
                    f"{_bucket_key(bucket, key)}"
                    f"<ETag>&quot;{mp_etag}&quot;</ETag>"
                    "</CompleteMultipartUploadResult>"))

            def do_GET(self):
                if not self._authed(b""):
                    return
                bucket, key, q = self._route()
                if "uploadId" in q:
                    with srv._lock:
                        up, uid = self._get_upload(bucket, key, q)
                        if up is None:
                            return
                        parts = "".join(
                            f"<Part><PartNumber>{pn}</PartNumber>"
                            f"<ETag>&quot;{hashlib.md5(b).hexdigest()}"
                            f"&quot;</ETag><Size>{len(b)}</Size></Part>"
                            for pn, b in sorted(up["parts"].items()))
                    return self._xml(200, (
                        f'<ListPartsResult xmlns="{_XMLNS}">'
                        f"{_bucket_key(bucket, key)}"
                        f"<UploadId>{uid}</UploadId>{parts}"
                        "</ListPartsResult>"))
                with srv._lock:
                    objs = dict(srv.buckets.get(bucket, {}))
                if key == "" and "list-type" in q:
                    return self._list(bucket, objs, q)
                if key not in objs:
                    return self._error(404, "NoSuchKey",
                                       "The specified key does not exist.")
                data = objs[key]
                self.send_response(200)
                self.send_header("Content-Type", "application/octet-stream")
                self.send_header("Content-Length", str(len(data)))
                self.send_header("ETag", f'"{hashlib.md5(data).hexdigest()}"')
                self.end_headers()
                self.wfile.write(data)

            def do_HEAD(self):
                if not self._authed(b""):
                    return
                bucket, key, _ = self._route()
                with srv._lock:
                    data = srv.buckets.get(bucket, {}).get(key)
                if data is None:
                    self.send_response(404)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                self.send_response(200)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()

            def do_DELETE(self):
                if not self._authed(b""):
                    return
                bucket, key, q = self._route()
                if "uploadId" in q:
                    with srv._lock:
                        up, uid = self._get_upload(bucket, key, q)
                        if up is None:
                            return
                        del srv.uploads[uid]
                else:
                    with srv._lock:
                        srv.buckets.get(bucket, {}).pop(key, None)
                self.send_response(204)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def _list(self, bucket: str, objs: dict[str, bytes], q: dict):
                prefix = q.get("prefix", [""])[0]
                max_keys = int(q.get("max-keys", ["1000"])[0])
                token = q.get("continuation-token", [None])[0]
                start_after = ""
                if token:
                    start_after = base64.urlsafe_b64decode(token.encode()).decode()
                keys = sorted(k for k in objs if k.startswith(prefix)
                              and k > start_after)
                page, rest = keys[:max_keys], keys[max_keys:]
                contents = "".join(
                    f"<Contents><Key>{escape(k)}</Key><Size>{len(objs[k])}</Size>"
                    f"<ETag>&quot;{hashlib.md5(objs[k]).hexdigest()}&quot;</ETag>"
                    "<LastModified>1970-01-01T00:00:00.000Z</LastModified>"
                    "</Contents>"
                    for k in page)
                next_tok = ""
                if rest:
                    nt = base64.urlsafe_b64encode(page[-1].encode()).decode()
                    next_tok = f"<NextContinuationToken>{nt}</NextContinuationToken>"
                self._xml(200, (
                    f'<ListBucketResult xmlns="{_XMLNS}">'
                    f"<Name>{escape(bucket)}</Name><Prefix>{escape(prefix)}</Prefix>"
                    f"<KeyCount>{len(page)}</KeyCount><MaxKeys>{max_keys}</MaxKeys>"
                    f"<IsTruncated>{'true' if rest else 'false'}</IsTruncated>"
                    f"{next_tok}{contents}</ListBucketResult>"))

        self._listen(Handler)

"""S3 REST client: SigV4-signed PutObject/GetObject/ListObjectsV2/Delete.

The stdlib-http analog of what the AWS SDK does for the reference's
cloud-storage sink. Every request carries a real SigV4 Authorization
header (`codec/awssig.py`, validated against the official AWS vector);
ListObjectsV2 follows real continuation-token pagination.
"""

from __future__ import annotations

import urllib.parse
import xml.etree.ElementTree as ET

from ticdc_spark.codec import awssig
from ticdc_spark.sinks.http_wire import StoreClient


class S3Error(Exception):
    def __init__(self, status: int, code: str, message: str):
        super().__init__(f"{status} {code}: {message}")
        self.status = status
        self.code = code


class S3Client(StoreClient):
    def __init__(self, endpoint: str, access_key: str, secret_key: str,
                 region: str = "us-east-1", amz_date: str = "20260101T000000Z",
                 tls_ca: bytes | None = None,
                 tls_client_cert: tuple[bytes, bytes] | None = None):
        super().__init__(endpoint, tls_ca, tls_client_cert)
        self.access_key = access_key
        self.secret_key = secret_key
        self.region = region
        # deterministic clock: the mini server doesn't enforce skew; a
        # real deployment stamps wall time here
        self.amz_date = amz_date

    def _req(self, method: str, path: str, query: str = "",
             body: bytes = b"") -> tuple:
        """A SigV4-signed (method, url, body, headers)."""
        host_hdr = f"{self.host}:{self.port}"
        auth, payload_hash = awssig.sign(
            method, path, query, {"host": host_hdr}, body,
            self.access_key, self.secret_key, self.amz_date, self.region)
        url = awssig.canonical_uri(path) + (f"?{query}" if query else "")
        return method, url, body, {
            "Host": host_hdr,
            "x-amz-date": self.amz_date,
            "x-amz-content-sha256": payload_hash,
            "Authorization": auth,
            "Content-Length": str(len(body)),
        }

    def _get_req(self, bucket: str, key: str) -> tuple:
        return self._req("GET", f"/{bucket}/{key}")

    def _put_req(self, bucket: str, key: str, body: bytes) -> tuple:
        return self._req("PUT", f"/{bucket}/{key}", body=body)

    @staticmethod
    def _check(op: str, key: str, resp) -> None:
        if resp.status < 400:
            return
        data = resp.read()
        code, msg = "Unknown", data.decode("utf-8", "replace")
        try:
            root = ET.fromstring(data)
            code = root.findtext("Code", code)
            msg = root.findtext("Message", msg)
        except ET.ParseError:
            pass
        raise S3Error(resp.status, code, msg)

    def _request(self, method: str, path: str, query: str = "",
                 body: bytes = b"") -> tuple[int, dict, bytes]:
        resp = self._send(self._req(method, path, query, body))
        self._check(method, path, resp)
        return resp.status, dict(resp.getheaders()), resp.read()

    # -- object ops

    def head_object(self, bucket: str, key: str) -> int:
        _, headers, _ = self._request("HEAD", f"/{bucket}/{key}")
        return int(headers.get("Content-Length", 0))

    def delete_object(self, bucket: str, key: str) -> None:
        self._request("DELETE", f"/{bucket}/{key}")

    # -- multipart upload (real S3 caps a single PUT at 5 GiB; the
    # reference streams large redo/storage files through a multipart
    # writer — `pkg/redo/writer/memory/file_worker.go:197-203`)

    def create_multipart_upload(self, bucket: str, key: str) -> str:
        _, _, data = self._request("POST", f"/{bucket}/{key}",
                                   query="uploads=")
        root = ET.fromstring(data)
        ns = root.tag.partition("}")[0] + "}" if root.tag.startswith("{") else ""
        return root.findtext(f"{ns}UploadId")

    def upload_part(self, bucket: str, key: str, upload_id: str,
                    part_number: int, body: bytes) -> str:
        q = urllib.parse.urlencode(sorted(
            {"partNumber": str(part_number), "uploadId": upload_id}.items()))
        _, headers, _ = self._request("PUT", f"/{bucket}/{key}", query=q,
                                      body=body)
        return headers.get("ETag", "").strip('"')

    def list_parts(self, bucket: str, key: str,
                   upload_id: str) -> list[tuple[int, str, int]]:
        """-> [(part_number, etag, size)] of parts uploaded so far —
        the crash-resume probe."""
        q = urllib.parse.urlencode({"uploadId": upload_id})
        _, _, data = self._request("GET", f"/{bucket}/{key}", query=q)
        root = ET.fromstring(data)
        ns = root.tag.partition("}")[0] + "}" if root.tag.startswith("{") else ""
        return [(int(p.findtext(f"{ns}PartNumber")),
                 p.findtext(f"{ns}ETag").strip('"'),
                 int(p.findtext(f"{ns}Size")))
                for p in root.findall(f"{ns}Part")]

    def complete_multipart_upload(self, bucket: str, key: str,
                                  upload_id: str,
                                  parts: list[tuple[int, str]]) -> str:
        body = ("<CompleteMultipartUpload>" + "".join(
            f"<Part><PartNumber>{pn}</PartNumber>"
            f"<ETag>\"{etag}\"</ETag></Part>" for pn, etag in parts)
            + "</CompleteMultipartUpload>").encode()
        q = urllib.parse.urlencode({"uploadId": upload_id})
        _, _, data = self._request("POST", f"/{bucket}/{key}", query=q,
                                   body=body)
        root = ET.fromstring(data)
        ns = root.tag.partition("}")[0] + "}" if root.tag.startswith("{") else ""
        return (root.findtext(f"{ns}ETag") or "").strip('"')

    def abort_multipart_upload(self, bucket: str, key: str,
                               upload_id: str) -> None:
        q = urllib.parse.urlencode({"uploadId": upload_id})
        self._request("DELETE", f"/{bucket}/{key}", query=q)

    # a large upload's resume handle (StoreClient) is its upload id
    open_large = create_multipart_upload

    def put_object_large(self, bucket: str, key: str, body: bytes,
                         part_size: int = 8 * 1024 * 1024,
                         upload_id: str | None = None) -> str:
        """Multipart PUT in ``part_size`` chunks.  Pass the ``upload_id``
        of an interrupted attempt to resume: parts already on the server
        (matched by number + ETag) are skipped, only the rest re-upload.
        """
        import hashlib

        if upload_id is None:
            upload_id = self.create_multipart_upload(bucket, key)
            have: dict[int, str] = {}
        else:
            have = {pn: etag for pn, etag, _ in
                    self.list_parts(bucket, key, upload_id)}
        parts: list[tuple[int, str]] = []
        for i in range(0, max(len(body), 1), part_size):
            pn = i // part_size + 1
            chunk = body[i:i + part_size]
            etag = hashlib.md5(chunk).hexdigest()
            if have.get(pn) != etag:
                etag = self.upload_part(bucket, key, upload_id, pn, chunk)
            parts.append((pn, etag))
        return self.complete_multipart_upload(bucket, key, upload_id, parts)

    def list_objects(self, bucket: str, prefix: str = "",
                     max_keys: int = 1000) -> list[tuple[str, int]]:
        """Full listing via ListObjectsV2 continuation pages."""
        out: list[tuple[str, int]] = []
        token = None
        while True:
            q = {"list-type": "2", "prefix": prefix, "max-keys": str(max_keys)}
            if token:
                q["continuation-token"] = token
            query = urllib.parse.urlencode(sorted(q.items()))
            _, _, data = self._request("GET", f"/{bucket}", query=query)
            root = ET.fromstring(data)
            ns = root.tag.partition("}")[0] + "}" if root.tag.startswith("{") else ""
            for c in root.findall(f"{ns}Contents"):
                out.append((c.findtext(f"{ns}Key"), int(c.findtext(f"{ns}Size"))))
            if root.findtext(f"{ns}IsTruncated") != "true":
                return out
            token = root.findtext(f"{ns}NextContinuationToken")
            if not token:
                return out

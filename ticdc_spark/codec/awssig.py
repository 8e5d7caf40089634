"""AWS Signature Version 4 — request signing and verification.

The public SigV4 algorithm (docs.aws.amazon.com "Signature Version 4
signing process"): canonical request -> string-to-sign -> HMAC-SHA256
key derivation chain -> Authorization header. Used by the in-process S3
endpoint (`sinks/s3_server.py`) and its client so the cloud-storage sink
path is exercised against AUTHENTICATED requests, the way the
reference's storage sink talks to S3 through the AWS SDK.
"""

from __future__ import annotations

import hashlib
import hmac
import urllib.parse

ALGO = "AWS4-HMAC-SHA256"


def _sha256(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def _hmac(key: bytes, msg: str) -> bytes:
    return hmac.new(key, msg.encode("utf-8"), hashlib.sha256).digest()


def _uri_encode(s: str, encode_slash: bool) -> str:
    safe = "-_.~" + ("" if encode_slash else "/")
    return urllib.parse.quote(s, safe=safe)


def canonical_uri(path: str) -> str:
    """The request path as SigV4 canonicalizes it — and as a client must
    send it: each segment percent-encoded once, slashes kept."""
    return _uri_encode(path, False) or "/"


def canonical_request(
    method: str, path: str, query: str, headers: dict[str, str],
    signed_headers: list[str], payload_hash: str,
) -> str:
    # query params sorted by key then value, values URI-encoded strictly
    pairs = urllib.parse.parse_qsl(query, keep_blank_values=True)
    canon_q = "&".join(
        f"{_uri_encode(k, True)}={_uri_encode(v, True)}"
        for k, v in sorted(pairs)
    )
    lower = {k.lower(): " ".join(v.split()) for k, v in headers.items()}
    canon_h = "".join(f"{h}:{lower[h]}\n" for h in signed_headers)
    return "\n".join([
        method.upper(),
        canonical_uri(path),
        canon_q,
        canon_h,
        ";".join(signed_headers),
        payload_hash,
    ])


def signing_key(secret_key: str, date: str, region: str, service: str) -> bytes:
    k = _hmac(("AWS4" + secret_key).encode("utf-8"), date)
    k = _hmac(k, region)
    k = _hmac(k, service)
    return _hmac(k, "aws4_request")


def sign(
    method: str, path: str, query: str, headers: dict[str, str],
    payload: bytes, access_key: str, secret_key: str,
    amz_date: str, region: str = "us-east-1", service: str = "s3",
) -> tuple[str, str]:
    """Returns (authorization_header, payload_hash). Caller must have set
    host and will set x-amz-date / x-amz-content-sha256 to the values
    used here."""
    payload_hash = _sha256(payload)
    all_headers = dict(headers)
    all_headers["x-amz-date"] = amz_date
    all_headers["x-amz-content-sha256"] = payload_hash
    signed = sorted(k.lower() for k in all_headers)
    canon = canonical_request(method, path, query, all_headers, signed, payload_hash)
    date = amz_date[:8]
    scope = f"{date}/{region}/{service}/aws4_request"
    sts = "\n".join([ALGO, amz_date, scope, _sha256(canon.encode("utf-8"))])
    sig = hmac.new(signing_key(secret_key, date, region, service),
                   sts.encode("utf-8"), hashlib.sha256).hexdigest()
    auth = (f"{ALGO} Credential={access_key}/{scope}, "
            f"SignedHeaders={';'.join(signed)}, Signature={sig}")
    return auth, payload_hash


def parse_authorization(auth: str) -> dict:
    """Authorization header -> {access_key, date, region, service,
    signed_headers, signature}."""
    if not auth.startswith(ALGO + " "):
        raise ValueError("not a SigV4 Authorization header")
    parts = dict(
        p.strip().split("=", 1) for p in auth[len(ALGO) + 1 :].split(",")
    )
    cred = parts["Credential"].split("/")
    return {
        "access_key": cred[0],
        "date": cred[1],
        "region": cred[2],
        "service": cred[3],
        "signed_headers": parts["SignedHeaders"].split(";"),
        "signature": parts["Signature"],
    }


def verify(
    method: str, path: str, query: str, headers: dict[str, str],
    auth_header: str, secret_key: str,
) -> bool:
    """Server-side check: recompute the signature from the received
    request and compare (constant-time)."""
    info = parse_authorization(auth_header)
    lower = {k.lower(): v for k, v in headers.items()}
    payload_hash = lower.get("x-amz-content-sha256", "")
    amz_date = lower.get("x-amz-date", "")
    if not amz_date.startswith(info["date"]):
        return False
    canon = canonical_request(
        method, path, query, headers, info["signed_headers"], payload_hash)
    scope = f"{info['date']}/{info['region']}/{info['service']}/aws4_request"
    sts = "\n".join([ALGO, amz_date, scope, _sha256(canon.encode("utf-8"))])
    expect = hmac.new(
        signing_key(secret_key, info["date"], info["region"], info["service"]),
        sts.encode("utf-8"), hashlib.sha256).hexdigest()
    return hmac.compare_digest(expect, info["signature"])

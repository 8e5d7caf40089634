"""OAuth2 client-credentials + HS256 JWT for SASL/OAUTHBEARER.

The reference configures Kafka SASL OAUTHBEARER through an OAuth2 token
provider (`pkg/sink/kafka/oauth2_token_provider.go`: token-url,
client-id/secret, grant_type=client_credentials). This module implements
both halves from the public specs: RFC 6749 §4.4 token requests against
an in-process token endpoint, RFC 7519 JWTs signed HS256 (RFC 7515
compact serialization), and the RFC 7628 OAUTHBEARER initial client
response ("n,,\\x01auth=Bearer <tok>\\x01\\x01").
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
from urllib.parse import parse_qs

from ticdc_spark.endpoint import HttpEndpoint, HttpHandler


def _b64url(data: bytes) -> str:
    return base64.urlsafe_b64encode(data).rstrip(b"=").decode()


def _b64url_dec(s: str) -> bytes:
    return base64.urlsafe_b64decode(s + "=" * (-len(s) % 4))


def jwt_encode(claims: dict, secret: str) -> str:
    header = _b64url(json.dumps({"alg": "HS256", "typ": "JWT"},
                                separators=(",", ":")).encode())
    payload = _b64url(json.dumps(claims, separators=(",", ":")).encode())
    signing_input = f"{header}.{payload}".encode()
    sig = hmac.new(secret.encode(), signing_input, hashlib.sha256).digest()
    return f"{header}.{payload}.{_b64url(sig)}"


def jwt_verify(token: str, secret: str, now: int) -> dict | None:
    """-> claims if the signature holds and `exp` (when present) is in the
    future; None otherwise."""
    try:
        header, payload, sig = token.split(".")
    except ValueError:
        return None
    signing_input = f"{header}.{payload}".encode()
    expect = hmac.new(secret.encode(), signing_input, hashlib.sha256).digest()
    if not hmac.compare_digest(expect, _b64url_dec(sig)):
        return None
    claims = json.loads(_b64url_dec(payload))
    if "exp" in claims and now >= int(claims["exp"]):
        return None
    return claims


def oauthbearer_initial_response(token: str) -> bytes:
    """RFC 7628 §3.1 initial client response (gs2 header, no channel
    binding, the auth key-value, double \\x01 terminator)."""
    return b"n,,\x01auth=Bearer " + token.encode() + b"\x01\x01"


def parse_oauthbearer_response(data: bytes) -> str | None:
    if not data.startswith(b"n,,\x01") or not data.endswith(b"\x01\x01"):
        return None
    for kv in data[4:-2].split(b"\x01"):
        if kv.startswith(b"auth=Bearer "):
            return kv[len(b"auth=Bearer "):].decode()
    return None


class MiniOAuth2Server(HttpEndpoint):
    """Token endpoint: POST /token with grant_type=client_credentials +
    client_id/client_secret -> {"access_token": <HS256 JWT>, ...}."""

    def __init__(self, client_id: str, client_secret: str,
                 jwt_secret: str, issue_now: int = 1_700_000_000,
                 ttl_s: int = 3600, host: str = "127.0.0.1",
                 audience: str | None = None):
        # audience: when set, token requests must name it (RFC 8707
        # resource-indicator style, the `audience` form field Pulsar's
        # OAuth2 flow sends) and the issued JWT carries it as `aud` —
        # a consumer for a different audience is refused invalid_target
        super().__init__(host)
        self.client_id = client_id
        self.client_secret = client_secret
        self.jwt_secret = jwt_secret
        self.issue_now = issue_now
        self.ttl_s = ttl_s
        self.audience = audience
        srv = self

        class Handler(HttpHandler):
            def _json(self, code: int, payload: dict):
                data = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def do_POST(self):
                if self.path != "/token":
                    return self._json(404, {"error": "not_found"})
                n = int(self.headers.get("Content-Length", 0))
                form = parse_qs(self.rfile.read(n).decode())
                if (form.get("grant_type") != ["client_credentials"]
                        or form.get("client_id") != [srv.client_id]
                        or form.get("client_secret") != [srv.client_secret]):
                    return self._json(401, {"error": "invalid_client"})
                if (srv.audience is not None
                        and form.get("audience") != [srv.audience]):
                    return self._json(400, {"error": "invalid_target"})
                claims = {"iss": "mini-oauth2", "sub": srv.client_id,
                          "iat": srv.issue_now,
                          "exp": srv.issue_now + srv.ttl_s}
                if srv.audience is not None:
                    claims["aud"] = srv.audience
                if form.get("scope"):
                    claims["scope"] = form["scope"][0]
                token = jwt_encode(claims, srv.jwt_secret)
                return self._json(200, {
                    "access_token": token, "token_type": "Bearer",
                    "expires_in": srv.ttl_s})

        self._listen(Handler)

    @property
    def token_url(self) -> str:
        return f"{self.endpoint}/token"


def fetch_token(token_url: str, client_id: str, client_secret: str,
                audience: str | None = None,
                scope: str | None = None,
                grant_type: str = "client_credentials") -> str:
    """Client-credentials grant (what the reference's token provider does
    through the oauth2 library; Pulsar's flow adds audience/scope —
    `pkg/config/sink.go:581-597` OAuth2 fields; kafka's sasl-oauth
    family adds grant-type, `pkg/config/sink.go:487`)."""
    import urllib.parse
    import urllib.request

    form = {
        "grant_type": grant_type or "client_credentials",
        "client_id": client_id, "client_secret": client_secret,
    }
    if audience is not None:
        form["audience"] = audience
    if scope is not None:
        form["scope"] = scope
    body = urllib.parse.urlencode(form).encode()
    req = urllib.request.Request(
        token_url, data=body,
        headers={"Content-Type": "application/x-www-form-urlencoded"})
    with urllib.request.urlopen(req) as resp:
        payload = json.loads(resp.read())
    return payload["access_token"]

"""Avro schema-registry wire clients: Confluent REST and AWS Glue shapes.

Reference parity:
- Confluent client: `pkg/sink/codec/avro/confluent_schema_registry.go`
  (Register `:124`, Lookup `:213`, GetCachedOrRegister `:299`,
  ClearRegistry `:362`, httpRetry `:420`, wire header `getMsgHeader:407`
  = magic byte 0 + 4-byte big-endian id).
- Glue client: `pkg/sink/codec/avro/glue_schema_registry.go`
  (Register-as-create-or-update `:95-124`, UUID version ids, header
  `:330-342` = version byte 3 + compression byte 0 + 16-byte UUID).
- Subject naming: `pkg/sink/codec/avro/helper.go:143`
  (`topicName + subjectSuffix`, suffixes ``-key`` / ``-value``).
- Server-side semantics mirrored from the reference's own mock registry
  (`pkg/sink/codec/avro/mock_schema_registry.go`): per-subject version
  list, global monotone ids, re-registering an identical schema returns
  the existing id.

The transport is pluggable: production uses ``urllib`` over HTTP; tests
use either the in-process :class:`InMemoryConfluentRegistry` directly
(deterministic, no sockets — this is what the driver-facing oracle query
uses) or a real stdlib HTTP server wrapping the same registry object
(socket-level protocol test, `registry_http_server`).
"""

from __future__ import annotations

import json
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
import uuid as _uuid
from dataclasses import dataclass, field

from ticdc_spark.endpoint import HttpEndpoint, HttpHandler


# ---------------------------------------------------------------------------
# Subject naming strategies (helper.go:143)
# ---------------------------------------------------------------------------

KEY_SUFFIX = "-key"
VALUE_SUFFIX = "-value"


def topic_name_to_schema_subject(topic: str, suffix: str) -> str:
    """`topicName2SchemaSubjects` — TopicNameStrategy, the only strategy
    the reference uses."""
    return topic + suffix


# ---------------------------------------------------------------------------
# Server-side semantics (shared by the fake transport and the HTTP server)
# ---------------------------------------------------------------------------

class RegistryError(RuntimeError):
    """Client-visible registry failure (maps ErrAvroSchemaAPIError)."""


@dataclass
class _Subject:
    # ordered version list; each entry is (version, global_id, schema_str)
    versions: list[tuple[int, int, str]] = field(default_factory=list)


class InMemoryConfluentRegistry:
    """Server-side Confluent semantics, deterministic and dependency-free.

    Identical schema text re-registered under any subject returns the
    SAME global id (Confluent de-duplicates schemas globally); a new
    schema under an existing subject appends a new version.
    """

    def __init__(self) -> None:
        self._subjects: dict[str, _Subject] = {}
        self._schema_ids: dict[str, int] = {}  # compacted schema -> global id
        self._next_id = 1
        self._lock = threading.Lock()
        # failpoint hook: respond 500 to the next N requests
        self.fail_next = 0

    # -- protocol handler: returns (status, json-serializable body) --------
    def handle(self, method: str, path: str, body: str | None) -> tuple[int, object]:
        with self._lock:
            if self.fail_next > 0:
                self.fail_next -= 1
                return 500, {"error_code": 50001, "message": "Internal Server Error"}
            return self._route(method, path, body)

    def _route(self, method: str, path: str, body: str | None) -> tuple[int, object]:
        parts = [p for p in path.split("/") if p]
        if method == "GET" and not parts:
            # connectivity probe: the reference insists on the literal `{}`
            return 200, {}
        if method == "POST" and len(parts) == 3 and parts[0] == "subjects" and parts[2] == "versions":
            subject = urllib.parse.unquote(parts[1])
            try:
                schema = json.loads(body or "")["schema"]
            except (ValueError, KeyError):
                return 422, {"error_code": 42201, "message": "Invalid schema"}
            compact = json.dumps(json.loads(schema), separators=(",", ":"), sort_keys=True)
            gid = self._schema_ids.get(compact)
            if gid is None:
                gid = self._next_id
                self._next_id += 1
                self._schema_ids[compact] = gid
            sub = self._subjects.setdefault(subject, _Subject())
            for ver, vid, _ in sub.versions:
                if vid == gid:
                    return 200, {"id": gid}  # idempotent re-register
            sub.versions.append((len(sub.versions) + 1, gid, compact))
            return 200, {"id": gid}
        if method == "GET" and len(parts) == 3 and parts[0] == "schemas" and parts[1] == "ids":
            try:
                want = int(parts[2])
            except ValueError:
                return 404, {"error_code": 40403, "message": "Schema not found"}
            for compact, gid in self._schema_ids.items():
                if gid == want:
                    return 200, {"schema": compact}
            return 404, {"error_code": 40403, "message": "Schema not found"}
        if method == "GET" and len(parts) == 4 and parts[0] == "subjects" and parts[2] == "versions":
            subject = urllib.parse.unquote(parts[1])
            sub = self._subjects.get(subject)
            if sub is None or not sub.versions:
                return 404, {"error_code": 40401, "message": "Subject not found"}
            ver, gid, schema = sub.versions[-1] if parts[3] == "latest" else \
                next(((v, i, s) for v, i, s in sub.versions if str(v) == parts[3]),
                     sub.versions[-1])
            return 200, {"name": subject, "version": ver, "id": gid, "schema": schema}
        if method == "DELETE" and len(parts) == 2 and parts[0] == "subjects":
            subject = urllib.parse.unquote(parts[1])
            sub = self._subjects.pop(subject, None)
            if sub is None:
                return 404, {"error_code": 40401, "message": "Subject not found"}
            return 200, [v for v, _, _ in sub.versions]
        return 404, {"error_code": 404, "message": "no route"}


# ---------------------------------------------------------------------------
# Transports
# ---------------------------------------------------------------------------

class HttpTransport:
    """urllib-based transport — what a production deployment uses."""

    def __init__(self, timeout: float = 30.0) -> None:
        self.timeout = timeout

    def request(self, method: str, url: str, body: str | None,
                headers: dict[str, str]) -> tuple[int, str]:
        req = urllib.request.Request(
            url, data=body.encode() if body is not None else None,
            headers=headers, method=method)
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                return resp.status, resp.read().decode()
        except urllib.error.HTTPError as e:  # non-2xx still has a body
            return e.code, e.read().decode()


class InMemoryTransport:
    """Routes requests straight into an InMemoryConfluentRegistry —
    deterministic, no sockets; the driver-facing query path."""

    def __init__(self, registry: InMemoryConfluentRegistry) -> None:
        self.registry = registry

    def request(self, method: str, url: str, body: str | None,
                headers: dict[str, str]) -> tuple[int, str]:
        path = urllib.parse.urlparse(url).path
        status, payload = self.registry.handle(method, path, body)
        return status, json.dumps(payload)


# ---------------------------------------------------------------------------
# Confluent client (confluent_schema_registry.go)
# ---------------------------------------------------------------------------

_ACCEPT = ("application/vnd.schemaregistry.v1+json, "
           "application/vnd.schemaregistry+json, application/json")
MAGIC_BYTE = 0  # wire-format magic (confluent_schema_registry.go:42)


@dataclass
class CacheEntry:
    schema_id: int | str
    table_version: int
    schema: str
    header: bytes


class ConfluentSchemaManager:
    """Client for the Confluent schema-registry REST API.

    Mirrors `confluentSchemaManager`: connectivity probe on construction,
    Register / Lookup / GetCachedOrRegister / ClearRegistry, retry with
    backoff (httpRetry `:420` — 8 attempts in the reference; configurable
    here), and the 5-byte message header.
    """

    def __init__(self, registry_url: str, transport=None,
                 max_retries: int = 8, backoff_s: float = 0.05) -> None:
        self.registry_url = registry_url.rstrip("/")
        self.transport = transport or HttpTransport()
        self.max_retries = max_retries
        self.backoff_s = backoff_s
        self._cache: dict[str, CacheEntry] = {}
        # id -> schema text: the consumer-side cache every real decoder
        # keeps (one GET /schemas/ids/{id} per id, not per message)
        self._id_cache: dict[int, str] = {}
        self._lock = threading.Lock()
        status, text = self.transport.request(
            "GET", self.registry_url + "/", None, {"Accept": _ACCEPT})
        if status != 200 or text.strip() != "{}":
            raise RegistryError(
                f"unexpected response from Schema Registry: {status} {text!r}")

    @classmethod
    def in_memory(cls, **kw) -> "ConfluentSchemaManager":
        """A manager over a fresh in-process registry: the per-batch
        registry of the Arrow-batched encoders (a deployment passes its
        REST registry URL instead)."""
        return cls("http://registry.local",
                   transport=InMemoryTransport(InMemoryConfluentRegistry()),
                   **kw)

    # -- retry loop (httpRetry) -------------------------------------------
    def _do(self, method: str, path: str, body: str | None) -> tuple[int, str]:
        headers = {"Accept": _ACCEPT}
        if body is not None:
            headers["Content-Type"] = "application/vnd.schemaregistry.v1+json"
        last: tuple[int, str] = (0, "")
        for attempt in range(self.max_retries):
            try:
                status, text = self.transport.request(
                    method, self.registry_url + path, body, headers)
            except OSError as e:
                last = (0, str(e))
            else:
                # retry server-side errors; client errors are final
                if status < 500:
                    return status, text
                last = (status, text)
            if attempt + 1 < self.max_retries:
                time.sleep(self.backoff_s * (2 ** attempt))
        return last

    def register(self, subject: str, schema_definition: str) -> int:
        """POST /subjects/{subject}/versions — returns the global id.
        The registry expects compact JSON (`json.Compact` in the Go)."""
        compact = json.dumps(json.loads(schema_definition), separators=(",", ":"))
        payload = json.dumps({"schema": compact})
        status, text = self._do(
            "POST", "/subjects/" + urllib.parse.quote(subject, safe="") + "/versions",
            payload)
        if status != 200:
            raise RegistryError(f"register schema failed with status {status}")
        sid = json.loads(text).get("id", 0)
        if not sid:
            raise RegistryError(f"illegal schema ID returned from Registry {sid}")
        return sid

    def lookup(self, subject: str, schema_id: int) -> str:
        """Schema text for an id — cache first, then GET /schemas/ids/{id}."""
        with self._lock:
            entry = self._cache.get(subject)
            if entry is not None and entry.schema_id == schema_id:
                return entry.schema
            cached = self._id_cache.get(schema_id)
            if cached is not None:
                return cached
        status, text = self._do("GET", f"/schemas/ids/{schema_id}", None)
        if status == 404:
            raise RegistryError(f"schema not found in registry, id: {schema_id}")
        if status != 200:
            raise RegistryError(f"lookup schema failed with status {status}")
        schema = json.loads(text)["schema"]
        with self._lock:
            self._id_cache[schema_id] = schema
        return schema

    def get_cached_or_register(self, subject: str, table_version: int,
                               schema_gen) -> tuple[str, bytes]:
        """(schema, 5-byte header). Cache key is the subject; the entry is
        valid while the table version is unchanged (`:299-311`)."""
        with self._lock:
            entry = self._cache.get(subject)
            if entry is not None and entry.table_version == table_version:
                return entry.schema, entry.header
        schema = schema_gen()
        sid = self.register(subject, schema)
        header = self.get_msg_header(sid)
        with self._lock:
            self._cache[subject] = CacheEntry(sid, table_version, schema, header)
        return schema, header

    def clear_registry(self, subject: str) -> None:
        """DELETE /subjects/{subject}; idempotent (404 is fine, `:362-399`)."""
        status, _ = self._do(
            "DELETE", "/subjects/" + urllib.parse.quote(subject, safe=""), None)
        if status not in (200, 404):
            raise RegistryError(f"clear registry failed with status {status}")

    @staticmethod
    def get_msg_header(schema_id: int) -> bytes:
        """Confluent wire header: magic 0 + big-endian uint32 id (`:407`)."""
        return bytes([MAGIC_BYTE]) + int(schema_id).to_bytes(4, "big")

    @property
    def registry_type(self) -> str:
        return "confluent"


# ---------------------------------------------------------------------------
# Stdlib HTTP server over the in-memory registry (socket-level tests)
# ---------------------------------------------------------------------------

class registry_http_server(HttpEndpoint):
    """Context manager: serve an InMemoryConfluentRegistry over real HTTP
    on 127.0.0.1:<ephemeral>; yields the base URL."""

    def __init__(self, registry: InMemoryConfluentRegistry) -> None:
        super().__init__()
        self.registry = registry

        class Handler(HttpHandler):
            def _serve(self, method: str) -> None:
                n = int(self.headers.get("Content-Length") or 0)
                body = self.rfile.read(n).decode() if n else None
                status, payload = registry.handle(method, self.path, body)
                data = json.dumps(payload).encode()
                self.send_response(status)
                self.send_header("Content-Type",
                                 "application/vnd.schemaregistry.v1+json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def do_GET(self):  # noqa: N802
                self._serve("GET")

            def do_POST(self):  # noqa: N802
                self._serve("POST")

            def do_DELETE(self):  # noqa: N802
                self._serve("DELETE")

        self._listen(Handler)

    def __enter__(self) -> str:
        self.start()
        return self.endpoint


# ---------------------------------------------------------------------------
# Glue client (glue_schema_registry.go)
# ---------------------------------------------------------------------------

GLUE_HEADER_VERSION = 3     # glue_schema_registry.go:330
GLUE_COMPRESSION_NONE = 0   # :331


class FakeGlueClient:
    """Deterministic stand-in for the AWS Glue API subset the reference
    uses (GetRegistry / GetSchemaVersion / CreateSchema /
    RegisterSchemaVersion). Version ids are UUIDs derived from
    (registry, schema name, version) so tests and oracles are stable."""

    def __init__(self, registry_name: str = "default") -> None:
        self.registry_name = registry_name
        # name -> list of (version_uuid, schema_str)
        self._schemas: dict[str, list[tuple[str, str]]] = {}

    @staticmethod
    def _version_uuid(registry: str, name: str, version: int) -> str:
        return str(_uuid.uuid5(_uuid.NAMESPACE_URL,
                               f"glue://{registry}/{name}/{version}"))

    def get_registry(self, registry_name: str) -> dict:
        if registry_name != self.registry_name:
            raise RegistryError(f"registry not found: {registry_name}")
        return {"RegistryName": registry_name, "Status": "AVAILABLE"}

    def create_schema(self, name: str, definition: str) -> str:
        if name in self._schemas:
            raise RegistryError(f"schema already exists: {name}")
        vid = self._version_uuid(self.registry_name, name, 1)
        self._schemas[name] = [(vid, definition)]
        return vid

    def register_schema_version(self, name: str, definition: str) -> str:
        versions = self._schemas.get(name)
        if versions is None:
            raise RegistryError(f"schema not found: {name}")
        for vid, schema in versions:
            if schema == definition:
                return vid  # same schema -> same version id
        vid = self._version_uuid(self.registry_name, name, len(versions) + 1)
        versions.append((vid, definition))
        return vid

    def get_schema_by_name(self, name: str) -> tuple[bool, str]:
        versions = self._schemas.get(name)
        if not versions:
            return False, ""
        return True, versions[-1][1]

    def get_schema_version(self, version_id: str) -> tuple[bool, str]:
        for versions in self._schemas.values():
            for vid, schema in versions:
                if vid == version_id:
                    return True, schema
        return False, ""


class GlueSchemaManager:
    """Mirrors `glueSchemaManager`: Register is create-or-update-version
    (`:95-124`), Lookup fetches by version UUID, the message header is
    version byte 3 + compression byte 0 + raw 16-byte UUID (`:330-342`)."""

    def __init__(self, registry_name: str, client: FakeGlueClient | None = None) -> None:
        self.registry_name = registry_name
        self.client = client or FakeGlueClient(registry_name)
        self.client.get_registry(registry_name)  # existence check, like the ctor
        self._cache: dict[str, CacheEntry] = {}
        # id -> schema text: the consumer-side cache every real decoder
        # keeps (one GET /schemas/ids/{id} per id, not per message)
        self._id_cache: dict[int, str] = {}
        self._lock = threading.Lock()

    def register(self, schema_name: str, schema_definition: str) -> str:
        exists, _ = self.client.get_schema_by_name(schema_name)
        if exists:
            return self.client.register_schema_version(schema_name, schema_definition)
        return self.client.create_schema(schema_name, schema_definition)

    def lookup(self, schema_name: str, version_id: str) -> str:
        with self._lock:
            entry = self._cache.get(schema_name)
            if entry is not None and entry.schema_id == version_id:
                return entry.schema
        ok, schema = self.client.get_schema_version(version_id)
        if not ok:
            raise RegistryError(
                f"schema not found in registry, name: {schema_name}, id: {version_id}")
        with self._lock:
            self._cache[schema_name] = CacheEntry(
                version_id, -1, schema, self.get_msg_header(version_id))
        return schema

    def get_cached_or_register(self, schema_name: str, table_version: int,
                               schema_gen) -> tuple[str, bytes]:
        with self._lock:
            entry = self._cache.get(schema_name)
            if entry is not None and entry.table_version == table_version:
                return entry.schema, entry.header
        schema = schema_gen()
        vid = self.register(schema_name, schema)
        header = self.get_msg_header(vid)
        with self._lock:
            self._cache[schema_name] = CacheEntry(vid, table_version, schema, header)
        return schema, header

    @staticmethod
    def get_msg_header(version_id: str) -> bytes:
        return (bytes([GLUE_HEADER_VERSION, GLUE_COMPRESSION_NONE])
                + _uuid.UUID(version_id).bytes)

    @property
    def registry_type(self) -> str:
        return "glue"


def parse_msg_header(data: bytes) -> tuple[int | str, int]:
    """Inverse of both managers' ``get_msg_header``: (schema ref, offset
    of the Avro body).  A leading 0 is the Confluent header (4-byte
    big-endian id); a leading 3 is the Glue header (compression byte,
    16-byte schema-version UUID, `getGlueSchemaIDFromHeader`,
    `glue_schema_registry.go:346-352`).  The ref is what the matching
    manager's ``lookup`` takes."""
    if len(data) >= 5 and data[0] == MAGIC_BYTE:
        return int.from_bytes(data[1:5], "big"), 5
    if len(data) >= 18 and data[0] == GLUE_HEADER_VERSION:
        return str(_uuid.UUID(bytes=bytes(data[2:18]))), 18
    raise ValueError("avro: bad confluent envelope (neither a Confluent "
                     "nor a Glue registry header)")

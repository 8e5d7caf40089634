"""HTTP control plane — the OpenAPI v2 surface of the reference
(`api/v2/api.go:61-110`) over :class:`ChangefeedRegistry`.

Routes implemented (reference handler in parens):

- ``GET    /api/v2/health``                       (ServerHealth)
- ``POST   /api/v2/changefeeds``                  (CreateChangefeed, `api/v2/changefeed.go:89`)
- ``GET    /api/v2/changefeeds``                  (ListChangeFeeds)
- ``GET    /api/v2/changefeeds/{id}``             (GetChangeFeed)
- ``PUT    /api/v2/changefeeds/{id}``             (UpdateChangefeed — only
  while stopped, mirroring the reference's pause-before-update rule)
- ``POST   /api/v2/changefeeds/{id}/pause``       (PauseChangefeed)
- ``POST   /api/v2/changefeeds/{id}/resume``      (ResumeChangefeed)
- ``DELETE /api/v2/changefeeds/{id}``             (DeleteChangefeed)
- ``GET    /api/v2/changefeeds/{id}/status``      (status)
- ``GET    /api/v2/changefeeds/{id}/synced``      (synced)
- ``GET    /api/v2/changefeeds/{id}/tables``      (ListTables, `changefeed.go:1464` —
  tables grouped per node; single node = one NodeTableInfo)
- ``GET    /api/v2/changefeeds/{id}/get_dispatcher_count`` (`changefeed.go:1533`)
- ``POST   /api/v2/changefeeds/{id}/split_table_by_region_count?tableID=N``
  (`changefeed.go:1323` — span plan from the evenlySplitStepper)
- ``POST   /api/v2/changefeeds/{id}/move_table|move_split_table|merge_table``
  (placement no-ops on a single node; the driver owns every span)
- ``POST   /api/v2/tso``                          (QueryTso)
- ``GET    /api/v2/status``                       (ServerStatus, `status.go:35`)
- ``GET    /api/v2/captures``                     (ListCaptures — one capture: the driver)
- ``GET    /api/v2/processors[/{id}/{capture}]``  (ListProcessor/GetProcessor)
- ``POST   /api/v2/verify_table`` / ``/api/v2/get_all_tables``
  (`changefeed.go:412,451` — filter rules over the SchemaStore, split by
  PK/not-null-UK eligibility)
- ``POST   /api/v2/log``                          (SetLogLevel)
- ``POST   /api/v2/owner/resign``                 (single owner re-elects itself)
- ``GET    /api/v2/unsafe/metadata``              (CDCMetaData — registry KV dump)
- ``DELETE /api/v2/unsafe/service_gc_safepoint``  (DeleteServiceGcSafePoint)

The server is the shared threaded HTTP listener (`endpoint.py`) — the control plane is
driver-side and tiny; the data plane never touches it. Responses follow
the reference's JSON shapes loosely (``{"error_msg": ...}`` on failure,
HTTP status codes per REST convention).
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from urllib.parse import parse_qs

from ticdc_spark import failpoint
from ticdc_spark.endpoint import HttpEndpoint, HttpHandler
from ticdc_spark.operators.table_filter import _wildcard_to_regex
from ticdc_spark.plans.schema_store import SchemaStore
from ticdc_spark.sources.changelog import _EVENT_MAP
from ticdc_spark.streaming.registry import ChangefeedRegistry

VERSION = "ticdc-spark-1.0"
_LOG_LEVELS = {"debug", "info", "warn", "error"}
# Redact-mode restriction ladder (`api/v2/log.go:110-121`): transitions
# may only move toward MORE restrictive (off → marker → on); unknown
# modes are rejected at parse, same as util.ParseRedactMode.
_REDACT_LEVELS = {"off": 0, "marker": 1, "on": 2}

# FeedState.ToInt (`pkg/config/changefeed.go:63-84`) — the value of the
# ticdc_owner_status gauge.
_STATE_CODES = {
    "normal": 0, "pending": 1, "failed": 2, "stopped": 3,
    "finished": 4, "removed": 5, "warning": 6, "uninitialized": 7,
}


def _rfc_code(status: int, msg: str) -> str:
    """RFC error code for an HTTPError document (`pkg/api/util.go:72-84`
    — ``{"error_msg", "error_code"}``; codes from `pkg/errors/error.go`).
    Derived from the failure class the way NewHTTPError derives it from
    the normalized error value."""
    low = msg.lower()
    if "changefeed" in low and "not found" in low:
        return "CDC:ErrChangeFeedNotExists"
    if "already exists" in low:
        return "CDC:ErrChangeFeedAlreadyExists"
    if "pause it before update" in low:
        return "CDC:ErrChangefeedUpdateRefused"
    if "gc safepoint" in low:
        return "CDC:ErrStartTsBeforeGC"
    if "target-ts" in low:
        return "CDC:ErrTargetTsBeforeStartTs"
    if status >= 500:
        return "CDC:ErrInternalServerError"
    return "CDC:ErrAPIInvalidParam"

_CF_ROUTE = re.compile(
    r"^/api/v2/changefeeds/(?P<id>[^/]+)(?P<verb>/(pause|resume|status|synced"
    r"|tables|get_dispatcher_count|split_table_by_region_count"
    r"|move_table|move_split_table|merge_table))?$"
)
_PROC_ROUTE = re.compile(
    r"^/api/v2/processors/(?P<id>[^/]+)/(?P<capture>[^/]+)$"
)


def match_table(rules: list[str], schema: str, table: str,
                case_sensitive: bool = True) -> bool:
    """Pure-Python twin of ``table_filter_predicate`` (F1): ordered rule
    list, LAST matching rule decides, ``!`` excludes, no match excludes."""
    ok = False
    s, t = (schema, table) if case_sensitive else (schema.lower(), table.lower())
    for rule in rules:
        accept = not rule.startswith("!")
        body = rule.lstrip("!")
        if not case_sensitive:
            body = body.lower()
        sp, tp = body.split(".", 1) if "." in body else (body, "*")
        if re.match(_wildcard_to_regex(sp), s) and re.match(
            _wildcard_to_regex(tp), t
        ):
            ok = accept
    return ok


def region_count_spans(n_regions: int, spans_num: int) -> list[dict]:
    """evenlySplitStepper closed form (`maintainer/split/
    region_count_splitter.go:158-209`): the first ``remain`` spans take
    ``rps+1`` regions, the rest ``rps``. Pure twin of
    ``split_spans_region_count``'s spans_num branch; skipped (one span)
    when the table has fewer regions than requested spans (`:91-99`)."""
    if spans_num <= 1 or n_regions < spans_num:
        return [{"span_id": 0, "start_region": 0, "end_region": n_regions}]
    rps, remain = divmod(n_regions, spans_num)
    spans, i = [], 0
    for j in range(spans_num):
        size = rps + 1 if j < remain else rps
        spans.append({"span_id": j, "start_region": i, "end_region": i + size})
        i += size
    return spans


def default_schema_store() -> SchemaStore:
    """Seed a SchemaStore with the changelog's logical tables (the
    ``test.tp_*`` universe of `sources/changelog.py::_EVENT_MAP`)."""
    st = SchemaStore()
    st.apply_ddl({"type": "create-schema", "schema": "test", "commit_ts": 0})
    for event_type, (_op, table_id) in sorted(
        _EVENT_MAP.items(), key=lambda kv: kv[1][1]
    ):
        st.apply_ddl({
            "type": "create-table", "schema": "test",
            "table": f"tp_{event_type}", "table_id": table_id,
            "commit_ts": 0,
            "columns": [
                {"name": "id", "spark_type": "bigint", "nullable": False,
                 "primary_key": True},
                {"name": "val", "spark_type": "double"},
                {"name": "k", "spark_type": "bigint"},
            ],
        })
    return st


class ApiServer(HttpEndpoint):
    """Bind the registry to an ephemeral HTTP port. ``start()`` returns
    the bound port; ``stop()`` shuts the listener down."""

    def __init__(
        self,
        registry: ChangefeedRegistry,
        host: str = "127.0.0.1",
        schema_store: SchemaStore | None = None,
        tls: bool = False,
        mutual_tls: bool = False,
        client_user_required: bool = False,
        client_allowed_user: list[str] | None = None,
        verify_password=None,
    ) -> None:
        """Control-plane security (`pkg/config/server.go:112-124`
        Security; `:251-254` validation; auth middleware
        `api/middleware/authenticate_middleware.go:33-46`):

        - ``tls=True`` serves the open API over HTTPS (a fresh
          self-signed leaf, or a CA-signed one under ``mutual_tls``,
          which additionally REQUIRES client certificates chained to
          the CA — the Security.MTLS knob, server.go:116-122).
          ``ca_pem`` is exported for clients to pin.
        - ``client_user_required`` + ``client_allowed_user`` gate every
          route behind HTTP Basic auth: the username must be in the
          allowed list and the password must verify against the
          UPSTREAM (the reference dials upstream TiDB with the
          credentials — `authenticate_middleware.go:81-110`;
          ``verify_password(user, password) -> bool`` is that dial,
          e.g. a MiniMySQLServer connect). Enabling the gate with an
          empty allowed list is a config error (server.go:251-254).
        """
        if client_user_required and not client_allowed_user:
            raise ValueError(
                "client-allowed-user should not be empty when "
                "client-user-required is true")
        super().__init__(host, tls, mutual_tls)
        self.registry = registry
        self.client_user_required = client_user_required
        self.client_allowed_user = list(client_allowed_user or [])
        self.verify_password = verify_password
        self.schema_store = schema_store or default_schema_store()
        self.log_level = "info"
        self.redact_mode = "off"
        self._scrapes = 0
        self._redact_lock = threading.Lock()
        # failpoints enabled over HTTP, tracked separately from env-armed
        # ones so List shows exactly what the API set (`failpoint.go:70`)
        self.http_failpoints: dict[str, str] = {}

    def start(self, port: int = 0) -> int:
        """Listen on ``port`` (0: ephemeral) -> the bound port."""
        if self._thread is not None:
            return self.port
        registry = self.registry
        server = self

        class Handler(HttpHandler):
            def _send(self, code: int, payload: dict | list) -> None:
                if (isinstance(payload, dict) and "error_msg" in payload
                        and "error_code" not in payload):
                    payload = {**payload,
                               "error_code": _rfc_code(
                                   code, payload["error_msg"])}
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _body(self) -> dict:
                n = int(self.headers.get("Content-Length") or 0)
                if not n:
                    return {}
                return json.loads(self.rfile.read(n))

            def _route(self):
                path, _, query = self.path.partition("?")
                return path, parse_qs(query)

            def _authorized(self) -> bool:
                """`authenticate_middleware.go:33-78` verify(): Basic
                auth header required, username in the allowed list,
                password verified against the upstream. On refusal the
                request BODY is drained first (keep-alive safety) and a
                401 with the reference's message is sent."""
                if not server.client_user_required:
                    return True
                import base64 as _b64

                def deny(msg: str) -> bool:
                    n = int(self.headers.get("Content-Length") or 0)
                    if n:
                        self.rfile.read(n)
                    self._send(401, {"error_msg": msg})
                    return False

                hdr = self.headers.get("Authorization") or ""
                if not hdr.startswith("Basic "):
                    return deny("please specify the user and password "
                                "via authorization header")
                try:
                    user, _, password = _b64.b64decode(
                        hdr[6:]).decode().partition(":")
                except Exception:
                    return deny("please specify the user and password "
                                "via authorization header")
                if user not in server.client_allowed_user:
                    msg = ("Empty username is not allowed." if user == ""
                           else "The user is not allowed.")
                    return deny(msg)
                if server.verify_password is not None and not (
                        server.verify_password(user, password)):
                    return deny(
                        "failed to verify the user and password via "
                        "upstream")
                return True

            def _matched_tables(self, cid: str) -> list:
                """Tables this changefeed replicates: its F1 filter rules
                applied to the SchemaStore's current table universe."""
                cfg = registry.get(cid).cfg
                # control plane must see the same table set the data plane
                # replicates: apply_table_filter honors cfg.case_sensitive
                # (default False), so match_table must too
                return [
                    t
                    for t in server.schema_store.get_all_physical_tables(
                        ts=2**62
                    )
                    if match_table(cfg.filter_rules, t.schema_name,
                                   t.table_name,
                                   case_sensitive=cfg.case_sensitive)
                ]

            def _verify_tables(self, body: dict) -> dict:
                """Shared core of VerifyTable/GetAllTables
                (`changefeed.go:412-451`): filter rules over the store,
                split by PK/not-null-UK eligibility (F6 IsEligibleTable)."""
                rules = body.get("filter_rules", ["*.*"])
                # default False mirrors ChangefeedConfig.case_sensitive
                case_sensitive = bool(body.get("case_sensitive", False))
                ts = body.get("start_ts", 2**62)
                # force-replicate admits PK-less tables (F6 eligibility
                # override, `pkg/filter/filter.go:236` ForceReplicate)
                force = bool(body.get("force_replicate", False))
                doc = lambda t: {  # noqa: E731
                    "schema_name": t.schema_name,
                    "table_name": t.table_name,
                    "table_id": t.table_id,
                }
                eligible, ineligible = [], []
                for t in server.schema_store.get_all_physical_tables(ts=ts):
                    if not match_table(rules, t.schema_name, t.table_name,
                                       case_sensitive=case_sensitive):
                        continue
                    ok = force or t.has_pk_or_not_null_uk
                    (eligible if ok else ineligible).append(doc(t))
                return {
                    "eligible_tables": eligible,
                    "ineligible_tables": ineligible,
                }

            # -- GET ------------------------------------------------------
            def do_GET(self):
                if not self._authorized():
                    return
                path, _query = self._route()
                if path == "/api/v2/health":
                    return self._send(200, {"status": "ok"})
                if path == "/api/v2/changefeeds":
                    # ?state= filters like the reference's ListChangeFeeds
                    want = _query.get("state", [None])[0]
                    items = [
                        {"id": cid, "state": st}
                        for cid, st in sorted(registry.list().items())
                        if want is None or st == want
                    ]
                    return self._send(200, {"total": len(items), "items": items})
                if path in ("/api/v2/status", "/status"):
                    return self._send(200, {
                        "version": VERSION,
                        "git_hash": "",
                        "pid": os.getpid(),
                        "id": "driver",
                        "cluster_id": "ticdc-spark",
                        "is_owner": True,
                        "liveness": 0,
                    })
                if path == "/api/v2/captures":
                    cap = {
                        "id": "driver",
                        "is_owner": True,
                        "address": f"{server.host}:{self.server.server_address[1]}",
                    }
                    return self._send(200, {"total": 1, "items": [cap]})
                if path == "/api/v2/processors":
                    items = [
                        {"changefeed_id": cid, "capture_id": "driver"}
                        for cid, st in sorted(registry.list().items())
                        if st != "removed"
                    ]
                    return self._send(200, {"total": len(items), "items": items})
                pm = _PROC_ROUTE.match(path)
                if pm:
                    cid, cap = pm.group("id"), pm.group("capture")
                    if cap != "driver" or registry.list().get(cid) in (
                        None, "removed"
                    ):
                        return self._send(
                            400, {"error_msg": f"processor not found: {cid}/{cap}"}
                        )
                    return self._send(200, {
                        "changefeed_id": cid, "capture_id": cap,
                        "table_ids": [
                            t.table_id for t in self._matched_tables(cid)
                        ],
                    })
                if path == "/metrics":
                    # Prometheus text exposition (the reference's gauges
                    # from `pkg/metrics/changefeed.go`): owner status +
                    # checkpoint ts/lag per changefeed, the ownership
                    # counter (incremented per scrape here — the
                    # reference ticks it every 5 s on the owner), and the
                    # progress-log row totals.
                    server._scrapes += 1
                    now_us = int(time.time() * 1e6)
                    lines = [
                        "# HELP ticdc_owner_status The status of changefeeds",
                        "# TYPE ticdc_owner_status gauge",
                    ]
                    items = sorted(registry.list().items())
                    for cid, st in items:
                        code = _STATE_CODES.get(st, -1)
                        lines.append(
                            f'ticdc_owner_status{{changefeed="{cid}"}} {code}')
                    lines += [
                        "# HELP ticdc_owner_checkpoint_ts checkpoint ts "
                        "of changefeeds",
                        "# TYPE ticdc_owner_checkpoint_ts gauge",
                        "# HELP ticdc_owner_checkpoint_ts_lag changefeed "
                        "checkpoint ts lag in seconds",
                        "# TYPE ticdc_owner_checkpoint_ts_lag gauge",
                    ]
                    for cid, st in items:
                        if st == "removed":
                            continue  # DeleteLabelValues analog
                        ckpt = registry.get(cid).checkpoint_ts()
                        if ckpt is None:
                            continue
                        lag = max(0.0, (now_us - ckpt) / 1e6)
                        lines.append(
                            f'ticdc_owner_checkpoint_ts{{changefeed='
                            f'"{cid}"}} {ckpt}')
                        lines.append(
                            f'ticdc_owner_checkpoint_ts_lag{{changefeed='
                            f'"{cid}"}} {round(lag, 3)}')
                    lines += [
                        "# HELP ticdc_sink_flushed_rows_total rows "
                        "flushed by the sink (progress log)",
                        "# TYPE ticdc_sink_flushed_rows_total counter",
                    ]
                    for cid, st in items:
                        if st == "removed":
                            continue
                        rows = registry.get(cid).stats().get("rows", 0)
                        lines.append(
                            f'ticdc_sink_flushed_rows_total{{changefeed='
                            f'"{cid}"}} {rows}')
                    # ChangefeedErrorInfoGauge (`metrics/changefeed.go:84`)
                    docs = registry._load()
                    err_lines = []
                    for cid, doc in sorted(docs.items()):
                        if doc.get("error"):
                            code = doc.get("error_code", "")
                            err_lines.append(
                                f'ticdc_owner_changefeed_error_info{{'
                                f'changefeed="{cid}",state="{doc["state"]}"'
                                f',code="{code}"}} 1')
                    if err_lines:
                        lines += [
                            "# HELP ticdc_owner_changefeed_error_info "
                            "current warning/failed reason per changefeed",
                            "# TYPE ticdc_owner_changefeed_error_info "
                            "gauge",
                        ] + err_lines
                    lines += [
                        "# HELP ticdc_owner_ownership_counter The counter"
                        " of ownership",
                        "# TYPE ticdc_owner_ownership_counter counter",
                        f"ticdc_owner_ownership_counter {server._scrapes}",
                    ]
                    body = ("\n".join(lines) + "\n").encode()
                    self.send_response(200)
                    self.send_header(
                        "Content-Type",
                        "text/plain; version=0.0.4; charset=utf-8")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    return None
                if path == "/debug/info":
                    # `api.go:46` handleDebugInfo — the node-health probe
                    # the integration harness polls; ours reports the
                    # driver process plus the changefeed inventory.
                    return self._send(200, {
                        "version": VERSION,
                        "pid": os.getpid(),
                        "log_level": server.log_level,
                        "redact_mode": server.redact_mode,
                        "changefeeds": registry.list(),
                    })
                if path == "/debug/failpoints":
                    # ListFailpoints (`api/v2/failpoint.go:120`): only the
                    # HTTP-enabled set, name-sorted
                    return self._send(200, [
                        {"name": n, "expr": e}
                        for n, e in sorted(server.http_failpoints.items())
                    ])
                if path == "/api/v2/unsafe/metadata":
                    kvs = [
                        {"key": f"/ticdc/changefeed/info/{cid}", "value": doc}
                        for cid, doc in sorted(registry._load().items())
                    ]
                    return self._send(200, {"kvs": kvs})
                m = _CF_ROUTE.match(path)
                if not m:
                    return self._send(404, {"error_msg": "no such route"})
                cid, verb = m.group("id"), (m.group("verb") or "")
                try:
                    info = registry.describe(cid)
                except KeyError:
                    return self._send(
                        400, {"error_msg": f"changefeed not found: {cid}"}
                    )
                if verb == "/tables":
                    node = {
                        "node_id": "driver",
                        "table_ids": [
                            t.table_id for t in self._matched_tables(cid)
                        ],
                    }
                    return self._send(200, {"total": 1, "items": [node]})
                if verb == "/get_dispatcher_count":
                    # one dispatcher per table span; single node, no splits
                    return self._send(
                        200, {"count": len(self._matched_tables(cid))}
                    )
                if verb == "/status":
                    return self._send(200, {
                        "state": info["state"],
                        "checkpoint_ts": info["checkpoint_ts"],
                        **registry.get(cid).stats(),
                    })
                if verb == "/synced":
                    # Reference semantics (`api/v2/changefeed.go:
                    # 1658-1730`): three branches over the configured
                    # [synced-status] intervals.  Clock + upstream
                    # watermarks arrive as headers (the PD/TSO analogs);
                    # all ts are epoch µs except X-Now-Ts (ms, the PD
                    # physical clock).
                    import time as _time

                    cfg = registry.get(cid).cfg
                    check_s = cfg.synced_check_interval_s or 300
                    ckpt_s = cfg.synced_checkpoint_interval_s or 15
                    now_ms = int(self.headers.get("X-Now-Ts")
                                 or _time.time() * 1000)
                    resolved = int(self.headers.get("X-Resolved-Ts") or 0)
                    last_synced = int(
                        self.headers.get("X-Last-Synced-Ts") or 0)
                    ckpt = info["checkpoint_ts"] or 0
                    base_doc = {
                        "sink_checkpoint_ts": ckpt,
                        "puller_resolved_ts": resolved,
                        "last_synced_ts": last_synced,
                        "now_ts": now_ms,
                    }
                    if (now_ms - last_synced // 1000 > check_s * 1000
                            and now_ms - ckpt // 1000 < ckpt_s * 1000):
                        return self._send(200, {
                            **base_doc, "synced": True,
                            "info": "The data syncing is finished"})
                    if now_ms - last_synced // 1000 > check_s * 1000:
                        if (resolved // 1000 - ckpt // 1000
                                < ckpt_s * 1000):
                            msg = (
                                "Please check whether PD is online and "
                                "TiKV Regions are all available. If PD "
                                "is offline or some TiKV regions are "
                                "not available, it means that the data "
                                "syncing process is complete. If the "
                                "gap is large, such as a few minutes, "
                                "it means that some regions in TiKV "
                                "are unavailable. Otherwise, if the "
                                "gap is small and PD is online, it "
                                "means the data syncing is incomplete, "
                                "so please wait")
                        else:
                            msg = ("The data syncing is not finished, "
                                   "please wait")
                        return self._send(200, {
                            **base_doc, "synced": False, "info": msg})
                    return self._send(200, {
                        **base_doc, "synced": False,
                        "info": ("The data syncing is not finished, "
                                 "please wait")})
                if verb:
                    return self._send(404, {"error_msg": "no such route"})
                return self._send(200, info)

            # -- POST -----------------------------------------------------
            def do_POST(self):
                if not self._authorized():
                    return
                path, query = self._route()
                if path == "/api/v2/tso":
                    # A TSO is (physical ms << 18) | logical in TiDB; a
                    # microsecond epoch is a faithful monotonic stand-in.
                    return self._send(200, {"timestamp": int(time.time() * 1e6)})
                if path == "/api/v2/log":
                    level = str(self._body().get("log_level", "")).lower()
                    if level not in _LOG_LEVELS:
                        return self._send(
                            400, {"error_msg": f"invalid log level: {level!r}"}
                        )
                    server.log_level = level
                    return self._send(200, {})
                if path == "/api/v2/log/redact":
                    # SetRedactMode (`api/v2/log.go:86-175`): monotonic
                    # off → marker → on ladder; downgrades rejected; same
                    # mode is an idempotent success.
                    mode = str(self._body().get(
                        "redact_info_log", "")).strip().lower()
                    if mode not in _REDACT_LEVELS:
                        return self._send(400, {
                            "error_msg": "invalid redact mode "
                            f"{mode!r}: must be 'off', 'on', or 'marker'"
                        })
                    with server._redact_lock:
                        prev = server.redact_mode
                        if _REDACT_LEVELS[mode] < _REDACT_LEVELS[prev]:
                            return self._send(400, {
                                "error_msg": f"cannot transition from "
                                f"'{prev}' to '{mode}': only transitions "
                                "to more restrictive modes are allowed "
                                "(OFF→MARKER→ON)"
                            })
                        server.redact_mode = mode
                    return self._send(200, {
                        "previous_mode": prev, "current_mode": mode
                    })
                if path == "/debug/failpoints":
                    # EnableFailpoint (`api/v2/failpoint.go:74`): name +
                    # expr required; bad grammar → 500 like the reference
                    body = self._body()
                    name = str(body.get("name", "")).strip()
                    expr = str(body.get("expr", "")).strip()
                    if not name or not expr:
                        return self._send(
                            400, {"error_msg": "name and expr are required"}
                        )
                    try:
                        failpoint.enable(name, expr)
                    except ValueError as e:
                        return self._send(500, {"error_msg": str(e)})
                    server.http_failpoints[name] = expr
                    return self._send(200, {})
                if path == "/api/v2/unsafe/resolve_lock":
                    # ResolveLock (`api/v2/unsafe.go:47`): kicks TiKV's
                    # lock resolver for one region at a ts. Our source is
                    # a committed changelog (no Percolator locks can
                    # linger), so validation is the whole operation.
                    body = self._body()
                    try:
                        region_id = int(body.get("region_id", 0))
                        ts = int(body.get("ts", 0))
                    except (TypeError, ValueError):
                        return self._send(
                            400, {"error_msg": "region_id/ts must be ints"}
                        )
                    if region_id < 0 or ts < 0:
                        return self._send(
                            400, {"error_msg": "region_id/ts must be >= 0"}
                        )
                    return self._send(200, {})
                if path == "/api/v2/owner/resign":
                    # Single-node: the driver is the only candidate and
                    # immediately re-elects itself (ResignOwner analog).
                    return self._send(200, {})
                if path == "/api/v2/verify_table":
                    return self._send(200, self._verify_tables(self._body()))
                if path == "/api/v2/get_all_tables":
                    body = self._body()
                    body.setdefault("filter_rules", ["*.*"])
                    out = self._verify_tables(body)
                    out["all_tables"] = sorted(
                        out["eligible_tables"] + out["ineligible_tables"],
                        key=lambda d: d["table_id"],
                    )
                    return self._send(200, out)
                if path == "/api/v2/changefeeds":
                    body = self._body()
                    cid = body.get("changefeed_id")
                    toml = body.get("config_toml", "")
                    if not cid:
                        return self._send(400, {"error_msg": "changefeed_id required"})
                    # ErrStartTsBeforeGC (`api/v2/changefeed.go` verify):
                    # a start-ts behind the GC safepoint reads garbage
                    start_ts = int(body.get("start_ts", 0))
                    gc_sp = registry.gc_safepoint()
                    if start_ts and gc_sp is not None and start_ts < gc_sp:
                        return self._send(400, {
                            "error_msg": f"start-ts {start_ts} is before "
                            f"the GC safepoint {gc_sp}"})
                    # ErrTableIneligible (`api/v2/changefeed.go:289-295`):
                    # matched PK-less tables refuse the create unless
                    # force-replicate or ignore-ineligible-table
                    try:
                        from ticdc_spark.config import (
                            parse_changefeed_config,
                        )

                        cfg_probe = parse_changefeed_config(toml)
                    except ValueError as e:
                        return self._send(400, {"error_msg": str(e)})
                    if (not cfg_probe.force_replicate
                            and not cfg_probe.ignore_ineligible_table):
                        bad = self._verify_tables({
                            "filter_rules": cfg_probe.filter_rules,
                            "case_sensitive": cfg_probe.case_sensitive,
                        })["ineligible_tables"]
                        if bad:
                            names = [f"{t['schema_name']}.{t['table_name']}"
                                     for t in bad]
                            return self._send(400, {
                                "error_msg": "CDC:ErrTableIneligible "
                                "these tables are ineligible: "
                                f"{names}"})
                    try:
                        registry.create(cid, toml,
                                        sink_uri=body.get("sink_uri"))
                    except ValueError as e:
                        return self._send(400, {"error_msg": str(e)})
                    return self._send(200, registry.describe(cid))
                m = _CF_ROUTE.match(path)
                verbs = ("/pause", "/resume", "/split_table_by_region_count",
                         "/move_table", "/move_split_table", "/merge_table")
                if not m or m.group("verb") not in verbs:
                    return self._send(404, {"error_msg": "no such route"})
                cid, verb = m.group("id"), m.group("verb")
                if registry.list().get(cid) is None:
                    return self._send(
                        400, {"error_msg": f"changefeed not found: {cid}"}
                    )
                if verb == "/split_table_by_region_count":
                    # `changefeed.go:1346`: splitting requires the
                    # scheduler's enable-table-across-nodes flag
                    if not registry.get(cid).cfg.enable_table_across_nodes:
                        return self._send(400, {
                            "error_msg": "enable_table_across_nodes should "
                            "be true when spliting one table to multiple "
                            "spans"
                        })
                    try:
                        table_id = int(query["tableID"][0])
                    except (KeyError, ValueError):
                        return self._send(
                            400, {"error_msg": "tableID query param required"}
                        )
                    if not any(
                        t.table_id == table_id
                        for t in self._matched_tables(cid)
                    ):
                        return self._send(400, {
                            "error_msg":
                                f"table {table_id} not in changefeed {cid}"
                        })
                    body = self._body()
                    spans = region_count_spans(
                        int(body.get("n_regions", 1)),
                        int(body.get("spans_num", 1)),
                    )
                    return self._send(
                        200, {"table_id": table_id, "spans": spans}
                    )
                if verb in ("/move_table", "/move_split_table", "/merge_table"):
                    # Placement ops: a single-node deployment has exactly
                    # one capture, so every placement is already final.
                    return self._send(200, {"note": "single-node: no-op"})
                try:
                    if verb == "/pause":
                        registry.pause(cid)
                    else:
                        # ResumeChangefeedConfig.OverwriteCheckpointTs
                        # (`api/v2/changefeed.go:785-790`): body field
                        # rewinds the changefeed before restarting
                        body = self._body()
                        ts = body.get("overwrite_checkpoint_ts")
                        registry.resume(
                            cid,
                            overwrite_checkpoint_ts=(
                                int(ts) if ts else None))
                except KeyError:
                    return self._send(
                        400, {"error_msg": f"changefeed not found: {cid}"}
                    )
                except ValueError as e:
                    return self._send(400, {"error_msg": str(e)})
                return self._send(200, registry.describe(cid))

            # -- PUT ------------------------------------------------------
            def do_PUT(self):
                if not self._authorized():
                    return
                m = _CF_ROUTE.match(self.path)
                if not m or m.group("verb"):
                    return self._send(404, {"error_msg": "no such route"})
                cid = m.group("id")
                try:
                    registry.update(cid, self._body().get("config_toml", ""))
                except KeyError:
                    return self._send(
                        400, {"error_msg": f"changefeed not found: {cid}"}
                    )
                except ValueError as e:
                    return self._send(400, {"error_msg": str(e)})
                return self._send(200, registry.describe(cid))

            # -- DELETE ---------------------------------------------------
            def do_DELETE(self):
                if not self._authorized():
                    return
                dpath, dquery = self._route()
                if dpath == "/debug/failpoints":
                    # DisableFailpoint (`api/v2/failpoint.go:96`): name by
                    # query param, else body; required
                    name = (dquery.get("name", [""])[0] or str(
                        self._body().get("name", ""))).strip()
                    if not name:
                        return self._send(
                            400, {"error_msg": "name is required"}
                        )
                    failpoint.disable(name)
                    server.http_failpoints.pop(name, None)
                    return self._send(200, {})
                if self.path == "/api/v2/unsafe/service_gc_safepoint":
                    # The reference drops the service GC safepoint key in
                    # PD; ours is derived (min live checkpoint), so there
                    # is nothing persisted to remove — ack idempotently.
                    return self._send(200, {})
                m = _CF_ROUTE.match(self.path)
                if not m or m.group("verb"):
                    return self._send(404, {"error_msg": "no such route"})
                cid = m.group("id")
                try:
                    registry.remove(cid)
                except KeyError:
                    # Reference DELETE is idempotent on missing changefeeds.
                    pass
                return self._send(200, {})

        self._listen(Handler, port)
        super().start()
        return self.port

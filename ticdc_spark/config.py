"""Changefeed config parsing — TOML/JSON and sink-URI params with the
reference's names (`pkg/config/replica_config.go:151` ReplicaConfig,
`pkg/config/sink.go:139` SinkConfig, `pkg/config/filter.go:21-47`).

Every key the engine knows is one row of ``KEYS``: its TOML paths, its
sink-URI param and the schemes that read it, its validator, its
reference citation and its disposition —

- ``read``: it fills a ``ChangefeedConfig`` field (or a key of a
  sub-config dict) that the named reader consumes;
- ``spark``: a Spark mechanism does its job (SURVEY line cited); the
  value is checked, then dropped;
- ``refused``: nothing honours it, so only the reference default is
  accepted and any other value raises, naming the key.

``parse_changefeed_config`` and ``apply_sink_uri_params`` are one loop
each over the table: the TOML first, then the URI params over it, the
reference's Apply order.  Unknown keys are ignored.
"""

from __future__ import annotations

import json
import re
import tomllib
from collections.abc import Callable
from dataclasses import dataclass

from ticdc_spark.pipeline import ChangefeedConfig

_DUR = re.compile(r"(\d+)(ms|s|m|h)")
_DUR_US = {"ms": 1_000, "s": 1_000_000, "m": 60_000_000, "h": 3_600_000_000}


def parse_duration_us(text: str) -> int:
    """Go-style duration ("10m", "1h30m", "30s") → microseconds."""
    total, pos = 0, 0
    for m in _DUR.finditer(text):
        if m.start() != pos:
            raise ValueError(f"bad duration: {text!r}")
        total += int(m.group(1)) * _DUR_US[m.group(2)]
        pos = m.end()
    if pos != len(text) or total == 0:
        raise ValueError(f"bad duration: {text!r}")
    return total


# -- [consistent] (redo) -----------------------------------------------------
# `pkg/config/consistent.go:28-76` fields; defaults from
# `pkg/redo/config.go:34-64`; validation mirrors
# ConsistentConfig.validateAndAdjust (`consistent.go:87-141`).
_REDO_DEFAULTS = {
    "level": "none",
    "max-log-size": 64,            # MB, DefaultMaxLogSize
    "flush-interval": 2000,        # ms, DefaultFlushIntervalInMs
    "meta-flush-interval": 200,    # ms, DefaultMetaFlushIntervalInMs
    "encoding-worker-num": 16,     # DefaultEncodingWorkerNum
    "flush-worker-num": 8,         # DefaultFlushWorkerNum
    "storage": "",
    "use-file-backend": False,
    "compression": "none",
    "memory-quota-percentage": 50,
}
_REDO_MIN_FLUSH_MS = 50            # MinFlushIntervalInMs
_MAX_EVENT_COLLECTOR_BATCH = 8192  # `replica_config.go:48`


def parse_consistent_config(block: dict | None) -> dict:
    """[consistent] → normalized dict with reference defaults applied.

    Mirrors `ConsistentConfig.validateAndAdjust`: unknown levels are
    rejected; when the level is "none" the block passes through with
    defaults only (the reference skips validation entirely); when
    enabled, zero values take redo defaults, flush intervals are
    bounded below by 50 ms, and compression must be none or lz4."""
    c = {**_REDO_DEFAULTS, **(block or {})}
    if c["level"] not in ("none", "eventual"):
        raise ValueError(
            f"invalid consistent.level {c['level']!r} "
            "(must be 'none' or 'eventual')")
    if c["level"] == "none":
        return c
    for key in ("max-log-size", "flush-interval", "meta-flush-interval",
                "encoding-worker-num", "flush-worker-num"):
        if not c[key]:
            c[key] = _REDO_DEFAULTS[key]
    for key in ("flush-interval", "meta-flush-interval"):
        if c[key] < _REDO_MIN_FLUSH_MS:
            raise ValueError(
                f"The consistent.{key}:{c[key]} must be equal or "
                f"greater than {_REDO_MIN_FLUSH_MS}")
    if not c["compression"]:
        c["compression"] = "none"
    if c["compression"] not in ("none", "lz4"):
        raise ValueError(
            f"The consistent.compression:{c['compression']} "
            "must be 'none' or 'lz4'")
    if (bc := c.get("event-collector-batch-count")) is not None:
        _batch_bound(_MAX_EVENT_COLLECTOR_BATCH)(
            "consistent.event-collector-batch-count", bc)
    return c


# -- [sink.cloud-storage-config] --------------------------------------------
# `pkg/config/sink.go:733-740`; defaults and bounds from
# `pkg/cloudstorage/config.go:38-60`.
_STORAGE_DEFAULTS = {
    "flush-interval": "5s",        # [100ms, 10m]
    "file-size": 64 * 1024 * 1024,  # [1 KB, 512 MB]
    "output-column-id": False,
    "file-expiration-days": 0,     # 0 = never expire
    "file-cleanup-cron-spec": "0 0 2 * * *",
    "flush-concurrency": 1,
}


def parse_cloud_storage_config(block: dict | None) -> dict:
    """[sink.cloud-storage-config] → normalized dict with reference
    defaults and the cloudstorage bounds applied."""
    c = {**_STORAGE_DEFAULTS, **(block or {})}
    iv = parse_duration_us(c["flush-interval"])
    if not 100_000 <= iv <= 600 * 1_000_000:
        raise ValueError(
            f"flush-interval {c['flush-interval']!r} must be in "
            "[100ms, 10m]")
    if not 1024 <= c["file-size"] <= 512 * 1024 * 1024:
        raise ValueError(
            f"file-size {c['file-size']} must be in [1024, {512<<20}]")
    if c["file-expiration-days"] < 0:
        raise ValueError("file-expiration-days must be >= 0")
    # spool-base-dir / spool-disk-quota (`pkg/config/sink.go:736-737`):
    # pass through; a non-positive quota falls back to the spool
    # default like the reference's WithDiskQuotaBytes warn-and-default
    if "spool-disk-quota" in c:
        q = int(c["spool-disk-quota"])
        c["spool-disk-quota"] = q if q > 0 else 0
    return c


#: `pkg/security/sasl.go:43-58` SASLMechanismFromString
SASL_MECHANISMS = ("plain", "scram-sha-256", "scram-sha-512", "gssapi",
                   "oauthbearer")
_MIN_ERROR_STUCK_US = 30 * 60 * 1_000_000  # `replica_config.go:42`

# -- validators: (key name, raw value) -> value | SKIP, or raise -------------
SKIP = object()  # an absent key, or a value the reference ignores


def _pass(name, v):
    return v


def _bool(name, v):
    return v.lower() == "true" if isinstance(v, str) else bool(v)


def _text(name, v):
    """A string whose empty spelling means unset."""
    return v or SKIP


def _int(name, v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        raise ValueError(f"invalid {name} {v!r}: not an integer") from None


def _at_least(lo: int, cap: int | None = None):
    """An integer >= ``lo``, clamped down to ``cap`` like the reference."""
    bound = "greater than 0" if lo == 1 else f"greater than or equal to {lo}"

    def check(name, v):
        n = _int(name, v)
        if n < lo:
            raise ValueError(f"invalid {name} {n}, which must be {bound}")
        return n if cap is None else min(n, cap)
    return check


_positive = _at_least(1)


def _enum(*choices, error="invalid {name} {v!r}", blank=False):
    def check(name, v):
        if blank and not v:
            return SKIP
        if v not in choices:
            raise ValueError(error.format(name=name, v=v))
        return v
    return check


def _duration(name, v):
    return parse_duration_us(v)


def _stuck_duration(name, v):
    us = parse_duration_us(v)
    if us < _MIN_ERROR_STUCK_US:
        raise ValueError(f"The ChangefeedErrorStuckDuration:{us / 1e6} must "
                         "be larger than 1800 Seconds")
    return us


def _batch_bound(cap: int | None = None):
    """event-collector batching bounds (`replica_config.go:384-392`;
    0 disables batching)."""
    def check(name, v):
        if v < 0:
            raise ValueError(f"{name} must be set not smaller than 0")
        if cap is not None and v > cap:
            raise ValueError(f"{name} must be set not larger than {cap}")
        return v
    return check


def _compression(name, v):
    return None if v in ("", "none") else v


def _acks(name, v):
    """requireAcksFromString (`pkg/sink/kafka/options.go:95-108`)."""
    acks = _int(name, v)
    if acks not in (-1, 0, 1):
        raise ValueError(
            f"invalid required acks {acks}, only support these values: "
            "0(NoResponse), 1(WaitForLocal) and -1(WaitForAll)")
    return acks


def _sasl_mechanism(name, v):
    if v.lower() not in SASL_MECHANISMS:
        raise ValueError(f"unknown {v} SASL mechanism")
    return v


def _txn_mode(name, v):
    # an invalid mode keeps the default with a warning
    # (`pkg/sink/mysql/config.go:624-636`)
    return v if v in ("pessimistic", "optimistic") else SKIP


_EXPR_KEYS = {"ignore-insert-value-expr", "ignore-update-new-value-expr",
              "ignore-update-old-value-expr", "ignore-delete-value-expr"}


def _event_filters(name, efs):
    """[filter] event-filters → (event_filters, expr_filter): the
    ignore-*-value-expr keys form the one expression filter."""
    event_filters, expr_filter = [], None
    for ef in efs:
        plain = {k: v for k, v in ef.items() if k not in _EXPR_KEYS}
        exprs = {k: v for k, v in ef.items() if k in _EXPR_KEYS}
        if set(plain) - {"matcher"}:
            event_filters.append(plain)
        if exprs:
            expr_filter = {"matcher": ef.get("matcher", ["*.*"]), **exprs}
    return event_filters, expr_filter


def _column_selectors(name, css):
    return [{"matcher": cs.get("matcher", ["*.*"]),
             "columns": cs.get("columns", [])} for cs in css]


def _dispatchers(name, ds):
    return [{"matcher": d.get("matcher", ["*.*"]),
             "partition": d.get("partition", d.get("dispatcher")),
             "topic": d.get("topic"), "columns": d.get("columns")}
            for d in ds]


def _csv(name, c):
    """[sink.csv] (`pkg/config/sink.go:292-345` CSVConfig.validateAndAdjust)."""
    if not c:
        return None
    quote, delim = c.get("quote", '"'), c.get("delimiter", ",")
    for bad, what in (
            (len(quote) > 1, "quote contains more than one character"),
            (quote in ("\r", "\n"), "quote cannot be line break character"),
            (not delim, "delimiter cannot be empty"),
            (len(delim) > 3, "delimiter contains more than three characters"),
            ("\r" in delim or "\n" in delim,
             "delimiter contains line break characters"),
            (quote and any(ch in quote for ch in delim), "quote and "
             "delimiter has common characters which is not allowed"),
            (c.get("binary-encoding-method", "base64") not in (
                "base64", "hex"), "binary-encoding-method can only be hex "
             "or base64")):
        if bad:
            raise ValueError(f"csv config {what}")
    return c


def _large_message_handle(name, lm):
    """AdjustAndValidate (`pkg/config/large_message.go:52-59`): the
    compression, independent of the handle option, is none/snappy/lz4."""
    if not lm:
        return SKIP
    comp = lm.get("large-message-handle-compression", "none") or "none"
    if comp not in ("none", "snappy", "lz4"):
        raise ValueError(
            f"large message handle compression is not supported, got {comp}")
    return dict(lm)


# -- the key table -----------------------------------------------------------
READ, SPARK, REFUSED = "read", "spark", "refused"


@dataclass(frozen=True)
class Key:
    """One changefeed config key and what becomes of it."""

    toml: tuple[str, ...]   # dotted TOML paths; a later spelling wins
    uri: tuple[str, ...]    # sink-URI params; the first present wins
    check: Callable         # (name, raw) -> value | SKIP, or raises
    ref: str                # the reference's definition
    disposition: str        # READ | SPARK | REFUSED
    note: str               # the reader | Spark mechanism | why refused
    # the ChangefeedConfig field ("field.sub-key" in a sub-config dict)
    field: str | tuple | None = None
    default: object = None  # spark/refused: the reference default
    schemes: tuple[str, ...] = ()  # URI schemes reading the param; () = all
    always: bool = False    # normalize the section even when it is absent


def _seq(x) -> tuple:
    return () if x is None else (x,) if isinstance(x, str) else x


def _read(toml, uri, field, check, ref, reader, **kw) -> Key:
    return Key(_seq(toml), _seq(uri), check, ref, READ, reader, field, **kw)


def _spark(toml, uri, check, default, ref, mechanism, **kw) -> Key:
    return Key(_seq(toml), _seq(uri), check, ref, SPARK, mechanism,
               default=default, **kw)


def _refused(toml, uri, check, default, ref, why, **kw) -> Key:
    return Key(_seq(toml), _seq(uri), check, ref, REFUSED, why,
               default=default, **kw)


_KAFKA, _MYSQL = ("kafka", "kafkas"), ("mysql", "tidb")
_KC, _MC, _PC = "sink.kafka-config.", "sink.mysql-config.", "sink.pulsar-config."
_CODEC = _KC + "codec-config."
_BUILD = "pipeline.build_pipeline"
_ENCODE = "pipeline._encode"
_TAIL = "pipeline.compile_sink_tail"
_PRODUCE = "kafka_live.produce_options"
_API = "api create (ineligible tables)"
_BOOTSTRAP = "pipeline.compile_bootstrap"

KEYS: list[Key] = [
    # --- ReplicaConfig top level (`pkg/config/replica_config.go:51-130`)
    # and SinkConfig (`pkg/config/sink.go:139`) keys that pass through
    *[_read(toml, None, field_, _pass, ref, reader)
      for toml, field_, ref, reader in (
          ("filter.rules", "filter_rules", "filter.go:21", _BUILD),
          ("case-sensitive", "case_sensitive", "replica_config.go:54", _BUILD),
          ("force-replicate", "force_replicate", "changefeed.go ForceReplicate",
           _API),
          ("ignore-ineligible-table", "ignore_ineligible_table",
           "replica_config.go IgnoreIneligibleTable", _API),
          # a positive integer, checked by ChangefeedConfig itself
          ("memory-quota", "memory_quota", "server.go:45", "Changefeed.start"),
          ("enable-sync-point", "enable_sync_point", "replica_config.go:57",
           "Changefeed._commit_epoch"),
          ("bdr-mode", "bdr_mode", "replica_config.go:61", _BUILD),
          ("sink-uri", "sink_uri", "changefeed.go:252", "pipeline.sink_scheme"),
          ("integrity.integrity-check-level", "integrity_check_level",
           "integrity.go:24-43", _BUILD),
          ("scheduler.enable-table-across-nodes", "enable_table_across_nodes",
           "scheduler_config.go:36", "api changefeed detail"),
          ("synced-status.synced-check-interval", "synced_check_interval_s",
           "synced_status_config.go:17-23", "api /synced"),
          ("synced-status.checkpoint-interval", "synced_checkpoint_interval_s",
           "synced_status_config.go:17-23", "api /synced"),
          ("sink.only-output-updated-columns", "only_output_updated_columns",
           "sink.go:139", _BUILD),
          ("sink.terminator", "terminator", "sink.go:60", _ENCODE),
          ("sink.date-separator", "date_separator", "replica_config.go:77", _TAIL),
          ("sink.enable-partition-separator", "enable_partition_separator",
           "sink.go:157", _TAIL),
          ("sink.file-index-width", "file_index_width", "sink.go:68-73", _TAIL),
          ("sink.open.output-old-value", "open_output_old_value",
           "replica_config.go:88", _ENCODE),
          ("sink.debezium.output-old-value", "debezium_output_old_value",
           "replica_config.go:89", _ENCODE),
          ("sink.debezium-disable-schema", "debezium_disable_schema",
           "replica_config.go:87", _ENCODE),
          ("sink.content-compatible", "content_compatible", "replica_config.go:80",
           _ENCODE),
          ("sink.send-bootstrap-interval-in-sec", "send_bootstrap_interval_s",
           "sink.go:87-96", _BOOTSTRAP),
          ("sink.send-bootstrap-to-all-partition", "send_bootstrap_to_all_partition",
           "sink.go:87-96", _BOOTSTRAP))],
    _read("filter.event-filters", None, ("event_filters", "expr_filter"),
          _event_filters, "filter.go:27-47", _BUILD),
    _read("sink.column-selectors", None, "column_selectors", _column_selectors,
          "sink.go:139", _BUILD),
    _read("sink.dispatchers", None, "dispatchers", _dispatchers, "sink.go:139", _BUILD),
    # the reference spells the second; the first is kept for back-compat
    _read(("sink.delete-only-output-handle-key",
           "sink.delete-only-output-handle-key-columns"), None,
          "delete_only_output_handle_key", _pass, "sink.go:167", _BUILD),
    _read("sync-point-interval", None, "sync_point_interval_us", _duration,
          "replica_config.go:59", "Changefeed._write_syncpoints"),
    *[_read(k, None, k.replace("-", "_"), _int, "changefeed.go:252-281",
            "pipeline.apply_replication_window") for k in ("start-ts", "target-ts")],
    _read("changefeed-error-stuck-duration", None,
          "changefeed_error_stuck_duration_us", _stuck_duration,
          "replica_config.go:42,374-381", "registry.run (ChangefeedBackoff)"),
    _read("consistent", None, "consistent", lambda n, v: parse_consistent_config(v),
          "consistent.go:28-141", "Changefeed._write_sink (redo WAL)", always=True),
    _read("sink.csv", None, "csv_config", _csv, "sink.go:292-345",
          f"{_ENCODE}, s3_live"),
    _read("sink.cloud-storage-config", None, "cloud_storage_config",
          lambda n, v: parse_cloud_storage_config(v), "sink.go:733-740",
          f"{_TAIL}, s3_live (spool)", always=True),
    _read("sink.protocol", "protocol", "protocol", _pass, "sink_protocol.go:33-44",
          _ENCODE),
    _read(("sink.codec.encoding-format", _CODEC + "encoding-format"),
          "encoding-format", "encoding_format", _enum("json", "avro"),
          "sink.go:449-458", _ENCODE),
    _read("sink.safe-mode", "safe-mode", "safe_mode", _bool, "sink.go:139", _TAIL),
    _read("sink.transaction-atomicity", "transaction-atomicity",
          "transaction_atomicity", _pass, "sink.go:140", _TAIL),
    _read("sink.avro-enable-watermark", "avro-enable-watermark",
          "avro_enable_watermark", _bool, "sink.go:147", _ENCODE),
    _read(_CODEC + "enable-tidb-extension", "enable-tidb-extension", "tidb_extension",
          _bool, "codec/common/config.go:173-181", _ENCODE),
    _read(_CODEC + "output-row-key", "output-row-key", "output_row_key", _bool,
          "codec/common/config.go:190-192", _ENCODE),
    # sink-URI form params (`pkg/sink/kafka/options.go:111-138`,
    # `pkg/sink/mysql/config.go:529-676`)
    _read(None, "partition-num", "n_partitions", _positive, "kafka/options.go:111-138",
          _BUILD),
    _read(None, "max-message-bytes", "max_message_bytes", _positive, "sink.go:35",
          _BUILD),
    _read(None, "compression", "compression", _compression, "kafka/options.go:111-138",
          "Changefeed._write_sink, pipeline"),
    _read(_MC + "max-txn-row", "max-txn-row", "max_txn_row", _at_least(1, cap=2048),
          "mysql/config.go:49-50", _TAIL),
    # --- delegated to Spark: checked, then dropped
    _spark("mounter.worker-num", None, _pass, 16, "mounter.go:17",
           "decode runs in Spark tasks (SURVEY.md:376 task scheduling)"),
    # worker-count parses on every scheme (`mysql/config.go:59`)
    _spark(_MC + "worker-count", "worker-count", _positive, 16, "mysql/config.go:59",
           "statements are written by Spark tasks (SURVEY.md:376 task scheduling)"),
    *[_spark("scheduler." + k, None, _pass, default, ref, "hot tables spread by "
             "repartition and AQE skew handling (SURVEY.md:226)")
      for k, default, ref in (("region-threshold", 10_000, "replica_config.go:109"),
                              ("write-key-threshold", 0, "replica_config.go:107-118"))],
    *[_spark(k, None, _batch_bound(cap), None, "replica_config.go:48,384-392",
             "each epoch is one micro-batch sized by memory-quota "
             "(SURVEY.md:379 maxOffsetsPerTrigger)")
      for k, cap in (("event-collector-batch-count", _MAX_EVENT_COLLECTOR_BATCH),
                     ("event-collector-batch-bytes", None))],
    # --- refused: nothing honours them
    _refused("performance-mode", None, _enum(
             "throughput", "low-latency", blank=True,
             error="unknown performance mode: {v}"), "throughput",
             "replica_config.go:35-36,290-296", "the epoch pipeline has one mode"),
    _refused("check-gc-safe-point", None, _bool, True, "replica_config.go:55",
             "the API's create always checks start-ts against the GC safepoint"),
    _refused("sync-point-retention", None, _duration, "24h", "replica_config.go:60",
             "the syncpoint ledger keeps every record"),
    _refused("enable-table-monitor", None, _bool, False, "replica_config.go:58",
             "no per-table monitor exists"),
    _refused("sql-mode", None, _pass, "", "replica_config.go SQLMode",
             "no upstream DDL is parsed under a configured SQL mode"),
    *[_refused(k, None, check, default, ref,
               "active-active replication is not implemented (bdr-mode is)")
      for k, check, default, ref in (
          ("enable-active-active", _bool, False, "replica_config.go:43"),
          ("active-active-progress-interval", _duration, "30m",
           "replica_config.go:127"),
          ("active-active-sync-stats-interval", _duration, "1m",
           "replica_config.go:128"))],
    *[_refused("sink." + k, k, _enum(default, "string", blank=True), default,
               "codec/common/config.go:130-132,414-421",
               f"the Avro encoders have no {kind} column to write as a string")
      for k, default, kind in (
          ("avro-decimal-handling-mode", "precise", "decimal"),
          ("avro-bigint-unsigned-handling-mode", "long", "unsigned bigint"))],
    _refused("sink.schema-registry", "schema-registry", _text, "", "sink.go:147-149",
             "the Avro encoders register each Arrow batch's schemas in a fresh "
             "in-memory registry, so no schema id would come from this registry"),
    _refused(None, "max-batch-size", _positive, 16, "codec/common/config.go:34-35",
             "the open-protocol frame is one message per row; nothing batches "
             "messages"),
    *[_refused("sink." + k, None, check, default, ref, why)
      for k, check, default, ref, why in (
          ("send-bootstrap-in-msg-count", _pass, 10_000, "sink.go:87-96",
           "BOOTSTRAP frames go out per epoch, not by message count"),
          ("send-all-bootstrap-at-start", _bool, False, "sink.go:87-96",
           "BOOTSTRAP frames go out per epoch, not all at start"),
          ("advance-timeout-in-sec", _pass, 150, "sink.go:36-37",
           "no sink-stall watchdog restarts the sink"))],
    # --- [sink.kafka-config] (`pkg/config/sink.go:460-500`)
    _read(_KC + "large-message-handle", None, "large_message_handle",
          _large_message_handle, "large_message.go:22-59", _BUILD),
    _read(_KC + "output-raw-change-event", None, "kafka_config.output-raw-change-event",
          _bool, "sink.go:499-500", "config.parse_changefeed_config (split_updates)"),
    *[_read(_KC + k if toml else None, k, field_, check, ref, _PRODUCE, schemes=_KAFKA)
      for k, toml, field_, check, ref in (
          ("enable-tls", True, "enable_tls", _bool, "sink.go:490"),
          ("insecure-skip-verify", True, "insecure_skip_verify", _bool,
           "sink.go:494, kafka/options.go:423-425"),
          ("ca", False, "tls_ca_path", _text, "credential.go:107-110"),
          ("cert", False, "tls_cert_path", _text, "credential.go:107-110"),
          ("key", False, "tls_key_path", _text, "credential.go:107-110"),
          ("kafka-version", True, "kafka_config.kafka-version", _text,
           "kafka/options.go:253-255"),
          ("kafka-client-id", True, "kafka_config.kafka-client-id", _text,
           "sink.go:467"),
          ("required-acks", True, "kafka_config.required-acks", _acks,
           "kafka/options.go:95-108"))],
    *[_read(_KC + k, k, "kafka_config." + k, check, "kafka/options.go:287,555-568",
            "kafka_live.ensure_topics_from_config", schemes=_KAFKA)
      for k, check in (("auto-create-topic", _bool),
                       ("replication-factor", _positive))],
    *[_refused(_KC + k, k, _duration, "10s", "kafka/options.go:119-121",
               "Kafka connections keep their fixed socket timeout", schemes=_KAFKA)
      for k in ("dial-timeout", "read-timeout", "write-timeout")],
    # SASL (`pkg/config/sink.go:469-489`, URI `kafka/options.go:123-135`)
    *[_read(_KC + k, k, "kafka_config." + k, check, "sink.go:469-489, sasl.go:43-58",
            "config.kafka_sasl_spec", schemes=_KAFKA)
      for k, check in (
          ("sasl-mechanism", _sasl_mechanism),
          ("sasl-gssapi-disable-pafxfast", _bool),
          *[(k, _pass) for k in (
              "sasl-user", "sasl-password", "sasl-gssapi-auth-type",
              "sasl-gssapi-keytab-path", "sasl-gssapi-kerberos-config-path",
              "sasl-gssapi-service-name", "sasl-gssapi-user", "sasl-gssapi-password",
              "sasl-gssapi-realm", "sasl-oauth-client-id", "sasl-oauth-client-secret",
              "sasl-oauth-token-url", "sasl-oauth-scopes", "sasl-oauth-grant-type",
              "sasl-oauth-audience")])],
    # --- [sink.mysql-config] (`pkg/sink/mysql/config.go:49-85,215-228`);
    # the clamps are `config.go:59-65`, and a size of 0 turns multi-row
    # UPDATE off (`config.go:599-621`)
    *[_read(_MC + k, k, "mysql_config." + k, check, "mysql/config.go:49-85",
            "config.mysql_batch_options", schemes=_MYSQL)
      for k, check in (("max-multi-update-row", _at_least(1, cap=256)),
                       ("max-multi-update-row-size", _at_least(0, cap=8192)),
                       ("enable-batch-dml", _bool), ("enable-multi-statement", _bool),
                       ("enable-cache-prepared-statement", _bool))],
    *[_refused(_MC + k, k, check, default, "mysql/config.go:277-283,529-676",
               "no task dials the MySQL downstream from the changefeed config: "
               "the changefeed writes compiled statements", schemes=_MYSQL)
      for k, check, default in (
          ("read-timeout", _duration, "2m"), ("write-timeout", _duration, "2m"),
          ("timeout", _duration, "2m"), ("tidb-txn-mode", _txn_mode, "optimistic"),
          ("time-zone", _pass, ""), ("ssl-ca", _text, ""), ("ssl-cert", _text, ""),
          ("ssl-key", _text, ""))],
    # --- [sink.pulsar-config] (`pkg/config/sink.go:606-676`; tuning
    # defaults `pkg/sink/pulsar/config.go:25-38`)
    *[_read(_PC + k, None, "pulsar_config." + k, check, "sink.go:606-676", reader)
      for k, check, reader in (
          *[(k, _pass, "config.pulsar_auth") for k in (
              "authentication-token", "token-from-file", "basic-user-name",
              "basic-password", "oauth2", "auth-tls-certificate-path",
              "auth-tls-private-key-path")],
          *[(k, _positive, "config.pulsar_client_options") for k in (
              "connection-timeout", "operation-timeout", "batching-max-messages",
              "batching-max-publish-delay", "send-timeout")],
          ("pulsar-version", _pass, "config.pulsar_client_options"))],
]


def _lookup(doc: dict, path: str):
    node = doc
    for part in path.split("."):
        if not isinstance(node, dict) or part not in node:
            return SKIP
        node = node[part]
    return node


def _apply(target: dict, key: Key, name: str, raw) -> None:
    """Check one key's value and, for a ``read`` key, store it into
    ``target`` (a ChangefeedConfig's fields)."""
    v = key.check(name, raw)
    if v is SKIP:
        return
    if key.disposition == REFUSED and v != key.check(name, key.default):
        raise ValueError(
            f"{name} = {raw!r} is refused: {key.note}; only the reference "
            f"default {key.default!r} is accepted")
    if key.disposition != READ:
        return
    multi = isinstance(key.field, tuple)
    for field_, value in zip(key.field if multi else (key.field,),
                             v if multi else (v,)):
        attr, _, sub = field_.partition(".")
        target[attr] = {**(target.get(attr) or {}), sub: value} if sub \
            else value


def parse_changefeed_config(text: str, fmt: str = "toml",
                            sink_uri: str | None = None) -> ChangefeedConfig:
    """A TOML (or JSON) replica config, then its sink URI's params.  A
    ``sink_uri`` given beside the config replaces the config's own, so
    neither that URI's params nor its scheme's decisions apply."""
    doc = tomllib.loads(text) if fmt == "toml" else json.loads(text)
    fields: dict = {}
    for key in KEYS:
        for path in key.toml:
            raw = _lookup(doc, path)
            if raw is not SKIP or key.always:
                _apply(fields, key, path.rsplit(".", 1)[-1],
                       None if raw is SKIP else raw)
    if sink_uri:
        fields["sink_uri"] = sink_uri
    cfg = ChangefeedConfig(**fields)
    # CSV always renders all delete columns (`pkg/config/sink.go:867-871`)
    if cfg.delete_only_output_handle_key and cfg.protocol == "csv":
        raise ValueError(
            "CSV protocol always output all columns for the delete event, "
            "do not set `delete-only-output-handle-key-columns` to true")
    # ErrTargetTsBeforeStartTs (`api/v2/changefeed.go` verification)
    if cfg.target_ts and cfg.start_ts and cfg.target_ts < cfg.start_ts:
        raise ValueError(
            f"target-ts {cfg.target_ts} must be >= start-ts {cfg.start_ts}")
    apply_sink_uri_params(cfg)
    # output-raw-change-event (`pkg/config/sink.go:499-500,744-747`):
    # the dispatcher manager suppresses the pk/uk update split for the
    # Kafka and cloud-storage sinks (`dispatcher_manager.go:313-320`)
    from ticdc_spark.pipeline import STORAGE_SCHEMES, sink_scheme

    scheme = sink_scheme(cfg).split("+")[0]
    section = (cfg.kafka_config if scheme == "kafka" else
               cfg.cloud_storage_config if scheme in STORAGE_SCHEMES else None)
    if (section or {}).get("output-raw-change-event", False):
        cfg.split_updates = False
    return cfg


def apply_sink_uri_params(cfg) -> None:
    """Fold the sink URI's query params into ``cfg`` over what the TOML
    set, each param gated on the schemes whose sink reads it (mysql:
    `pkg/sink/mysql/config.go:529-676`; kafka: `pkg/sink/kafka/
    options.go:111-138`); unknown params are ignored like gin's form
    binding."""
    from urllib.parse import parse_qs, urlsplit

    u = urlsplit(cfg.sink_uri)
    scheme = u.scheme.lower()
    # an +ssl scheme implies TLS even without query params
    if scheme.endswith("+ssl") or scheme == "https":
        cfg.enable_tls = True
    q = {k: v[-1] for k, v in parse_qs(u.query).items()}
    scheme = scheme.split("+")[0]
    for key in KEYS:
        if key.schemes and scheme not in key.schemes:
            continue
        name = next((p for p in key.uri if p in q), None)
        if name is not None:
            _apply(vars(cfg), key, name, q[name])
    # a CA implies TLS; a client identity needs both halves
    # (`pkg/security/credential.go:107-110`)
    if cfg.tls_ca_path:
        cfg.enable_tls = True
    if bool(cfg.tls_cert_path) != bool(cfg.tls_key_path):
        raise ValueError(
            "TLS client credential needs BOTH cert and key (got "
            f"cert={cfg.tls_cert_path!r}, key={cfg.tls_key_path!r})")


def kafka_sasl(cfg) -> tuple[str, str, str] | None:
    """(mechanism, user, password) for ``KafkaConn`` from the merged
    kafka sub-config (`pkg/sink/kafka/options.go:63-71`); None when SASL
    is off."""
    spec = kafka_sasl_spec(cfg)
    return spec and (spec["mechanism"], spec["user"], spec["password"])


#: `pkg/security/sasl.go:117-127` AuthTypeFromString
GSSAPI_AUTH_TYPES = ("user", "keytab")


def kafka_sasl_spec(cfg) -> dict | None:
    """The full SASL spec from the merged kafka sub-config, the
    reference's `options.applySASL` (`pkg/sink/kafka/options.go:431-545`):
    ``sasl-gssapi-*`` → ``spec["gssapi"]`` (auth-type user|keytab), and
    ``sasl-oauth-*`` → ``spec["oauth2"]`` (non-empty client id, base64
    secret and token url; oauthbearer only; grant-type defaults to
    client_credentials).  None when SASL is off; otherwise
    ``{"mechanism", "user", "password", "gssapi"?, "oauth2"?}``."""
    import base64 as _b64

    kc = cfg.kafka_config or {}
    mech = kc.get("sasl-mechanism")
    if not mech:
        return None
    spec: dict = {"mechanism": mech.upper(),
                  "user": kc.get("sasl-user", ""),
                  "password": kc.get("sasl-password", "")}

    if any(k.startswith("sasl-gssapi-") for k in kc):
        auth_type = (kc.get("sasl-gssapi-auth-type") or "user").lower()
        if auth_type not in GSSAPI_AUTH_TYPES:
            raise ValueError(f"unknown {auth_type} auth type")
        spec["gssapi"] = {
            "auth_type": auth_type,
            "keytab_path": kc.get("sasl-gssapi-keytab-path", ""),
            "kerberos_config_path": kc.get(
                "sasl-gssapi-kerberos-config-path", ""),
            "service_name": kc.get("sasl-gssapi-service-name", "kafka"),
            "user": kc.get("sasl-gssapi-user", ""),
            "password": kc.get("sasl-gssapi-password", ""),
            "realm": kc.get("sasl-gssapi-realm", ""),
            "disable_pafxfast": kc.get("sasl-gssapi-disable-pafxfast", False),
        }

    oauth_present = any(k.startswith("sasl-oauth-") for k in kc)
    if oauth_present:
        client_id = kc.get("sasl-oauth-client-id")
        if client_id is not None and not client_id:
            raise ValueError("OAuth2 client ID cannot be empty")
        secret = kc.get("sasl-oauth-client-secret")
        if secret is not None:
            if not secret:
                raise ValueError("OAuth2 client secret cannot be empty")
            try:
                secret = _b64.b64decode(secret, validate=True).decode()
            except Exception:
                raise ValueError(
                    "OAuth2 client secret is not base64 encoded") from None
        token_url = kc.get("sasl-oauth-token-url")
        if token_url is not None and not token_url:
            raise ValueError("OAuth2 token URL cannot be empty")
        if spec["mechanism"] != "OAUTHBEARER":
            raise ValueError(
                "OAuth2 is only supported with SASL mechanism type "
                f"OAUTHBEARER, but got {spec['mechanism']}")
        for name, v in (("client id", client_id),
                        ("client secret", secret),
                        ("token url", token_url)):
            if not v:
                raise ValueError(f"OAuth2 {name} is empty")
        spec["oauth2"] = {
            "client_id": client_id,
            "client_secret": secret,
            "token_url": token_url,
            "scopes": list(kc.get("sasl-oauth-scopes", [])),
            "grant_type": kc.get("sasl-oauth-grant-type",
                                 "client_credentials"),
            "audience": kc.get("sasl-oauth-audience", ""),
        }
    return spec


def parse_krb5_conf(path: str) -> dict[str, str]:
    """Minimal krb5.conf [realms] parser — realm → kdc address.  The
    reference hands sasl-gssapi-kerberos-config-path to the kerberos
    client lib, which resolves the KDC the same way
    (`pkg/security/sasl.go:131-133` KerberosConfigPath)."""
    realms: dict[str, str] = {}
    section = ""
    cur_realm = ""
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.split("#")[0].strip()
            if not line:
                continue
            if line.startswith("[") and line.endswith("]"):
                section = line[1:-1].strip().lower()
                continue
            if section != "realms":
                continue
            if line.endswith("{"):
                cur_realm = line[:-1].split("=")[0].strip()
            elif line == "}":
                cur_realm = ""
            elif "=" in line and cur_realm:
                key, _, val = line.partition("=")
                if key.strip().lower() == "kdc":
                    realms[cur_realm] = val.strip()
    return realms


def pulsar_auth(cfg) -> dict:
    """Pulsar client auth kwargs from [sink.pulsar-config], first match
    wins as in setupAuthentication (`pkg/sink/pulsar/factory.go:95-125`):
    token > token-from-file > basic > oauth2 > mTLS.  oauth2-private-key
    is the PATH of the client's key file, whose JSON carries the client
    credentials (`factory.go:115` ConfigParamKeyFile); `OAuth2.validate`
    (`sink.go:595-603`) wants issuer-url, audience, private-key and
    client-id all set."""
    import json as _json

    pc = cfg.pulsar_config or {}
    if pc.get("authentication-token"):
        return {"token": pc["authentication-token"]}
    if pc.get("token-from-file"):
        with open(pc["token-from-file"], encoding="utf-8") as f:
            return {"token": f.read().strip()}
    # basic (`factory.go:105-109`, keys `sink.go:649-652`): BOTH fields
    # must be present, matching the reference's nil-pointer guard
    if pc.get("basic-user-name") is not None \
            and pc.get("basic-password") is not None:
        return {"basic": {"user": pc["basic-user-name"],
                          "password": pc["basic-password"]}}
    oauth = pc.get("oauth2") or {}
    if oauth:
        if not (oauth.get("oauth2-issuer-url")
                and oauth.get("oauth2-client-id")
                and oauth.get("oauth2-private-key")
                and oauth.get("oauth2-audience")):
            raise ValueError(
                "issuer-url and audience and private-key and client-id "
                "not be empty")
        with open(oauth["oauth2-private-key"], encoding="utf-8") as f:
            keyfile = _json.load(f)
        return {"oauth2": {
            "issuer_url": oauth["oauth2-issuer-url"],
            "client_id": keyfile.get("client_id",
                                     oauth.get("oauth2-client-id", "")),
            "client_secret": keyfile.get("client_secret", ""),
            "audience": oauth.get("oauth2-audience", ""),
            "scope": oauth.get("oauth2-scope", ""),
        }}
    # mTLS auth (`factory.go:122-125`, keys `sink.go:654-657`): the
    # authentication IS the client certificate — the factory returns
    # isTLS=true so the dialer loads the cert/key pair
    if pc.get("auth-tls-certificate-path") is not None \
            and pc.get("auth-tls-private-key-path") is not None:
        return {"tls": {"certificate_path": pc["auth-tls-certificate-path"],
                        "private_key_path": pc["auth-tls-private-key-path"]}}
    return {}


# `pkg/sink/mysql/config.go:49-85`; a row size of 0 turns multi-row
# UPDATE off: the writer's size*len gate then forces per-row UPDATEs
_MYSQL_BATCH_DEFAULTS = {
    "max-multi-update-row": 40,
    "max-multi-update-row-size": 1024,
    "enable-batch-dml": True,
    "enable-multi-statement": True,
    "enable-cache-prepared-statement": True,
}


def mysql_batch_options(cfg) -> dict:
    """The MySQL writer batching knobs from the merged
    [sink.mysql-config] + sink-URI params
    (`pkg/sink/mysql/config.go:49-85,181-191,215-228`) with the
    reference defaults; the key table already clamped them."""
    mc = cfg.mysql_config or {}
    return {"max_txn_row": cfg.max_txn_row,
            **{key.replace("-", "_"): mc.get(key, default)
               for key, default in _MYSQL_BATCH_DEFAULTS.items()}}


def large_message_compression(cfg) -> str | None:
    """The value-compression codec (`codec/compression.py` names) from
    large-message-handle-compression (`pkg/config/large_message.go:33`),
    or None when off.  The reference compresses EVERY encoded value, so
    the max-message-bytes gates measure compressed sizes."""
    comp = (cfg.large_message_handle or {}).get(
        "large-message-handle-compression", "none") or "none"
    return None if comp == "none" else comp


# [sink.pulsar-config] client tuning defaults
# (`pkg/sink/pulsar/config.go:25-38` NewPulsarConfig)
_PULSAR_TUNING_DEFAULTS = {
    "connection-timeout": 5,           # seconds, TCP establishment
    "operation-timeout": 30,           # seconds, producer-create etc.
    "batching-max-messages": 1000,     # messages per batch
    "batching-max-publish-delay": 10,  # milliseconds
    "send-timeout": 30,                # seconds, unacked-message limit
}


def pulsar_client_options(cfg) -> dict:
    """Pulsar client/producer tuning from [sink.pulsar-config]
    (`pkg/config/sink.go:615-643`, consumed at `factory.go:31-40`);
    ``pulsar-version`` passes through, the reference only logs it."""
    pc = cfg.pulsar_config or {}
    out = {key.replace("-", "_"): pc.get(key, default)
           for key, default in _PULSAR_TUNING_DEFAULTS.items()}
    out["pulsar_version"] = pc.get("pulsar-version")
    return out

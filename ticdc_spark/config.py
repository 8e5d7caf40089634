"""Changefeed config parsing — TOML/JSON with the reference's field names.

Reference surface: `pkg/config/replica_config.go:151` (ReplicaConfig:
``filter``, ``sink``, ``mounter`` …), `pkg/config/sink.go:139`
(SinkConfig: ``protocol``, ``dispatchers``, ``column-selectors``,
``safe-mode``, ``only-output-updated-columns``,
``delete-only-output-handle-key``…), `pkg/config/filter.go:21-47`
(``rules``, ``event-filters`` with matcher / ignore-event /
ignore-txn-start-ts / ignore-sql / ignore-*-value-expr).

A TOML document a TiCDC user writes today compiles into the engine's
``ChangefeedConfig`` (pipeline.py) unchanged.
"""

from __future__ import annotations

import json
import re
import tomllib

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
    bc = c.get("event-collector-batch-count")
    if bc is not None and not 0 <= bc <= _MAX_EVENT_COLLECTOR_BATCH:
        raise ValueError(
            "consistent.event-collector-batch-count must be in "
            f"[0, {_MAX_EVENT_COLLECTOR_BATCH}], got {bc}")
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


def parse_changefeed_config(text: str, fmt: str = "toml") -> ChangefeedConfig:
    doc = tomllib.loads(text) if fmt == "toml" else json.loads(text)
    filt = doc.get("filter", {})
    sink = doc.get("sink", {})
    integrity = doc.get("integrity", {})
    sched = doc.get("scheduler", {})

    event_filters: list[dict] = []
    expr_filter: dict | None = None
    for ef in filt.get("event-filters", []):
        expr_keys = {
            "ignore-insert-value-expr", "ignore-update-new-value-expr",
            "ignore-update-old-value-expr", "ignore-delete-value-expr",
        }
        plain = {k: v for k, v in ef.items() if k not in expr_keys}
        exprs = {k: v for k, v in ef.items() if k in expr_keys}
        if set(plain) - {"matcher"}:
            event_filters.append(plain)
        if exprs:
            expr_filter = {"matcher": ef.get("matcher", ["*.*"]), **exprs}

    column_selectors = [
        {"matcher": cs.get("matcher", ["*.*"]), "columns": cs.get("columns", [])}
        for cs in sink.get("column-selectors", [])
    ]
    dispatchers = [
        {
            "matcher": d.get("matcher", ["*.*"]),
            "partition": d.get("partition", d.get("dispatcher")),
            "topic": d.get("topic"),
            "columns": d.get("columns"),
        }
        for d in sink.get("dispatchers", [])
    ]

    sync_interval = doc.get("sync-point-interval")
    sync_retention = doc.get("sync-point-retention")
    cfg = ChangefeedConfig(
        filter_rules=filt.get("rules", ["*.*"]),
        event_filters=event_filters,
        expr_filter=expr_filter,
        column_selectors=column_selectors,
        dispatchers=dispatchers,
        protocol=sink.get("protocol", "canal-json"),
        encoding_format=(sink.get("codec") or {}).get(
            "encoding-format", "json"),
        only_output_updated_columns=sink.get("only-output-updated-columns", False),
        # reference spelling is `delete-only-output-handle-key-columns`
        # (pkg/config/sink.go:167); the short form is kept for back-compat
        delete_only_output_handle_key=sink.get(
            "delete-only-output-handle-key-columns",
            sink.get("delete-only-output-handle-key", False)),
        case_sensitive=doc.get("case-sensitive", False),
        force_replicate=doc.get("force-replicate", False),
        memory_quota=doc.get("memory-quota", 1024 * 1024 * 1024),
        enable_sync_point=doc.get("enable-sync-point", False),
        safe_mode=sink.get("safe-mode", False),
        terminator=sink.get("terminator", "\r\n"),
        date_separator=sink.get("date-separator", "day"),
        enable_partition_separator=sink.get(
            "enable-partition-separator", True),
        file_index_width=sink.get("file-index-width", 20),
        csv_config=sink.get("csv") or None,
        integrity_check_level=integrity.get("integrity-check-level", "none"),
        sink_uri=doc.get("sink-uri", "blackhole://"),
        transaction_atomicity=sink.get("transaction-atomicity", "none"),
        bdr_mode=doc.get("bdr-mode", False),
        enable_table_across_nodes=sched.get("enable-table-across-nodes", False),
        region_threshold=sched.get("region-threshold", 10_000),
        write_key_threshold=sched.get("write-key-threshold", 0),
        start_ts=int(doc.get("start-ts", 0)),
        target_ts=int(doc.get("target-ts", 0)),
        performance_mode=doc.get("performance-mode") or "throughput",
        check_gc_safe_point=doc.get("check-gc-safe-point", True),
        enable_table_monitor=doc.get("enable-table-monitor", False),
        ignore_ineligible_table=doc.get("ignore-ineligible-table", False),
        sql_mode=doc.get("sql-mode", ""),
        enable_active_active=doc.get("enable-active-active", False),
        event_collector_batch_count=doc.get("event-collector-batch-count"),
        event_collector_batch_bytes=doc.get("event-collector-batch-bytes"),
        mounter_worker_num=(doc.get("mounter") or {}).get("worker-num", 16),
        consistent=parse_consistent_config(doc.get("consistent")),
        # [sink.open]/[sink.debezium] sub-blocks (`sink.go:88-89`
        # defaults OutputOldValue: true)
        open_output_old_value=(sink.get("open") or {}).get(
            "output-old-value", True),
        debezium_output_old_value=(sink.get("debezium") or {}).get(
            "output-old-value", True),
        debezium_disable_schema=sink.get("debezium-disable-schema", False),
        content_compatible=sink.get("content-compatible", False),
        # avro sink fields (`sink.go:147-149,453-455`; codec defaults
        # `codec/common/config.go:130-132`)
        avro_enable_watermark=sink.get("avro-enable-watermark", False),
        avro_decimal_handling_mode=sink.get(
            "avro-decimal-handling-mode") or "precise",
        avro_bigint_unsigned_handling_mode=sink.get(
            "avro-bigint-unsigned-handling-mode") or "long",
        schema_registry=sink.get("schema-registry", ""),
        # bootstrap knobs + sink watchdog (`sink.go:36-37,87-96`)
        send_bootstrap_interval_s=sink.get(
            "send-bootstrap-interval-in-sec", 120),
        send_bootstrap_in_msg_count=sink.get(
            "send-bootstrap-in-msg-count", 10_000),
        send_bootstrap_to_all_partition=sink.get(
            "send-bootstrap-to-all-partition", True),
        send_all_bootstrap_at_start=sink.get(
            "send-all-bootstrap-at-start", False),
        advance_timeout_s=sink.get("advance-timeout-in-sec", 150),
        cloud_storage_config=parse_cloud_storage_config(
            sink.get("cloud-storage-config")),
        # connector sub-configs (`pkg/config/sink.go` KafkaConfig /
        # PulsarConfig / MySQLConfig TOML tables)
        kafka_config=(dict(sink["kafka-config"])
                      if sink.get("kafka-config") else None),
        pulsar_config=(dict(sink["pulsar-config"])
                       if sink.get("pulsar-config") else None),
        mysql_config=(dict(sink["mysql-config"])
                      if sink.get("mysql-config") else None),
    )
    # avro handling-mode validation (`codec/common/config.go:414-421`)
    if cfg.avro_decimal_handling_mode not in ("precise", "string"):
        raise ValueError(
            "avro-decimal-handling-mode must be 'precise' or 'string', "
            f"got {cfg.avro_decimal_handling_mode!r}")
    if cfg.avro_bigint_unsigned_handling_mode not in ("long", "string"):
        raise ValueError(
            "avro-bigint-unsigned-handling-mode must be 'long' or "
            f"'string', got {cfg.avro_bigint_unsigned_handling_mode!r}")
    # CSV always renders all delete columns (`pkg/config/sink.go:867-871`)
    if cfg.delete_only_output_handle_key and cfg.protocol == "csv":
        raise ValueError(
            "CSV protocol always output all columns for the delete event, "
            "do not set `delete-only-output-handle-key-columns` to true")
    # [sink.csv] validation (`pkg/config/sink.go:292-345`
    # CSVConfig.validateAndAdjust)
    if cfg.csv_config is not None:
        c = cfg.csv_config
        cquote = c.get("quote", '"')
        if len(cquote) > 1:
            raise ValueError("csv config quote contains more than one character")
        if cquote in ("\r", "\n"):
            raise ValueError("csv config quote cannot be line break character")
        delim = c.get("delimiter", ",")
        if not delim:
            raise ValueError("csv config delimiter cannot be empty")
        if len(delim) > 3:
            raise ValueError(
                "csv config delimiter contains more than three characters")
        if "\r" in delim or "\n" in delim:
            raise ValueError(
                "csv config delimiter contains line break characters")
        if cquote and any(ch in cquote for ch in delim):
            raise ValueError(
                "csv config quote and delimiter has common characters "
                "which is not allowed")
        if c.get("binary-encoding-method", "base64") not in ("base64", "hex"):
            raise ValueError(
                "csv config binary-encoding-method can only be hex or base64")
    # [sink.kafka-config] large-message-handle
    # (`pkg/config/large_message.go:22-35`)
    lm = (sink.get("kafka-config") or {}).get("large-message-handle")
    if lm:
        cfg.large_message_handle = dict(lm)
        # AdjustAndValidate (`large_message.go:52-59`): compression can
        # be enabled INDEPENDENTLY of the handle option; the supported
        # set is compression.Supported = none/snappy/lz4
        comp = lm.get("large-message-handle-compression", "none") or "none"
        if comp not in ("none", "snappy", "lz4"):
            raise ValueError(
                "large message handle compression is not supported, "
                f"got {comp}")
    # ErrTargetTsBeforeStartTs (`api/v2/changefeed.go` verification)
    if cfg.target_ts and cfg.start_ts and cfg.target_ts < cfg.start_ts:
        raise ValueError(
            f"target-ts {cfg.target_ts} must be >= start-ts {cfg.start_ts}")
    # unknown performance mode (`replica_config.go:290-296`)
    if cfg.performance_mode not in ("throughput", "low-latency"):
        raise ValueError(
            f"unknown performance mode: {cfg.performance_mode}")
    # event-collector batch bounds (`replica_config.go:384-392`;
    # 0 disables batching)
    for name, v in (("event-collector-batch-count",
                     cfg.event_collector_batch_count),
                    ("event-collector-batch-bytes",
                     cfg.event_collector_batch_bytes)):
        if v is not None and v < 0:
            raise ValueError(f"{name} must be set not smaller than 0")
    if (cfg.event_collector_batch_count is not None
            and cfg.event_collector_batch_count
            > _MAX_EVENT_COLLECTOR_BATCH):
        raise ValueError(
            "event-collector-batch-count must be set not larger than "
            f"{_MAX_EVENT_COLLECTOR_BATCH}")
    # synced-status thresholds, seconds (`synced_status_config.go`)
    synced = doc.get("synced-status") or {}
    cfg.synced_check_interval_s = synced.get("synced-check-interval", 300)
    cfg.synced_checkpoint_interval_s = synced.get(
        "checkpoint-interval", 15)
    # [sink.kafka-config.codec-config] (`pkg/config/sink.go:449-458`
    # CodecConfig), merged BEFORE the URI params so URL values override
    # the file like the reference's mergeConfig+Apply
    # (`codec/common/config.go:195-212`)
    kc_toml = sink.get("kafka-config") or {}
    # TLS knobs from the TOML kafka block (`pkg/config/sink.go:490-494`
    # EnableTLS / InsecureSkipVerify; URI params override below)
    if "enable-tls" in kc_toml:
        cfg.enable_tls = bool(kc_toml["enable-tls"])
    if "insecure-skip-verify" in kc_toml:
        cfg.insecure_skip_verify = bool(kc_toml["insecure-skip-verify"])
    cc = kc_toml.get("codec-config") or {}
    if "enable-tidb-extension" in cc:
        cfg.tidb_extension = bool(cc["enable-tidb-extension"])
    if "output-row-key" in cc:
        cfg.output_row_key = bool(cc["output-row-key"])
    if "encoding-format" in cc:
        if cc["encoding-format"] not in ("json", "avro"):
            raise ValueError(
                f"invalid encoding-format {cc['encoding-format']!r}")
        cfg.encoding_format = cc["encoding-format"]
    apply_sink_uri_params(cfg)
    # output-raw-change-event (`pkg/config/sink.go:499-500,744-747`;
    # consumed per sink type in `downstreamadapter/dispatchermanager/
    # dispatcher_manager.go:313-320`): suppress the pk/uk update split
    # for the Kafka and cloud-storage sinks.  Pulsar's spelling parses
    # but is not in the reference's sink-type switch (ignored there
    # too); the reference's own cloudstorage sink carries a "todo:
    # this field is not take effects yet" note (`downstreamadapter/
    # sink/cloudstorage/sink.go:55-56`) yet the dispatcher manager DOES
    # gate the split on it — we follow the dispatcher manager.
    from ticdc_spark.pipeline import STORAGE_SCHEMES, sink_scheme

    _scheme = sink_scheme(cfg).split("+")[0]
    if _scheme == "kafka":
        raw = (cfg.kafka_config or {}).get("output-raw-change-event", False)
    elif _scheme in STORAGE_SCHEMES:
        raw = (cfg.cloud_storage_config or {}).get(
            "output-raw-change-event", False)
    else:
        raw = False
    if raw:
        cfg.split_updates = False
    if sync_interval:
        cfg.sync_point_interval_us = parse_duration_us(sync_interval)
    if sync_retention:
        cfg.sync_point_retention_us = parse_duration_us(sync_retention)
    if (stuck := doc.get("changefeed-error-stuck-duration")) is not None:
        us = parse_duration_us(stuck)
        # min 30 minutes (`replica_config.go:42,374-381`)
        if us < 30 * 60 * 1_000_000:
            raise ValueError(
                f"The ChangefeedErrorStuckDuration:{us / 1e6} must be "
                "larger than 1800 Seconds")
        cfg.changefeed_error_stuck_duration_us = us
    for name, attr in (
            ("active-active-progress-interval",
             "active_active_progress_interval_us"),
            ("active-active-sync-stats-interval",
             "active_active_sync_stats_interval_us")):
        if (v := doc.get(name)) is not None:
            setattr(cfg, attr, parse_duration_us(v))
    return cfg


# -- sink-URI query parameters ----------------------------------------------
# The reference configures sinks through the URI's query string (mysql:
# `pkg/sink/mysql/config.go:529-676` worker-count/max-txn-row/safe-mode;
# kafka: `pkg/sink/kafka/options.go:111-138` form tags; storage/pulsar
# similar). The params our engine models fold into ChangefeedConfig;
# unknown params are ignored like gin's form binding.
_MAX_WORKER_COUNT = 1024  # `config.go:59`, clamp with a warning


def apply_sink_uri_params(cfg) -> None:
    """Mutates ``cfg`` with the modeled sink-URI query parameters."""
    from urllib.parse import parse_qs, urlsplit

    u = urlsplit(cfg.sink_uri)
    # an +ssl scheme implies TLS even without query params
    if u.scheme.lower().endswith("+ssl") or u.scheme.lower() == "https":
        cfg.enable_tls = True
    query = u.query
    if not query:
        return
    q = {k: v[-1] for k, v in parse_qs(query).items()}

    def _pos_int(name: str) -> int | None:
        if name not in q:
            return None
        try:
            v = int(q[name])
        except ValueError:
            raise ValueError(
                f"invalid {name} {q[name]!r}: not an integer") from None
        if v <= 0:
            raise ValueError(
                f"invalid {name} {v}, which must be greater than 0")
        return v

    if "protocol" in q:
        cfg.protocol = q["protocol"]
    if "encoding-format" in q:
        if q["encoding-format"] not in ("json", "avro"):
            raise ValueError(
                f"invalid encoding-format {q['encoding-format']!r}")
        cfg.encoding_format = q["encoding-format"]
    if (v := _pos_int("partition-num")) is not None:
        cfg.n_partitions = v
    if (v := _pos_int("max-message-bytes")) is not None:
        cfg.max_message_bytes = v
        if cfg.large_message_handle:
            cfg.large_message_handle.setdefault("max-message-bytes", v)
    if (v := _pos_int("worker-count")) is not None:
        cfg.worker_count = min(v, _MAX_WORKER_COUNT)
    if (v := _pos_int("max-txn-row")) is not None:
        cfg.max_txn_row = v
    if (v := _pos_int("max-batch-size")) is not None:
        cfg.max_batch_size = v
    if "compression" in q and q["compression"] not in ("", "none"):
        cfg.compression = q["compression"]
    if "safe-mode" in q:
        cfg.safe_mode = q["safe-mode"].lower() == "true"
    if "enable-tidb-extension" in q:
        cfg.tidb_extension = q["enable-tidb-extension"].lower() == "true"
    if "output-row-key" in q:
        # canal-json only (`codec/common/config.go:190-192` form tag)
        cfg.output_row_key = q["output-row-key"].lower() == "true"
    if "transaction-atomicity" in q:
        cfg.transaction_atomicity = q["transaction-atomicity"]
    # avro form params (`codec/common/config.go:173-181,224-229`)
    if "avro-enable-watermark" in q:
        cfg.avro_enable_watermark = (
            q["avro-enable-watermark"].lower() == "true")
    if q.get("avro-decimal-handling-mode"):
        if q["avro-decimal-handling-mode"] not in ("precise", "string"):
            raise ValueError(
                "avro-decimal-handling-mode must be 'precise' or "
                f"'string', got {q['avro-decimal-handling-mode']!r}")
        cfg.avro_decimal_handling_mode = q["avro-decimal-handling-mode"]
    if q.get("avro-bigint-unsigned-handling-mode"):
        if q["avro-bigint-unsigned-handling-mode"] not in (
                "long", "string"):
            raise ValueError(
                "avro-bigint-unsigned-handling-mode must be 'long' or "
                f"'string', got "
                f"{q['avro-bigint-unsigned-handling-mode']!r}")
        cfg.avro_bigint_unsigned_handling_mode = (
            q["avro-bigint-unsigned-handling-mode"])
    if q.get("schema-registry"):
        cfg.schema_registry = q["schema-registry"]
    # TLS credential triple (`pkg/security/credential.go:107-110`):
    # kafka spells it ca/cert/key + enable-tls (`pkg/sink/kafka/
    # options.go`), mysql ssl-ca/ssl-cert/ssl-key (`pkg/sink/mysql/
    # config.go`); both normalize to the same Credential
    if "enable-tls" in q:
        cfg.enable_tls = q["enable-tls"].lower() == "true"
    if "insecure-skip-verify" in q:
        # "Only set InsecureSkipVerify when enable the TLS"
        # (`pkg/sink/kafka/options.go:423-425`) — the knob is parsed
        # here and gated on enable_tls at the dialer
        cfg.insecure_skip_verify = (
            q["insecure-skip-verify"].lower() == "true")
    ca = q.get("ca") or q.get("ssl-ca") or ""
    cert = q.get("cert") or q.get("ssl-cert") or ""
    key = q.get("key") or q.get("ssl-key") or ""
    if bool(cert) != bool(key):
        raise ValueError(
            "TLS client credential needs BOTH cert and key "
            f"(got cert={cert!r}, key={key!r})")
    if ca:
        cfg.tls_ca_path = ca
        cfg.enable_tls = True
    cfg.tls_cert_path = cert or cfg.tls_cert_path
    cfg.tls_key_path = key or cfg.tls_key_path

    # kafka SASL family (`pkg/sink/kafka/options.go:123-135` form tags;
    # mechanism set `pkg/security/sasl.go:43-58`) — URI params override
    # the [sink.kafka-config] TOML section, like the reference's Apply
    sasl_keys = [k for k in q if k.startswith("sasl-")]
    if sasl_keys:
        kc = dict(cfg.kafka_config or {})
        for k in sasl_keys:
            kc[k] = q[k]
        cfg.kafka_config = kc
    mech = (cfg.kafka_config or {}).get("sasl-mechanism")
    if mech and mech.lower() not in SASL_MECHANISMS:
        raise ValueError(f"unknown {mech} SASL mechanism")

    scheme = u.scheme.lower().split("+")[0]
    if scheme in ("kafka", "kafkas"):
        # kafka producer-semantics form tags (`options.go:111-138`):
        # these route into the kafka sub-config, NOT the mysql knobs —
        # kafka's read-timeout/write-timeout are legitimate kafka
        # params (`options.go:120-121`), previously mis-bucketed
        kc = dict(cfg.kafka_config or {})
        kc_changed = False
        for k in ("dial-timeout", "read-timeout", "write-timeout"):
            if k in q:
                parse_duration_us(q[k])  # raises on bad duration
                kc[k] = q[k]
                kc_changed = True
        for k in ("kafka-version", "kafka-client-id"):
            if q.get(k):
                kc[k] = q[k]
                kc_changed = True
        if "auto-create-topic" in q:
            kc["auto-create-topic"] = q["auto-create-topic"].lower() == "true"
            kc_changed = True
        if "replication-factor" in q:
            rf = int(q["replication-factor"])
            if rf <= 0:
                raise ValueError(f"invalid replication-factor {rf}")
            kc["replication-factor"] = rf
            kc_changed = True
        if "required-acks" in q:
            kc["required-acks"] = int(q["required-acks"])
            kc_changed = True
        if kc_changed:
            cfg.kafka_config = kc
        validate_required_acks(cfg.kafka_config)
    elif scheme in ("mysql", "tidb"):
        # mysql sink knobs (`pkg/sink/mysql/config.go:277-283,624-700`),
        # gated on the URI scheme like the reference's per-sink option
        # parsing: durations validated, invalid tidb-txn-mode ignored
        # with the reference's warning semantics (default kept)
        mc = dict(cfg.mysql_config or {})
        mc_changed = False
        for k in ("read-timeout", "write-timeout", "timeout"):
            if k in q:
                parse_duration_us(q[k])  # raises on bad duration
                mc[k] = q[k]
                mc_changed = True
        if q.get("tidb-txn-mode"):
            if q["tidb-txn-mode"] in ("pessimistic", "optimistic"):
                mc["tidb-txn-mode"] = q["tidb-txn-mode"]
                mc_changed = True
            # else: reference logs "invalid tidb-txn-mode, should be
            # pessimistic or optimistic" and keeps the default
        if "time-zone" in q:
            mc["time-zone"] = q["time-zone"]
            mc_changed = True
        for k in ("max-multi-update-row", "max-txn-row"):
            if k in q:
                v = int(q[k])
                if v <= 0:
                    raise ValueError(
                        f"invalid {k} {v}, which must be greater than 0")
                mc[k] = v
                mc_changed = True
        if "max-multi-update-row-size" in q:
            # getMaxMultiUpdateRowSize (`pkg/sink/mysql/config.go:599-621`)
            # accepts 0 — "multi-row UPDATE off": the size gate
            # size < 0*len(rows) never passes, forcing per-row UPDATEs.
            # Only negatives are invalid.
            v = int(q["max-multi-update-row-size"])
            if v < 0:
                raise ValueError(
                    f"invalid max-multi-update-row-size {v}, which must "
                    "be greater than or equal to 0")
            mc["max-multi-update-row-size"] = v
            mc_changed = True
        for k in ("enable-batch-dml", "enable-multi-statement",
                  "enable-cache-prepared-statement"):
            if k in q:
                mc[k] = q[k].lower() == "true"
                mc_changed = True
        if mc_changed:
            cfg.mysql_config = mc


def validate_required_acks(kafka_config: dict | None) -> int:
    """required-acks (`pkg/sink/kafka/options.go:95-108`
    requireAcksFromString): only -1 (WaitForAll, default), 0
    (NoResponse) and 1 (WaitForLocal) are legal."""
    acks = (kafka_config or {}).get("required-acks", -1)
    if acks not in (-1, 0, 1):
        raise ValueError(
            f"invalid required acks {acks}, only support these values: "
            "0(NoResponse), 1(WaitForLocal) and -1(WaitForAll)")
    return acks


#: `pkg/security/sasl.go:43-58` SASLMechanismFromString
SASL_MECHANISMS = ("plain", "scram-sha-256", "scram-sha-512", "gssapi",
                   "oauthbearer")


def kafka_sasl(cfg) -> tuple[str, str, str] | None:
    """(mechanism, user, password) for ``KafkaConn`` from the merged
    kafka sub-config, mechanism in the broker's upper-case spelling
    (`pkg/sink/kafka/options.go:63-71`); None when SASL is off."""
    kc = cfg.kafka_config or {}
    mech = kc.get("sasl-mechanism")
    if not mech:
        return None
    return (mech.upper(), kc.get("sasl-user", ""),
            kc.get("sasl-password", ""))


#: `pkg/security/sasl.go:117-127` AuthTypeFromString
GSSAPI_AUTH_TYPES = ("user", "keytab")


def kafka_sasl_spec(cfg) -> dict | None:
    """The FULL SASL spec from the merged kafka sub-config — the
    reference's `options.applySASL` (`pkg/sink/kafka/options.go:431-545`)
    over the TOML spellings `pkg/config/sink.go:475-489`:

    - ``sasl-gssapi-*`` octet → ``spec["gssapi"]`` (auth-type validated
      via AuthTypeFromString — user|keytab; keytab/krb5-conf paths pass
      through for the dialer to resolve);
    - ``sasl-oauth-*`` family → ``spec["oauth2"]`` with the reference's
      validation: client-id/client-secret/token-url must be non-empty,
      the secret is base64-decoded (`options.go:495-508`), OAuth2 is
      only legal with mechanism oauthbearer (`options.go:519-523`), and
      grant-type defaults to client_credentials (`sasl.go:96-97`
      SetDefault).

    Returns None when SASL is off; otherwise
    ``{"mechanism", "user", "password", "gssapi"?, "oauth2"?}``."""
    import base64 as _b64

    kc = cfg.kafka_config or {}
    mech = kc.get("sasl-mechanism")
    if not mech:
        return None
    if mech.lower() not in SASL_MECHANISMS:
        raise ValueError(f"unknown {mech} SASL mechanism")
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
            "disable_pafxfast": bool(
                kc.get("sasl-gssapi-disable-pafxfast", False)),
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
    """Pulsar client auth kwargs from [sink.pulsar-config]
    (`pkg/config/sink.go:606-676` PulsarConfig: authentication-token /
    token-from-file / basic-user-name+basic-password / oauth2 sub-table /
    auth-tls-certificate-path+auth-tls-private-key-path).

    Provider PRIORITY follows the reference's setupAuthentication
    (`pkg/sink/pulsar/factory.go:95-125`, first match wins):
    token > token-from-file > basic > oauth2 > mTLS.

    oauth2-private-key (`sink.go:587-588`) is the PATH of the client's
    key file — the reference passes it as the pulsar lib's
    ConfigParamKeyFile (`pkg/sink/pulsar/factory.go:115`), whose JSON
    carries the client credentials for the client-credentials grant —
    NOT a literal client secret.  Validation mirrors `OAuth2.validate`
    (`sink.go:595-603`): issuer-url, audience, private-key and
    client-id must all be set."""
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


# clamps from `pkg/sink/mysql/config.go:59-65`
_MAX_MULTI_UPDATE_ROW_COUNT_CAP = 256   # maxMaxMultiUpdateRowCount
_MAX_MULTI_UPDATE_ROW_SIZE_CAP = 8192   # maxMaxMultiUpdateRowSize


def _clamped_size(v) -> int:
    """max-multi-update-row-size clamp: 0 is a VALID value (disable
    multi-row UPDATE); negatives/non-ints fall back to the 1024 default;
    values above maxMaxMultiUpdateRowSize clamp down."""
    if not isinstance(v, int) or v < 0:
        return 1024
    return min(v, _MAX_MULTI_UPDATE_ROW_SIZE_CAP)


def mysql_batch_options(cfg) -> dict:
    """The MySQL writer batching knobs from the merged
    [sink.mysql-config] + sink-URI params
    (`pkg/sink/mysql/config.go:49-85,181-191,215-228`), reference
    defaults applied and the documented clamps enforced (values above
    the max clamp down with a warning in the reference; <=0 falls back
    to the default)."""
    mc = cfg.mysql_config or {}

    def clamped(key: str, default: int, cap: int) -> int:
        v = mc.get(key, default)
        if not isinstance(v, int) or v <= 0:
            return default
        return min(v, cap)

    return {
        "max_txn_row": clamped("max-txn-row", getattr(
            cfg, "max_txn_row", 256) or 256, 2048),
        "max_multi_update_row": clamped(
            "max-multi-update-row", 40, _MAX_MULTI_UPDATE_ROW_COUNT_CAP),
        # size accepts 0 = disable multi-row UPDATE (getMaxMultiUpdateRowSize
        # rejects only <0, `pkg/sink/mysql/config.go:609-613`): 0 must pass
        # through so the writer's size*len gate forces per-row UPDATEs
        "max_multi_update_row_size": _clamped_size(
            mc.get("max-multi-update-row-size", 1024)),
        "enable_batch_dml": bool(mc.get("enable-batch-dml", True)),
        "enable_multi_statement": bool(
            mc.get("enable-multi-statement", True)),
        "enable_cache_prepared_statement": bool(
            mc.get("enable-cache-prepared-statement", True)),
    }


def large_message_compression(cfg) -> str | None:
    """The value-compression codec from [sink.kafka-config.
    large-message-handle] large-message-handle-compression
    (`pkg/config/large_message.go:33`), or None when off.  The
    reference applies it to EVERY encoded message value (canal/open/
    simple encoders call common.Compress unconditionally), so the
    max-message-bytes gates measure compressed sizes.  The names are
    `codec/compression.py` codec names: snappy is a raw block
    (klauspost snappy.Encode) and lz4 the LZ4 frame format (pierrec
    lz4.NewWriter), as in `pkg/compression/compress.go`."""
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
    (`pkg/config/sink.go:615-643` PulsarConfig; defaults
    `pkg/sink/pulsar/config.go:25-38`; consumed into
    pulsar.ClientOptions at `factory.go:31-40`).  ``pulsar-version``
    parses and passes through — the reference only logs it
    (`sink.go:615-616` "print the version of pulsar")."""
    pc = cfg.pulsar_config or {}
    out = {}
    for key, default in _PULSAR_TUNING_DEFAULTS.items():
        v = pc.get(key, default)
        if not isinstance(v, int) or v <= 0:
            raise ValueError(f"invalid pulsar {key}: {v!r} "
                             "(must be a positive integer)")
        out[key.replace("-", "_")] = v
    out["pulsar_version"] = pc.get("pulsar-version")
    return out

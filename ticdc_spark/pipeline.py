"""Changefeed pipeline compiler (SURVEY §3.2's hot path, Spark-first).

A changefeed config (same field names as the reference's ReplicaConfig,
`pkg/config/replica_config.go:151` / `pkg/config/sink.go:139`) compiles
into one declarative DataFrame transform:

    source → F1 table filter → F2/F4 event filters → F3 expr filter →
    P1 column selector → P2 update split → (A1 compaction) →
    P3/P4 projections → R1-R6 routing → encoder → sink

Filters are applied BEFORE any wide operation so Catalyst pushes them
toward the scan (the reference applies its filters at scan time too —
`schema_store.go:62`, skip-decode accounting `event_store.go:58-59`).
The only shuffle in the whole pipeline is the compaction groupBy (and it
uses map-side partial aggregation); at 100 TB that is the minimum
possible: one exchange keyed by (table, pk).
"""

from __future__ import annotations

from collections import namedtuple
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ticdc_spark.codec import (canal_json, csv_codec, debezium, open_protocol,
                               simple_protocol)
from ticdc_spark.codec.avro_codec import encode_avro_json
from ticdc_spark.operators import (
    apply_event_filters,
    apply_expr_filter,
    apply_table_filter,
    compact_changelog,
    delete_handle_key_only,
    only_updated_columns,
    route,
    select_columns,
    split_updates,
)
from ticdc_spark.sinks import consumer


@dataclass
class ChangefeedConfig:
    """Subset of the reference ReplicaConfig surface, same names; the
    keys that fill it are ``config.KEYS``."""

    filter_rules: list[str] = field(default_factory=lambda: ["*.*"])
    event_filters: list[dict] = field(default_factory=list)
    expr_filter: dict | None = None  # {"matcher": [...], "ignore-insert-value-expr": ...}
    column_selectors: list[dict] = field(default_factory=list)
    dispatchers: list[dict] = field(default_factory=list)
    protocol: str = "canal-json"
    encoding_format: str = "json"  # [sink.codec] encoding-format
    split_updates: bool = True
    compact: bool = False
    only_output_updated_columns: bool = False
    delete_only_output_handle_key: bool = False
    n_partitions: int = 16
    # large-message-handle per `pkg/config/large_message.go:22-35`:
    # {"large-message-handle-option": "handle-key-only"|"claim-check",
    #  "max-message-bytes": N}
    large_message_handle: dict | None = None
    handle_key_fields: tuple = ("id",)
    # value codec from ?compression= (codec/compression.py names)
    compression: str | None = None
    # --- ReplicaConfig top-level (`pkg/config/replica_config.go:151`) ---
    case_sensitive: bool = False  # reference default false since v6.x
    force_replicate: bool = False  # replicate PK-less tables
    memory_quota: int = 1024 * 1024 * 1024  # DefaultChangefeedMemoryQuota
    enable_sync_point: bool = False
    sync_point_interval_us: int = 600 * 1_000_000  # 10m default
    # --- SinkConfig extras (`pkg/config/sink.go:139`) ---
    safe_mode: bool = False
    terminator: str = "\r\n"  # CRLF default (`pkg/config/sink.go`)
    date_separator: str = "day"
    # [sink] enable-partition-separator (`pkg/config/sink.go:157`,
    # default true `replica_config.go:77`): partitioned tables get the
    # physical table id as a path segment on the storage sink
    enable_partition_separator: bool = True
    # DefaultFileIndexWidth=20, clamp [6, 20] (`pkg/config/sink.go:68-73`)
    file_index_width: int = 20
    csv_config: dict | None = None  # [sink.csv]: delimiter/quote/...
    # --- IntegrityConfig (`pkg/integrity/integrity.go:24-43`) ---
    integrity_check_level: str = "none"  # none | correctness
    # --- sink URI: scheme selects the sink implementation
    # (`downstreamadapter/sink/sink.go:53`, schemes
    # `pkg/config/sink_protocol.go:116-140`) ---
    sink_uri: str = "blackhole://"
    # transaction-atomicity (`pkg/config/sink.go:140`): "none" allows a
    # txn to be split across flushes; "table" keeps per-table txns whole
    transaction_atomicity: str = "none"
    # BDR active-active mode (`pkg/config/replica_config.go:170`) —
    # enables the soft-delete/conflict-column transforms (P6)
    bdr_mode: bool = False
    # [scheduler] (`pkg/config/scheduler_config.go:36-46`)
    enable_table_across_nodes: bool = False
    # --- the replication window (`pkg/config/changefeed.go:252-281`
    # ChangeFeedInfo.StartTs/TargetTs): rows with commit_ts <= start_ts
    # are already replicated; target_ts > 0 bounds the feed, which
    # FINISHES once the checkpoint reaches it. 0 = unset.
    start_ts: int = 0
    target_ts: int = 0
    # --- sink-URI params (`pkg/sink/mysql/config.go:49-59,529-560`,
    # kafka `options.go` form tags) ---
    max_txn_row: int = 256       # DefaultMaxTxnRow
    max_message_bytes: int = 10 * 1024 * 1024  # `pkg/config/sink.go:35`
    tidb_extension: bool = False  # enable-tidb-extension
    # output-row-key (`pkg/config/sink.go:457` CodecConfig / form tag
    # `codec/common/config.go:190-192`): canal-json only; the rowkey is
    # emitted iff tidb_extension is also on
    output_row_key: bool = False
    # --- remaining ReplicaConfig top level (`replica_config.go:51-128`
    # defaults; validation `:288-385`) ---
    ignore_ineligible_table: bool = False
    # how long a failing changefeed retries before it is failed; min 30m
    # (`replica_config.go:42,374-381`)
    changefeed_error_stuck_duration_us: int = 30 * 60 * 1_000_000
    # [synced-status] seconds (`synced_status_config.go:17-23`,
    # defaults `replica_config.go:123-126`) — drives GET /synced
    synced_check_interval_s: int = 300
    synced_checkpoint_interval_s: int = 15
    # [consistent] — redo log; normalized + validated by
    # config.parse_consistent_config (None = level "none")
    consistent: dict | None = None
    # [sink.open] / [sink.debezium] output-old-value — both default
    # true (`replica_config.go:88-89`); false drops the pre image from
    # UPDATE messages
    open_output_old_value: bool = True
    debezium_output_old_value: bool = True
    # debezium-disable-schema (`replica_config.go:87` default false →
    # the Connect schema envelope IS included by default)
    debezium_disable_schema: bool = False
    # content-compatible (`replica_config.go:80`): canal-json mysqlType
    # carries the display-width descriptor official canal consumers
    # parse (`canal_json_encoder.go:250`)
    content_compatible: bool = False
    # avro-enable-watermark (`sink.go:147-149,453-455`): the watermark
    # gate changes DELETE framing (tombstone vs 9-byte marker)
    avro_enable_watermark: bool = False
    # simple-protocol bootstrap knobs (`sink.go:87-96` defaults)
    send_bootstrap_interval_s: int = 120
    send_bootstrap_to_all_partition: bool = True
    # [sink.cloud-storage-config] — normalized + validated by
    # config.parse_cloud_storage_config (None = defaults)
    cloud_storage_config: dict | None = None
    # --- connector sub-configs ([sink.kafka-config]/[sink.pulsar-config]/
    # [sink.mysql-config], `pkg/config/sink.go`): their keys' values, the
    # sink-URI params over the TOML (the reference's Apply order) ---
    kafka_config: dict | None = None
    pulsar_config: dict | None = None
    mysql_config: dict | None = None
    # --- Kafka TLS credential triple (`pkg/security/credential.go:107-110`;
    # sink-URI params `ca`/`cert`/`key`, `enable-tls`): ca verifies the
    # endpoint, cert+key present a client identity (mutual TLS) ---
    enable_tls: bool = False
    tls_ca_path: str = ""
    tls_cert_path: str = ""
    tls_key_path: str = ""
    # insecure-skip-verify (`pkg/config/sink.go:494`): only honored
    # when enable-tls is on (`pkg/sink/kafka/options.go:423-425`)
    insecure_skip_verify: bool = False

    def __post_init__(self) -> None:
        # memory-quota bounds each epoch's admitted bytes (the stream's
        # maxBytesPerTrigger); reject what Spark would only refuse once
        # the changefeed starts
        q = self.memory_quota
        if isinstance(q, bool) or not isinstance(q, int) or q <= 0:
            raise ValueError(
                f"memory-quota must be a positive integer, got {q!r}")


def apply_replication_window(cl: DataFrame,
                             cfg: ChangefeedConfig) -> DataFrame:
    """StartTs/TargetTs bounds, applied FIRST so the commit-ts
    predicates push down to the source scan (the reference's scanner
    starts its iterator at startTs and the maintainer finishes the feed
    at targetTs; here both are one pushed filter)."""
    from pyspark.sql import functions as F

    if cfg.start_ts:
        cl = cl.filter(F.col("commit_ts") > cfg.start_ts)
    if cfg.target_ts:
        cl = cl.filter(F.col("commit_ts") <= cfg.target_ts)
    return cl


def _csv(df: DataFrame, cfg: ChangefeedConfig) -> DataFrame:
    return csv_codec.encode_csv(
        df, terminator=cfg.terminator,  # per-message, csv/txt
        **csv_codec.csv_encode_kwargs(cfg.csv_config))


def _canal_json(df: DataFrame, cfg: ChangefeedConfig) -> DataFrame:
    overrides = (canal_json.content_compatible_overrides(
        df.schema["after"].dataType) if cfg.content_compatible else None)
    return canal_json.encode_canal_json(
        df, tidb_extension=cfg.tidb_extension, type_overrides=overrides,
        output_row_key=cfg.output_row_key)


def _debezium(df: DataFrame, cfg: ChangefeedConfig) -> DataFrame:
    if cfg.debezium_disable_schema:
        return debezium.encode_debezium(
            df, output_old_value=cfg.debezium_output_old_value)
    # reference default: the Connect schema envelope rides every
    # message (`replica_config.go:87`)
    return debezium.encode_debezium_full(
        df, disable_schema=False,
        output_old_value=cfg.debezium_output_old_value)


def _simple(df: DataFrame, cfg: ChangefeedConfig) -> DataFrame:
    if cfg.encoding_format != "avro":
        return simple_protocol.encode_simple(df)
    # [sink.codec] encoding-format (pkg/config/sink.go:456): the simple
    # protocol's second wire shape
    from ticdc_spark.codec.simple_avro import encode_simple_avro_values

    return encode_simple_avro_values(df)


def _avro(df: DataFrame, cfg: ChangefeedConfig) -> DataFrame:
    from ticdc_spark.codec.avro_protocol import encode_avro_binary_df

    return encode_avro_binary_df(
        df, tidb_extension=cfg.tidb_extension,
        avro_enable_watermark=cfg.avro_enable_watermark,
        pk_fields=tuple(cfg.handle_key_fields))


def _debezium_avro(df: DataFrame, cfg: ChangefeedConfig) -> DataFrame:
    from ticdc_spark.codec.debezium_avro import encode_debezium_avro_df

    return encode_debezium_avro_df(df)


# One record per protocol: ``dml(df, cfg)`` encodes with the changefeed's
# protocol options; ``ddl(event)`` and ``watermark(ts)`` build the
# (key, value) control frames the live changefeed broadcasts, and their
# DataFrame forms run the same builders; ``decode(messages, image)`` is
# the consumer, its images typed by the table's ``image``. None where the
# protocol has no such piece here.
Protocol = namedtuple("Protocol", "dml ddl watermark decode")


def _keyless(build):
    """A builder of a value alone as a ``(None, value)`` frame builder."""
    return lambda event: (None, build(event))


# protocol enum per `pkg/config/sink_protocol.go:33-44`. The avro
# protocols' control frames need the schema registry a live changefeed
# does not have yet; csv and avro-json have none.
PROTOCOLS = {
    "canal-json": Protocol(
        _canal_json, _keyless(canal_json.ddl_message),
        _keyless(canal_json.watermark_message), consumer.decode_canal_json),
    "csv": Protocol(_csv, None, None, consumer.decode_csv_storage),
    "open-protocol": Protocol(
        lambda df, cfg: open_protocol.encode_open_protocol(
            df, output_old_value=cfg.open_output_old_value),
        open_protocol.ddl_frame, open_protocol.watermark_frame,
        consumer.decode_open_protocol),
    "debezium": Protocol(
        _debezium, debezium.ddl_frame,
        lambda ts: debezium.watermark_frame(ts, "ticdc-spark", True),
        consumer.decode_debezium),
    "simple": Protocol(
        _simple, _keyless(simple_protocol.ddl_message),
        _keyless(lambda ts: simple_protocol.watermark_message(ts, None,
                                                              None)),
        consumer.decode_simple),
    "avro": Protocol(_avro, None, None, None),  # confluent-framed binary
    "avro-json": Protocol(  # JSON debug twin
        lambda df, cfg: encode_avro_json(df), None, None, None),
    "debezium-avro": Protocol(  # confluent-framed Avro binary
        _debezium_avro, None, None, None),
}


def protocol_record(cfg: ChangefeedConfig) -> Protocol:
    """The changefeed's protocol record."""
    if cfg.protocol not in PROTOCOLS:
        raise ValueError(
            f"unknown protocol: {cfg.protocol} (known: {sorted(PROTOCOLS)})"
        )
    return PROTOCOLS[cfg.protocol]


def build_pipeline(cl: DataFrame, cfg: ChangefeedConfig) -> DataFrame:
    df = build_pipeline_uncoded(cl, cfg)
    # filters are done — rebalance single-split inputs before the
    # per-row-heavy encode/route stages (see sources.changelog.scale_out)
    from ticdc_spark.sources.changelog import scale_out

    df = scale_out(df)
    if cfg.compact:
        df = compact_changelog(df)
        return df  # compacted output feeds the mysql sink path, not MQ
    if cfg.only_output_updated_columns:
        df = only_updated_columns(df)
    if cfg.delete_only_output_handle_key:
        df = delete_handle_key_only(df)
    if cfg.dispatchers:
        df = route(df, cfg.dispatchers, cfg.n_partitions)
    if cfg.integrity_check_level == "correctness":
        # P5: row checksum rides the frame as a column; MQ encoders that
        # carry it (avro/open) pick it up, others leave it as metadata.
        from ticdc_spark.operators.checksum import with_row_checksum

        df = with_row_checksum(df)
    elif cfg.integrity_check_level != "none":
        raise ValueError(
            f"unknown integrity-check-level: {cfg.integrity_check_level}"
        )
    df = protocol_record(cfg).dml(df, cfg)
    # large-message-handle-compression (`pkg/config/large_message.go:33`):
    # the reference encoders call common.Compress on EVERY value, so it
    # applies before (and its output feeds) the max-message-bytes gates
    from ticdc_spark.config import large_message_compression

    lm_codec = large_message_compression(cfg)
    if lm_codec:
        from ticdc_spark.operators.large_message import compress_values

        df = compress_values(df, codec=lm_codec)
    if cfg.large_message_handle:
        lm = cfg.large_message_handle
        opt = lm.get("large-message-handle-option", "handle-key-only")
        max_bytes = lm.get("max-message-bytes", cfg.max_message_bytes)
        if opt == "claim-check":
            from ticdc_spark.operators.large_message import with_claim_check

            # `pkg/config/large_message.go:84-91` AdjustAndValidate:
            # claim-check demands a storage URI, and raw-value (park the
            # bare encoded value, no ClaimCheckMessage envelope) is
            # prohibited for the open protocol — its messages are
            # key/value PAIRS, so a bare value is not reconstructible.
            raw_value = bool(lm.get("claim-check-raw-value", False))
            if raw_value and cfg.protocol == "open-protocol":
                raise ValueError(
                    "large message handle is set to claim-check, raw "
                    "value is not supported for the open protocol")
            uri = lm.get("claim-check-storage-uri", "")
            df = with_claim_check(df, max_bytes, raw_value=raw_value,
                                  **({"claim_store_uri": uri} if uri
                                     else {}))
        elif opt == "handle-key-only":
            # oversized rows re-encode with only the handle columns,
            # through the same protocol options as the full encode —
            # both encodes inline on one frame + a `when`, NOT a
            # self-join (an extra shuffle per message would dominate)
            from pyspark.sql import functions as F

            from ticdc_spark.operators.column_selector import (
                select_columns_physical,
            )

            hk = list(cfg.handle_key_fields)
            full = df.withColumnRenamed("value", "_value_full")
            small = protocol_record(cfg).dml(
                select_columns_physical(full, hk, pk_fields=tuple(hk)),
                cfg)
            if lm_codec:
                # the handle-key re-encode is compressed too (the
                # reference's encoder compresses the fallback message
                # through the same common.Compress call)
                from ticdc_spark.operators.large_message import (
                    compress_values,
                )

                small = compress_values(small, codec=lm_codec)
            df = (
                small.withColumn(
                    "is_large", F.length("_value_full") > max_bytes)
                .withColumn(
                    "value",
                    F.when(F.col("is_large"), F.col("value"))
                    .otherwise(F.col("_value_full")),
                )
                .drop("_value_full")
            )
        else:
            raise ValueError(f"unknown large-message-handle-option: {opt}")
    if cfg.compression:
        from ticdc_spark.operators.large_message import compress_values

        df = compress_values(df, codec=cfg.compression)
    return df


# URI scheme → sink family, per `pkg/config/sink_protocol.go:116-140`
MQ_SCHEMES = {"kafka", "kafka+ssl", "pulsar", "pulsar+ssl"}
DB_SCHEMES = {"mysql", "mysql+ssl", "tidb", "tidb+ssl"}
STORAGE_SCHEMES = {"s3", "file", "gcs", "gs", "azblob", "azure", "nfs"}


def sink_scheme(cfg: ChangefeedConfig) -> str:
    from urllib.parse import urlparse

    return (urlparse(cfg.sink_uri).scheme or "blackhole").lower()


def compile_sink_tail(df: DataFrame, cfg: ChangefeedConfig) -> DataFrame:
    """Sink-specific tail over the filter-prefix output
    (``build_pipeline_uncoded``). Batch-only constructs (compaction
    windows, SQL batching, file-index windows) live here — in streaming
    mode this runs inside foreachBatch, the reference's flush-time sink
    work (`mysql_writer_dml_batch.go`, `pkg/cloudstorage/generator.go`).
    """
    if cfg.transaction_atomicity not in ("none", "table"):
        raise ValueError(
            f"unknown transaction-atomicity: {cfg.transaction_atomicity}"
        )
    scheme = sink_scheme(cfg)
    if scheme in DB_SCHEMES:
        from ticdc_spark.sinks.mysql import multirow_batches, sql_for_rows

        if cfg.bdr_mode:
            # P6 active-active: deletes become soft-delete updates so the
            # peer cluster can resolve conflicts
            # (`pkg/sink/mysql/mysql_writer_dml_active_active.go`)
            from ticdc_spark.operators.active_active import (
                deletes_to_soft_deletes,
            )

            df = deletes_to_soft_deletes(df)
        if cfg.safe_mode:
            # catch-up mode: per-row idempotent REPLACE upserts
            # (`basic_dispatcher.go:156-161`); table-level atomicity
            # stamps txn-aligned flush batches so a writer can commit
            # whole transactions
            if cfg.transaction_atomicity == "table":
                from ticdc_spark.sinks.mysql import txn_flush_batches

                df = txn_flush_batches(
                    df, max_txn_row=cfg.max_txn_row, atomicity="table")
            return sql_for_rows(df, safe_mode=True,
                                pk_fields=tuple(cfg.handle_key_fields))
        # [sink.mysql-config] batching knobs (`pkg/sink/mysql/
        # config.go:49-85`): enable-batch-dml=false selects the
        # per-row writer (shouldGenBatchSQL rule 1); the multi-update
        # caps bound batch statement shapes
        from ticdc_spark.config import mysql_batch_options

        opts = mysql_batch_options(cfg)
        if not opts["enable_batch_dml"]:
            return sql_for_rows(df, safe_mode=False,
                                pk_fields=tuple(cfg.handle_key_fields))
        return multirow_batches(
            compact_changelog(df),
            max_txn_row=cfg.max_txn_row,
            pk_fields=tuple(cfg.handle_key_fields),
            max_multi_update_row=opts["max_multi_update_row"],
            max_multi_update_row_size=opts["max_multi_update_row_size"])
    if scheme in STORAGE_SCHEMES:
        from ticdc_spark.sinks.storage import storage_paths

        ext = "csv" if cfg.protocol == "csv" else "json"
        # rotation scales with [sink.cloud-storage-config] file-size
        # (`pkg/cloudstorage/config.go:50-57`; 64 MB default = 4096
        # rows at the testdata's ~16 KB record ceiling — the same
        # row-count model the redo writer uses for max-log-size)
        storage = cfg.cloud_storage_config or {}
        file_size = storage.get("file-size", 64 * 1024 * 1024)
        rows_per_file = max(1, 4096 * file_size // (64 * 1024 * 1024))
        return storage_paths(
            protocol_record(cfg).dml(df, cfg),
            date_separator=cfg.date_separator,
            extension=ext,
            rows_per_file=rows_per_file,
            file_index_width=cfg.file_index_width,
            enable_partition_separator=cfg.enable_partition_separator,
        )
    raise ValueError(f"no sink tail for scheme: {scheme} (uri: {cfg.sink_uri})")


def storage_file_header(cfg: ChangefeedConfig, payload_schema,
                        line_terminator: str = "\n") -> str | None:
    """[sink.csv] ``output-field-header`` (`pkg/config/sink.go:276`;
    `csv_encoder.go:46-48` — the encoder emits the header once, as the
    first line of every storage data file).  Returns the header string
    the storage writer prepends per file, or ``None`` when the key is
    unset/false or the protocol isn't csv.  ``line_terminator`` matches
    the writer's line join (the live put path joins with LF)."""
    c = cfg.csv_config or {}
    if cfg.protocol != "csv" or not c.get("output-field-header"):
        return None
    from ticdc_spark.codec.csv_codec import csv_header

    return csv_header(
        payload_schema,
        include_commit_ts=c.get("include-commit-ts", True),
        output_old_value=c.get("output-old-value", False),
        delimiter=c.get("delimiter", ","),
        terminator=line_terminator,
    )


def compile_changefeed(cl: DataFrame, cfg: ChangefeedConfig) -> DataFrame:
    """Sink dispatch on the sink-URI scheme
    (`downstreamadapter/sink/sink.go:53`): the changefeed's one DataFrame
    DAG, shaped for its downstream.

    - MQ (kafka/pulsar): routed + protocol-encoded message frame
      (topic, partition, key?, value) — ``build_pipeline`` as-is.
    - DB (mysql/tidb): A1-compacted net rows → batched dialect SQL
      (``stmt`` column; safe-mode selects per-row REPLACE upserts).
    - Storage (s3/file/...): encoded rows + path/file_name layout
      columns (`pkg/cloudstorage/generator.go:126-128`).
    - blackhole: the encoded frame, discarded by the writer (perf path).
    """
    scheme = sink_scheme(cfg)
    if scheme in MQ_SCHEMES or scheme == "blackhole":
        return build_pipeline(cl, cfg)
    if scheme in DB_SCHEMES or scheme in STORAGE_SCHEMES:
        return compile_sink_tail(build_pipeline_uncoded(cl, cfg), cfg)
    raise ValueError(f"unknown sink scheme: {scheme} (uri: {cfg.sink_uri})")


def compile_redo(cl: DataFrame, cfg: ChangefeedConfig) -> DataFrame | None:
    """[consistent] redo-log companion of ``compile_changefeed``.

    The reference runs the redo writer IN PARALLEL with the sink
    (`downstreamadapter/sink/redo`): every filtered row is also
    appended to redo log files under ``consistent.storage`` before the
    checkpoint may advance.  Here that is a second DataFrame over the
    same filtered prefix — rows with their redo file assignment and
    record JSON, paths prefixed by the configured storage.  Returns
    ``None`` when the level is "none" (feature disabled).

    Rotation: the reference rotates at ``max-log-size`` MB
    (`pkg/redo/writer/file/file.go`); the row-count model scales
    rows-per-file linearly with the configured size (64 MB default =
    4096 rows at the testdata's ~16 KB record ceiling).
    """
    from pyspark.sql import functions as F

    from ticdc_spark.sinks.redo import redo_log_files

    consistent = cfg.consistent or {}
    if consistent.get("level", "none") == "none":
        return None
    storage = consistent.get("storage", "") or ""
    rows_per_file = max(1, 4096 * consistent.get("max-log-size", 64) // 64)
    out = redo_log_files(build_pipeline_uncoded(cl, cfg),
                         rows_per_file=rows_per_file)
    if storage:
        prefix = storage if storage.endswith("/") else storage + "/"
        out = out.withColumn(
            "file_name", F.concat(F.lit(prefix), F.col("file_name")))
    return out


def compile_bootstrap(cl: DataFrame,
                      cfg: ChangefeedConfig) -> DataFrame | None:
    """Simple-protocol BOOTSTRAP companion of ``compile_changefeed``.

    The reference periodically sends per-table schema (BOOTSTRAP)
    messages on MQ sinks under the simple protocol
    (`sink.go:87-96` send-bootstrap-* knobs; simple/message.go:44):
    interval <= 0 disables, and ``send-bootstrap-to-all-partition``
    broadcasts each message to every partition of the table's topic
    (else partition 0 only).  Returns one frame per filtered table ×
    target partition; ``None`` when disabled or not the simple
    protocol.  Periodicity itself is the streaming trigger's job — per
    micro-batch the frame set is this DataFrame."""
    from pyspark.sql import functions as F

    from ticdc_spark.codec.simple_protocol import encode_simple_bootstrap

    if cfg.protocol != "simple" or cfg.send_bootstrap_interval_s <= 0:
        return None
    tabs = encode_simple_bootstrap(
        apply_table_filter(cl, cfg.filter_rules,
                           case_sensitive=cfg.case_sensitive),
        tuple(cfg.handle_key_fields))
    parts = (list(range(cfg.n_partitions))
             if cfg.send_bootstrap_to_all_partition else [0])
    return tabs.crossJoin(F.broadcast(
        cl.sparkSession.createDataFrame(
            [(p,) for p in parts], "partition int")))


def build_pipeline_uncoded(cl: DataFrame, cfg: ChangefeedConfig) -> DataFrame:
    """The filter/transform prefix of ``build_pipeline`` without the
    encoder — for sinks that consume typed rows (DB SQL generation)."""
    payload_fields = [f.name for f in cl.schema["after"].dataType.fields]
    cl = apply_replication_window(cl, cfg)
    df = apply_table_filter(
        cl, cfg.filter_rules, case_sensitive=cfg.case_sensitive
    )
    if cfg.event_filters:
        df = apply_event_filters(df, cfg.event_filters)
    if cfg.expr_filter:
        ef = dict(cfg.expr_filter)
        matcher = ef.pop("matcher", ["*.*"])
        kwargs = {k.replace("-", "_"): v for k, v in ef.items()}
        df = apply_expr_filter(df, matcher, payload_fields, **kwargs)
    if cfg.column_selectors:
        df = select_columns(df, cfg.column_selectors)
    if cfg.split_updates:
        df = split_updates(df)
    return df

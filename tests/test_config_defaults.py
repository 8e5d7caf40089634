"""Default-value parity with the reference's defaultReplicaConfig
(`pkg/config/replica_config.go:51-130`) — a user who writes an empty
TOML must get the same effective changefeed the reference would build.
Every row cites the reference definition."""

from __future__ import annotations

from ticdc_spark.config import KEYS, parse_changefeed_config, parse_duration_us


def _key(name: str):
    """The key-table row spelled ``name`` (a TOML path or its last
    part, or a URI param)."""
    return next(k for k in KEYS if name in k.uri or any(
        p == name or p.endswith("." + name) for p in k.toml))


def test_empty_toml_matches_reference_defaults():
    cfg = parse_changefeed_config("")
    # (value, reference citation)
    expected = {
        # server.go:45 DefaultChangefeedMemoryQuota = 1 GiB
        "memory_quota": 1024 * 1024 * 1024,
        # replica_config.go:54 CaseSensitive=false
        "case_sensitive": False,
        # replica_config.go:57 EnableSyncPoint=false
        "enable_sync_point": False,
        # replica_config.go:59 SyncPointInterval=10m
        "sync_point_interval_us": 10 * 60 * 1_000_000,
        # replica_config.go:61 BDRMode=false
        "bdr_mode": False,
        # sink.go:60 CRLF terminator (replica_config.go:76)
        "terminator": "\r\n",
        # replica_config.go:77 DateSeparator=day
        "date_separator": "day",
        # replica_config.go:79-80 OnlyOutputUpdatedColumns /
        # DeleteOnlyOutputHandleKeyColumns = false
        "only_output_updated_columns": False,
        "delete_only_output_handle_key": False,
        # sink.go:68-73 DefaultFileIndexWidth=20
        "file_index_width": 20,
        # integrity defaults: CheckLevelNone (replica_config.go:121)
        "integrity_check_level": "none",
        # scheduler block (replica_config.go:107-118)
        "enable_table_across_nodes": False,
        # filter.go NewDefaultFilterConfig: rules=['*.*']
        "filter_rules": ["*.*"],
        # force-replicate defaults false (changefeed.go ForceReplicate)
        "force_replicate": False,
    }
    for attr, want in expected.items():
        got = getattr(cfg, attr)
        assert got == want, f"{attr}: {got!r} != reference default {want!r}"
    # replica_config.go:60 SyncPointRetention=24h: nothing prunes the
    # syncpoint ledger, so only that default is accepted
    assert parse_duration_us(_key("sync-point-retention").default) == \
        24 * 3600 * 1_000_000
    # the split thresholds are Spark's (repartition/AQE): the table
    # carries their reference defaults (replica_config.go:109-110)
    assert _key("scheduler.region-threshold").default == 10_000
    assert _key("scheduler.write-key-threshold").default == 0


def test_scheduler_region_threshold_not_legacy_value():
    """Guard against regressing to the legacy 100k threshold — the
    reference splits tables at 10k regions (`replica_config.go:109`)."""
    parse_changefeed_config("[scheduler]\n")
    assert _key("scheduler.region-threshold").default == 10_000


def test_explicit_values_override_defaults():
    cfg = parse_changefeed_config(
        """
memory-quota = 2147483648
enable-sync-point = true
sync-point-interval = "30s"
[sink]
terminator = "\\n"
date-separator = "month"
file-index-width = 8
[scheduler]
enable-table-across-nodes = true
region-threshold = 777
"""
    )
    assert cfg.memory_quota == 2 * 1024 ** 3
    assert cfg.enable_sync_point is True
    assert cfg.sync_point_interval_us == parse_duration_us("30s")
    import pytest

    with pytest.raises(ValueError, match="sync-point-retention"):
        parse_changefeed_config('sync-point-retention = "1h"\n')
    assert cfg.terminator == "\n"
    assert cfg.date_separator == "month"
    assert cfg.file_index_width == 8
    assert cfg.enable_table_across_nodes is True
    # region-threshold = 777 was accepted: a Spark key, checked and dropped
    assert _key("scheduler.region-threshold").disposition == "spark"


def test_csv_defaults_match_reference_constants():
    """CSVConfig defaults (`replica_config.go:68-73`): quote '\"',
    delimiter ',', null '\\N', binary-encoding base64 — the csv codec's
    built-in defaults must agree."""
    import inspect

    from ticdc_spark.codec import csv_codec

    sig = inspect.signature(csv_codec.encode_csv)
    assert sig.parameters["binary_encoding"].default == "base64"
    # module constants used as encode defaults
    assert csv_codec._QUOTE == '"'
    assert csv_codec._DELIM == ","
    assert csv_codec.NULL_TOKEN == "\\N"


def test_sink_uri_query_params():
    """Sink URIs configure the sink through query params like the
    reference (`pkg/sink/mysql/config.go:529-676`, kafka options.go
    form tags); modeled params fold into the config, unknown params are
    ignored, invalid values refuse."""
    import pytest as _pytest

    kafka = parse_changefeed_config(
        'sink-uri = "kafka://b:9092/topic?protocol=open-protocol'
        '&partition-num=6&max-message-bytes=1048576&compression=zstd'
        '&enable-tidb-extension=true&unknown-knob=whatever"')
    assert kafka.protocol == "open-protocol"
    assert kafka.n_partitions == 6
    assert kafka.max_message_bytes == 1 << 20
    assert kafka.compression == "zstd"
    assert kafka.tidb_extension is True

    my = parse_changefeed_config(
        'sink-uri = "mysql://u:p@h:4000/?safe-mode=true'
        '&worker-count=9999&max-txn-row=64&transaction-atomicity=table"')
    assert my.safe_mode is True
    # worker-count=9999 was accepted: Spark's tasks write the statements
    assert _key("worker-count").disposition == "spark"
    assert _key("worker-count").default == 16
    assert my.max_txn_row == 64
    assert my.transaction_atomicity == "table"

    for bad in ("partition-num=0", "worker-count=-3", "max-txn-row=abc"):
        with _pytest.raises(ValueError):
            parse_changefeed_config(f'sink-uri = "kafka://b/t?{bad}"')


def test_sink_uri_params_apply_on_create_override(tmp_path):
    """registry.create's sink_uri argument overrides the TOML URI; its
    query params must win too."""
    from ticdc_spark.streaming.registry import ChangefeedRegistry

    reg = ChangefeedRegistry(str(tmp_path))
    cf = reg.create("cf-uri-params", "",
                    sink_uri="mysql://h:4000/?safe-mode=true&max-txn-row=8")
    assert cf.cfg.safe_mode is True and cf.cfg.max_txn_row == 8
    # rebuild from persisted state keeps them
    reg._live.clear()
    cf2 = reg.get("cf-uri-params")
    assert cf2.cfg.safe_mode is True and cf2.cfg.max_txn_row == 8


# -- round-3 additions: the remaining ReplicaConfig top level ---------------

def test_remaining_top_level_defaults():
    cfg = parse_changefeed_config("")
    # replica_config.go:52 PerformanceModeThroughput
    assert _key("performance-mode").default == "throughput"
    # replica_config.go:55 CheckGCSafePoint=true: the API's create
    # always checks, so only that default is accepted
    assert _key("check-gc-safe-point").default is True
    # replica_config.go:58 EnableTableMonitor=false
    assert _key("enable-table-monitor").default is False
    assert cfg.ignore_ineligible_table is False
    assert _key("sql-mode").default == ""
    # replica_config.go:122 ChangefeedErrorStuckDuration=30m
    assert cfg.changefeed_error_stuck_duration_us == 30 * 60 * 1_000_000
    # replica_config.go:123-126 SyncedStatusConfig{300, 15}
    assert cfg.synced_check_interval_s == 300
    assert cfg.synced_checkpoint_interval_s == 15
    # replica_config.go:63,127-128 active-active defaults
    assert _key("enable-active-active").default is False
    assert parse_duration_us(_key(
        "active-active-progress-interval").default) == 30 * 60 * 1_000_000
    assert parse_duration_us(_key(
        "active-active-sync-stats-interval").default) == 60 * 1_000_000
    # mounter.go:17-19 WorkerNum=16
    assert _key("mounter.worker-num").default == 16
    # consistent defaults (replica_config.go:91-104, redo/config.go)
    c = cfg.consistent
    assert c["level"] == "none"
    assert c["max-log-size"] == 64
    assert c["flush-interval"] == 2000
    assert c["meta-flush-interval"] == 200
    assert c["encoding-worker-num"] == 16
    assert c["flush-worker-num"] == 8
    assert c["use-file-backend"] is False
    assert c["memory-quota-percentage"] == 50


def test_consistent_block_parses_and_validates():
    import pytest

    cfg = parse_changefeed_config(
        '[consistent]\nlevel = "eventual"\n'
        'storage = "file:///tmp/redo"\nflush-interval = 100\n'
        'compression = "lz4"\nuse-file-backend = true\n')
    c = cfg.consistent
    assert c["level"] == "eventual" and c["storage"] == "file:///tmp/redo"
    assert c["flush-interval"] == 100 and c["compression"] == "lz4"
    assert c["use-file-backend"] is True
    # zero values take redo defaults when enabled (consistent.go:92-98)
    cfg2 = parse_changefeed_config(
        '[consistent]\nlevel = "eventual"\nmax-log-size = 0\n')
    assert cfg2.consistent["max-log-size"] == 64
    # validation errors mirror validateAndAdjust
    with pytest.raises(ValueError, match="consistent.level"):
        parse_changefeed_config('[consistent]\nlevel = "strict"\n')
    with pytest.raises(ValueError, match="greater than 50"):
        parse_changefeed_config(
            '[consistent]\nlevel = "eventual"\nflush-interval = 10\n')
    with pytest.raises(ValueError, match="none.*lz4|lz4"):
        parse_changefeed_config(
            '[consistent]\nlevel = "eventual"\ncompression = "zstd"\n')
    # level "none" skips validation entirely (consistent.go:88-90)
    cfg3 = parse_changefeed_config(
        '[consistent]\nlevel = "none"\nflush-interval = 10\n')
    assert cfg3.consistent["flush-interval"] == 10


def test_top_level_validation_errors():
    import pytest

    with pytest.raises(ValueError, match="unknown performance mode"):
        parse_changefeed_config('performance-mode = "balanced"\n')
    # low-latency is the other legal mode (replica_config.go:36), but
    # the epoch pipeline has one mode: it is refused by name
    with pytest.raises(ValueError, match="performance-mode"):
        parse_changefeed_config('performance-mode = "low-latency"\n')
    # min 30m stuck duration (replica_config.go:42,374-381)
    with pytest.raises(ValueError, match="1800"):
        parse_changefeed_config(
            'changefeed-error-stuck-duration = "10m"\n')
    assert parse_changefeed_config(
        'changefeed-error-stuck-duration = "1h"\n'
    ).changefeed_error_stuck_duration_us == 3600 * 1_000_000
    # event-collector batch bounds (replica_config.go:384-392)
    with pytest.raises(ValueError, match="not smaller than 0"):
        parse_changefeed_config('event-collector-batch-count = -1\n')
    with pytest.raises(ValueError, match="not larger than 8192"):
        parse_changefeed_config('event-collector-batch-count = 9000\n')
    # in-bounds values are accepted: Spark's micro-batch does the batching
    parse_changefeed_config(
        'event-collector-batch-count = 0\n'
        'event-collector-batch-bytes = 1048576\n')
    assert _key("event-collector-batch-count").disposition == "spark"
    # encoder max-batch-size URI form param (codec/common/config.go:34):
    # nothing batches messages, so only the default is accepted
    assert _key("max-batch-size").default == 16
    parse_changefeed_config('sink-uri = "kafka://b/t?max-batch-size=16"\n')
    with pytest.raises(ValueError, match="max-batch-size"):
        parse_changefeed_config('sink-uri = "kafka://b/t?max-batch-size=64"\n')


def test_synced_status_and_active_active_blocks():
    import pytest

    cfg = parse_changefeed_config(
        'ignore-ineligible-table = true\n'
        '[synced-status]\nsynced-check-interval = 120\n'
        'checkpoint-interval = 20\n'
        '[mounter]\nworker-num = 8\n')
    assert cfg.ignore_ineligible_table is True
    assert cfg.synced_check_interval_s == 120
    assert cfg.synced_checkpoint_interval_s == 20
    # worker-num = 8 was accepted: decode runs in Spark's tasks
    assert _key("mounter.worker-num").disposition == "spark"
    # nothing honours active-active or a configured sql-mode: refused
    for toml in ('enable-active-active = true\n',
                 'active-active-progress-interval = "1h"\n',
                 'active-active-sync-stats-interval = "30s"\n',
                 'sql-mode = "ANSI_QUOTES"\n'):
        with pytest.raises(ValueError, match=toml.split(" ")[0]):
            parse_changefeed_config(toml)


def test_sink_subblock_toggles_parse():
    # defaults (`replica_config.go:80,87-89`)
    cfg = parse_changefeed_config("")
    assert cfg.open_output_old_value is True
    assert cfg.debezium_output_old_value is True
    assert cfg.debezium_disable_schema is False
    assert cfg.content_compatible is False
    assert cfg.large_message_handle is None
    cfg = parse_changefeed_config(
        '[sink]\ncontent-compatible = true\n'
        'debezium-disable-schema = true\n'
        '[sink.open]\noutput-old-value = false\n'
        '[sink.debezium]\noutput-old-value = false\n'
        '[sink.kafka-config.large-message-handle]\n'
        'large-message-handle-option = "claim-check"\n'
        'claim-check-storage-uri = "file:///tmp/claim"\n')
    assert cfg.open_output_old_value is False
    assert cfg.debezium_output_old_value is False
    assert cfg.debezium_disable_schema is True
    assert cfg.content_compatible is True
    assert cfg.large_message_handle == {
        "large-message-handle-option": "claim-check",
        "claim-check-storage-uri": "file:///tmp/claim"}


def test_avro_sink_fields_parse_and_validate():
    import pytest

    cfg = parse_changefeed_config("")
    assert cfg.avro_enable_watermark is False
    assert _key("avro-decimal-handling-mode").default == "precise"
    assert _key("avro-bigint-unsigned-handling-mode").default == "long"
    assert _key("schema-registry").default == ""
    cfg = parse_changefeed_config(
        '[sink]\navro-enable-watermark = true\n'
        'avro-decimal-handling-mode = "precise"\n'
        'avro-bigint-unsigned-handling-mode = "long"\n')
    assert cfg.avro_enable_watermark is True
    # no Avro column is a decimal or an unsigned bigint, and each Arrow
    # batch registers its schemas in a fresh in-memory registry: the
    # string modes and a schema-registry URL are refused by name
    for toml in ('avro-decimal-handling-mode = "string"\n',
                 'avro-bigint-unsigned-handling-mode = "string"\n',
                 'schema-registry = "http://registry:8081"\n'):
        with pytest.raises(ValueError, match=toml.split(" ")[0]):
            parse_changefeed_config("[sink]\n" + toml)
    with pytest.raises(ValueError, match="avro-decimal-handling-mode"):
        parse_changefeed_config(
            '[sink]\navro-decimal-handling-mode = "exact"\n')
    with pytest.raises(ValueError,
                       match="avro-bigint-unsigned-handling-mode"):
        parse_changefeed_config(
            '[sink]\navro-bigint-unsigned-handling-mode = "decimal"\n')
    # URI form params override (`codec/common/config.go:173-181`)
    cfg = parse_changefeed_config(
        'sink-uri = "kafka://b:9092/t?protocol=avro'
        '&avro-enable-watermark=true&avro-decimal-handling-mode=precise"\n')
    assert cfg.protocol == "avro"
    assert cfg.avro_enable_watermark is True
    for param in ("avro-decimal-handling-mode=string",
                  "schema-registry=http%3A%2F%2Fr"):
        with pytest.raises(ValueError, match=param.split("=")[0]):
            parse_changefeed_config(
                f'sink-uri = "kafka://b:9092/t?protocol=avro&{param}"\n')
    with pytest.raises(ValueError, match="avro-decimal-handling-mode"):
        parse_changefeed_config(
            'sink-uri = "kafka://b:9092/t?avro-decimal-handling-mode=x"\n')


def test_bootstrap_and_cloud_storage_config():
    import pytest

    cfg = parse_changefeed_config("")
    # sink.go:36-37,87-96 defaults
    assert cfg.send_bootstrap_interval_s == 120
    assert _key("send-bootstrap-in-msg-count").default == 10_000
    assert cfg.send_bootstrap_to_all_partition is True
    assert _key("send-all-bootstrap-at-start").default is False
    assert _key("advance-timeout-in-sec").default == 150
    # cloudstorage/config.go:38-60 defaults
    c = cfg.cloud_storage_config
    assert c["flush-interval"] == "5s"
    assert c["file-size"] == 64 * 1024 * 1024
    assert c["output-column-id"] is False
    assert c["file-expiration-days"] == 0
    cfg = parse_changefeed_config(
        '[sink]\nsend-bootstrap-interval-in-sec = 30\n'
        '[sink.cloud-storage-config]\nflush-interval = "10s"\n'
        'file-size = 134217728\nfile-expiration-days = 7\n')
    assert cfg.send_bootstrap_interval_s == 30
    # BOOTSTRAP goes out per epoch and nothing watches for a sink
    # stall: the other values are refused by name
    for toml in ("send-all-bootstrap-at-start = true\n",
                 "advance-timeout-in-sec = 300\n"):
        with pytest.raises(ValueError, match=toml.split(" ")[0]):
            parse_changefeed_config("[sink]\n" + toml)
    assert cfg.cloud_storage_config["file-size"] == 134217728
    assert cfg.cloud_storage_config["file-expiration-days"] == 7
    # bounds (`cloudstorage/config.go:38-57`)
    with pytest.raises(ValueError, match="flush-interval"):
        parse_changefeed_config(
            '[sink.cloud-storage-config]\nflush-interval = "50ms"\n')
    with pytest.raises(ValueError, match="file-size"):
        parse_changefeed_config(
            '[sink.cloud-storage-config]\nfile-size = 512\n')


def test_sql_mode_adjustment():
    """AdjustSQLModeCompatible (`pkg/sink/mysql/helper.go:563-603`):
    strict/zero-date modes disabled, permissive replication modes
    enabled; config sql-mode feeds the adjustment."""
    from ticdc_spark.sinks.mysql import (
        TIDB_DEFAULT_SQL_MODE,
        adjust_sql_mode_compatible,
        session_init_statements,
    )

    out = adjust_sql_mode_compatible(TIDB_DEFAULT_SQL_MODE)
    modes = out.split(",")
    for gone in ("STRICT_TRANS_TABLES", "NO_ZERO_IN_DATE", "NO_ZERO_DATE",
                 "ERROR_FOR_DIVISION_BY_ZERO", "NO_AUTO_CREATE_USER"):
        assert gone not in modes
    for kept in ("ONLY_FULL_GROUP_BY", "NO_ENGINE_SUBSTITUTION"):
        assert kept in modes
    for added in ("IGNORE_SPACE", "NO_AUTO_VALUE_ON_ZERO",
                  "ALLOW_INVALID_DATES"):
        assert added in modes
    # idempotent; custom input honored
    assert adjust_sql_mode_compatible(out) == out
    assert adjust_sql_mode_compatible("ANSI_QUOTES,STRICT_ALL_TABLES") == \
        "ANSI_QUOTES,IGNORE_SPACE,NO_AUTO_VALUE_ON_ZERO,ALLOW_INVALID_DATES"
    stmts = session_init_statements("ANSI_QUOTES")
    assert stmts == ["SET sql_mode = 'ANSI_QUOTES,IGNORE_SPACE,"
                     "NO_AUTO_VALUE_ON_ZERO,ALLOW_INVALID_DATES'"]


def test_enable_partition_separator_parses_and_applies(spark):
    """[sink] enable-partition-separator (`pkg/config/sink.go:157`,
    default true): partitioned tables carry the physical table id as a
    path segment — `pkg/cloudstorage/generator.go:435-437`."""
    import pyspark.sql.functions as F

    from ticdc_spark.config import parse_changefeed_config
    from ticdc_spark.sinks.storage import storage_paths

    on = parse_changefeed_config('sink-uri = "s3://b/p?protocol=csv"\n')
    off = parse_changefeed_config(
        'sink-uri = "s3://b/p?protocol=csv"\n'
        "[sink]\nenable-partition-separator = false\n")
    assert on.enable_partition_separator is True
    assert off.enable_partition_separator is False
    cl = spark.createDataFrame(
        [("s", "t", 101, 0, 77, True), ("s", "t2", 102, 1, 78, False)],
        "schema_name string, table_name string, commit_ts long, "
        "seq long, table_id long, is_partition boolean")
    p_on = {r.table_name: r.path for r in storage_paths(
        cl, enable_partition_separator=True).collect()}
    p_off = {r.table_name: r.path for r in storage_paths(
        cl, enable_partition_separator=False).collect()}
    assert p_on["t"] == "s/t/1/77/1970-01-01"   # partition segment
    assert p_on["t2"] == "s/t2/1/1970-01-01"    # non-partition: none
    assert p_off["t"] == "s/t/1/1970-01-01"     # knob off: none
    # frames with no is_partition column are untouched either way
    bare = cl.drop("is_partition")
    assert storage_paths(bare).collect()[0].path.count("/") == 3


def test_lm_compression_validation():
    import pytest as _pytest

    from ticdc_spark.config import (large_message_compression,
                                    parse_changefeed_config)

    with _pytest.raises(ValueError, match="compression is not supported"):
        parse_changefeed_config(
            'sink-uri = "kafka://h:9092/cdc"\n'
            "[sink.kafka-config.large-message-handle]\n"
            'large-message-handle-compression = "zstd"\n')
    # compression is independent of the handle option
    # (`large_message.go:52-59`)
    cfg = parse_changefeed_config(
        'sink-uri = "kafka://h:9092/cdc"\n'
        "[sink.kafka-config.large-message-handle]\n"
        'large-message-handle-compression = "snappy"\n')
    assert large_message_compression(cfg) == "snappy"
    cfg_lz4 = parse_changefeed_config(
        'sink-uri = "kafka://h:9092/cdc"\n'
        "[sink.kafka-config.large-message-handle]\n"
        'large-message-handle-compression = "lz4"\n')
    assert large_message_compression(cfg_lz4) == "lz4"
    none = parse_changefeed_config('sink-uri = "kafka://h:9092/cdc"\n')
    assert large_message_compression(none) is None


def test_memory_quota_must_be_a_positive_integer():
    """memory-quota bounds each epoch's admitted bytes; a bad value is
    refused when the config is parsed (TOML/JSON) or built directly,
    not later inside Spark when the stream starts."""
    import pytest

    from ticdc_spark.pipeline import ChangefeedConfig

    assert parse_changefeed_config("memory-quota = 1").memory_quota == 1
    for bad in ("0", "-1", "1.5", '"1GiB"', "true"):
        with pytest.raises(ValueError, match="memory-quota"):
            parse_changefeed_config(f"memory-quota = {bad}")
    with pytest.raises(ValueError, match="memory-quota"):
        parse_changefeed_config('{"memory-quota": 0}', fmt="json")
    for bad in (0, -5, 2.0, "1024", None):
        with pytest.raises(ValueError, match="memory-quota"):
            ChangefeedConfig(memory_quota=bad)

"""Automated plan-quality regression guard.

Locks in the physical properties the 100 TB design depends on (SURVEY
§4): map-only stages stay shuffle-free, folds shuffle exactly once,
small sides broadcast instead of sort-merge joining, Python never
appears on codec hot paths, and filters/projections reach the parquet
scan. A refactor that silently adds an Exchange fails here, not in the
next round's bench.
"""

from __future__ import annotations

import pytest

from ticdc_spark.queries import QUERIES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# (query, max shuffle exchanges, notes)
_SHUFFLE_BUDGET = [
    ("changelog_mount", 0, "mount is map-only"),
    ("table_filter", 0, "predicate fused into scan"),
    ("routing", 0, "partitioner/topic exprs are map-only"),
    ("codec_canal_json", 1, "encode itself is map-only; 1 = ordering rank"),
    ("compaction", 1, "the per-pk fold shuffles once"),
    ("ordering", 1, "replay-rank window"),
    ("training_manifest", 1, "rewritten to a single window shuffle"),
    ("repetition_metrics", 1, "explicit spread repartition only"),
    ("redo_log_files", 1, "file-assignment window per table"),
    ("redo_apply", 3, "apply-order window + two 1-row bounds aggs"),
    ("mount_handle_fill", 1, "map-only + the synthesize spread"),
    ("redo_v2_roundtrip", 1, "map-only WAL roundtrip + scale_out spread"),
    ("domain_stats", 2, "two-phase distinct agg on the domain key"),
]


@pytest.mark.parametrize("name,budget,note", _SHUFFLE_BUDGET)
def test_shuffle_budget(spark, sf_dir, name, budget, note):
    p = _plan(QUERIES[name](spark, sf_dir))
    shuffles = p.count("Exchange") - p.count("BroadcastExchange")
    assert shuffles <= budget, f"{name} ({note}): {shuffles} > {budget}\n{p}"


def test_no_python_on_codec_hot_path(spark, sf_dir):
    # row-at-a-time Python (BatchEvalPython) must never appear; Arrow
    # nodes are allowed only in the ops documented as pandas-UDF-backed.
    for name in ["codec_canal_json", "codec_csv", "codec_open_protocol",
                 "codec_debezium", "codec_simple", "mysql_sql_multirow",
                 "compaction", "routing"]:
        p = _plan(QUERIES[name](spark, sf_dir))
        assert "BatchEvalPython" not in p, name
        assert "MapInPandas" not in p, name
        assert "ArrowEvalPython" not in p, name


def test_small_side_broadcasts(spark, sf_dir):
    p = _plan(QUERIES["decontaminate"](spark, sf_dir))
    assert "BroadcastExchange" in p
    assert "SortMergeJoin" not in p


def test_filter_reaches_scan(spark, sf_dir):
    # decontaminate's bench/corpus split must push into the parquet scan
    # as a data filter, not a post-scan Filter over full rows
    p = _plan(QUERIES["decontaminate"](spark, sf_dir))
    assert "% 97" in p.split("FileScan")[1][:400]


def test_column_pruning(spark, sf_dir):
    # a 2-column projection reads 2 columns, not the full events schema
    p = _plan(QUERIES["changelog_mount"](spark, sf_dir))
    scan = p.split("FileScan")[1]
    read_schema = scan.split("ReadSchema:")[1].splitlines()[0]
    assert "props" in read_schema or "event_type" in read_schema
    p2 = _plan(QUERIES["dedup_exact"](spark, sf_dir))
    rs2 = p2.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in rs2 and "source" not in rs2 and "lang" not in rs2


def test_sink_tail_shuffle_budgets(spark, sf_dir):
    """compile_changefeed per-scheme exchange budgets: mysql = compaction
    fold + batch window (2), safe-mode SQL gen is map-only (0), storage
    = file-index window only (1). Guards the at-scale sink shapes."""
    from ticdc_spark.pipeline import ChangefeedConfig, compile_changefeed
    from ticdc_spark.sources.changelog import events_changelog

    cl = events_changelog(spark, sf_dir)
    budgets = [
        ({"sink_uri": "mysql://h/"}, 2),
        ({"sink_uri": "tidb://h/", "safe_mode": True}, 0),
        ({"sink_uri": "s3://b/p", "protocol": "csv"}, 1),
        ({"sink_uri": "blackhole://"}, 1),  # scale_out spread only
    ]
    for kw, budget in budgets:
        out = compile_changefeed(cl, ChangefeedConfig(**kw))
        p = _plan(out)
        shuffles = p.count("Exchange") - p.count("BroadcastExchange")
        assert shuffles <= budget, f"{kw}: {shuffles} > {budget}\n{p}"


def test_new_operator_shuffle_budgets(spark, sf_dir):
    """Budgets for the newer operators: txn batching reuses one
    (table)-ordered shuffle; the storage round-trip pays spread +
    replay; tfidf pays tf/df aggs + rank window with broadcast joins."""
    budgets = [
        ("txn_flush_batches", 2),
        ("storage_consumer_roundtrip", 3),
        ("tfidf_keywords", 5),
        ("dedup_exact", 1),
        ("lang_id", 0),
        ("doc_fingerprint", 0),
    ]
    for name, budget in budgets:
        p = _plan(QUERIES[name](spark, sf_dir))
        shuffles = p.count("Exchange") - p.count("BroadcastExchange")
        assert shuffles <= budget, f"{name}: {shuffles} > {budget}\n{p}"


def test_kafka_writer_plan_validates_without_broker(spark, sf_dir):
    """K2 glue: the exact frame `.write.format(\"kafka\")` accepts is
    assembled and writer-configured plan-side; contract violations fail
    here, not on the cluster."""
    import pytest

    from ticdc_spark.sinks.kafka import kafka_frame, kafka_messages, kafka_writer
    from ticdc_spark.sources.changelog import events_changelog

    cl = events_changelog(spark, sf_dir)
    frame = kafka_messages(cl, [{"matcher": ["test.tp_*"],
                                 "partition": "index-value",
                                 "topic": "cdc_{schema}_{table}"}])
    k = kafka_frame(frame)
    types = dict(k.dtypes)
    # string|binary both satisfy the sink; partition must cast to int
    assert types["value"] in ("string", "binary")
    assert types["key"] in ("string", "binary")
    assert types["topic"] == "string" and types["partition"] == "int"
    # a binary-valued frame passes through uncast
    from pyspark.sql import functions as SF

    bin_frame = frame.withColumn("value", SF.col("value").cast("binary"))
    assert dict(kafka_frame(bin_frame).dtypes)["value"] == "binary"
    w = kafka_writer(frame, "broker-1:9092,broker-2:9092",
                     {"kafka.compression.type": "lz4"})
    assert w is not None  # configured writer, .save() is deployment's line
    with pytest.raises(ValueError):
        kafka_frame(frame.drop("value"))


def test_round2_operator_shuffle_budgets(spark, sf_dir):
    """Round-2 operators: the binary mounter and job fetcher are
    map-only Arrow passes (+ one fetcher orderBy); substring dedup pays
    the gram aggregation and the per-doc fold; semantic dedup's
    candidate join shuffles on the cell key plus the per-item rank
    window."""
    budgets = [
        ("mount_binary_rows", 1),  # the synthesize spread
        ("ddl_job_fetch", 2),       # synthesize spread + commit-ts orderBy
        ("dedup_exact_substring", 2),
        # r8 restructure: gram agg + dup-start fold + doc-keyed join;
        # token rows stay inside their document array end to end
        ("substring_excise", 4),
        ("dedup_semantic", 1),      # cell-key join; rank window fuses
        ("dsir_importance", 4),     # term agg, totals, doc fold, rebal
    ]
    for name, budget in budgets:
        p = _plan(QUERIES[name](spark, sf_dir))
        shuffles = p.count("Exchange") - p.count("BroadcastExchange")
        assert shuffles <= budget, f"{name}: {shuffles} > {budget}\n{p}"


def test_registry_wire_query_is_driver_metadata_only(spark, sf_dir):
    """avro_registry_wire registers schemas driver-side (the reference's
    per-(table, version) cardinality) — the resulting frame must be a
    literal local relation: no exchanges, no scans of the changelog."""
    p = _plan(QUERIES["avro_registry_wire"](spark, sf_dir))
    assert "Exchange" not in p or p.count("Exchange") <= 1
    assert "parquet" not in p.lower()


def test_metrics_operator_shuffle_budgets(spark, sf_dir):
    """TSO decompose is map-only (zero exchanges — stays in whole-stage
    codegen); lag percentiles pay the per-table window plus the 1-row
    pd-now aggregate; the HLL estimate pays cells→registers→group plus
    the exact-count audit join."""
    budgets = [
        ("tso_functions", 0),
        ("checkpoint_lag_percentiles", 3),
        ("hll_registers", 1),
        ("hll_user_estimate", 5),
        ("cms_counters", 1),
        ("partition_inertia_index_value", 0),
        ("partition_inertia_table", 1),
        ("eventstore_key_codec", 2),   # spread + shared span-key windows
    ]
    for name, budget in budgets:
        p = _plan(QUERIES[name](spark, sf_dir))
        shuffles = p.count("Exchange") - p.count("BroadcastExchange")
        assert shuffles <= budget, f"{name}: {shuffles} > {budget}\n{p}"


def test_tso_and_hll_stay_in_codegen(spark, sf_dir):
    """No Python evaluation on the TSO or sketch paths — bit algebra and
    md5/conv are JVM built-ins."""
    for name in ("tso_functions", "hll_registers", "hll_user_estimate"):
        p = _plan(QUERIES[name](spark, sf_dir))
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, name


def test_session3_operator_shuffle_budgets(spark, sf_dir):
    """Session-3 operators: the replication window and the avro
    round-trip are map-only (0 exchanges); the seeded shuffle pays only
    its per-shard window; ccnet buckets ride the bigram-LM joins plus
    the per-language rank window."""
    budgets = [
        ("changefeed_window", 0),
        ("simple_avro_roundtrip", 1),  # the scale_out rebalance
        ("seeded_shuffle", 1),
        ("ccnet_buckets", 6),
    ]
    for name, budget in budgets:
        p = _plan(QUERIES[name](spark, sf_dir))
        shuffles = p.count("Exchange") - p.count("BroadcastExchange")
        assert shuffles <= budget, f"{name}: {shuffles} > {budget}\n{p}"


def test_debezium_schema_block_is_a_projection(spark, sf_dir):
    """The envelope schema block is a per-row concat of the row's own
    (schema_name, table_name) — no plan-time table collect, no literal
    CASE over tables, no join.  Plan size is constant in the table
    count (the >1M-table stance VERDICT r2 asked for)."""
    from ticdc_spark.codec.debezium import encode_debezium_full
    from ticdc_spark.sources.changelog import events_changelog

    df = encode_debezium_full(
        events_changelog(spark, sf_dir), disable_schema=False)
    plan = _plan(df.select("seq", "value"))
    assert "Join" not in plan
    assert plan.count("Exchange") == 0
    # the Avro-variant roundtrip stays map-only after its spread shuffle
    rt = _plan(QUERIES["debezium_avro_roundtrip"](spark, sf_dir))
    assert rt.count("Exchange") <= 1  # the scale_out spread only


def test_round3_wire_query_shuffle_budgets(spark, sf_dir):
    """Round-3 wire roundtrips stay map-only after their spread
    exchange."""
    for name, budget in [
        ("avro_confluent_roundtrip", 1),   # scale_out spread only
        ("mount_binary_json", 1),          # synthesize spread
        # round-5: the materialized-state fan-out keeps the tail at 6
        # (shard spread + rank window + agg + dims broadcast; the mount
        # chain runs once behind the localCheckpoint)
        ("vector_changefeed_ann", 6),
        ("dedup_clusters_keep_best", 6),   # CC tail joins + quality window
    ]:
        plan = _plan(QUERIES[name](spark, sf_dir))
        n = plan.count("Exchange")
        assert n <= budget, f"{name}: {n} exchanges (budget {budget})"


def test_live_wire_query_shuffle_budgets(spark, sf_dir):
    """Live-wire round trips: the construction-time produce/apply jobs
    already ran; the RETURNED plan must be cheap — a bounded-cardinality
    read fan-out (kafka/pulsar: one task per topic[/partition]; mysql:
    a local readback scan), never a re-shuffle of the data volume."""
    for name, budget in [
        ("kafka_live_roundtrip", 1),   # (topic, partition) fan-out repartition
        ("pulsar_live_roundtrip", 1),  # topic fan-out repartition
        ("mysql_live_apply", 0),       # readback rows are a local scan
        ("kafka_consumer_group_roundtrip", 2),  # seat fan-out + dedup exchange
        ("storage_live_s3_roundtrip", 3),  # key fan-out + replay agg (2 AQE-planned)
        ("mysql_live_apply_prepared", 0),  # readback rows are a local scan
        ("mysql_live_apply_generated_column", 0),  # same local readback
        # spread + store broadcast-join tails (store side is tiny)
        ("claim_check_raw_value_roundtrip", 3),
        ("avro_live_registry_roundtrip", 1),  # (topic, partition) fan-out
        ("redo_live_s3_replay", 4),  # key fan-out + split/materialize aggs
        ("kafka_list_offsets_by_ts", 1),  # 8-row probe repartition(1)
        ("storage_live_gcs_roundtrip", 3),  # same shape as the s3 replay
        ("storage_live_azblob_roundtrip", 3),
        ("storage_live_multipart_roundtrip", 3),  # s3 replay, multipart PUT
        ("kafka_live_gssapi_roundtrip", 1),  # (topic, partition) fan-out
    ]:
        plan = _plan(QUERIES[name](spark, sf_dir))
        n = plan.count("Exchange")
        assert n <= budget, f"{name}: {n} exchanges (budget {budget})"


def test_round7_8_query_shuffle_budgets(spark, sf_dir):
    """Round-7/8 registrations (VERDICT-r7 ask #7): plan budgets for the
    new data-path queries and read-back tails.  The trained-PQ and
    SQ-rerank paths pay bounded control-plane collects (4096-vector
    training sample / n_queries×rerank shortlist) — their PLANS stay at
    a handful of exchanges, most of them broadcasts of the tiny query
    side."""
    for name, budget in [
        # trained codebooks + exact rerank: shard spread + rank window +
        # shortlist joins; 5 of the exchanges are query-side broadcasts
        ("pq_trained_rerank_recall", 8),
        ("sq_rerank_topk", 9),        # int8 rank + shortlist exact joins
        ("canal_rowkey_from_toml", 3),   # split spread + decode group agg
        ("storage_partition_separator_from_toml", 2),  # one mode-union agg
        ("lm_compression_from_toml", 3),  # spread + decode group agg
        # live-wire read-back tails (produce ran at construction)
        ("storage_live_spool_roundtrip", 3),     # the s3-replay shape
        ("storage_live_csv_handle_key_from_toml", 3),
        ("pulsar_live_basic_from_toml", 2),      # topic fan-out
        ("pulsar_live_authtls_from_toml", 2),
        ("pulsar_live_tuning_from_toml", 2),
        ("kafka_live_raw_change_event", 4),      # fetch + kind-union agg
    ]:
        plan = _plan(QUERIES[name](spark, sf_dir))
        n = plan.count("Exchange")
        assert n <= budget, f"{name}: {n} exchanges (budget {budget})"

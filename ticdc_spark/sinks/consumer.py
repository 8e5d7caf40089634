"""Consumer / redo-replay path (SURVEY §2.11 K6 + §5 test strategy).

The reference's MQ correctness oracle is a real consumer
(`cmd/kafka-consumer/writer.go:88-147`) that decodes protocol messages
and applies them to a downstream DB, then diffs. This module is that
consumer for the canal-json path: parse messages back into changelog
rows (``from_json`` with the canal schema), then materialize. The
round-trip (encode → decode → apply) must produce the same final state
as applying the original changelog — proven in tests.

Also serves as the redo-log replay tool (K6): point it at a changefeed's
sink directory and it rebuilds table state from the WAL-like message
files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CANAL_SCHEMA = T.StructType([
    T.StructField("database", T.StringType()),
    T.StructField("table", T.StringType()),
    T.StructField("type", T.StringType()),
    T.StructField("es", T.LongType()),
    T.StructField("data", T.ArrayType(T.MapType(T.StringType(), T.StringType()))),
    T.StructField("old", T.ArrayType(T.MapType(T.StringType(), T.StringType()))),
    # enable-tidb-extension payload: the exact (µs) commit ts — without
    # it consumers only see canal's ms-truncated `es`
    T.StructField("_tidb", T.StructType([
        T.StructField("commitTs", T.LongType()),
    ])),
])


def decode_canal_json(messages: DataFrame, value_col: str = "value") -> DataFrame:
    """canal-json messages → changelog-shaped rows (decoded images as
    typed columns). Inverse of codec/canal_json.py for the test payload."""
    parsed = messages.withColumn("_m", F.from_json(F.col(value_col), CANAL_SCHEMA))
    img = F.col("_m.data").getItem(0)
    old = F.col("_m.old").getItem(0)

    def field(m, name, dtype):
        return m.getItem(name).cast(dtype)

    op = (
        F.when(F.col("_m.type") == "INSERT", F.lit("I"))
        .when(F.col("_m.type") == "UPDATE", F.lit("U"))
        .otherwise(F.lit("D"))
    )
    # canal: data carries after for I/U, before for D; old carries before
    # for U only.
    return parsed.select(
        F.col("_m.database").alias("schema_name"),
        F.col("_m.table").alias("table_name"),
        op.alias("op"),
        F.col("_m.es").alias("commit_ts_ms"),
        # exact ts when the producer ran with enable-tidb-extension;
        # ms-truncated es otherwise (canal_json_message.go tidb ext)
        F.coalesce(F.col("_m._tidb.commitTs"),
                   F.col("_m.es") * 1000).alias("commit_ts"),
        F.when(op == "D", field(img, "id", "long"))
        .otherwise(field(old, "id", "long")).alias("before_id"),
        F.when(op == "D", field(img, "val", "double"))
        .otherwise(field(old, "val", "double")).alias("before_val"),
        F.when(op == "D", field(img, "k", "long"))
        .otherwise(field(old, "k", "long")).alias("before_k"),
        F.when(op != "D", field(img, "id", "long")).alias("after_id"),
        F.when(op != "D", field(img, "val", "double")).alias("after_val"),
        F.when(op != "D", field(img, "k", "long")).alias("after_k"),
    )


def replay_to_state(decoded: DataFrame, order_col: str = "commit_ts_ms") -> DataFrame:
    """Apply decoded changelog rows → final table state (last write per
    key wins, delete kills) — consumer-side counterpart of
    sinks.mysql.materialize_state."""
    keyed = decoded.withColumn(
        "_key", F.coalesce(F.col("after_id"), F.col("before_id"))
    ).withColumn(
        "_ord",
        F.col(order_col) * 4
        + F.when(F.col("op") == "D", 1).when(F.col("op") == "U", 2).otherwise(3),
    )
    g = keyed.groupBy("schema_name", "table_name", "_key").agg(
        F.max_by(
            F.when(F.col("op") == "D", 1).when(F.col("op") == "U", 2).otherwise(3),
            "_ord",
        ).alias("_last_code"),
        F.max_by("after_val", "_ord").alias("val"),
        F.max_by("after_k", "_ord").alias("k"),
    )
    return g.filter(F.col("_last_code") != 1).select(
        "schema_name", "table_name", F.col("_key").alias("id"), "val", "k"
    )


def replay_sink_dir(spark: SparkSession, sink_dir: str) -> DataFrame:
    """K6 replay: rebuild state from a changefeed's message files."""
    from ticdc_spark import failpoint

    msgs = spark.read.json(f"{sink_dir}/epoch=*")
    # chaos hook (`random_drop_message` e2e analog): arm with
    # return(N) to deterministically lose 1-in-N messages in transit;
    # the redo WAL is the recovery path the drop test exercises
    drop_mod = failpoint.inject("consumer/drop-message")
    if drop_mod:
        msgs = msgs.filter(
            F.pmod(F.abs(F.hash("value")), F.lit(int(drop_mod))) != 0)
    return replay_to_state(decode_canal_json(msgs))


def watermark_regression_filter(frame: DataFrame) -> DataFrame:
    """Consumer-side partition-watermark protection
    (`cmd/kafka-consumer/writer.go:59-74`): within one (topic, partition),
    a message whose commit ts is below the running maximum already seen in
    arrival order is a replay/regression — flagged ``ignored`` and the
    partition watermark holds at the running max. Window cumulative max in
    arrival order (seq), per partition — the same per-partition state the
    reference keeps in memory."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("topic", "partition")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.max("commit_ts").over(w)
    return frame.withColumn("partition_watermark", running).withColumn(
        "ignored", F.col("commit_ts") < F.col("partition_watermark")
    )


def start_ts_gate(cl: DataFrame, start_ts: int) -> DataFrame:
    """Dispatcher replay protection (`basic_dispatcher.go:156-161`): on
    (re)start, events at or below the changefeed's start ts are already
    replicated and are dropped. Pure scan-pushed predicate."""
    return cl.filter(F.col("commit_ts") > F.lit(start_ts))


_OPEN_KEY_SCHEMA = T.StructType([
    T.StructField("ts", T.LongType()),
    T.StructField("scm", T.StringType()),
    T.StructField("tbl", T.StringType()),
    T.StructField("t", T.IntegerType()),
])
_OPEN_IMG = T.StructType([
    T.StructField(
        n,
        T.StructType([
            T.StructField("t", T.IntegerType()),
            T.StructField("v", T.StringType()),
        ]),
    )
    for n in ("id", "val", "k")
])
_OPEN_VALUE_SCHEMA = T.StructType([
    T.StructField("u", _OPEN_IMG), T.StructField("p", _OPEN_IMG),
    T.StructField("d", _OPEN_IMG),
])


def decode_open_protocol(messages: DataFrame, key_col: str = "key",
                         value_col: str = "value") -> DataFrame:
    """open-protocol key/value frames → changelog-shaped rows — the
    kafka-consumer decode path for the second MQ protocol
    (`cmd/kafka-consumer/` decodes every protocol; round-trip is the
    oracle, SURVEY §5). Key carries (ts, scm, tbl); value ``{"u":
    {col: {"t","v"}}}`` for upserts, ``{"d": ...}`` for deletes.

    Open-protocol upserts don't distinguish insert from update, so the
    decoded ``op`` is U-or-D; replay semantics are unaffected (last
    write per key wins either way).

    One ``from_json`` per message side (single parse; ``get_json_object``
    per field would re-parse the document N times — measured 2x slower
    end-to-end at sf0.1)."""
    parsed = messages.select(
        F.from_json(F.col(key_col), _OPEN_KEY_SCHEMA).alias("_k"),
        F.from_json(F.col(value_col), _OPEN_VALUE_SCHEMA).alias("_v"),
    )
    op = F.when(F.col("_v.d").isNotNull(), F.lit("D")).otherwise(F.lit("U"))

    def field(img: str, name: str, dtype: str):
        return F.col(f"_v.{img}.{name}.v").cast(dtype)

    return parsed.select(
        F.col("_k.scm").alias("schema_name"),
        F.col("_k.tbl").alias("table_name"),
        op.alias("op"),
        F.col("_k.ts").alias("commit_ts"),
        # "p" carries the pre image for updates under OutputOldValue
        # (`open/decoder.go:565`: PreColumns nil when disabled)
        F.when(op == "D", field("d", "id", "long"))
        .otherwise(field("p", "id", "long")).alias("before_id"),
        F.when(op == "D", field("d", "val", "double"))
        .otherwise(field("p", "val", "double")).alias("before_val"),
        F.when(op == "D", field("d", "k", "long"))
        .otherwise(field("p", "k", "long")).alias("before_k"),
        F.when(op == "U", field("u", "id", "long")).alias("after_id"),
        F.when(op == "U", field("u", "val", "double")).alias("after_val"),
        F.when(op == "U", field("u", "k", "long")).alias("after_k"),
    )


_DBZ_IMG = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("val", T.DoubleType()),
    T.StructField("k", T.LongType()),
])
_DBZ_SCHEMA = T.StructType([
    T.StructField("before", _DBZ_IMG),
    T.StructField("after", _DBZ_IMG),
    T.StructField("source", T.StructType([
        T.StructField("db", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("commit_ts", T.LongType()),
    ])),
    T.StructField("op", T.StringType()),
])


def decode_debezium(messages: DataFrame, value_col: str = "value") -> DataFrame:
    """debezium envelope → changelog rows: before/after images with
    op c/u/d, commit_ts from source.commit_ts. Single ``from_json``
    parse per message."""
    parsed = messages.select(
        F.from_json(F.col(value_col), _DBZ_SCHEMA).alias("_m")
    )
    op = (
        F.when(F.col("_m.op") == "c", F.lit("I"))
        .when(F.col("_m.op") == "u", F.lit("U"))
        .otherwise(F.lit("D"))
    )
    return parsed.select(
        F.col("_m.source.db").alias("schema_name"),
        F.col("_m.source.table").alias("table_name"),
        op.alias("op"),
        F.col("_m.source.commit_ts").alias("commit_ts"),
        F.col("_m.before.id").alias("before_id"),
        F.col("_m.before.val").alias("before_val"),
        F.col("_m.before.k").alias("before_k"),
        F.col("_m.after.id").alias("after_id"),
        F.col("_m.after.val").alias("after_val"),
        F.col("_m.after.k").alias("after_k"),
    )


_SIMPLE_IMG = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("val", T.StringType()),
    T.StructField("k", T.StringType()),
])
_SIMPLE_SCHEMA = T.StructType([
    T.StructField("type", T.StringType()),
    T.StructField("commitTs", T.LongType()),
    T.StructField("schema", T.StringType()),
    T.StructField("table", T.StringType()),
    T.StructField("data", _SIMPLE_IMG),
    T.StructField("old", _SIMPLE_IMG),
])


def decode_simple(messages: DataFrame, value_col: str = "value") -> DataFrame:
    """simple-protocol DML messages → changelog rows: INSERT/UPDATE/
    DELETE types, data = after image (null for delete), old = before
    image (null for insert). WATERMARK/DDL rows pass through untouched
    upstream (filtered here on type). Single ``from_json`` parse; image
    values ride as JSON strings (the simple protocol renders every
    scalar as text) and cast after."""
    parsed = messages.select(
        F.from_json(F.col(value_col), _SIMPLE_SCHEMA).alias("_m")
    )
    op = (
        F.when(F.col("_m.type") == "INSERT", F.lit("I"))
        .when(F.col("_m.type") == "UPDATE", F.lit("U"))
        .otherwise(F.lit("D"))
    )
    return parsed.filter(
        F.col("_m.type").isin("INSERT", "UPDATE", "DELETE")
    ).select(
        F.col("_m.schema").alias("schema_name"),
        F.col("_m.table").alias("table_name"),
        op.alias("op"),
        F.col("_m.commitTs").alias("commit_ts"),
        F.col("_m.old.id").cast("long").alias("before_id"),
        F.col("_m.old.val").cast("double").alias("before_val"),
        F.col("_m.old.k").cast("long").alias("before_k"),
        F.col("_m.data.id").cast("long").alias("after_id"),
        F.col("_m.data.val").cast("double").alias("after_val"),
        F.col("_m.data.k").cast("long").alias("after_k"),
    )


def decode_csv_storage(
    files: DataFrame,
    payload_fields: list[tuple[str, str]] = (
        ("id", "bigint"), ("val", "double"), ("k", "bigint"),
    ),
    include_commit_ts: bool = True,
    output_old_value: bool = False,
) -> DataFrame:
    """cmd/storage-consumer analog: data files written under the
    cloud-storage layout back into changelog rows.

    The reference consumer (`cmd/storage-consumer/main.go`) walks
    ``<schema>/<table>/<version>/[date]/CDC*.csv``, derives the table
    from the directory path (`pkg/cloudstorage/generator.go:126-128`),
    reads the column list from the schema sidecar, and parses each csv
    line (``[op, table, schema, commitTs, cols...]``,
    `csv_message.go:104-246`). Here: ``files`` carries (path, value)
    rows; (schema, table) come from the PATH — the csv's own schema
    fields ride along unused, exactly like the reference consumer.
    ``payload_fields`` is the sidecar's (name, type) list.

    csv updates carry no old image, so handle-key-changing updates must
    be split (P2) producer-side — same constraint as the reference's
    csv protocol (`pkg/sink/codec/csv/`, output-old-value=false).
    """
    from ticdc_spark.codec.csv_codec import NULL_TOKEN

    sch = "op string, _table string, _schema string"
    if include_commit_ts:
        sch += ", commit_ts bigint"
    if output_old_value:
        # the extra is-updated column (`csv_message.go:177-181`: the
        # decoder skips one datum when OutputOldValue)
        sch += ", _updated string"
    sch += ", " + ", ".join(f"`{n}` {t}" for n, t in payload_fields)
    # producer lines carry the sink terminator (CRLF default,
    # `pkg/config/sink.go`); a line-oriented consumer strips it
    line = F.regexp_replace(F.col("value"), "(\r\n|\r|\n)$", "")
    parsed = files.withColumn(
        "_m", F.from_csv(line, sch, {"nullValue": NULL_TOKEN})
    )
    parts = F.split(F.col("path"), "/")
    op = F.col("_m.op")
    is_delete = op == "D"
    cols = [
        parts.getItem(0).alias("schema_name"),
        parts.getItem(1).alias("table_name"),
        op.alias("op"),
    ]
    if include_commit_ts:
        cols.append(F.col("_m.commit_ts").alias("commit_ts"))
    for name, _t in payload_fields:
        img = F.col(f"_m.`{name}`")
        cols.append(F.when(is_delete, img).alias(f"before_{name}"))
        cols.append(F.when(~is_delete, img).alias(f"after_{name}"))
    # output-field-header files open with a header line
    # (`csv_encoder.go:46-48`); its first datum is the literal meta
    # column name, never an op code — drop it like the reference's
    # storage consumer skips the header row.  Null-safe compare: a
    # malformed line parses op as NULL and must surface as a null row,
    # not silently vanish through three-valued logic.
    return (parsed.filter(
                ~F.col("_m.op").eqNullSafe(F.lit("ticdc-meta$operation")))
            .select(*cols))


def explode_open_protocol_batch(batches: DataFrame) -> DataFrame:
    """Batched open-protocol consumer front half: split each batch
    payload's netstring framing (``len:key len:value`` repeated) back
    into (key, value) message rows — the inverse of
    `codec/open_protocol.py::encode_open_protocol_batch`.  A
    ``mapInArrow`` row stage (``arrow_rows.map_batches``; byte-offset
    parsing isn't column algebra); feed the output to
    :func:`decode_open_protocol`."""
    from ticdc_spark.functions.arrow_rows import map_batches

    def _parse(blob: str) -> list[tuple[str, str]]:
        out, pos, n = [], 0, len(blob)
        while pos < n:
            colon = blob.index(":", pos)
            klen = int(blob[pos:colon])
            key = blob[colon + 1:colon + 1 + klen]
            pos = colon + 1 + klen
            colon = blob.index(":", pos)
            vlen = int(blob[pos:colon])
            value = blob[colon + 1:colon + 1 + vlen]
            pos = colon + 1 + vlen
            out.append((key, value))
        return out

    def _explode(batches):
        for c in batches:
            yield [kv for blob in c["batch"] for kv in _parse(blob)]

    return map_batches(batches.select("batch"), _explode,
                       "key string, value string")

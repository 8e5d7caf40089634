"""Consumer / redo-replay path (SURVEY §2.11 K6 + §5 test strategy).

The reference's MQ correctness oracle is a real consumer
(`cmd/kafka-consumer/writer.go:88-147`) that decodes protocol messages
and applies them to a downstream DB, then diffs. This module is that
consumer for canal-json, open-protocol, debezium, simple and the csv
storage layout (``pipeline.PROTOCOLS`` names each as its protocol's
``decode``): each decoder builds its parse schema from the table's image
``StructType`` — the reference's consumers take it from the message, the
bootstrap or the registry — and returns the changelog's own shape
(``schema_name, table_name, op, commit_ts, before, after``), which
``replay_to_state`` applies. The round-trip (encode → decode → apply)
must produce the same final state as applying the original changelog —
proven in tests.

Also serves as the redo-log replay tool (K6): point it at a changefeed's
sink directory and it rebuilds table state from the WAL-like message
files.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_CANAL_IMAGE = T.ArrayType(T.MapType(T.StringType(), T.StringType()))
_CANAL_SCHEMA = T.StructType([
    T.StructField("database", T.StringType()),
    T.StructField("table", T.StringType()),
    T.StructField("type", T.StringType()),
    T.StructField("es", T.LongType()),
    T.StructField("data", _CANAL_IMAGE),
    T.StructField("old", _CANAL_IMAGE),
    # enable-tidb-extension payload: the exact (µs) commit ts — without
    # it consumers only see canal's ms-truncated `es`
    T.StructField("_tidb", T.StructType([
        T.StructField("commitTs", T.LongType()),
    ])),
])


def _typed(img: Column, image: T.StructType, read) -> Column:
    """A parsed wire image (NULL when the frame has none) as a changelog
    image typed by ``image``: field ``f`` is ``read(img, f)``."""
    return F.when(img.isNotNull(), F.struct(*[
        read(img, f).alias(f.name) for f in image.fields]))


def _cast_field(img: Column, f: T.StructField) -> Column:
    """A text-valued wire field cast to its image type."""
    return img.getItem(f.name).cast(f.dataType)


def _changelog(schema_name, table_name, op, commit_ts, before,
               after) -> list[Column]:
    """The decoded changelog's columns, in the changelog's own shape."""
    return [schema_name.alias("schema_name"), table_name.alias("table_name"),
            op.alias("op"), commit_ts.alias("commit_ts"),
            before.alias("before"), after.alias("after")]


def decode_canal_json(messages: DataFrame, image: T.StructType,
                      value_col: str = "value") -> DataFrame:
    """canal-json messages → changelog rows whose images are typed by
    ``image``. canal renders every value as a JSON string, so the images
    parse as string maps and each column casts to its image type."""
    m = F.col("_m")
    parsed = messages.select(
        F.from_json(F.col(value_col), _CANAL_SCHEMA).alias("_m"))
    op = (
        F.when(m["type"] == "INSERT", F.lit("I"))
        .when(m["type"] == "UPDATE", F.lit("U"))
        .otherwise(F.lit("D"))
    )
    data = m["data"].getItem(0)
    # canal: data carries after for I/U, before for D; old carries before
    # for U only.
    return parsed.select(*_changelog(
        m["database"], m["table"], op,
        # exact ts when the producer ran with enable-tidb-extension;
        # ms-truncated es otherwise (canal_json_message.go tidb ext)
        F.coalesce(m["_tidb"]["commitTs"], m["es"] * 1000),
        _typed(F.when(op == "D", data).otherwise(m["old"].getItem(0)),
               image, _cast_field),
        _typed(F.when(op != "D", data), image, _cast_field)))


def replay_to_state(decoded: DataFrame,
                    order_col: str = "commit_ts") -> DataFrame:
    """Apply decoded changelog rows → final table state (last write per
    key wins, delete kills) — consumer-side counterpart of
    sinks.mysql.materialize_state, keyed on the handle key: the image's
    first column, where every mounter puts it."""
    names = decoded.schema["after"].dataType.names
    before, after = F.col("before"), F.col("after")
    code = (F.when(F.col("op") == "D", 1).when(F.col("op") == "U", 2)
            .otherwise(3))
    keyed = decoded.withColumn(
        "_key", F.coalesce(after[names[0]], before[names[0]])
    ).withColumn("_ord", F.col(order_col) * 4 + code)
    # one scalar max_by per column keeps numeric buffers in HashAggregate
    g = keyed.groupBy("schema_name", "table_name", "_key").agg(
        F.max_by(code, "_ord").alias("_last_code"),
        *[F.max_by(after[n], "_ord").alias(f"_v{i}")
          for i, n in enumerate(names[1:])])
    return g.filter(F.col("_last_code") != 1).select(
        "schema_name", "table_name", F.col("_key").alias(names[0]),
        *[F.col(f"_v{i}").alias(n) for i, n in enumerate(names[1:])])


def replay_sink_dir(spark: SparkSession, sink_dir: str) -> DataFrame:
    """K6 replay: rebuild state from a changefeed's canal-json message
    files, typed by the ``mysqlType`` the messages carry."""
    import json

    from ticdc_spark import failpoint
    from ticdc_spark.schema import mysql_type_to_spark

    msgs = spark.read.json(f"{sink_dir}/epoch=*")
    types = json.loads(msgs.select("value").first()[0])["mysqlType"]
    image = T.StructType([T.StructField(n, mysql_type_to_spark(t))
                          for n, t in types.items()])
    # chaos hook (`random_drop_message` e2e analog): arm with
    # return(N) to deterministically lose 1-in-N messages in transit;
    # the redo WAL is the recovery path the drop test exercises
    drop_mod = failpoint.inject("consumer/drop-message")
    if drop_mod:
        msgs = msgs.filter(
            F.pmod(F.abs(F.hash("value")), F.lit(int(drop_mod))) != 0)
    return replay_to_state(decode_canal_json(msgs, image))


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
_OPEN_CELL = T.StructType([
    T.StructField("t", T.IntegerType()),
    T.StructField("v", T.StringType()),
])


def decode_open_protocol(messages: DataFrame, image: T.StructType,
                         key_col: str = "key",
                         value_col: str = "value") -> DataFrame:
    """open-protocol key/value frames → changelog-shaped rows — the
    kafka-consumer decode path for the second MQ protocol
    (`cmd/kafka-consumer/` decodes every protocol; round-trip is the
    oracle, SURVEY §5). Key carries (ts, scm, tbl); value ``{"u":
    {col: {"t","v"}}}`` for upserts, ``{"d": ...}`` for deletes, each
    column of ``image`` one ``{"t","v"}`` cell.

    Open-protocol upserts don't distinguish insert from update, so the
    decoded ``op`` is U-or-D; replay semantics are unaffected (last
    write per key wins either way).

    One ``from_json`` per message side (single parse; ``get_json_object``
    per field would re-parse the document N times — measured 2x slower
    end-to-end at sf0.1)."""
    cells = T.StructType([T.StructField(f.name, _OPEN_CELL)
                          for f in image.fields])
    value_schema = T.StructType([T.StructField(n, cells)
                                 for n in ("u", "p", "d")])
    head, body = F.col("_k"), F.col("_v")
    parsed = messages.select(
        F.from_json(F.col(key_col), _OPEN_KEY_SCHEMA).alias("_k"),
        F.from_json(F.col(value_col), value_schema).alias("_v"),
    )
    op = F.when(body["d"].isNotNull(), F.lit("D")).otherwise(F.lit("U"))

    def cell(img, f):
        return img.getField(f.name).getField("v").cast(f.dataType)

    # "p" carries the pre image for updates under OutputOldValue
    # (`open/decoder.go:565`: PreColumns nil when disabled)
    return parsed.select(*_changelog(
        head["scm"], head["tbl"], op, head["ts"],
        _typed(F.when(op == "D", body["d"]).otherwise(body["p"]), image, cell),
        _typed(F.when(op == "U", body["u"]), image, cell)))


def decode_debezium(messages: DataFrame, image: T.StructType,
                    value_col: str = "value") -> DataFrame:
    """debezium envelope → changelog rows: before/after images (typed
    by ``image``: debezium writes JSON numbers and strings) with op
    c/u/d, commit_ts from source.commit_ts. The envelope is the
    message itself, or its ``payload`` when the Connect schema rides
    along. Single ``from_json`` parse per message."""
    envelope = [
        T.StructField("before", image),
        T.StructField("after", image),
        T.StructField("source", T.StructType([
            T.StructField("db", T.StringType()),
            T.StructField("table", T.StringType()),
            T.StructField("commit_ts", T.LongType()),
        ])),
        T.StructField("op", T.StringType()),
    ]
    schema = T.StructType(
        envelope + [T.StructField("payload", T.StructType(envelope))])
    m = F.col("_m")
    e = F.coalesce(m["payload"], F.struct(*[
        m[f.name].alias(f.name) for f in envelope]))
    parsed = messages.select(
        F.from_json(F.col(value_col), schema).alias("_m"))
    op = (
        F.when(e["op"] == "c", F.lit("I"))
        .when(e["op"] == "u", F.lit("U"))
        .otherwise(F.lit("D"))
    )
    return parsed.select(*_changelog(
        e["source"]["db"], e["source"]["table"], op,
        e["source"]["commit_ts"], e["before"], e["after"]))


def decode_simple(messages: DataFrame, image: T.StructType,
                  value_col: str = "value") -> DataFrame:
    """simple-protocol DML messages → changelog rows: INSERT/UPDATE/
    DELETE types, data = after image (null for delete), old = before
    image (null for insert). WATERMARK/DDL rows pass through untouched
    upstream (filtered here on type). Single ``from_json`` parse; image
    values ride as JSON strings (the simple protocol renders every
    scalar as text) and cast to ``image``'s types after."""
    # every value rides as text
    text = T.StructType([T.StructField(f.name, T.StringType())
                         for f in image.fields])
    schema = T.StructType([
        T.StructField("type", T.StringType()),
        T.StructField("commitTs", T.LongType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("data", text),
        T.StructField("old", text),
    ])
    m = F.col("_m")
    parsed = messages.select(
        F.from_json(F.col(value_col), schema).alias("_m"))
    op = (
        F.when(m["type"] == "INSERT", F.lit("I"))
        .when(m["type"] == "UPDATE", F.lit("U"))
        .otherwise(F.lit("D"))
    )
    return parsed.filter(
        m["type"].isin("INSERT", "UPDATE", "DELETE")
    ).select(*_changelog(
        m["schema"], m["table"], op, m["commitTs"],
        _typed(m["old"], image, _cast_field),
        _typed(m["data"], image, _cast_field)))


def decode_csv_storage(files: DataFrame, image: T.StructType,
                       output_old_value: bool = False) -> DataFrame:
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
    ``image`` stands for the sidecar's column list.

    csv updates carry no old image, so handle-key-changing updates must
    be split (P2) producer-side — same constraint as the reference's
    csv protocol (`pkg/sink/codec/csv/`, output-old-value=false).
    """
    from ticdc_spark.codec.csv_codec import NULL_TOKEN

    sch = "op string, _table string, _schema string, commit_ts bigint"
    if output_old_value:
        # the extra is-updated column (`csv_message.go:177-181`: the
        # decoder skips one datum when OutputOldValue)
        sch += ", _updated string"
    sch += "".join(", `{}` {}".format(f.name.replace("`", "``"),
                                      f.dataType.simpleString())
                   for f in image.fields)
    # producer lines carry the sink terminator (CRLF default,
    # `pkg/config/sink.go`); a line-oriented consumer strips it
    line = F.regexp_replace(F.col("value"), "(\r\n|\r|\n)$", "")
    m = F.col("_m")
    # a quoted field doubles the quotes it holds (codec/csv_codec.py)
    parsed = files.withColumn(
        "_m", F.from_csv(line, sch, {"nullValue": NULL_TOKEN, "escape": '"'})
    )
    parts = F.split(F.col("path"), "/")
    op = m["op"]
    row = F.struct(*[m[f.name].alias(f.name) for f in image.fields])
    # output-field-header files open with a header line
    # (`csv_encoder.go:46-48`); its first datum is the literal meta
    # column name, never an op code — drop it like the reference's
    # storage consumer skips the header row.  Null-safe compare: a
    # malformed line parses op as NULL and must surface as a null row,
    # not silently vanish through three-valued logic.
    return (parsed.filter(~op.eqNullSafe(F.lit("ticdc-meta$operation")))
            .select(*_changelog(
                parts.getItem(0), parts.getItem(1), op, m["commit_ts"],
                F.when(op == "D", row), F.when(op != "D", row))))


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

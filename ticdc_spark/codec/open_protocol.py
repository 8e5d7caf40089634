"""open-protocol encoder (SURVEY §2.11).

Reference: `pkg/sink/codec/open/message.go:28-40` — separate key and
value. Key: ``{"ts": commitTs, "scm": schema, "tbl": table, "t": 1}``
(type 1 = row change). Value: ``{"u": {col: {"t": type, "v": val}}}`` for
upsert images, ``"d"`` for delete images; per-column objects carry the
MySQL type byte.

Emitted as two string columns ``key`` and ``value`` written by the
shared JSON writer (same rationale as canal_json.py).

MySQL type bytes (tidb mysql.Type*): LONGLONG=8, DOUBLE=5, VARCHAR=15.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ticdc_spark.functions.render import (json_dumps, json_image, json_object,
                                          json_str, json_string_or_null,
                                          with_frames)
from ticdc_spark.functions.tso import tumbling_marks
from ticdc_spark.operators.ddl_filter import TIDB_ACTION_TYPE

_MYSQL_TYPE_BYTE = {"long": 8, "bigint": 8, "double": 5, "string": 15}


def _column_value(col: Column, dtype) -> Column:
    """``{"t": <mysql type byte>, "v": <value>}``."""
    return json_object([("t", _MYSQL_TYPE_BYTE[dtype.simpleString()]),
                        ("v", json_string_or_null(col, dtype))])


def open_protocol_key() -> Column:
    """The open-protocol message key (`open/message.go:28-40`) — also used
    as the kafka message key for other protocols."""
    return json_object([
        ("ts", F.col("commit_ts").cast("string")),
        ("scm", json_str(F.col("schema_name"))),
        ("tbl", json_str(F.col("table_name"))), ("t", 1)])


def encode_open_protocol(cl: DataFrame,
                         output_old_value: bool = True) -> DataFrame:
    """Updates carry BOTH images by default: ``"u"`` (new row) then
    ``"p"`` (pre row) per `open/codec.go:77-96` under
    ``OpenOutputOldValue`` — the reference default
    (`replica_config.go:88` OpenProtocolConfig{OutputOldValue: true}).
    ``output_old_value=False`` ([sink.open] output-old-value) drops
    ``"p"``; the consumer then reconstructs deletes-by-key only."""
    schema: StructType = cl.schema["after"].dataType
    key = open_protocol_key()
    upsert = json_image(F.col("after"), schema, _column_value)
    delete = json_image(F.col("before"), schema, _column_value)
    update = json_object([("u", upsert), ("p", delete)]
                         if output_old_value else [("u", upsert)])
    value = (
        F.when(F.col("op") == "D", json_object([("d", delete)]))
        .when(F.col("op") == "U", update)
        .otherwise(json_object([("u", upsert)]))
    )
    return cl.withColumn("key", key).withColumn("value", value)


def ddl_frame(ddl: dict) -> tuple[bytes, bytes]:
    """open-protocol DDL message (`open/codec.go:121-137`) for one DDL
    event dict: key ``{"ts":finishedTs,"scm":schema,"tbl":table,"t":2}``
    (type 2 = DDL), value ``{"q":query,"t":<tidb action type>}``."""
    key = {"ts": ddl["commit_ts"], "scm": ddl.get("schema_name"),
           "tbl": ddl.get("table_name"), "t": 2}
    value = {"q": ddl.get("query"),
             "t": TIDB_ACTION_TYPE.get(ddl.get("ddl_type"), 0)}
    return json_dumps(key).encode(), json_dumps(value).encode()


def watermark_frame(resolved_ts: int) -> tuple[bytes, bytes]:
    """open-protocol resolved-ts (checkpoint) message
    (`open/encoder.go:240-250` EncodeCheckpointEvent): key
    ``{"ts":resolvedTs,"t":3}``, value EMPTY."""
    return json_dumps({"ts": resolved_ts, "t": 3}).encode(), b""


def encode_open_protocol_ddl(ddl: DataFrame) -> DataFrame:
    """:func:`ddl_frame` as ``key``/``value`` columns, one per DDL row."""
    return with_frames(ddl, ddl_frame, ("key", "value"))


def open_protocol_checkpoints(cl: DataFrame, interval_us: int = 3_600_000_000) -> DataFrame:
    """:func:`watermark_frame` per tumbling resolved-ts boundary across
    the whole changefeed (the reference emits one per checkpoint advance
    and broadcasts it to every partition)."""
    return with_frames(tumbling_marks(cl, interval_us), lambda r: (
        watermark_frame(r["resolved_ts"])), ("key", "value"))


def encode_open_protocol_batch(cl_routed: DataFrame,
                               max_batch_size: int | None = None
                               ) -> DataFrame:
    """Batched open-protocol (``IsBatchEncode``,
    `pkg/config/sink_protocol.go:48-50`): messages for one
    (topic, partition) frame into batch payloads, ordered by
    (commit_ts, seq) — the order the consumer must replay.

    ``max_batch_size`` caps messages per batch like the encoder's
    ``max-batch-size`` (default 16, `codec/common/config.go:34-35`);
    None frames everything into one payload (flush-time capping).
    The reference frames each message with binary uint64-BE length
    headers (`open/message.go`); here the framing is decimal netstring
    (``len:key len:value``) so the bytes are reproducible in the SQL
    oracle — grouping, ordering, and framing structure are identical.
    One shuffle on (topic, partition) — the same exchange the kafka
    write needs anyway (the batch-index window rides it), so batching
    is free at scale.
    """
    from pyspark.sql.window import Window

    enc = encode_open_protocol(cl_routed)
    frame = F.concat(
        F.length("key").cast("string"), F.lit(":"), F.col("key"),
        F.length("value").cast("string"), F.lit(":"), F.col("value"),
    )
    rows = enc.select(
        "topic", "partition",
        F.struct("commit_ts", "seq", frame.alias("frame")).alias("_r"),
    )
    group_cols = ["topic", "partition"]
    if max_batch_size is not None:
        w = Window.partitionBy("topic", "partition").orderBy(
            F.col("_r.commit_ts"), F.col("_r.seq"))
        rows = rows.withColumn(
            "batch_index",
            ((F.row_number().over(w) - 1) / max_batch_size)
            .cast("long"),
        )
        group_cols.append("batch_index")
    return rows.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_messages"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list("_r")), lambda s: s["frame"]),
            "",
        ).alias("batch"),
    )

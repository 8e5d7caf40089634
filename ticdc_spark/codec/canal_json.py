"""canal-json encoder (SURVEY §2.11).

Reference message shape: `pkg/sink/codec/canal/canal_json_message.go:40-61`
(Alibaba FlatMessage): ``id, database, table, pkNames, isDdl, type, es,
ts, sql, sqlType, mysqlType, data, old``; values rendered as JSON strings
per the Java type map (`pkg/sink/codec/common/java.go:70-146`).

Spark-first: the message is ONE string column assembled by ``concat`` of
literals and canonically-rendered fields — fixed field order, fixed float
format — so the bytes are deterministic (reproducible by the DuckDB
oracle) and the whole encode stays inside whole-stage codegen. ``ts``
(processing time) is emitted as 0 for determinism; ``es`` is the commit
ts in milliseconds as in the reference.

Java SQL types (java.go): BIGINT → -5, DOUBLE → 8.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ticdc_spark.functions.render import json_string_or_null

# java.go:70-146: BIGINT=-5, DOUBLE=8, VARCHAR=12, DATE=91, TIMESTAMP=93
_JAVA_TYPE = {"long": -5, "bigint": -5, "double": 8, "string": 12,
              "date": 91, "timestamp": 93}
_MYSQL_TYPE = {"long": "bigint", "bigint": "bigint", "double": "double",
               "string": "varchar", "date": "date", "timestamp": "datetime"}

# content-compatible mysqlType descriptors (`canal_json_encoder.go:250`
# getMySQLType full form): signed integer display widths are the MySQL
# defaults and derivable from the Spark dtype; non-integer types keep
# their bare names (the width lives in the upstream DDL, which typed
# callers pass via ``type_overrides``).
_MYSQL_FULL_DESC = {"long": "bigint(20)", "bigint": "bigint(20)",
                    "double": "double", "string": "varchar",
                    "date": "date", "timestamp": "datetime"}


def content_compatible_overrides(
        schema: StructType) -> dict[str, tuple[int, str]]:
    """content-compatible-enable: per-column (JavaSQLType, full mysql
    descriptor) overrides derived from the Spark schema."""
    return {
        f.name: (_JAVA_TYPE[f.dataType.simpleString()],
                 _MYSQL_FULL_DESC[f.dataType.simpleString()])
        for f in schema.fields
    }


def _image_json(image: str, schema: StructType) -> Column:
    """``[{"col": "v", ...}]`` — single-row array, canal data/old shape."""
    parts: list[Column] = [F.lit("[{")]
    for i, f in enumerate(schema.fields):
        if i:
            parts.append(F.lit(","))
        parts.append(F.lit(f'"{f.name}":'))
        parts.append(json_string_or_null(F.col(f"{image}.{f.name}"), f.dataType))
    parts.append(F.lit("}]"))
    return F.when(F.col(image).isNotNull(), F.concat(*parts)).otherwise(F.lit("null"))


def _type_maps(
    schema: StructType,
    overrides: dict[str, tuple[int, str]] | None = None,
) -> tuple[str, str]:
    """Per-column (JavaSQLType, mysqlType) maps. ``overrides`` carries
    columns whose MySQL type is not derivable from the Spark dtype —
    ENUM (4/"enum"), SET (-7/"set"), BIT (-7/"bit"), VECTOR
    (12/"vector") per `java.go:68-151` + `helper.go:38-46` TypeToStr."""
    ov = overrides or {}

    def java(f):
        return ov[f.name][0] if f.name in ov else _JAVA_TYPE[f.dataType.simpleString()]

    def mysql(f):
        return ov[f.name][1] if f.name in ov else _MYSQL_TYPE[f.dataType.simpleString()]

    sql_t = ",".join(f'"{f.name}":{java(f)}' for f in schema.fields)
    mysql_t = ",".join(f'"{f.name}":"{mysql(f)}"' for f in schema.fields)
    return "{" + sql_t + "}", "{" + mysql_t + "}"


_SIGN_MASK = -(1 << 63)  # int64 sign bit, the memcomparable flip


def _record_key_hex(table_id, handle):
    """Hex of the TiKV record key ``t{tableID}_r{handle}`` — column
    twin of ``rowcodec.encode_record_key`` (tablecodec's
    ``t`` 0x74 prefix, ``_r`` 0x5f72, EncodeInt = big-endian uint64 of
    value XOR sign bit)."""

    def cmp_hex(c):
        return F.lpad(F.hex(c.cast("long").bitwiseXOR(
            F.lit(_SIGN_MASK).cast("long"))), 16, "0")

    return F.concat(F.lit("74"), cmp_hex(table_id),
                    F.lit("5F72"), cmp_hex(handle))


def encode_canal_json(
    cl: DataFrame,
    pk_names: tuple[str, ...] = ("id",),
    tidb_extension: bool = False,
    type_overrides: dict[str, tuple[int, str]] | None = None,
    output_row_key: bool = False,
) -> DataFrame:
    """Append a ``value`` column holding the canal-json message.

    ``tidb_extension``: the reference's ``enable-tidb-extension`` option
    appends ``"_tidb":{"commitTs":<ts>}`` so consumers see the exact
    TiDB commit timestamp (canal's ``es`` is only milliseconds).

    ``output_row_key`` ([sink.kafka-config.codec-config] output-row-key,
    `pkg/config/sink.go:457` / form tag `codec/common/config.go:190-192`):
    the tidb-extension object additionally carries
    ``"rowkey":"<base64 record key>"`` —
    `canal_json_encoder.go:340-345`, emitted ONLY when
    ``enable-tidb-extension`` is also on.  The record key is the TiKV
    row key ``t{tableID}_r{handle}`` in the memcomparable int codec
    (same bytes as ``rowcodec.encode_record_key``); requires a
    ``table_id`` column on the frame, handle = the data image's
    first pk (int handles, the mounter's model).

    ``type_overrides``: {column: (java_sql_type, mysql_type)} for MySQL
    types the Spark dtype can't express (enum/set/bit/vector) — on the
    canal wire those carry their RAW numeric forms (`canal/helper.go:
    93-126` formatColumnValue: enum ordinal, set bitmask, bit uint64).
    """
    schema: StructType = cl.schema["after"].dataType
    sql_types, mysql_types = _type_maps(schema, type_overrides)
    canal_type = (
        F.when(F.col("op") == "I", F.lit("INSERT"))
        .when(F.col("op") == "U", F.lit("UPDATE"))
        .otherwise(F.lit("DELETE"))
    )
    pk_json = "[" + ",".join(f'"{p}"' for p in pk_names) + "]"
    # DELETE carries the before image in `data` (canal semantics); UPDATE
    # carries after in `data` and before in `old`; INSERT has old = null.
    data_json = (
        F.when(F.col("op") == "D", _image_json("before", schema))
        .otherwise(_image_json("after", schema))
    )
    old_json = F.when(F.col("op") == "U", _image_json("before", schema)).otherwise(
        F.lit("null")
    )
    ext: list = []
    if tidb_extension:
        ext = [F.lit(',"_tidb":{"commitTs":'),
               F.col("commit_ts").cast("string")]
        # Only when both enable-tidb-extension AND output-row-key are
        # true is the rowkey output (`canal_json_encoder.go:340-345`).
        if output_row_key:
            if "table_id" not in cl.columns:
                raise ValueError(
                    "output-row-key needs a table_id column on the frame "
                    "to build the TiKV record key")
            pk = pk_names[0]
            handle = F.when(F.col("op") == "D", F.col(f"before.{pk}")) \
                .otherwise(F.col(f"after.{pk}"))
            ext += [F.lit(',"rowkey":"'),
                    F.base64(F.unhex(_record_key_hex(
                        F.col("table_id"), handle))),
                    F.lit('"')]
        ext.append(F.lit("}"))
    value = F.concat(
        F.lit('{"id":0,"database":"'),
        F.col("schema_name"),
        F.lit('","table":"'),
        F.col("table_name"),
        F.lit('","pkNames":' + pk_json + ',"isDdl":false,"type":"'),
        canal_type,
        F.lit('","es":'),
        F.expr("commit_ts div 1000").cast("string"),
        F.lit(',"ts":0,"sql":"","sqlType":' + sql_types + ',"mysqlType":' + mysql_types + ',"data":'),
        data_json,
        F.lit(',"old":'),
        old_json,
        *ext,
        F.lit("}"),
    )
    return cl.withColumn("value", value)


# canal EventType for DDL per `canal/helper.go:211-239` convertDdlEventType
# (keyed by our classifier labels, operators/ddl_filter.py).
CANAL_DDL_EVENT_TYPE = {
    "create-table": "CREATE",
    "drop-table": "ERASE",
    "truncate-table": "TRUNCATE",
    "add-column": "ALTER",
    "drop-column": "ALTER",
    "alter-table": "ALTER",
    "add-index": "CINDEX",
    "drop-index": "DINDEX",
    "rename-table": "RENAME",
    "create-schema": "QUERY",
    "drop-schema": "QUERY",
    "other": "QUERY",
}


def _json_message(fields: dict) -> bytes:
    # escapes what the SQL text needs; text that needs no escape keeps
    # the bytes of the concatenated frames below
    return json.dumps(fields, separators=(",", ":"),
                      ensure_ascii=False).encode()


def canal_ddl_message(ddl: dict) -> bytes:
    """The DDL message a live changefeed broadcasts at a DDL barrier:
    ``encode_canal_json_ddl``'s frame for one DDL event dict
    (schema_name, table_name, commit_ts, query, ddl_type)."""
    return _json_message({
        "id": 0, "database": ddl.get("schema_name", ""),
        "table": ddl.get("table_name", ""), "pkNames": None, "isDdl": True,
        "type": CANAL_DDL_EVENT_TYPE.get(ddl.get("ddl_type", ""), "QUERY"),
        "es": ddl["commit_ts"] // 1000, "ts": 0, "sql": ddl.get("query", ""),
        "sqlType": None, "mysqlType": None, "data": None, "old": None})


def canal_watermark_message(resolved_ts: int) -> bytes:
    """The TIDB_WATERMARK message a live changefeed broadcasts after each
    epoch: ``canal_checkpoints``' frame for one resolved ts."""
    return _json_message({
        "id": 0, "database": "", "table": "", "pkNames": None,
        "isDdl": False, "type": "TIDB_WATERMARK", "es": resolved_ts // 1000,
        "ts": 0, "sql": "", "sqlType": None, "mysqlType": None, "data": None,
        "old": None, "_tidb": {"watermarkTs": resolved_ts}})


def encode_canal_json_ddl(ddl: DataFrame) -> DataFrame:
    """canal-json DDL message (`canal_json_encoder.go:384-399`
    newJSONMessageForDDL): same FlatMessage frame as DML but
    ``isDdl:true``, ``sql`` carries the query, and pkNames/sqlType/
    mysqlType/data/old are null. Input frame carries
    (schema_name, table_name, commit_ts, query, ddl_type)."""
    etype = F.lit("QUERY")
    for label, name in CANAL_DDL_EVENT_TYPE.items():
        etype = F.when(F.col("ddl_type") == label, F.lit(name)).otherwise(etype)
    value = F.concat(
        F.lit('{"id":0,"database":"'),
        _json_text(F.col("schema_name")),
        F.lit('","table":"'),
        _json_text(F.col("table_name")),
        F.lit('","pkNames":null,"isDdl":true,"type":"'),
        etype,
        F.lit('","es":'),
        F.floor(F.col("commit_ts") / 1000).cast("long").cast("string"),
        F.lit(',"ts":0,"sql":"'),
        _json_text(F.col("query")),
        F.lit('","sqlType":null,"mysqlType":null,"data":null,"old":null}'),
    )
    return ddl.withColumn("value", value)


def _json_text(col: Column) -> Column:
    """``col`` as the body of a JSON string, escaped exactly as
    ``_json_message`` escapes it: backslash and quote, and every control
    character (short forms, else ``\\u00xx``); non-ASCII stays UTF-8."""
    for ch in ("\\", '"', *map(chr, range(32))):
        col = F.replace(col, F.lit(ch), F.lit(json.dumps(ch)[1:-1]))
    return col


def canal_checkpoints(cl: DataFrame, interval_us: int = 3_600_000_000) -> DataFrame:
    """canal-json checkpoint/watermark messages
    (`canal_json_encoder.go:406-441` newJSONMessage4CheckpointEvent +
    EncodeCheckpointEvent): emitted ONLY under enable-tidb-extension;
    a full JSONMessage with empty database/table, ``type``
    TIDB_WATERMARK, ``es`` = watermark in canal ms, and
    ``"_tidb":{"watermarkTs":<exact ts>}``. The reference stamps
    BuildTime with wall clock; pinned 0 here like every other ``ts``
    field (determinism). One message per tumbling resolved-ts boundary
    (the reference emits one per checkpoint advance and the kafka sink
    broadcasts it to all partitions — see kafka_ddl_broadcast)."""
    boundary = (F.col("commit_ts") - F.col("commit_ts") % interval_us) + interval_us
    wm = (
        cl.withColumn("boundary_ts", boundary)
        .groupBy("boundary_ts")
        .agg(F.max("commit_ts").alias("resolved_ts"))
    )
    value = F.concat(
        F.lit(
            '{"id":0,"database":"","table":"","pkNames":null,"isDdl":false,'
            '"type":"TIDB_WATERMARK","es":'
        ),
        F.expr("resolved_ts div 1000").cast("string"),
        F.lit(
            ',"ts":0,"sql":"","sqlType":null,"mysqlType":null,'
            '"data":null,"old":null,"_tidb":{"watermarkTs":'
        ),
        F.col("resolved_ts").cast("string"),
        F.lit("}}"),
    )
    return wm.withColumn("value", value)

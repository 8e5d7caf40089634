"""canal-json encoder (SURVEY §2.11).

Reference message shape: `pkg/sink/codec/canal/canal_json_message.go:40-61`
(Alibaba FlatMessage): ``id, database, table, pkNames, isDdl, type, es,
ts, sql, sqlType, mysqlType, data, old``; values rendered as JSON strings
per the Java type map (`pkg/sink/codec/common/java.go:70-146`).

Spark-first: the message is ONE string column written by the shared JSON
writer (``render.json_object``/``json_str``) over canonically-rendered
fields — fixed field order, fixed float format, every string escaped —
so the bytes are deterministic (reproducible by the DuckDB oracle) and
the whole encode stays inside whole-stage codegen. ``ts``
(processing time) is emitted as 0 for determinism; ``es`` is the commit
ts in milliseconds as in the reference.

Java SQL types (java.go): BIGINT → -5, DOUBLE → 8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ticdc_spark.functions.render import (json_case, json_dumps, json_image,
                                          json_object, json_str, with_frames)
from ticdc_spark.functions.tso import tumbling_marks

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


def _type_maps(
    schema: StructType,
    overrides: dict[str, tuple[int, str]] | None = None,
) -> tuple[dict, dict]:
    """Per-column (JavaSQLType, mysqlType) maps. ``overrides`` carries
    columns whose MySQL type is not derivable from the Spark dtype —
    ENUM (4/"enum"), SET (-7/"set"), BIT (-7/"bit"), VECTOR
    (12/"vector") per `java.go:68-151` + `helper.go:38-46` TypeToStr."""
    ov = overrides or {}
    sql_t, mysql_t = {}, {}
    for f in schema.fields:
        t = f.dataType.simpleString()
        sql_t[f.name], mysql_t[f.name] = (
            ov[f.name] if f.name in ov else (_JAVA_TYPE[t], _MYSQL_TYPE[t]))
    return sql_t, mysql_t


_CANAL_DML_TYPE = {"I": "INSERT", "U": "UPDATE"}


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
    op = F.col("op")
    before = json_image(F.col("before"), schema, array=True)
    # DELETE carries the before image in `data` (canal semantics); UPDATE
    # carries after in `data` and before in `old`; INSERT has old = null.
    data = F.when(op == "D", before).otherwise(
        json_image(F.col("after"), schema, array=True))
    old = F.when(op == "U", before).otherwise(F.lit("null"))
    pairs = [
        ("id", 0), ("database", json_str(F.col("schema_name"))),
        ("table", json_str(F.col("table_name"))),
        ("pkNames", list(pk_names)), ("isDdl", False),
        ("type", json_case(op, _CANAL_DML_TYPE, "DELETE")),
        ("es", F.expr("commit_ts div 1000").cast("string")), ("ts", 0),
        ("sql", ""), ("sqlType", sql_types), ("mysqlType", mysql_types),
        ("data", data), ("old", old),
    ]
    if tidb_extension:
        ext = [("commitTs", F.col("commit_ts").cast("string"))]
        # Only when both enable-tidb-extension AND output-row-key are
        # true is the rowkey output (`canal_json_encoder.go:340-345`).
        if output_row_key:
            if "table_id" not in cl.columns:
                raise ValueError(
                    "output-row-key needs a table_id column on the frame "
                    "to build the TiKV record key")
            pk = pk_names[0]
            handle = F.when(op == "D", F.col("before").getField(pk)) \
                .otherwise(F.col("after").getField(pk))
            ext.append(("rowkey", json_str(F.base64(F.unhex(
                _record_key_hex(F.col("table_id"), handle))))))
        pairs.append(("_tidb", json_object(ext)))
    value = json_object(pairs)
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


def ddl_message(ddl: dict) -> bytes:
    """canal-json DDL message (`canal_json_encoder.go:384-399`
    newJSONMessageForDDL) for one DDL event dict (schema_name,
    table_name, commit_ts, query, ddl_type): the same FlatMessage frame
    as DML but ``isDdl:true``, ``sql`` carries the query, and
    pkNames/sqlType/mysqlType/data/old are null."""
    return json_dumps({
        "id": 0, "database": ddl.get("schema_name", ""),
        "table": ddl.get("table_name", ""), "pkNames": None, "isDdl": True,
        "type": CANAL_DDL_EVENT_TYPE.get(ddl.get("ddl_type", ""), "QUERY"),
        "es": ddl["commit_ts"] // 1000, "ts": 0, "sql": ddl.get("query", ""),
        "sqlType": None, "mysqlType": None, "data": None, "old": None}).encode()


def watermark_message(resolved_ts: int) -> bytes:
    """canal-json checkpoint/watermark message
    (`canal_json_encoder.go:406-441` newJSONMessage4CheckpointEvent +
    EncodeCheckpointEvent): a full JSONMessage with empty
    database/table, ``type`` TIDB_WATERMARK, ``es`` = watermark in canal
    ms, and ``"_tidb":{"watermarkTs":<exact ts>}``. The reference stamps
    BuildTime with wall clock; pinned 0 here like every other ``ts``
    field (determinism)."""
    return json_dumps({
        "id": 0, "database": "", "table": "", "pkNames": None,
        "isDdl": False, "type": "TIDB_WATERMARK", "es": resolved_ts // 1000,
        "ts": 0, "sql": "", "sqlType": None, "mysqlType": None, "data": None,
        "old": None, "_tidb": {"watermarkTs": resolved_ts}}).encode()


def encode_canal_json_ddl(ddl: DataFrame) -> DataFrame:
    """:func:`ddl_message` as a ``value`` column, one per DDL row."""
    return with_frames(ddl, lambda r: (ddl_message(r),), ("value",))


def canal_checkpoints(cl: DataFrame, interval_us: int = 3_600_000_000) -> DataFrame:
    """:func:`watermark_message` per tumbling resolved-ts boundary. The
    reference emits them ONLY under enable-tidb-extension, one per
    checkpoint advance, broadcast to all partitions."""
    return with_frames(tumbling_marks(cl, interval_us), lambda r: (
        watermark_message(r["resolved_ts"]),), ("value",))

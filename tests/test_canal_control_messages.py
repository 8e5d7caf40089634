"""The canal-json DDL and TIDB_WATERMARK messages a live changefeed
broadcasts: valid JSON for any SQL text, and unchanged bytes for text
that needs no escape."""

import json

from ticdc_spark.codec.canal_json import ddl_message as canal_ddl_message
from ticdc_spark.codec.canal_json import \
    watermark_message as canal_watermark_message


def test_ddl_message_is_valid_json_for_any_sql():
    sql = ('CREATE TABLE `tü` (\n  c VARCHAR(8) DEFAULT "a\\b"'
           " COMMENT '中文'\n)")
    msg = canal_ddl_message({"schema_name": "db", "table_name": "tü",
                             "commit_ts": 1_700_000_123_456, "query": sql,
                             "ddl_type": "create-table"})
    m = json.loads(msg)
    assert m["sql"] == sql
    assert (m["database"], m["table"], m["type"], m["es"], m["isDdl"]) == (
        "db", "tü", "CREATE", 1_700_000_123, True)
    assert "中文".encode() in msg  # non-ASCII travels as UTF-8, unescaped


def test_plain_messages_keep_their_bytes():
    ddl = {"schema_name": "db", "table_name": "t",
           "commit_ts": 1_700_000_123_456, "query": "DROP TABLE t",
           "ddl_type": "drop-table"}
    assert canal_ddl_message(ddl) == (
        b'{"id":0,"database":"db","table":"t","pkNames":null,"isDdl":true,'
        b'"type":"ERASE","es":1700000123,"ts":0,"sql":"DROP TABLE t",'
        b'"sqlType":null,"mysqlType":null,"data":null,"old":null}')
    assert canal_ddl_message({"commit_ts": 0, "ddl_type": "unknown"}) == (
        b'{"id":0,"database":"","table":"","pkNames":null,"isDdl":true,'
        b'"type":"QUERY","es":0,"ts":0,"sql":"","sqlType":null,'
        b'"mysqlType":null,"data":null,"old":null}')
    assert canal_watermark_message(1_700_000_123_456) == (
        b'{"id":0,"database":"","table":"","pkNames":null,"isDdl":false,'
        b'"type":"TIDB_WATERMARK","es":1700000123,"ts":0,"sql":"",'
        b'"sqlType":null,"mysqlType":null,"data":null,"old":null,'
        b'"_tidb":{"watermarkTs":1700000123456}}')


def test_dataframe_ddl_frame_matches_the_live_message(spark):
    """``encode_canal_json_ddl`` (the batch DDL frame) gives the bytes of
    ``canal_ddl_message`` for plain text and for text JSON must escape:
    newlines, quotes, backslashes, other control characters."""
    from ticdc_spark.codec.canal_json import encode_canal_json_ddl

    ddls = [
        {"schema_name": "db", "table_name": "t",
         "commit_ts": 1_700_000_123_456, "query": "DROP TABLE t",
         "ddl_type": "drop-table"},
        {"schema_name": 'd"b\\', "table_name": "t\tü",
         "commit_ts": 1_700_000_999_999,
         "query": ('CREATE TABLE `tü` (\n  c VARCHAR(8) DEFAULT "a\\b"'
                   " COMMENT '中文\x01'\r\n)"),
         "ddl_type": "create-table"},
    ]
    df = spark.createDataFrame(
        [(i, d["schema_name"], d["table_name"], d["commit_ts"], d["query"],
          d["ddl_type"]) for i, d in enumerate(ddls)],
        "seq int, schema_name string, table_name string, commit_ts long, "
        "query string, ddl_type string")
    got = [r.value for r in
           encode_canal_json_ddl(df).orderBy("seq").select("value").collect()]
    assert [v.encode() for v in got] == [canal_ddl_message(d) for d in ddls]
    assert json.loads(got[1])["sql"] == ddls[1]["query"]

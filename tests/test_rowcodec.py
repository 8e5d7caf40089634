"""TiDB row-format v1/v2 codec: golden byte fixtures + roundtrips.

The fixtures are literal hex derived from the public row-format spec
(TiDB `docs/design/2018-07-19-row-format.md`, `util/rowcodec`,
`util/codec`) so the codec cannot drift into a self-consistent-but-
wrong wire format; the mounter tests mirror
`pkg/common/event/mounter.go:69` DecodeToChunk semantics (old/new
image dispatch, v1/v2 format sniffing, record-key handles).
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from ticdc_spark.codec.binary_json import (
    binary_to_json,
    json_to_binary,
    render_json,
)
from ticdc_spark.codec.rowcodec import (
    _COMPACT_BYTES,
    _FLOAT,
    _NIL,
    _VARINT,
    decode_float_cmp,
    decode_mydecimal,
    decode_record_key,
    decode_row_v1,
    decode_row_v2,
    decode_value,
    encode_float_cmp,
    encode_mydecimal,
    encode_record_key,
    encode_row_v1,
    encode_row_v2,
    encode_value,
    is_new_format,
    pack_datetime,
    unpack_datetime,
)


# -- golden fixtures ---------------------------------------------------------

def test_int_shrinks_to_minimal_le():
    assert encode_value(5, "bigint") == b"\x05"
    assert encode_value(-1, "bigint") == b"\xff"
    assert encode_value(300, "bigint") == b"\x2c\x01"          # int16 LE
    assert encode_value(-70000, "bigint") == b"\x90\xee\xfe\xff"  # int32 LE
    big = 2**40
    assert len(encode_value(big, "bigint")) == 8
    for v in (0, 5, -1, 127, -128, 300, -70000, big, -(2**62)):
        assert decode_value(encode_value(v, "bigint"), "bigint") == v


def test_float_comparable_encoding():
    # 1.0 = 0x3FF0... ; non-negative flips the sign bit
    assert encode_float_cmp(1.0) == bytes.fromhex("bff0000000000000")
    # -1.0 = 0xBFF0... ; negative flips every bit
    assert encode_float_cmp(-1.0) == bytes.fromhex("400fffffffffffff")
    assert encode_float_cmp(0.0) == bytes.fromhex("8000000000000000")
    for f in (0.0, 1.5, -2.25, 3.14159e10, -1e-9):
        assert decode_float_cmp(encode_float_cmp(f)) == f
    # the encoding is order-preserving (why the format uses it)
    vals = [-2.5, -1.0, 0.0, 0.5, 99.75]
    assert sorted(encode_float_cmp(v) for v in vals) == [
        encode_float_cmp(v) for v in vals]


def test_mydecimal_golden():
    # 1234567890.1234 prec 14 frac 4: int lead digit '1' (1 byte),
    # group 234567890 (4B BE), frac 1234 (2 bytes); first byte ^ 0x80
    assert encode_mydecimal("1234567890.1234", 14, 4) == \
        bytes.fromhex("810dfb38d204d2")
    # negative complements every byte
    assert encode_mydecimal("-1234567890.1234", 14, 4) == \
        bytes.fromhex("7ef204c72dfb2d")
    for text, p, s in [("0.00", 10, 2), ("-7.5", 5, 1),
                       ("999999999999.999999999", 21, 9),
                       ("42", 10, 0), ("-0.000000001", 10, 9)]:
        got = decode_mydecimal(encode_mydecimal(text, p, s), p, s)
        assert float(got) == float(text), (text, got)


def test_packed_datetime():
    packed = pack_datetime(2024, 1, 15, 10, 30, 45, 123456)
    assert unpack_datetime(packed) == (2024, 1, 15, 10, 30, 45, 123456)
    enc = encode_value(packed, "datetime")
    assert decode_value(enc, "datetime") == packed


def test_row_v2_small_layout_golden():
    # {col1: int 5, col2: NULL} → 80 00 | 0100 | 0100 | 01 | 02 | 0100 | 05
    b = encode_row_v2({1: b"\x05", 2: None})
    assert b == bytes.fromhex("80000100010001020100" + "05")
    assert is_new_format(b)
    assert decode_row_v2(b) == {1: b"\x05", 2: None}


def test_row_v2_big_layout():
    # col id > 255 forces the big layout (4-byte ids/offsets)
    vals = {300: encode_value(7, "bigint"), 2: None,
            5: encode_value("héllo", "string")}
    b = encode_row_v2(vals)
    assert b[1] & 1  # big flag
    out = decode_row_v2(b)
    assert decode_value(out[300], "bigint") == 7
    assert decode_value(out[5], "string") == "héllo"
    assert out[2] is None


def test_row_v2_every_type_roundtrip():
    vals = {
        1: encode_value(-42, "bigint"),
        2: encode_value(2.5, "double"),
        3: encode_value("text ✓", "string"),
        4: encode_value(b"\x00\xff", "binary"),
        5: encode_value("12.34", "decimal(10,2)", prec=10, frac=2),
        6: encode_value(pack_datetime(2024, 6, 1), "datetime"),
        7: None,
        8: encode_value(2**63 - 1, "bigint unsigned"),
        9: encode_value(1, "bool"),
    }
    out = decode_row_v2(encode_row_v2(vals))
    assert decode_value(out[1], "bigint") == -42
    assert decode_value(out[2], "double") == 2.5
    assert decode_value(out[3], "string") == "text ✓"
    assert decode_value(out[4], "binary") == b"\x00\xff"
    assert decode_value(out[5], "decimal(10,2)", 10, 2) == "12.34"
    assert decode_value(out[8], "bigint unsigned") == 2**63 - 1
    assert out[7] is None


def test_row_v1_golden_and_roundtrip():
    # {col1: varint 5} → flag 08, zigzag(1)=02, flag 08, zigzag(5)=0a
    assert encode_row_v1({1: (_VARINT, 5)}) == bytes.fromhex("0802" + "08" + "0a")
    vals = {1: (_VARINT, -99), 2: (_NIL, None),
            3: (_COMPACT_BYTES, b"abc"), 4: (_FLOAT, -0.5)}
    out = decode_row_v1(encode_row_v1(vals))
    assert out[1] == (_VARINT, -99)
    assert out[2] == (_NIL, None)
    assert out[3] == (_COMPACT_BYTES, b"abc")
    assert out[4][1] == -0.5
    assert not is_new_format(encode_row_v1(vals))


def test_record_key_golden():
    k = encode_record_key(1, 5)
    assert k == b"t" + bytes.fromhex("8000000000000001") + b"_r" + \
        bytes.fromhex("8000000000000005")
    assert decode_record_key(k) == (1, 5)
    assert decode_record_key(encode_record_key(-3, -(2**40))) == \
        (-3, -(2**40))
    with pytest.raises(ValueError):
        decode_record_key(b"m" + bytes(18))


# -- Spark mounter -----------------------------------------------------------

def test_mount_binary_rows_roundtrip(spark, sf_dir):
    from ticdc_spark.sources.binary_mount import (
        mount_binary_rows,
        synthesize_binary_changelog,
    )
    from ticdc_spark.sources.changelog import flat_changelog

    cl = flat_changelog(spark, sf_dir)
    raw = synthesize_binary_changelog(cl)
    # delete events carry only old_value; inserts only value (mounter
    # dispatch contract)
    sample = raw.limit(0)  # schema probe
    assert set(sample.columns) >= {"key", "value", "old_value"}
    mounted = mount_binary_rows(raw)
    a = cl.select("table_id", "pk", "op", "seq", "after_val", "before_id")
    b = mounted.select("table_id", "pk", "op", "seq", "after_val",
                       "before_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_mount_binary_rows_handles_mixed_formats(spark):
    """Hand-built RawKV rows: one v2 update, one v1 insert, one v2
    delete — op classification and both decoders in one frame."""
    from ticdc_spark.sources.binary_mount import mount_binary_rows

    cols = ({"id": 1, "name": "id", "type": "bigint"},
            {"id": 2, "name": "val", "type": "double"},
            {"id": 3, "name": "k", "type": "bigint"})
    v2_new = encode_row_v2({1: encode_value(10, "bigint"),
                            2: encode_value(1.5, "double"),
                            3: None})
    v2_old = encode_row_v2({1: encode_value(10, "bigint"),
                            2: encode_value(0.5, "double"),
                            3: encode_value(7, "bigint")})
    v1_new = encode_row_v1({1: (_VARINT, 11), 2: (_FLOAT, 2.5),
                            3: (_NIL, None)})
    rows = [
        (encode_record_key(42, 10), v2_new, v2_old, 100, 99, 0),  # U
        (encode_record_key(42, 11), v1_new, b"", 101, 100, 1),    # I (v1)
        (encode_record_key(42, 10), b"", v2_new, 102, 101, 2),    # D
    ]
    raw = spark.createDataFrame(
        rows, "key binary, value binary, old_value binary, "
              "commit_ts long, start_ts long, seq long")
    got = {r["seq"]: r for r in
           mount_binary_rows(raw, cols).orderBy("seq").collect()}
    assert got[0]["op"] == "U" and got[0]["after_val"] == 1.5 \
        and got[0]["before_k"] == 7 and got[0]["after_k"] is None
    assert got[1]["op"] == "I" and got[1]["after_id"] == 11 \
        and got[1]["before_id"] is None
    assert got[2]["op"] == "D" and got[2]["before_val"] == 1.5
    assert all(r["table_id"] == 42 for r in got.values())
    # handles come from the KEY, not the payload
    assert got[2]["pk"] == 10


def test_synthesize_mixes_v1_and_v2(spark, sf_dir):
    from ticdc_spark.sources.binary_mount import synthesize_binary_changelog
    from ticdc_spark.sources.changelog import flat_changelog

    raw = synthesize_binary_changelog(flat_changelog(spark, sf_dir))
    imgs = raw.filter(F.length("value") > 0).select("seq", "value").limit(200)
    kinds = {bool(r["value"][0] == 0x80) for r in imgs.collect()}
    assert kinds == {True, False}  # both formats present


def test_gbk_charset_wire_bytes():
    """The wire carries the COLUMN's charset: '中' is d6d0 in gbk, not
    the utf-8 e4b8ad (`pkg/common/column.go:25-36`; e2e charset_gbk)."""
    enc = encode_value("中文", "string", charset="gbk")
    assert enc == bytes.fromhex("d6d0cec4")
    assert enc != "中文".encode("utf-8")
    assert decode_value(enc, "string", charset="gbk") == "中文"
    # latin1 too (the other non-utf8 charset the reference ships)
    assert encode_value("café", "string", charset="latin-1") == b"caf\xe9"
    assert decode_value(b"caf\xe9", "string", charset="latin-1") == "café"


def test_gbk_column_through_mounter(spark):
    from ticdc_spark.sources.binary_mount import (
        mount_binary_rows,
        synthesize_binary_changelog,
    )

    cols = ({"id": 1, "name": "txt", "type": "string", "charset": "gbk"},)
    src = spark.createDataFrame(
        [(7, 1, "I", 10, 9, 0, None, "汉字编码"),
         (7, 2, "I", 11, 10, 4, None, "第二行")],  # seq%4==0 → v1 path
        "table_id long, pk long, op string, commit_ts long, "
        "start_ts long, seq long, before_txt string, after_txt string")
    raw = synthesize_binary_changelog(src, cols)
    # wire bytes are real gbk (shorter than utf-8 for CJK)
    img = raw.orderBy("seq").limit(1).collect()[0]["value"]
    assert "汉字编码".encode("gbk") in bytes(img)
    got = {r["seq"]: r["after_txt"]
           for r in mount_binary_rows(raw, cols).collect()}
    assert got == {0: "汉字编码", 4: "第二行"}


def test_gbk_strings_through_csv_and_canal_codecs(spark):
    """Downstream leg of charset_gbk: mounted (UTF-8) CJK strings pass
    the csv and canal-json encoders and decode back intact — the
    reference's charset_gbk e2e asserts exactly this consumer view."""
    import json

    from ticdc_spark.codec import encode_canal_json, encode_csv

    cl = spark.createDataFrame(
        [("test", "tp_zh", 1, "I", 100, 99, 0, 1, 1,
          None, {"id": 1, "val": 2.0, "k": None, "txt": "汉字编码"})],
        "schema_name string, table_name string, table_id long, op string, "
        "commit_ts long, start_ts long, seq long, dml_order long, pk long, "
        "before struct<id:long, val:double, k:long, txt:string>, "
        "after struct<id:long, val:double, k:long, txt:string>")
    csv_line = encode_csv(cl).select("value").first()["value"]
    assert "汉字编码" in csv_line
    canal = json.loads(
        encode_canal_json(cl, pk_names=("id",))
        .select("value").first()["value"])
    assert canal["data"][0]["txt"] == "汉字编码"


# -- S4 DDL job fetcher edge cases (ddl_job_fetcher.go / ParseDDLJob) -------

def test_ddl_job_fetcher_rejects_and_decodes(spark):
    from ticdc_spark.codec.rowcodec import (
        _COMPACT_BYTES, _VARINT, encode_record_key, encode_row_v1,
    )
    from ticdc_spark.plans.ddl_job_fetcher import (
        JOB_STATE_DONE, JOB_STATE_RUNNING, JOB_TABLE_ID, RAW_JOB_SCHEMA,
        encode_job_row, fetch_ddl_jobs,
    )
    import json as _json

    def doc(jid, state, q):
        return {"id": jid, "type": 3, "schema_id": 1, "table_id": 5,
                "schema_name": "s", "table_name": "t", "state": state,
                "query": q, "binlog": {"schema_version": 9,
                                       "finished_ts": 0}}

    # v1-format job row (the fetcher must handle both row formats)
    v1_meta = _json.dumps(doc(7, JOB_STATE_DONE, "CREATE TABLE s.t (i INT)"),
                          separators=(",", ":"), sort_keys=True).encode()
    v1_row = encode_row_v1({1: (_VARINT, 7), 2: (_COMPACT_BYTES, v1_meta),
                            3: (_VARINT, 0)})
    frames = [
        # v2 Done job
        (encode_record_key(JOB_TABLE_ID, 1),
         encode_job_row(1, doc(1, JOB_STATE_DONE, "Q1"), False), 100, 99),
        # v1 Done job
        (encode_record_key(JOB_TABLE_ID, 7), v1_row, 110, 109),
        # Running job -> dropped by the state gate
        (encode_record_key(JOB_TABLE_ID, 2),
         encode_job_row(2, doc(2, JOB_STATE_RUNNING, "Q2"), True), 120, 119),
        # delete of a job row (empty value) -> skipped
        (encode_record_key(JOB_TABLE_ID, 3), b"", 130, 129),
        # row in another system table -> rejected by key
        (encode_record_key(JOB_TABLE_ID - 1, 4),
         encode_job_row(4, doc(4, JOB_STATE_DONE, "Q4"), False), 140, 139),
        # garbage key -> skipped, not crashed
        (b"\x00\x01", b"\x80\x00", 150, 149),
    ]
    out = fetch_ddl_jobs(spark.createDataFrame(frames, RAW_JOB_SCHEMA))
    rows = {r["job_id"]: r for r in out.collect()}
    assert set(rows) == {1, 7}
    # entry ts overwrites the document's ts (mounter.go:226-229)
    assert rows[1]["start_ts"] == 99 and rows[1]["finished_ts"] == 100
    assert rows[7]["start_ts"] == 109 and rows[7]["finished_ts"] == 110
    assert rows[7]["schema_version"] == 9


def test_eventstore_key_invariants(spark, sf_dir):
    """format.go contract: hex-key order == (commitTs, startTs,
    DMLOrder, key) order, and every decode round-trips."""
    from pyspark.sql import functions as F

    from ticdc_spark.queries import QUERIES

    df = QUERIES["eventstore_key_codec"](spark, sf_dir)
    assert df.filter(~F.col("roundtrip_ok") | ~F.col("order_ok")).count() == 0


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(st.dictionaries(
        st.integers(min_value=1, max_value=300),
        st.one_of(st.none(), st.binary(max_size=64)),
        min_size=1, max_size=12))
    @settings(max_examples=150, deadline=None)
    def test_row_v2_roundtrip_fuzz(values):
        from ticdc_spark.codec.rowcodec import decode_row_v2, encode_row_v2
        assert decode_row_v2(encode_row_v2(values)) == values
except ImportError:  # pragma: no cover
    pass


def test_decode_image_absent_column_fills_default():
    """`mounter.go:257-264`: a column id missing from the image entirely
    takes the schema default; a null-map entry stays NULL."""
    from ticdc_spark.sources.binary_mount import _decode_image, _encode_image

    enc_cols = ({"id": 1, "name": "a", "type": "bigint"},)
    dec_cols = (
        {"id": 1, "name": "a", "type": "bigint"},
        {"id": 2, "name": "b", "type": "bigint", "default": 7},
        {"id": 3, "name": "c", "type": "bigint"},  # no default -> None
    )
    for use_v1 in (False, True):
        img = _encode_image({"a": 5}, enc_cols, use_v1)
        out = _decode_image(img, dec_cols)
        assert out == {"a": 5, "b": 7, "c": None}
        # explicit NULL for a present id beats the default
        img2 = _encode_image({"a": None, "b": None},
                             ({"id": 1, "name": "a", "type": "bigint"},
                              {"id": 2, "name": "b", "type": "bigint"}),
                             use_v1)
        out2 = _decode_image(img2, dec_cols)
        assert out2["a"] is None and out2["b"] is None


# --- binary JSON (`pkg/types/json_binary.go` grammar) ---------------------

def test_json_scalar_goldens():
    assert json_to_binary(None) == b"\x04\x00"
    assert json_to_binary(True) == b"\x04\x01"
    assert json_to_binary(False) == b"\x04\x02"
    assert json_to_binary(5) == b"\x09" + struct.pack("<q", 5)
    assert json_to_binary((1 << 63) + 1) == \
        b"\x0a" + struct.pack("<Q", (1 << 63) + 1)
    assert json_to_binary(2.5) == b"\x0b" + struct.pack("<d", 2.5)
    assert json_to_binary("hi") == b"\x0c\x02hi"


def test_json_array_golden():
    doc = json_to_binary([1, "ab", None])
    # type 0x03 | count=3 | size | entries 5B each | data
    assert doc[0] == 0x03
    count, size = struct.unpack_from("<II", doc, 1)
    assert count == 3
    data_start = 8 + 5 * 3
    # entry 0: int64 at data_start
    assert doc[1 + 8] == 0x09
    assert struct.unpack_from("<I", doc, 1 + 9)[0] == data_start
    # entry 1: string at data_start+8
    assert doc[1 + 13] == 0x0C
    assert struct.unpack_from("<I", doc, 1 + 14)[0] == data_start + 8
    # entry 2: literal nil inlined
    assert doc[1 + 18] == 0x04 and doc[1 + 19] == 0x00
    assert size == len(doc) - 1
    assert binary_to_json(doc) == [1, "ab", None]


def test_json_object_key_order_and_roundtrip():
    obj = {"bb": 1, "a": 2, "ccc": [True, {"k": None}], "z": 0.5}
    doc = json_to_binary(obj)
    assert doc[0] == 0x01
    assert binary_to_json(doc) == obj
    # keys sorted by (length, bytes): a, z, bb, ccc
    count, size = struct.unpack_from("<II", doc, 1)
    assert count == 4 and size == len(doc) - 1
    koff, klen = struct.unpack_from("<IH", doc, 1 + 8)
    assert doc[1 + koff:1 + koff + klen] == b"a"


def test_json_nested_depth_roundtrip():
    obj = {"a": [{"b": [1, [2, [3, "deep"]]]}], "n": None}
    assert binary_to_json(json_to_binary(obj)) == obj


def test_render_json():
    assert render_json({"bb": [1, None], "a": True}) == \
        '{"a": true, "bb": [1, null]}'


# --- JSON column values (TiDB binary JSON through both row formats) ---------

def test_json_value_v2_roundtrip():
    from ticdc_spark.codec.binary_json import json_to_binary
    from ticdc_spark.codec.rowcodec import (
        decode_row_v2,
        decode_value,
        encode_row_v2,
        encode_value,
    )

    text = '{"a": 1, "b": [true, null], "cc": "x"}'
    wire = encode_value(text, "json")
    assert wire == json_to_binary({"a": 1, "b": [True, None], "cc": "x"})
    row = encode_row_v2({1: wire, 2: None})
    raw = decode_row_v2(row)
    assert decode_value(raw[1], "json") == text
    assert raw[2] is None


def test_json_value_v1_datum_list():
    from ticdc_spark.codec.rowcodec import (
        _JSON,
        decode_row_v1,
        decode_value,
        encode_row_v1,
        encode_value,
    )

    text = '[1, 2.5, "s", {"k": null}]'
    doc = encode_value(text, "json")
    row = encode_row_v1({1: (_JSON, doc), 2: (_JSON, encode_value("42", "json"))})
    raw = decode_row_v1(row)
    assert raw[1] == (_JSON, doc)
    assert decode_value(raw[1][1], "json") == text
    assert decode_value(raw[2][1], "json") == "42"


def test_vector_float32_value_codec():
    """TiDB VectorFloat32: u32 LE count + f32 LE elements; canonical
    String() text both directions."""
    from ticdc_spark.codec.rowcodec import (decode_value, encode_value,
                                            parse_vector_text, render_vector)

    b = encode_value("[1.5,-2.25,0.125]", "vector")
    assert b.hex() == "03000000" + "0000c03f" + "000010c0" + "0000003e"
    assert decode_value(b, "vector") == "[1.5,-2.25,0.125]"
    assert decode_value(encode_value("[]", "vector"), "vector") == "[]"
    # strconv.FormatFloat(f, 'f', -1, 32) semantics: shortest positional
    # text at f32 precision — 2.0 renders "2", not "2.0"
    assert decode_value(encode_value([0.5, 2.0], "vector"), "vector") == "[0.5,2]"
    # non-dyadic: f32(0.1) must render back as "0.1", not the widened
    # f64 repr 0.10000000149011612 — text round-trip idempotence
    assert decode_value(encode_value("[0.1,0.3]", "vector"), "vector") == "[0.1,0.3]"
    assert render_vector([0.1]) == "[0.1]"
    assert parse_vector_text("[1.5, -2.0]") == [1.5, -2.0]
    assert render_vector([]) == "[]"


def test_vector_v1_datum_flag():
    from ticdc_spark.codec.rowcodec import (_VECTOR, decode_row_v1,
                                            encode_row_v1, encode_value)

    v = encode_value([9.5, -0.25], "vector")
    raw = encode_row_v1({2: (_VECTOR, v), 1: (8, 7)})
    out = decode_row_v1(raw)
    assert out[2] == (_VECTOR, v)
    assert out[1][1] == 7

"""The Arrow row boundary (`functions/arrow_rows.py`) extracts exactly.

A nullable ``bigint`` next to a NULL must stay ``int``: a pandas
conversion makes the column ``float64``, so ``2**60 + 1`` came back as
``2**60``. A NULL struct parent must null its fields. The golden frame
puts ``k = 2**60 + 1`` next to a NULL ``k`` and an insert with a NULL
``before``, then runs it through every binary encoder that reads the
boundary and decodes exactly, and through a live Kafka produce, whose
flush summary must carry the exact commit-ts range.  The live sinks
run on the boundary alone: no sink module or preloaded worker module
imports pandas.
"""

from __future__ import annotations

import os
import pkgutil
import subprocess
import sys

import pyarrow as pa

from ticdc_spark.codec.avro_protocol import (
    decode_avro_binary,
    decode_message,
    encode_avro_binary,
    encode_avro_binary_df,
    encode_row_key,
    encode_row_value,
    struct_columns,
)
from ticdc_spark.codec.schema_registry import ConfluentSchemaManager
from ticdc_spark.codec.simple_avro import (
    compile_dml_decoder,
    compile_dml_encoder,
    decode_simple_avro_dml,
    encode_simple_avro_dml,
    encode_simple_avro_values,
)
from ticdc_spark.functions.arrow_rows import map_batches, pylist
from ticdc_spark.sinks.writer import RetryPolicy, TaskWriter

BIG = 2**60 + 1
FIELDS = ["id", "val", "k"]
TYPES = {"id": "long", "val": "double", "k": "long"}

# (seq, op, commit_ts, before, after) — images are (id, val, k)
ROWS = [
    (0, "I", 1 << 50, None, (1, 0.5, BIG)),
    (1, "I", (1 << 50) + 1, None, (2, None, None)),
    (2, "U", (1 << 50) + 2, (3, 1.5, None), (3, 2.5, BIG + 2)),
    (3, "D", (1 << 50) + 3, (BIG, 3.5, BIG + 4), None),
]


def _events(spark):
    img = "struct<id:bigint,val:double,k:bigint>"
    return spark.createDataFrame(
        [(seq, "db", "t", op, cts, b, a) for seq, op, cts, b, a in ROWS],
        f"seq long, schema_name string, table_name string, op string, "
        f"commit_ts long, before {img}, after {img}").coalesce(1)


def _flat(spark):
    rows = [(seq, op, cts, "db", "t", *(b or (None,) * 3),
             *(a or (None,) * 3)) for seq, op, cts, b, a in ROWS]
    cols = ", ".join(f"{img}_{f} {'double' if f == 'val' else 'bigint'}"
                     for img in ("before", "after") for f in FIELDS)
    return spark.createDataFrame(
        rows, "seq long, op string, commit_ts long, schema_name string, "
        "table_name string, " + cols).coalesce(1)


def _row(img):
    return dict(zip(FIELDS, img or (None,) * 3))


def test_pylist_fixed_width_string_binary():
    cases = [
        (pa.array([BIG, None, -1], pa.int64()), [BIG, None, -1]),
        (pa.array([None, 0.1, -2.5], pa.float64()), [None, 0.1, -2.5]),
        (pa.array([True, None, False], pa.bool_()), [True, None, False]),
        (pa.array(["a", None, "中"], pa.string()), ["a", None, "中"]),
        (pa.array([b"\x00", None, b""], pa.binary()), [b"\x00", None, b""]),
        (pa.array([1, 2], pa.int32()), [1, 2]),
    ]
    for arr, want in cases:
        got = pylist(arr)
        assert got == want, arr.type
        assert [type(v) for v in got] == [type(v) for v in want], arr.type


def test_pylist_null_struct_parent_nulls_fields():
    child = pa.array([7, 8, BIG], pa.int64())
    name = pa.array(["x", "y", "z"])
    arr = pa.StructArray.from_arrays(
        [child, name], names=["k", "s"],
        mask=pa.array([False, True, False]))
    assert pylist(arr) == {"k": [7, None, BIG], "s": ["x", None, "z"]}
    # a slice keeps the parent's NULL positions
    assert pylist(arr.slice(1)) == {"k": [None, BIG], "s": [None, "z"]}


def test_encode_avro_binary_df_exact(spark):
    cl = _events(spark)
    cols = struct_columns(cl.schema["after"].dataType)
    for ext in (True, False):
        enc = encode_avro_binary_df(cl, tidb_extension=ext,
                                    avro_enable_watermark=True)
        kmgr = ConfluentSchemaManager.in_memory()
        vmgr = ConfluentSchemaManager.in_memory()
        got = enc.orderBy("seq").select("key", "value").collect()
        for (_seq, op, cts, before, after), r in zip(ROWS, got):
            key_img = before if op == "D" else after
            # the driver-side encode of the exact values is the expected
            # wire; the registries assign ids in the same order
            assert r["key"] == encode_row_key(
                kmgr, "db.t", "db", "t", _row(key_img), cols)
            assert r["value"] == encode_row_value(
                vmgr, "db.t", "db", "t", _row(after), op, cts, cols,
                tidb_extension=ext, avro_enable_watermark=True)
            assert decode_message(kmgr, "db.t-key", r["key"]) == \
                {"id": key_img[0]}
            if op != "D":
                dec = decode_message(vmgr, "db.t-value", r["value"])
                assert [dec[f] for f in FIELDS] == list(after)


def test_encode_simple_avro_values_exact(spark):
    enc = compile_dml_encoder(FIELDS, TYPES)
    dec = compile_dml_decoder(FIELDS, TYPES)
    got = encode_simple_avro_values(_events(spark)).orderBy("seq") \
        .select("value").collect()
    for (_seq, op, cts, before, after), r in zip(ROWS, got):
        assert r["value"] == enc(op, "db", "t", 0, cts,
                                 list(after or (None,) * 3),
                                 list(before or (None,) * 3))
        _op, img = dec(r["value"])
        assert [img[f] for f in FIELDS] == list(before if op == "D"
                                                 else after)


def test_simple_avro_dml_roundtrip_exact(spark):
    msgs = encode_simple_avro_dml(_flat(spark), FIELDS, TYPES)
    got = decode_simple_avro_dml(msgs, FIELDS, TYPES).orderBy("seq") \
        .collect()
    assert [r["commit_ts"] for r in got] == [cts for _, _, cts, _, _ in ROWS]
    for (_seq, op, _cts, before, after), r in zip(ROWS, got):
        assert [r[f] for f in FIELDS] == list(before if op == "D"
                                               else after)


def test_avro_binary_roundtrip_exact(spark):
    enc = encode_avro_binary(_flat(spark), FIELDS, TYPES, ("id",))
    got = decode_avro_binary(enc, FIELDS, TYPES, ("id",)).orderBy("seq") \
        .collect()
    for (_seq, op, _cts, before, after), r in zip(ROWS, got):
        if op == "D":  # tombstone: the handle key only
            assert (r["id"], r["val"], r["k"]) == (before[0], None, None)
        else:
            assert [r[f] for f in FIELDS] == list(after)


def test_map_batches_builds_exact_columns(spark):
    rows = [(BIG, 7, 0.25, True, "中", b"\x00\xff"),
            (None, None, None, None, None, None),
            (-BIG, -1, -2.5, False, "", b"")]

    def run(batches):
        for _ in batches:
            yield rows

    got = map_batches(
        spark.range(0, 1, 1, 1), run,
        "b long, i int, d double, f boolean, s string, y binary").collect()
    assert [tuple(r) for r in got] == [
        (b, i, d, f, s, None if y is None else bytearray(y))
        for b, i, d, f, s, y in rows]


# one (topic, partition) whose commit_ts holds 2**60 + 1 beside a NULL
_PRODUCED = [("t", 0, "k0", "v0", BIG), ("t", 0, "k1", "v1", None),
             ("t", 0, "k2", "v2", 5)]
_PRODUCED_SCHEMA = ("topic string, partition int, key string, "
                    "value string, commit_ts long")


def test_task_writer_tally_exact():
    batch = pa.RecordBatch.from_pylist(
        [dict(zip(["topic", "partition", "key", "value", "commit_ts"], r))
         for r in _PRODUCED])
    w = TaskWriter(lambda: None, lambda conn, b: None, lambda exc: False,
                   RetryPolicy())
    w.tally({n: pylist(c) for n, c in zip(batch.schema.names,
                                           batch.columns)})
    w.tally({"topic": ["u"], "commit_ts": [None]})
    assert list(w.summary()) == [("t", 3, 5, BIG), ("u", 1, None, None)]
    # a frame without topic or commit_ts: one null-topic row per task
    w = TaskWriter(lambda: None, lambda conn, b: None, lambda exc: False,
                   RetryPolicy())
    w.tally({"path": ["a", "b"]})
    w.tally({"path": []})
    assert list(w.summary()) == [(None, 2, None, None)]


def test_produce_frame_summary_is_exact(spark):
    from ticdc_spark.sinks.kafka_broker import KafkaBroker
    from ticdc_spark.sinks.kafka_live import produce_frame

    frame = spark.createDataFrame(_PRODUCED, _PRODUCED_SCHEMA).coalesce(1)
    with KafkaBroker(default_partitions=1) as b:
        got = produce_frame(frame, b.bootstrap)
    assert [tuple(r) for r in got] == [("t", 3, 5, BIG)]


def test_sinks_and_preload_import_no_pandas():
    import ticdc_spark.sinks as sinks

    root = os.path.dirname(sinks.__file__)
    names = [f"ticdc_spark.sinks.{m.name}"
             for m in pkgutil.iter_modules([root])]
    # a fresh interpreter: this one has imported pandas long ago.  It
    # also runs the boundary both ways (a list<bigint> column with a
    # NULL row and a NULL element too) and a tally, since pyarrow
    # imports pandas on pa.array, pa.scalar and to_numpy
    probe = f"""
import importlib, sys
import pyarrow as pa
from ticdc_spark import worker_daemon
for name in {names!r} + list(worker_daemon.PRELOAD):
    importlib.import_module(name)
from ticdc_spark.functions.arrow_rows import _array, pylist
from ticdc_spark.sinks.writer import RetryPolicy, TaskWriter
w = TaskWriter(None, None, None, RetryPolicy())
w.tally({{"topic": pylist(_array(["t", None], pa.string())),
         "commit_ts": pylist(_array([{BIG}, None], pa.int64()))}})
assert list(w.summary()) == [("t", 1, {BIG}, {BIG}), (None, 1, None, None)]
lists = _array([[1, None, {BIG}], None, []], pa.list_(pa.int64()))
assert pylist(lists) == [[1, None, {BIG}], None, []]
assert pylist(lists.slice(1)) == [None, []]
print(sorted(m for m in sys.modules if m.split(".")[0] == "pandas"))
"""
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True,
        cwd=os.path.dirname(os.path.dirname(root)), check=True)
    assert out.stdout.strip() == "[]", out.stdout
    for name in os.listdir(root):
        if name.endswith(".py"):
            with open(os.path.join(root, name)) as f:
                text = f.read()
            assert "mapInPandas" not in text and "pandas_udf" not in text, \
                name

"""The Arrow row boundary of the per-row Python stages.

The binary wire codecs (avro, debezium-avro, simple with
``encoding-format=avro``, value compression), a few byte-level round
trips and the live sinks' produce, apply and fetch tasks cannot be
written as column algebra, so they run a Python loop over rows. This
module is the only code that turns an Arrow column into Python values
for those loops, and the only code that runs them:

- :func:`pylist` extracts a column exactly. A nullable ``bigint`` stays
  ``int`` next to a NULL (a pandas conversion makes it ``float64``, so
  ``2**60 + 1`` came back as ``2**60``), and a NULL struct nulls its
  fields.
- :func:`map_batches` runs a stage over ``mapInArrow``: rows in, rows
  out, typed by the stage's DDL schema.
- :func:`binary_column` runs a stage as one ``arrow_udf("binary")``
  over one struct argument.

Both directions work on the Arrow buffers: extraction through numpy
over the values, offsets and validity bitmap (several times cheaper than
``to_pylist``), building through ``array`` and ``Array.from_buffers``;
a list column is its offsets over a child column taken the same way.
Neither calls ``pa.array``, ``pa.scalar`` or ``to_numpy``: with pandas
installed, pyarrow imports it on those calls, and a worker that never
runs a pandas UDF should not pay for it.  Other types fall back to
``to_pylist``/``pa.array``, exact too.
"""
from __future__ import annotations

import array
from collections.abc import Callable, Iterable, Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

_T = pa.types
_INT = {8: "b", 16: "h", 32: "i", 64: "q"}  # ``array`` codes by bit width
_FLOAT = {32: "f", 64: "d"}


def _code(t: pa.DataType) -> str | None:
    """The ``array`` type code of a fixed-width number type, else None."""
    if _T.is_signed_integer(t):
        return _INT[t.bit_width]
    if _T.is_unsigned_integer(t):
        return _INT[t.bit_width].upper()
    return _FLOAT.get(t.bit_width) if _T.is_floating(t) else None


def _varwidth(t: pa.DataType) -> str | None:
    """The offset code of a string, binary or list type (but a list of
    structs), else None."""
    if _T.is_list(t) or _T.is_large_list(t):
        return (None if _T.is_struct(t.value_type)
                else "i" if _T.is_list(t) else "q")
    if _T.is_large_string(t) or _T.is_large_binary(t):
        return "q"
    return "i" if _T.is_string(t) or _T.is_binary(t) else None


def _bits(buf: pa.Buffer, offset: int, n: int) -> np.ndarray:
    """Bits ``offset .. offset + n`` of an Arrow bitmap, as bools."""
    return np.unpackbits(np.frombuffer(buf, np.uint8), count=offset + n,
                         bitorder="little")[offset:].view(bool)


def pylist(arr: pa.Array) -> list | dict:
    """Exact Python values of one Arrow column, NULL as ``None``.

    A struct column gives ``{field: values}``, each field extracted the
    same way; a NULL parent nulls every field (``StructArray.flatten``;
    ``StructArray.field`` would show the child's slot instead)."""
    t = arr.type
    if _T.is_struct(t):
        return {f.name: pylist(child) for f, child in zip(t, arr.flatten())}
    n, at, bufs = len(arr), arr.offset, arr.buffers()
    code, offs = _code(t), _varwidth(t)
    if offs is not None:
        o = np.frombuffer(bufs[1], offs, n + 1,
                          at * np.dtype(offs).itemsize).tolist()
        if _T.is_list(t) or _T.is_large_list(t):
            data = pylist(arr.values)  # the offsets index the whole child
        else:
            data = bufs[2].to_pybytes() if bufs[2] is not None else b""
        out = [data[a:b] for a, b in zip(o, o[1:])]
        if _T.is_string(t) or _T.is_large_string(t):
            out = [v.decode() for v in out]
    elif _T.is_boolean(t):
        out = _bits(bufs[1], at, n).tolist()
    elif code is not None:
        out = np.frombuffer(bufs[1], code, n,
                            at * np.dtype(code).itemsize).tolist()
    else:
        return arr.to_pylist()
    if arr.null_count:
        for i in np.flatnonzero(~_bits(bufs[0], at, n)).tolist():
            out[i] = None
    return out


def _array(values: Sequence, t: pa.DataType) -> pa.Array:
    """The Arrow column of ``values`` (``None`` as NULL): the inverse of
    :func:`pylist`.  A value of the wrong type raises, as in ``pa.array``."""
    n = len(values)
    valid = np.fromiter((v is not None for v in values), bool, n)
    nulls = n - int(np.count_nonzero(valid))
    vbuf = (pa.py_buffer(np.packbits(valid, bitorder="little"))
            if nulls else None)
    code, offs = _code(t), _varwidth(t)
    if offs is not None:
        nested = _T.is_list(t) or _T.is_large_list(t)
        cells = [(() if nested else b"") if v is None
                 else v.encode() if isinstance(v, str) else v for v in values]
        ends = np.zeros(n + 1, np.int64)
        np.cumsum(np.fromiter(map(len, cells), np.int64, n), out=ends[1:])
        if ends[-1] >= 2**31 and offs == "i":  # past 32-bit offsets
            return pa.array(values, t)
        offsets = pa.py_buffer(ends.astype(offs))
        if nested:  # the child column holds every element, in order
            return pa.Array.from_buffers(
                t, n, [vbuf, offsets], nulls, children=[_array(
                    [x for c in cells for x in c], t.value_type)])
        data = [offsets, pa.py_buffer(b"".join(cells))]
    elif _T.is_boolean(t):
        data = [pa.py_buffer(np.packbits(
            np.fromiter((bool(v) for v in values), bool, n),
            bitorder="little"))]
    elif code is not None:
        data = [pa.py_buffer(array.array(
            code, [0 if v is None else v for v in values]))]
    else:
        return pa.array(values, t)
    return pa.Array.from_buffers(t, n, [vbuf, *data], nulls)


def map_batches(df: DataFrame,
                fn: Callable[[Iterator[dict]], Iterable[list]],
                schema: str | StructType) -> DataFrame:
    """``df.mapInArrow`` over a row stage.

    ``fn`` receives the partition's batches, each as
    ``{column: values}`` (:func:`pylist`), and yields one list of row
    tuples per output batch, in ``schema``'s column order. ``schema``
    (DDL or ``StructType``) is converted to Arrow once, here."""
    struct = (schema if isinstance(schema, StructType)
              else StructType.fromDDL(schema))
    arrow = to_arrow_schema(struct)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cols = ({n: pylist(c) for n, c in zip(b.schema.names, b.columns)}
                for b in batches)
        for rows in fn(cols):
            by_col = list(zip(*rows)) if rows else [()] * len(arrow)
            yield pa.RecordBatch.from_arrays(
                [_array(v, f.type) for v, f in zip(by_col, arrow)],
                schema=arrow)

    return df.mapInArrow(run, struct)


def binary_column(fn: Callable[[dict], list], *cols) -> Column:
    """One binary column computed per batch: ``fn`` receives
    ``{field: values}`` over ``F.struct(*cols)`` (so each column needs
    a name) and returns one ``bytes`` or ``None`` per row."""
    def run(arr):  # unhinted: arrow_udf defaults to the scalar form
        return _array(fn(pylist(arr)), pa.binary())

    return F.arrow_udf(run, "binary")(F.struct(*cols))

"""The Arrow row boundary of the per-row Python stages.

The binary wire codecs (avro, debezium-avro, simple with
``encoding-format=avro``, value compression) and a few byte-level round
trips cannot be written as column algebra, so they run a Python loop
over rows. This module is the only code that turns an Arrow column into
Python values for those loops, and the only code that runs them:

- :func:`pylist` extracts a column exactly. A nullable ``bigint`` stays
  ``int`` next to a NULL (a pandas conversion makes it ``float64``, so
  ``2**60 + 1`` came back as ``2**60``), and a NULL struct nulls its
  fields.
- :func:`map_batches` runs a stage over ``mapInArrow``: rows in, rows
  out, typed by the stage's DDL schema.
- :func:`binary_column` runs a stage as one ``arrow_udf("binary")``
  over one struct argument.

Extraction stays columnar: fixed-width types go through numpy with the
NULL positions patched in, strings and binary through
``to_numpy(zero_copy_only=False)``. Both are several times cheaper than
``to_pylist`` or a ``pd.isna`` loop; other types fall back to
``to_pylist``, which is exact too.
"""
from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

_T = pa.types


def pylist(arr: pa.Array) -> list | dict:
    """Exact Python values of one Arrow column, NULL as ``None``.

    A struct column gives ``{field: values}``, each field extracted the
    same way; a NULL parent nulls every field (``StructArray.flatten``;
    ``StructArray.field`` would show the child's slot instead)."""
    t = arr.type
    if _T.is_struct(t):
        return {f.name: pylist(child) for f, child in zip(t, arr.flatten())}
    if (_T.is_string(t) or _T.is_large_string(t) or _T.is_binary(t)
            or _T.is_large_binary(t)):
        return arr.to_numpy(zero_copy_only=False).tolist()
    if not (_T.is_integer(t) or _T.is_floating(t) or _T.is_boolean(t)):
        return arr.to_pylist()
    out = arr.fill_null(pa.scalar(0).cast(t)) \
        .to_numpy(zero_copy_only=False).tolist()
    for i in arr.is_null().to_numpy(zero_copy_only=False).nonzero()[0]:
        out[i] = None
    return out


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
                [pa.array(v, f.type) for v, f in zip(by_col, arrow)],
                schema=arrow)

    return df.mapInArrow(run, struct)


def binary_column(fn: Callable[[dict], list], *cols) -> Column:
    """One binary column computed per batch: ``fn`` receives
    ``{field: values}`` over ``F.struct(*cols)`` (so each column needs
    a name) and returns one ``bytes`` or ``None`` per row."""
    def run(arr):  # unhinted: arrow_udf defaults to the scalar form
        return pa.array(fn(pylist(arr)), pa.binary())

    return F.arrow_udf(run, "binary")(F.struct(*cols))

"""K6 — redo (consistency WAL): writer file layout, meta aggregation, and
the applier's crash-consistent replay (SURVEY §2.11 K6).

Reference behavior being re-expressed:

- **Writer file naming** `pkg/redo/config.go:272-282`: V1 layout
  ``captureID_changefeedID_fileType_maxEventCommitTs_uuid.log``; meta files
  ``captureID_keyspace_changefeedID_meta_uuid.meta``. Rotation renames
  ``commitTs.log.tmp`` → ``maxCommitTS.log`` on safe close
  (`pkg/redo/writer/file/file.go:426,455-471`), so a finished file's name
  carries the max event commit-ts it contains.
- **Meta aggregation** `pkg/redo/common/redo_meta.go:40-50` (``ParseMeta``):
  across meta files, checkpointTs and resolvedTs are each the max.
- **Reader ts window** `pkg/redo/reader/reader.go:205-215`: replay keeps
  events with ``startTs < commitTs <= endTs`` i.e. (checkpointTs,
  resolvedTs].
- **Applier DDL merge** `pkg/applier/redo.go:180-212` (``shouldApplyDDL``):
  a DDL applies only once every row with ``commitTs <= ddl.commitTs`` has
  been applied — DML before DDL at equal ts (same tiebreak as the event
  scanner, `pkg/eventservice/event_scanner.go:74-96`).
- **Applier update splitter** `pkg/applier/splitter.go:31-57`: an update
  that changes the handle key becomes DELETE + *deferred* INSERT — the
  insert is emitted after all delete/update events of the same
  transaction (commit_ts group), so replay can never observe a duplicate
  key within the txn.

The reference encodes records as msgpack with a 2-byte version prefix
(`pkg/redo/codec/codec.go:37-85`); byte-level parity is meaningless for a
Spark engine, so records render as deterministic JSON with the same field
content (single-row ``columns``/``preColumns`` arrays, canal-style scalar
rendering). The random file uuid is replaced by a content-derived md5
fragment (determinism — same stance as every pinned ``ts`` field).

Scale notes: file assignment is windowed per (schema, table) — the
new-arch reference runs one redo writer per dispatcher (table span), so
the per-table stream IS the file stream, and the Spark window stays
partitioned (no global single-partition row_number at 100 TB). The meta
is a 2-value global aggregate (partial-agg, no shuffle of data rows), and
the replay window bound rides a broadcast cross-join of that 1-row
aggregate — no driver collect in the plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ticdc_spark.functions.render import json_image, json_object, json_str


def _uuid8(*cols: Column) -> Column:
    """Deterministic stand-in for the writer's random file uuid
    (`file.go:463` uuidGenerator.NewString): 8 hex chars of md5 over the
    identifying content. md5 is engine-portable (F.hash is not)."""
    return F.substring(F.md5(F.concat_ws("_", *cols)), 1, 8)


def redo_log_files(
    cl: DataFrame,
    capture_id: str = "cp",
    changefeed_id: str = "cf",
    rows_per_file: int = 4096,
) -> DataFrame:
    """Assign every changelog row its redo log file (V1 naming) and render
    the record JSON. Rotation is modeled as fixed rows-per-file within the
    per-(schema, table) writer stream, in (commit_ts, seq) order — the
    name carries the file's max commit_ts exactly like the safe-close
    rename (`file.go:426`)."""
    w = Window.partitionBy("schema_name", "table_name").orderBy("commit_ts", "seq")
    file_seq = ((F.row_number().over(w) - 1) / rows_per_file).cast("long")
    out = cl.withColumn("_file_seq", file_seq)
    wf = Window.partitionBy("schema_name", "table_name", "_file_seq")
    max_commit = F.max("commit_ts").over(wf)
    file_name = F.concat_ws(
        "_",
        F.lit(capture_id),
        F.lit(changefeed_id),
        F.lit("row"),
        max_commit.cast("string"),
        F.concat(
            _uuid8(F.col("schema_name"), F.col("table_name"),
                   F.col("_file_seq").cast("string")),
            F.lit(".log"),
        ),
    )
    img_schema = cl.schema["after"].dataType
    record = json_object([("type", "row"), ("row", json_object([
        ("startTs", F.col("start_ts").cast("string")),
        ("commitTs", F.col("commit_ts").cast("string")),
        ("schema", json_str(F.col("schema_name"))),
        ("table", json_str(F.col("table_name"))),
        ("columns", json_image(F.col("after"), img_schema, array=True)),
        ("preColumns", json_image(F.col("before"), img_schema, array=True)),
    ]))])
    return out.withColumn("file_name", file_name).withColumn("value", record)


def redo_meta(
    cl: DataFrame,
    checkpoint_ts: int,
    capture_id: str = "cp",
    keyspace: str = "ks",
    changefeed_id: str = "cf",
) -> DataFrame:
    """One meta row per flush: resolvedTs = max commit_ts seen (the
    watermark the writer flushed through), checkpointTs as bookkept by the
    maintainer. File name per RedoMetaFileFormat (`config.go:279-281`)."""
    m = cl.agg(F.max("commit_ts").alias("resolved_ts"))
    return m.select(
        F.lit(checkpoint_ts).cast("long").alias("checkpoint_ts"),
        "resolved_ts",
        F.concat_ws(
            "_",
            F.lit(capture_id),
            F.lit(keyspace),
            F.lit(changefeed_id),
            F.lit("meta"),
            F.concat(_uuid8(F.col("resolved_ts").cast("string")), F.lit(".meta")),
        ).alias("file_name"),
    )


def quartile_bounds(cl: DataFrame) -> DataFrame:
    """(checkpoint_ts, resolved_ts) = 25% / 75% points of the commit-ts
    span — the deterministic stand-in for ReadMeta in the oracle-checked
    replay queries (integer arithmetic, portable). 1-row aggregate."""
    b = cl.agg(F.min("commit_ts").alias("_lo"), F.max("commit_ts").alias("_hi"))
    return b.select(
        F.expr("_lo + (_hi - _lo) div 4").alias("checkpoint_ts"),
        F.expr("_lo + 3 * ((_hi - _lo) div 4)").alias("resolved_ts"),
    )


def redo_window(df: DataFrame, bounds: DataFrame) -> DataFrame:
    """Reader replay filter (`reader.go:205-215`): keep
    checkpoint_ts < commit_ts <= resolved_ts. ``bounds`` is a 1-row frame
    — broadcast cross-join, predicate stays in the scan stage."""
    return df.crossJoin(F.broadcast(bounds)).filter(
        (F.col("commit_ts") > F.col("checkpoint_ts"))
        & (F.col("commit_ts") <= F.col("resolved_ts"))
    ).drop("checkpoint_ts", "resolved_ts")


def split_updates_deferred(
    cl: DataFrame, key_fields: tuple[str, ...] = ("id",)
) -> DataFrame:
    """Applier-side update split (`pkg/applier/splitter.go:31-57`): a
    handle-key-changing update → DELETE (in place) + INSERT *deferred to
    the end of its transaction*. ``split_phase`` carries the deferral: 0
    for every in-place event and the split DELETE, 1 for the split-born
    INSERT; the apply order sorts phase within the txn's commit_ts group.

    Same single-explode narrow-map shape as operators.update_split (no
    shuffle, whole-stage codegen)."""
    import functools
    import operator as _op

    key_changed = functools.reduce(
        _op.or_,
        [F.col(f"before.{f}") != F.col(f"after.{f}") for f in key_fields],
    )
    needs_split = (
        (F.col("op") == "U")
        & F.col("before").isNotNull()
        & F.col("after").isNotNull()
        & key_changed
    )

    def piece(op: str, dml_order: int, phase: int, before, after):
        return F.struct(
            F.lit(op).alias("op"),
            F.lit(dml_order).alias("dml_order"),
            F.lit(phase).alias("split_phase"),
            before.alias("before"),
            after.alias("after"),
        )

    null_img = F.lit(None).cast(cl.schema["before"].dataType)
    pieces = F.when(
        needs_split,
        F.array(
            piece("D", 1, 0, F.col("before"), null_img),
            piece("I", 3, 1, null_img, F.col("after")),
        ),
    ).otherwise(
        F.array(
            F.struct(
                F.col("op").alias("op"),
                F.col("dml_order").alias("dml_order"),
                F.lit(0).alias("split_phase"),
                F.col("before").alias("before"),
                F.col("after").alias("after"),
            )
        )
    )
    exploded = cl.withColumn("_piece", F.explode(pieces))
    return exploded.select(
        "schema_name", "table_name", "table_id",
        F.col("_piece.op").alias("op"),
        "commit_ts", "start_ts", "seq",
        F.col("_piece.dml_order").alias("dml_order"),
        F.col("_piece.split_phase").alias("split_phase"),
        "pk",
        F.col("_piece.before").alias("before"),
        F.col("_piece.after").alias("after"),
    )


def redo_apply_stream(rows: DataFrame, ddl: DataFrame) -> DataFrame:
    """The applier's total apply order per table (`redo.go:180-212`):
    rows and DDLs merged on commit_ts with DML first at ties; within a
    txn, split-born inserts deferred (split_phase), then dml_order
    (delete < update < insert), then seq. Emits ``apply_rank``.

    ``rows`` must already be window-filtered and deferred-split;
    ``ddl`` window-filtered with (schema_name, table_name, commit_ts,
    seq, query)."""
    r = rows.select(
        "schema_name", "table_name", "commit_ts", "seq",
        F.lit(0).alias("is_ddl"), "op", "split_phase", "dml_order",
    )
    d = ddl.select(
        "schema_name", "table_name", "commit_ts", "seq",
        F.lit(1).alias("is_ddl"), F.lit("DDL").alias("op"),
        F.lit(0).alias("split_phase"), F.lit(0).alias("dml_order"),
    )
    merged = r.unionByName(d)
    w = Window.partitionBy("schema_name", "table_name").orderBy(
        "commit_ts", "is_ddl", "split_phase", "dml_order", "seq"
    )
    return merged.select(
        "schema_name", "table_name", "commit_ts", "seq", "is_ddl", "op",
        "split_phase",
        F.row_number().over(w).cast("long").alias("apply_rank"),
    )

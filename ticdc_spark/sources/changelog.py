"""Changelog source (SURVEY §2.1 S1/S6/S7).

The reference's raw source is a TiKV gRPC change-log subscription
(`logservice/logpuller/subscription_client.go`) whose entries are mounted
(`pkg/common/event/mounter.go:44-151`) into row-change events with
``before``/``after`` images (`pkg/common/event/row_change.go:24-51`:
delete = before only, insert = after only, update = both).

Here the source is the driver's deterministic ``events`` parquet table
(TESTDATA.md), mounted into the engine-facing changelog shape of
FIXTURES.md §1. The derivation is pure column algebra — it is expressed
once in DataFrame API (Spark side) and once as a SQL CTE (DuckDB oracle
side, ``CHANGELOG_SQL``); both must stay in lockstep.

Derivation spec (deterministic, engine-portable):

- ``op``:       error → D, click/purchase → U, signup/view → I
- ``table_name``: ``'tp_' || event_type``; ``schema_name`` = 'test'
- ``table_id``: alphabetical rank of event_type (click=1 … view=5)
- ``commit_ts``: epoch microseconds of ``ts``  (unique at every SF — the
  total order key, mirroring TiCDC's CommitTs)
- ``start_ts``: ``commit_ts - (event_id % 997) - 1``
- ``seq``:      ``event_id`` (row sequence within txn)
- ``dml_order``: D=1, U=2, I=3 (`logservice/eventstore/format.go:17-25`)
- ``pk``:       ``user_id`` (handle key)
- payload:      ``val`` (events.value), ``k`` (props JSON field ``k``)
  - after image  present for I/U: id = pk + pk_shift, val = value, k
  - before image present for U/D: id = pk, val = value + 1.0 (fake
    deterministic pre-image), k
  - ``pk_shift`` = 1000 when op='U' and event_id % 10 == 0 — models a
    handle-key-changing update (exercises update-split,
    `pkg/common/kv_entry.go:107-131`)

At 100 TB the source would be ``readStream.format("kafka"/"parquet")``
with the same mount expressions; all derivation is JVM-side column
algebra inside whole-stage codegen (no Python on the hot path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Event-type → (op, table_id). Alphabetical ids.
_EVENT_MAP = {
    "click": ("U", 1),
    "error": ("D", 2),
    "purchase": ("U", 3),
    "signup": ("I", 4),
    "view": ("I", 5),
}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan — Catalyst pushes filters/projections into the scan.

    Timestamp columns differ across testdata generations: TIMESTAMP(NANOS)
    parquet only reads under the legacy flag (surfacing as LongType nanos),
    TIMESTAMP(MICROS) surfaces as TimestampNTZ. Set the flag here so the
    engine works inside any caller-provided session (the driver's
    included), and interpret columns via the dtype-aware ``epoch_us``.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # TZ-sensitive renderings (storage path dates) must agree with the
    # DuckDB oracle's naive-UTC timestamps regardless of the caller's
    # session default.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def micros(col_name: str) -> "F.Column":
    """Nanosecond-long column → epoch microseconds (matches DuckDB's
    truncating read of TIMESTAMP(NANOS) + ``epoch_us``)."""
    return F.expr(f"{col_name} div 1000")


def as_timestamp(col_name: str):
    """Nanosecond-long column → TimestampType (micros precision)."""
    return F.timestamp_micros(F.expr(f"{col_name} div 1000"))


def epoch_us(df: DataFrame, col_name: str):
    """Epoch-microseconds from a timestamp column regardless of how the
    parquet stored it: TIMESTAMP(NANOS) arrives as LongType nanos (the
    legacy flag), TIMESTAMP(MICROS) as TimestampNTZ. Matches DuckDB's
    ``epoch_us`` for both (session TZ is UTC)."""
    from pyspark.sql.types import LongType

    dtype = df.schema[col_name].dataType
    if isinstance(dtype, LongType):
        return F.expr(f"{col_name} div 1000")
    return F.unix_micros(F.col(col_name).cast("timestamp"))


def _mount(events: DataFrame) -> DataFrame:
    """Mount raw events into the changelog shape (S7 mounter analog)."""
    op = (
        F.when(F.col("event_type") == "error", F.lit("D"))
        .when(F.col("event_type").isin("click", "purchase"), F.lit("U"))
        .otherwise(F.lit("I"))
    )
    table_id = (
        F.when(F.col("event_type") == "click", F.lit(1))
        .when(F.col("event_type") == "error", F.lit(2))
        .when(F.col("event_type") == "purchase", F.lit(3))
        .when(F.col("event_type") == "signup", F.lit(4))
        .otherwise(F.lit(5))
    ).cast("long")
    commit_ts = epoch_us(events, "ts")  # dtype-aware: nanos-long or timestamp
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    pk_shift = F.when(
        (op == "U") & (F.col("event_id") % 10 == 0), F.lit(1000)
    ).otherwise(F.lit(0)).cast("long")

    df = events.select(
        F.lit("test").alias("schema_name"),
        F.concat(F.lit("tp_"), F.col("event_type")).alias("table_name"),
        table_id.alias("table_id"),
        op.alias("op"),
        commit_ts.alias("commit_ts"),
        (commit_ts - (F.col("event_id") % 997) - 1).alias("start_ts"),
        F.col("event_id").cast("long").alias("seq"),
        F.when(op == "D", 1).when(op == "U", 2).otherwise(3).alias("dml_order"),
        F.col("user_id").cast("long").alias("pk"),
        F.when(
            op.isin("U", "D"),
            F.struct(
                F.col("user_id").cast("long").alias("id"),
                (F.col("value") + F.lit(1.0)).alias("val"),
                k.alias("k"),
            ),
        ).alias("before"),
        F.when(
            op.isin("I", "U"),
            F.struct(
                (F.col("user_id") + pk_shift).cast("long").alias("id"),
                F.col("value").alias("val"),
                k.alias("k"),
            ),
        ).alias("after"),
    )
    return df


def events_changelog(
    spark: SparkSession, sf_dir: str, parallel: bool = False
) -> DataFrame:
    """Batch changelog: the engine's canonical input DataFrame.

    ``parallel=True`` round-robins the RAW scan across cores BEFORE the
    mount projection, so the per-row decode (JSON props parse, struct
    build) parallelizes too — for per-row-heavy consumers of the
    single-row-group testdata (see ``scale_out``; a real multi-split
    scan makes this a no-op choice)."""
    raw = read_table(spark, sf_dir, "events")
    if parallel:
        raw = scale_out(raw)
    return _mount(raw)


def scale_out(df: DataFrame) -> DataFrame:
    """Rebalance a narrow single-split input across cores before per-row
    heavy stages (encoders, hashing). The testdata parquet has ONE row
    group, so scans are single-task; one cheap round-robin shuffle
    unlocks full parallelism. On a real multi-split 100 TB scan this is
    dropped (the scan already parallelizes) — keep it after filters so
    pushdown still reaches the scan."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def stream_changelog(spark: SparkSession, sf_dir: str,
                     max_bytes_per_trigger: int) -> DataFrame:
    """Streaming changelog over the same parquet (availableNow-compatible).

    Mirrors the reference's log subscription (S1): a readStream that feeds
    the identical mount expressions — the batch and stream plans share all
    operator code downstream.

    ``max_bytes_per_trigger`` bounds what one epoch admits (the
    changefeed's ``memory-quota``), so a backlog drains in as few epochs
    as the bound allows.  It counts on-disk (compressed parquet) file
    bytes, not decoded rows; an epoch always admits at least one file,
    then adds files while the running total stays within the bound —
    a bound of 1 makes every file its own epoch.
    """
    schema = read_table(spark, sf_dir, "events").schema
    raw = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxBytesPerTrigger", max_bytes_per_trigger)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return _mount(raw)


# ---------------------------------------------------------------------------
# DuckDB oracle side of the identical derivation. Any change above MUST be
# mirrored here. Used as a CTE prelude by every oracle SQL in queries.py.
# ---------------------------------------------------------------------------
CHANGELOG_SQL = """
changelog AS (
    SELECT
        'test' AS schema_name,
        'tp_' || event_type AS table_name,
        CAST(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
             WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4 ELSE 5 END AS BIGINT) AS table_id,
        CASE WHEN event_type = 'error' THEN 'D'
             WHEN event_type IN ('click', 'purchase') THEN 'U'
             ELSE 'I' END AS op,
        epoch_us(ts) AS commit_ts,
        epoch_us(ts) - (event_id % 997) - 1 AS start_ts,
        CAST(event_id AS BIGINT) AS seq,
        CASE WHEN event_type = 'error' THEN 1
             WHEN event_type IN ('click', 'purchase') THEN 2
             ELSE 3 END AS dml_order,
        CAST(user_id AS BIGINT) AS pk,
        CASE WHEN event_type IN ('click', 'purchase', 'error')
             THEN CAST(user_id AS BIGINT) END AS before_id,
        CASE WHEN event_type IN ('click', 'purchase', 'error')
             THEN value + 1.0 END AS before_val,
        CASE WHEN event_type IN ('click', 'purchase', 'error')
             THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS before_k,
        CASE WHEN event_type <> 'error'
             THEN CAST(user_id AS BIGINT)
                  + CASE WHEN event_type IN ('click', 'purchase') AND event_id % 10 = 0
                         THEN 1000 ELSE 0 END END AS after_id,
        CASE WHEN event_type <> 'error' THEN value END AS after_val,
        CASE WHEN event_type <> 'error'
             THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS after_k
    FROM events
)
"""


def flat_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog with before/after structs flattened to scalar columns —
    the shape oracle SQL sees (struct columns don't hash portably)."""
    cl = events_changelog(spark, sf_dir)
    return cl.select(
        "schema_name", "table_name", "table_id", "op", "commit_ts",
        "start_ts", "seq", "dml_order", "pk",
        F.col("before.id").alias("before_id"),
        F.col("before.val").alias("before_val"),
        F.col("before.k").alias("before_k"),
        F.col("after.id").alias("after_id"),
        F.col("after.val").alias("after_val"),
        F.col("after.k").alias("after_k"),
    )

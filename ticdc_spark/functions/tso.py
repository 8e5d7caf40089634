"""PD TSO (timestamp-oracle) arithmetic as Catalyst columns.

A TiDB commit ts is a PD TSO: ``physical_ms << 18 | logical`` — 46 bits
of wall-clock milliseconds and an 18-bit logical counter.  The reference
decomposes TSOs everywhere it reports or compares time:

- checkpoint lag: ``oracle.GetPhysical(pdTime) - oracle.ExtractPhysical
  (checkpointTs)) / 1e3`` seconds (`coordinator/controller.go:343-345`,
  `downstreamadapter/dispatchermanager/dispatcher_manager.go:966-971`);
- syncpoint alignment requires ``oracle.ExtractLogical(startTs) == 0``
  (`downstreamadapter/syncpoint/sync_point.go:32-39`);
- redo metadata gauges export the physical part
  (`downstreamadapter/sink/redo/meta.go:410-411`).

All pure integer bit algebra — `shiftleft`/`shiftright`/`&` stay inside
whole-stage codegen, and the identical operators exist in ANSI SQL for
the DuckDB oracle, so every derived column is hash-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TSO_LOGICAL_BITS = 18
TSO_LOGICAL_MASK = (1 << TSO_LOGICAL_BITS) - 1  # 262143


def compose_tso(physical_ms: Column, logical: Column) -> Column:
    """``physical_ms << 18 | logical`` (tikv oracle.ComposeTS).

    Addition is used instead of bitwise-or: for ``logical < 2^18`` the
    two are identical, and ``+`` keeps the expression portable to
    engines without a 64-bit ``|``.
    """
    return F.shiftleft(physical_ms, TSO_LOGICAL_BITS) + logical


def tso_physical_ms(tso: Column) -> Column:
    """Wall-clock milliseconds (oracle.ExtractPhysical)."""
    return F.shiftright(tso, TSO_LOGICAL_BITS)


def tso_logical(tso: Column) -> Column:
    """18-bit logical counter (oracle.ExtractLogical)."""
    return tso.bitwiseAND(F.lit(TSO_LOGICAL_MASK))


def tso_to_time_str(tso: Column) -> Column:
    """Physical part rendered ``yyyy-MM-dd HH:mm:ss`` UTC
    (oracle.GetTimeFromTS, second precision — session TZ is pinned UTC
    by ``read_table`` so this matches DuckDB's naive ``make_timestamp``
    rendering)."""
    ms = tso_physical_ms(tso)
    return F.date_format(F.timestamp_millis(ms), "yyyy-MM-dd HH:mm:ss")


def checkpoint_lag_ms(now_tso: Column, checkpoint_tso: Column) -> Column:
    """Checkpoint lag in milliseconds between two TSOs — the quantity the
    reference divides by 1e3 for its lag gauges
    (`coordinator/controller.go:343-345`)."""
    return tso_physical_ms(now_tso) - tso_physical_ms(checkpoint_tso)


def tumbling_marks(cl: DataFrame, interval_us: int, *by: str) -> DataFrame:
    """Per tumbling ``interval_us`` window (and ``by`` group) of commit
    ts: ``boundary_ts``, its upper edge, and ``resolved_ts``, its largest
    commit ts — the marks watermark messages are built from."""
    boundary = (F.col("commit_ts") - F.col("commit_ts") % interval_us
                + interval_us)
    return (cl.withColumn("boundary_ts", boundary)
            .groupBy(*by, "boundary_ts")
            .agg(F.max("commit_ts").alias("resolved_ts")))

"""O1/O2 — commit-ts total order with intra-txn tiebreaks.

Reference: the Pebble sorter key layout `(uniqueID, tableID, commitTs,
startTs, DMLOrder, key)` (`logservice/eventstore/format.go:33-56`) yields
per-span commit-ts order with delete<update<insert inside one txn; the
scanner additionally sorts DML before DDL at equal commitTs
(`pkg/eventservice/event_scanner.go:74-96`).

Spark-first: never rely on cross-partition order — order is
(a) a rank COLUMN (window function) when order must be observable to
downstream operators/oracles, or (b) ``repartition(table).
sortWithinPartitions(...)`` when feeding an order-sensitive sink.
At scale (b) is one shuffle keyed by table span; skewed hot tables are
split further by pk-salt (reference's span-splitting, R7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SORT_KEYS = ["commit_ts", "start_ts", "dml_order", "seq"]


def with_sort_keys(cl: DataFrame, partition_keys: list[str] | None = None) -> DataFrame:
    """Attach ``sort_rank`` — position in the per-table replay order."""
    partition_keys = partition_keys or ["table_id"]
    w = Window.partitionBy(*partition_keys).orderBy(*[F.col(k) for k in SORT_KEYS])
    return cl.withColumn("sort_rank", F.row_number().over(w))


def ordered(cl: DataFrame, partition_keys: list[str] | None = None) -> DataFrame:
    """Physically cluster for an ordered sink: shuffle by table, sort inside
    on whichever of ``SORT_KEYS`` the frame carries.  The sort must sit
    AFTER the shuffle: an Exchange concatenates its inputs' sorted runs."""
    partition_keys = partition_keys or ["table_id"]
    keys = [k for k in SORT_KEYS if k in cl.columns]
    clustered = cl.repartition(*partition_keys)
    return clustered.sortWithinPartitions(*keys) if keys else clustered

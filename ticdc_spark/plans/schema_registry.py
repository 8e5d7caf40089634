"""S5/J1 — versioned schema registry + as-of (temporal) schema binding.

Reference: the SchemaStore keeps every historical TableInfo version and
answers ``GetTableInfo(tableID, ts)`` = "largest version ≤ ts"
(`logservice/schemastore/schema_store.go:50-54`, multi-version store
`multi_version.go`); every scanned DML binds to its schema version
(`pkg/eventservice/event_scanner.go:351`), and the storage sink embeds
``tableVersion`` in paths (`dml_event.go:399-403`).

Spark-first: the registry is a small dimension DataFrame
(table_id, version_ts, version, schema_json). A join + filter +
``max_by`` as-of join would shuffle on the fact row's key; since the
registry is small, ``asof_bind_schema`` instead inlines the *sorted
version list* and resolves each row with an array expression
(``filter + array_max``) — zero shuffle, pure map, the 100 TB-safe plan.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Deterministic synthetic registry: every table has three schema versions
# activated at fixed UTC instants (µs). Versions are global constants so
# the DuckDB oracle can embed them as literals.
SCHEMA_VERSIONS: list[tuple[int, int]] = [
    (1, 0),                       # v1 from the epoch
    (2, 1_706_745_600_000_000),   # v2 from 2024-02-01
    (3, 1_711_929_600_000_000),   # v3 from 2024-04-01
]


def schema_registry_df(spark: SparkSession, table_ids: list[int]) -> DataFrame:
    rows = []
    for tid in table_ids:
        for version, vts in SCHEMA_VERSIONS:
            rows.append((
                tid, version, vts,
                json.dumps({"table_id": tid, "version": version,
                            "columns": ["id", "val", "k"]}),
            ))
    return spark.createDataFrame(
        rows, "table_id long, version int, version_ts long, schema_json string"
    )


def asof_bind_schema(cl: DataFrame) -> DataFrame:
    """Attach ``schema_version`` = max version with version_ts <= commit_ts.

    Map-side resolution: the (tiny) version list becomes an array literal
    filtered per row — no join, no shuffle."""
    pairs = sorted(SCHEMA_VERSIONS, key=lambda p: p[1])
    versions = F.array(*[
        F.struct(F.lit(v).alias("version"), F.lit(ts).alias("version_ts"))
        for v, ts in pairs
    ])
    applicable = F.filter(versions, lambda s: s["version_ts"] <= F.col("commit_ts"))
    bound = F.array_max(F.transform(applicable, lambda s: s["version"]))
    return cl.withColumn("schema_version", bound)


"""TSO arithmetic, checkpoint-lag metrics, and the portable HLL
distinct sketch — registered with DuckDB oracles.

These model the reference's observability plane: every lag gauge and
checkpoint metric decomposes PD TSOs (`coordinator/controller.go:343-345`,
`dispatchermanager/dispatcher_manager.go:966-971`), and the sketch is
the at-scale replacement for exact COUNT(DISTINCT) audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ticdc_spark.functions.sketch import (
    hll_cell,
    hll_cell_sql,
    hll_estimate,
    hll_estimate_sql,
)
from ticdc_spark.functions.tso import (
    TSO_LOGICAL_MASK,
    checkpoint_lag_ms,
    compose_tso,
    tso_logical,
    tso_physical_ms,
    tso_to_time_str,
)
from ticdc_spark.queries import register
from ticdc_spark.sources.changelog import (
    CHANGELOG_SQL,
    events_changelog,
    read_table,
)

# Synthetic-but-faithful TSO: the changelog's µs commit_ts provides the
# physical ms, the intra-ms sequence the 18-bit logical counter.
_TSO_SQL = (
    "((commit_ts // 1000) << 18) + CAST(seq & 262143 AS BIGINT)"
)


def _with_tso(cl: DataFrame) -> DataFrame:
    phys = F.expr("commit_ts div 1000")
    logical = F.col("seq").bitwiseAND(F.lit(TSO_LOGICAL_MASK)).cast("long")
    return cl.withColumn("tso", compose_tso(phys, logical))


# ---------------------------------------------------------------------------
# TSO decompose / render (oracle.ExtractPhysical / ExtractLogical /
# GetTimeFromTS)
# ---------------------------------------------------------------------------
_TSO_ORACLE = """
SELECT pk, commit_ts, tso,
       tso >> 18 AS physical_ms,
       CAST(tso & 262143 AS BIGINT) AS logical,
       strftime(make_timestamp(((tso >> 18) // 1000) * 1000000),
                '%Y-%m-%d %H:%M:%S') AS physical_time
FROM (SELECT pk, commit_ts, {tso} AS tso FROM changelog)
""".format(tso=_TSO_SQL)


@register("tso_functions", f"WITH {CHANGELOG_SQL} {_TSO_ORACLE}", bench="plan")
def q_tso(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = _with_tso(events_changelog(spark, sf_dir))
    return cl.select(
        "pk", "commit_ts", "tso",
        tso_physical_ms(F.col("tso")).alias("physical_ms"),
        tso_logical(F.col("tso")).cast("long").alias("logical"),
        tso_to_time_str(F.col("tso")).alias("physical_time"),
    )


# ---------------------------------------------------------------------------
# Checkpoint-lag percentiles per table (the Grafana lag panel):
# lag_ms = physical(now) - physical(commit); discrete percentiles via
# rank selection (integer outputs, engine-portable — no interpolation).
# Per-table window sort = one shuffle on table_name; the "pd now"
# scalar is a broadcast 1-row aggregate, exactly the reference's
# pdClock.CurrentTime() fan-out.
# ---------------------------------------------------------------------------
_LAG_ORACLE = """
, base AS (SELECT table_name, {tso} AS tso FROM changelog)
, mx AS (SELECT max(tso) AS now_tso FROM base)
, lagged AS (SELECT table_name, (now_tso >> 18) - (tso >> 18) AS lag_ms
             FROM base, mx)
, ranked AS (SELECT table_name, lag_ms,
                    row_number() OVER (PARTITION BY table_name
                                       ORDER BY lag_ms) AS rn,
                    count(*) OVER (PARTITION BY table_name) AS n
             FROM lagged)
SELECT table_name, max(n) AS n_events,
       max(CASE WHEN rn = CEIL(n * 0.5) THEN lag_ms END) AS lag_p50_ms,
       max(CASE WHEN rn = CEIL(n * 0.95) THEN lag_ms END) AS lag_p95_ms,
       max(CASE WHEN rn = CEIL(n * 0.99) THEN lag_ms END) AS lag_p99_ms,
       max(lag_ms) AS lag_max_ms
FROM ranked GROUP BY table_name
""".format(tso=_TSO_SQL)


@register("checkpoint_lag_percentiles", f"WITH {CHANGELOG_SQL} {_LAG_ORACLE}",
    bench="plan",
)
def q_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _with_tso(events_changelog(spark, sf_dir)).select("table_name", "tso")
    now = F.broadcast(base.agg(F.max("tso").alias("now_tso")))
    lagged = base.crossJoin(now).select(
        "table_name",
        checkpoint_lag_ms(F.col("now_tso"), F.col("tso")).alias("lag_ms"),
    )
    w = Window.partitionBy("table_name")
    ranked = lagged.select(
        "table_name", "lag_ms",
        F.row_number().over(w.orderBy("lag_ms")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )

    def pick(p: float, name: str):
        return F.max(
            F.when(F.col("rn") == F.ceil(F.col("n") * p), F.col("lag_ms"))
        ).alias(name)

    return ranked.groupBy("table_name").agg(
        F.max("n").alias("n_events"),
        pick(0.5, "lag_p50_ms"),
        pick(0.95, "lag_p95_ms"),
        pick(0.99, "lag_p99_ms"),
        F.max("lag_ms").alias("lag_max_ms"),
    )


# ---------------------------------------------------------------------------
# HLL sketch: registers (merge-able state) and corrected estimates
# ---------------------------------------------------------------------------
@register(
    "hll_registers",
    f"""
    SELECT reg, max(rho) AS max_rho
    FROM (SELECT {hll_cell_sql('user_id')} FROM events)
    GROUP BY reg
    """,
)
def q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global register table over events.user_id — the sketch's
    merge-able state (one map-side fold + one 256-row shuffle)."""
    ev = read_table(spark, sf_dir, "events")
    reg, rho = hll_cell(F.col("user_id"))
    return ev.select(reg, rho).groupBy("reg").agg(F.max("rho").alias("max_rho"))


_HLL_REGS_SQL = (
    "SELECT event_type, reg, max(rho) AS max_rho "
    f"FROM (SELECT event_type, {hll_cell_sql('user_id')} FROM events) "
    "GROUP BY event_type, reg"
)

_HLL_EST_ORACLE = f"""
SELECT e.event_type, x.n_exact, e.v_zero, e.s_scaled, e.est
FROM ({hll_estimate_sql(_HLL_REGS_SQL, ['event_type'])}) e
JOIN (SELECT event_type, count(DISTINCT user_id) AS n_exact
      FROM events GROUP BY event_type) x USING (event_type)
"""


@register("hll_user_estimate", _HLL_EST_ORACLE, bench="plan")
def q_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user estimate with the exact count
    alongside (the exact column is the correctness audit; at 100 TB
    you ship only the sketch)."""
    ev = read_table(spark, sf_dir, "events")
    cells = ev.select("event_type", *hll_cell(F.col("user_id")))
    regs = cells.groupBy("event_type", "reg").agg(F.max("rho").alias("max_rho"))
    est = hll_estimate(regs, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return est.join(exact, "event_type").select(
        "event_type", "n_exact", "v_zero", "s_scaled", "est"
    )


# ---------------------------------------------------------------------------
# Count-Min sketch: counter grid + heavy-hitter point queries.  The hot-
# key signal ahead of skew mitigation (the reference's write-bytes
# splitter reads the same kind of per-span heat,
# `maintainer/split/write_bytes_splitter.go:30`).
# ---------------------------------------------------------------------------
from ticdc_spark.functions.sketch import (  # noqa: E402
    cms_cells_sql,
    cms_counters,
    cms_estimate,
)


@register(
    "cms_counters",
    f"""
    SELECT j, idx, count(*) AS c
    FROM ({cms_cells_sql('user_id', 'events')})
    GROUP BY j, idx
    """,
)
def q_cms_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (d×w) counter grid over events.user_id — map-side
    combinable, one shuffle on ≤ d·w keys."""
    ev = read_table(spark, sf_dir, "events")
    return cms_counters(ev, F.col("user_id"))


_CMS_HH_ORACLE = f"""
WITH counters AS (
  SELECT j, idx, count(*) AS c
  FROM ({cms_cells_sql('user_id', 'events')})
  GROUP BY j, idx),
keys AS (SELECT user_id, count(*) AS n_exact FROM events GROUP BY user_id),
cells AS ({cms_cells_sql('user_id', 'keys', carry='user_id')}),
est AS (
  SELECT cells.user_id, min(COALESCE(c.c, 0)) AS cms_est
  FROM cells LEFT JOIN counters c USING (j, idx)
  GROUP BY cells.user_id)
SELECT k.user_id, k.n_exact, e.cms_est
FROM keys k JOIN est e USING (user_id)
WHERE k.n_exact >= 50
"""


@register("cms_heavy_hitters", _CMS_HH_ORACLE, bench="plan")
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point queries against the grid for every key whose exact count
    is ≥ 50 — the CMS guarantee (est ≥ exact) is auditable row-by-row.
    At 100 TB the candidate set comes from a sample, not an exact
    groupBy; the exact column here is the correctness audit."""
    ev = read_table(spark, sf_dir, "events")
    counters = cms_counters(ev, F.col("user_id"))
    keys = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
    est = cms_estimate(counters, keys.select("user_id"), "user_id")
    return (
        keys.filter(F.col("n_exact") >= 50)
        .join(est, "user_id")
        .select("user_id", "n_exact", "cms_est")
    )


# ---------------------------------------------------------------------------
# PositionInertia partitioners — the reference's actual MQ partition
# hash (`pkg/hash/position_inertia.go`, used by partition/table.go:48
# and partition/index_value.go: crc32-IEEE per Write, XOR-folded).
# Byte-faithful: for the same schema/table/handle-key values these
# produce the reference's exact partition numbers, so a consumer
# migrating from the reference sees identical Kafka partition layout.
# ---------------------------------------------------------------------------
from ticdc_spark.functions.crc32_sql import (  # noqa: E402
    crc32_fold_cte,
    crc32_table_cte,
    position_inertia,
)

_N_PARTS = 16

_INERTIA_TABLE_ORACLE = f"""
WITH RECURSIVE {CHANGELOG_SQL},
{crc32_table_cte()},
{crc32_fold_cte(
    "__crc_in(s) AS (SELECT DISTINCT schema_name || table_name FROM changelog)")}
SELECT c.schema_name, c.table_name,
       r.crc AS sum32,
       r.crc % {_N_PARTS} AS partition
FROM (SELECT DISTINCT schema_name, table_name FROM changelog) c
JOIN __crc_out r ON r.s = c.schema_name || c.table_name
"""


@register("partition_inertia_table", _INERTIA_TABLE_ORACLE)
def q_partition_inertia_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """table.go:48 — one Write(schema, table); partition = sum32 % n."""
    cl = events_changelog(spark, sf_dir).select(
        "schema_name", "table_name").distinct()
    h = position_inertia(F.concat("schema_name", "table_name"))
    return cl.select(
        "schema_name", "table_name",
        h.alias("sum32"), (h % _N_PARTS).alias("partition"),
    )


_INERTIA_IV_ORACLE = f"""
WITH RECURSIVE {CHANGELOG_SQL},
{crc32_table_cte()},
{crc32_fold_cte(
    "__crc_in(s) AS ("
    "SELECT DISTINCT schema_name || table_name FROM changelog "
    "UNION "
    "SELECT DISTINCT 'id' || CAST(COALESCE(after_id, before_id) AS VARCHAR) "
    "FROM changelog WHERE COALESCE(after_id, before_id) IS NOT NULL)")},
base AS (
  SELECT table_name, pk, seq,
         schema_name || table_name AS s_tbl,
         CASE WHEN COALESCE(after_id, before_id) IS NOT NULL
              THEN 'id' || CAST(COALESCE(after_id, before_id) AS VARCHAR)
         END AS s_col
  FROM changelog)
SELECT b.table_name, b.pk, b.seq,
       CASE WHEN b.s_col IS NULL THEN t.crc
            ELSE xor(t.crc, c.crc) END AS sum32,
       CASE WHEN b.s_col IS NULL THEN t.crc
            ELSE xor(t.crc, c.crc) END % {_N_PARTS} AS partition
FROM base b
JOIN __crc_out t ON t.s = b.s_tbl
LEFT JOIN __crc_out c ON c.s = b.s_col
"""


@register("partition_inertia_index_value", _INERTIA_IV_ORACLE, bench="plan")
def q_partition_inertia_index_value(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """index_value.go:31-60 — Write(schema, table) then one
    Write(colName, colValue) per handle-key column (here: ``id``);
    null values are skipped."""
    cl = events_changelog(spark, sf_dir)
    val = F.coalesce(F.col("after.id"), F.col("before.id")).cast("string")
    h_tbl = position_inertia(F.concat("schema_name", "table_name"))
    h_col = position_inertia(F.concat(F.lit("id"), val))
    h = F.when(val.isNull(), h_tbl).otherwise(h_tbl.bitwiseXOR(h_col))
    return cl.select(
        "table_name", "pk", "seq",
        h.alias("sum32"), (h % _N_PARTS).alias("partition"),
    )


# ---------------------------------------------------------------------------
# S3 — EventStore key codec (`logservice/eventstore/format.go:17-56`):
# uniqueID(8) | tableID(8) | commitTs(8) | startTs(8) | DMLOrder(1) |
# CompressionType(1) | mask(8) | key...  Big-endian, so byte order ==
# iteration order.  Hex strings keep the codec engine-portable; the
# query also PROVES the format's ordering contract: lexicographic key
# order within a span equals (commitTs, startTs, dmlOrder, key) order
# (delete < update < insert inside a txn).
# ---------------------------------------------------------------------------
def _hx(col: F.Column, width: int) -> F.Column:
    return F.lower(F.lpad(F.hex(col), width, "0"))


_KEY_ORACLE = f"""
WITH {CHANGELOG_SQL},
enc AS (
  SELECT table_name, pk, seq, commit_ts, start_ts, dml_order,
         printf('%016x', 1) || printf('%016x', table_id)
         || printf('%016x', commit_ts) || printf('%016x', start_ts)
         || printf('%02x', dml_order) || '00'
         || printf('%016x', 0) || printf('%016x', pk) AS key_hex
  FROM changelog),
dec AS (
  SELECT *,
         ('0x' || substr(key_hex, 17, 16))::BIGINT AS dec_table_id,
         ('0x' || substr(key_hex, 33, 16))::BIGINT AS dec_commit_ts,
         ('0x' || substr(key_hex, 49, 16))::BIGINT AS dec_start_ts,
         ('0x' || substr(key_hex, 65, 2))::BIGINT AS dec_dml_order,
         ('0x' || substr(key_hex, 85, 16))::BIGINT AS dec_pk
  FROM enc)
SELECT table_name, pk, seq, key_hex,
       dec_commit_ts, dec_start_ts, dec_dml_order, dec_pk,
       (dec_commit_ts = commit_ts AND dec_start_ts = start_ts
        AND dec_dml_order = dml_order AND dec_pk = pk) AS roundtrip_ok,
       row_number() OVER (PARTITION BY table_name ORDER BY key_hex)
       = row_number() OVER (PARTITION BY table_name
                            ORDER BY commit_ts, start_ts, dml_order, pk, seq)
       AS order_ok
FROM dec
"""


@register("eventstore_key_codec", _KEY_ORACLE, bench="plan")
def q_eventstore_key_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = events_changelog(spark, sf_dir)
    key_hex = F.concat(
        _hx(F.lit(1), 16), _hx(F.col("table_id"), 16),
        _hx(F.col("commit_ts"), 16), _hx(F.col("start_ts"), 16),
        _hx(F.col("dml_order"), 2), F.lit("00"),
        _hx(F.lit(0), 16), _hx(F.col("pk"), 16),
    )
    enc = cl.select("table_name", "pk", "seq", "commit_ts", "start_ts",
                    "dml_order", key_hex.alias("key_hex"))

    def dec(pos: int, width: int) -> F.Column:
        return F.conv(F.substring("key_hex", pos, width), 16, 10).cast("long")

    d = enc.select(
        "*",
        dec(33, 16).alias("dec_commit_ts"),
        dec(49, 16).alias("dec_start_ts"),
        dec(65, 2).alias("dec_dml_order"),
        dec(85, 16).alias("dec_pk"),
    )
    w = Window.partitionBy("table_name")
    return d.select(
        "table_name", "pk", "seq", "key_hex",
        "dec_commit_ts", "dec_start_ts", "dec_dml_order", "dec_pk",
        ((F.col("dec_commit_ts") == F.col("commit_ts"))
         & (F.col("dec_start_ts") == F.col("start_ts"))
         & (F.col("dec_dml_order") == F.col("dml_order"))
         & (F.col("dec_pk") == F.col("pk"))).alias("roundtrip_ok"),
        (F.row_number().over(w.orderBy("key_hex"))
         == F.row_number().over(
             w.orderBy("commit_ts", "start_ts", "dml_order", "pk", "seq"))
         ).alias("order_ok"),
    )


# ---------------------------------------------------------------------------
# Prometheus-style lag histogram: the reference exports every lag gauge
# through log-bucketed histograms (metrics/ pkg); buckets are
# powers-of-two of lag ms, counts merge associatively across
# partitions/scrapes, and quantiles interpolate linearly inside the
# containing bucket — histogram_quantile() semantics.
# ---------------------------------------------------------------------------
_HIST_ORACLE = f"""
WITH {CHANGELOG_SQL},
base AS (SELECT table_name, {_TSO_SQL} AS tso FROM changelog),
mx AS (SELECT max(tso) AS now_tso FROM base),
lagged AS (SELECT table_name, (now_tso >> 18) - (tso >> 18) AS lag_ms
           FROM base, mx),
bucketed AS (
  SELECT table_name,
         CASE WHEN lag_ms <= 0 THEN 0
              ELSE CAST(ceil(log2(lag_ms + 1)) AS BIGINT) END AS bucket,
         lag_ms
  FROM lagged),
hist AS (
  SELECT table_name, bucket, count(*) AS c
  FROM bucketed GROUP BY table_name, bucket)
SELECT table_name, bucket,
       CAST(CASE WHEN bucket = 0 THEN 0
                 ELSE (1::BIGINT << (bucket - 1)) END AS BIGINT) AS lo_ms,
       CAST((1::BIGINT << bucket) - 1 AS BIGINT) AS hi_ms,
       c
FROM hist
"""


@register("lag_histogram", _HIST_ORACLE, bench="plan")
def q_lag_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _with_tso(events_changelog(spark, sf_dir)).select("table_name", "tso")
    now = F.broadcast(base.agg(F.max("tso").alias("now_tso")))
    lagged = base.crossJoin(now).select(
        "table_name",
        checkpoint_lag_ms(F.col("now_tso"), F.col("tso")).alias("lag_ms"),
    )
    bucket = F.when(F.col("lag_ms") <= 0, F.lit(0)).otherwise(
        F.ceil(F.log2(F.col("lag_ms") + 1))).cast("long")
    hist = (
        lagged.withColumn("bucket", bucket)
        .groupBy("table_name", "bucket").agg(F.count(F.lit(1)).alias("c"))
    )
    lo = F.when(F.col("bucket") == 0, F.lit(0)).otherwise(
        F.expr("shiftleft(1L, cast(bucket - 1 as int))")).cast("long")
    hi = (F.expr("shiftleft(1L, cast(bucket as int))") - 1).cast("long")
    return hist.select("table_name", "bucket", lo.alias("lo_ms"),
                       hi.alias("hi_ms"), "c")

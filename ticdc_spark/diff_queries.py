"""sync-diff queries + DuckDB oracles (`pkg/diff/` TableDiff).

The target table is a deterministic mutation of tpch `orders`:
rows with ``o_orderkey % 97 = 0`` drift (+1.00 on the price), rows with
``% 101 = 0`` are missing downstream, and rows with ``% 103 = 0`` gained
a spurious copy shifted past the source key range — so the chunk pass
has both verdicts and the row pass classifies all three kinds.

Doubles are pre-rendered (%.2f) before diffing per the engine-wide
float-portability invariant; the timestamp column participates as epoch
microseconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ticdc_spark.plans.table_diff import diff_chunks, diff_rows, fix_sql
from ticdc_spark.queries import register
from ticdc_spark.sources.changelog import epoch_us, read_table

_CHUNK = 64
_COLS = ["k", "cust", "status", "price", "odate"]
_EXTRA_SHIFT = 10_000_000


def _src(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("cust"),
        F.col("o_orderstatus").alias("status"),
        F.format_string("%.2f", F.col("o_totalprice")).alias("price"),
        epoch_us(o, "o_orderdate").alias("odate"),
        F.col("o_totalprice").alias("_raw_price"),
    )


def _pair(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    src = _src(spark, sf_dir)
    drifted = src.withColumn(
        "price",
        F.when(F.col("k") % 97 == 0,
               F.format_string("%.2f", F.col("_raw_price") + 1.0))
        .otherwise(F.col("price")),
    )
    tgt = (
        drifted.filter(F.col("k") % 101 != 0)
        .unionByName(
            src.filter(F.col("k") % 103 == 0)
            .withColumn("k", F.col("k") + F.lit(_EXTRA_SHIFT))
        )
    )
    return src.drop("_raw_price"), tgt.drop("_raw_price")


_SRC_SQL = """
src AS (
    SELECT o_orderkey AS k, o_custkey AS cust, o_orderstatus AS status,
           printf('%.2f', o_totalprice) AS price,
           epoch_us(o_orderdate) AS odate,
           o_totalprice AS raw_price
    FROM orders
)"""

_TGT_SQL = f"""
tgt AS (
    SELECT k, cust, status,
           CASE WHEN k % 97 = 0 THEN printf('%.2f', raw_price + 1.0)
                ELSE price END AS price,
           odate
    FROM src WHERE k % 101 <> 0
    UNION ALL
    SELECT k + {_EXTRA_SHIFT}, cust, status, price, odate
    FROM src WHERE k % 103 = 0
)"""

_REPR = ("concat_ws(chr(1), k::VARCHAR, cust::VARCHAR, status, price, "
         "odate::VARCHAR)")
_HASH = f"('0x' || substr(md5({_REPR}), 1, 8))::BIGINT"


def _ck_sql(rel: str, alias: str) -> str:
    return f"""
{alias} AS (
    SELECT k // {_CHUNK} AS chunk_id, count(*) AS n_rows,
           sum({_HASH}) AS checksum
    FROM {rel} GROUP BY 1
)"""


_CHUNKS_ORACLE = f"""
WITH {_SRC_SQL.strip()}, {_TGT_SQL.strip()},
{_ck_sql('src', 'sck').strip()}, {_ck_sql('tgt', 'tck').strip()}
SELECT coalesce(sck.chunk_id, tck.chunk_id) AS chunk_id,
       CAST(coalesce(sck.n_rows, 0) AS BIGINT) AS src_rows,
       CAST(coalesce(tck.n_rows, 0) AS BIGINT) AS tgt_rows,
       coalesce(sck.checksum, 0) = coalesce(tck.checksum, 0)
         AND coalesce(sck.n_rows, 0) = coalesce(tck.n_rows, 0) AS equal
FROM sck FULL OUTER JOIN tck USING (chunk_id)
"""


@register("table_diff_chunks", _CHUNKS_ORACLE, bench="plan")
def q_table_diff_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    src, tgt = _pair(spark, sf_dir)
    return diff_chunks(src, tgt, "k", _COLS, _CHUNK)


_BAD_SQL = f"""
bad AS (
    SELECT coalesce(sck.chunk_id, tck.chunk_id) AS chunk_id
    FROM sck FULL OUTER JOIN tck USING (chunk_id)
    WHERE coalesce(sck.checksum, 0) <> coalesce(tck.checksum, 0)
       OR coalesce(sck.n_rows, 0) <> coalesce(tck.n_rows, 0)
),
srows AS (
    SELECT k AS pk, {_REPR} AS s_repr FROM src
    WHERE k // {_CHUNK} IN (SELECT chunk_id FROM bad)
),
trows AS (
    SELECT k AS pk, {_REPR} AS t_repr FROM tgt
    WHERE k // {_CHUNK} IN (SELECT chunk_id FROM bad)
),
kinds AS (
    SELECT coalesce(srows.pk, trows.pk) AS k,
           CASE WHEN t_repr IS NULL THEN 'missing'
                WHEN s_repr IS NULL THEN 'extra'
                WHEN s_repr <> t_repr THEN 'different' END AS kind
    FROM srows FULL OUTER JOIN trows USING (pk)
)"""

_ROWS_ORACLE = f"""
WITH {_SRC_SQL.strip()}, {_TGT_SQL.strip()},
{_ck_sql('src', 'sck').strip()}, {_ck_sql('tgt', 'tck').strip()},
{_BAD_SQL.strip()}
SELECT k, kind FROM kinds WHERE kind IS NOT NULL
"""


@register("table_diff_rows", _ROWS_ORACLE)
def q_table_diff_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    src, tgt = _pair(spark, sf_dir)
    return diff_rows(src, tgt, "k", _COLS, _CHUNK)


_VALS = ("k::VARCHAR || ',' || cust::VARCHAR || ',''' || status || "
         "''',''' || price || ''',' || odate::VARCHAR")
_WHERE = ("'`k` = ' || k::VARCHAR || ' AND `cust` = ' || cust::VARCHAR || "
          "' AND `status` = ''' || status || ''' AND `price` = ''' || "
          "price || ''' AND `odate` = ' || odate::VARCHAR")

_FIX_ORACLE = f"""
WITH {_SRC_SQL.strip()}, {_TGT_SQL.strip()},
{_ck_sql('src', 'sck').strip()}, {_ck_sql('tgt', 'tck').strip()},
{_BAD_SQL.strip()}
SELECT k AS key,
       'REPLACE INTO `tpch`.`orders`(`k`,`cust`,`status`,`price`,`odate`)'
       || ' VALUES (' || {_VALS} || ');' AS stmt
FROM src JOIN kinds USING (k)
WHERE kind IN ('missing', 'different')
UNION ALL
SELECT k AS key,
       'DELETE FROM `tpch`.`orders` WHERE ' || {_WHERE} || ';' AS stmt
FROM tgt JOIN kinds USING (k)
WHERE kind = 'extra'
"""


@register("table_diff_fix_sql", _FIX_ORACLE, bench="plan")
def q_table_diff_fix_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    src, tgt = _pair(spark, sf_dir)
    return fix_sql(src, tgt, "k", _COLS, _CHUNK, "tpch", "orders")


# ---------------------------------------------------------------------------
# Multi-source (sharded) diff — `pkg/diff/merge.go` merges several
# source tables' ordered row streams before comparing against one
# target.  In Spark the k-way heap merge IS ``unionByName`` (the
# chunk/row machinery is order-independent), so the sharded compare
# reuses the single-source plan unchanged — the point this query pins.
# ---------------------------------------------------------------------------

_SHARDED_ORACLE = f"""
WITH {_SRC_SQL.strip()}, {_TGT_SQL.strip()},
shard0 AS (SELECT * EXCLUDE (raw_price) FROM src WHERE k % 2 = 0),
shard1 AS (SELECT * EXCLUDE (raw_price) FROM src WHERE k % 2 = 1),
merged AS (SELECT * FROM shard0 UNION ALL SELECT * FROM shard1),
{_ck_sql('merged', 'sck').strip()}, {_ck_sql('tgt', 'tck').strip()},
{_BAD_SQL.replace('FROM src', 'FROM merged').strip()}
SELECT k, kind FROM kinds WHERE kind IS NOT NULL
"""


@register("table_diff_sharded", _SHARDED_ORACLE)
def q_table_diff_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    src, tgt = _pair(spark, sf_dir)
    shard0 = src.filter(F.col("k") % 2 == 0)
    shard1 = src.filter(F.col("k") % 2 == 1)
    merged = shard0.unionByName(shard1)
    return diff_rows(merged, tgt, "k", _COLS, _CHUNK)

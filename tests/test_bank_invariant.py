"""Bank invariant (`tests/integration_tests/bank` in the reference):
money moves between accounts in balanced transactions, so the SUM of all
balances is constant at every transactionally-consistent snapshot. The
reference verifies this on the downstream database while replication
runs; here the changelog goes through update-split + materialization and
the invariant must hold at any commit-ts cut that respects txn
boundaries (and must be violated by a cut that splits a txn in half —
the negative control that proves the test can fail)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

N_ACCOUNTS = 50
INITIAL = 1_000
N_TXNS = 400
BASE_TS = 1_700_000_000_000_000


def _bank_changelog(spark):
    """Deterministic transfer history. Each txn = two U rows sharing
    (start_ts, commit_ts): debit and credit with correct before/after
    balances (sequential bookkeeping done driver-side — it's fixture
    generation, not an operator)."""
    rng = random.Random(7)
    balances = {a: INITIAL for a in range(N_ACCOUNTS)}
    rows = []
    seq = 0
    for i in range(N_TXNS):
        src, dst = rng.sample(range(N_ACCOUNTS), 2)
        amount = rng.randint(1, 20)
        commit_ts = BASE_TS + (i + 1) * 1_000
        start_ts = commit_ts - 1
        for acct, delta, order in ((src, -amount, 0), (dst, +amount, 1)):
            before = balances[acct]
            after = before + delta
            balances[acct] = after
            rows.append((
                "bank", "accounts", 1, "U", commit_ts, start_ts,
                seq, 2, acct,
                {"id": acct, "val": float(before), "k": None},
                {"id": acct, "val": float(after), "k": None},
            ))
            seq += 1
    schema = (
        "schema_name string, table_name string, table_id long, op string, "
        "commit_ts long, start_ts long, seq long, dml_order long, pk long, "
        "before struct<id:long, val:double, k:long>, "
        "after struct<id:long, val:double, k:long>"
    )
    # seed rows: inserts at ts 0 so every account exists downstream
    seeds = [(
        "bank", "accounts", 1, "I", BASE_TS, BASE_TS - 1,
        seq + a, 3, a, None, {"id": a, "val": float(INITIAL), "k": None},
    ) for a in range(N_ACCOUNTS)]
    return spark.createDataFrame(seeds + rows, schema), balances


def _total_at(cl, cut_ts):
    from ticdc_spark.operators.update_split import split_updates
    from ticdc_spark.sinks.mysql import materialize_state

    upto = cl.filter(F.col("commit_ts") <= cut_ts)
    state = materialize_state(split_updates(upto))
    return state.agg(F.sum("val").alias("s")).collect()[0]["s"]


def test_balance_conserved_at_consistent_cuts(spark):
    cl, final_balances = _bank_changelog(spark)
    total = N_ACCOUNTS * INITIAL
    # syncpoint-style cuts at txn boundaries: every 97th commit
    for i in (1, 97, 199, N_TXNS):
        cut = BASE_TS + i * 1_000
        assert _total_at(cl, cut) == total, f"cut at txn {i}"
    # final state matches the sequential bookkeeping exactly
    from ticdc_spark.operators.update_split import split_updates
    from ticdc_spark.sinks.mysql import materialize_state

    state = materialize_state(split_updates(cl))
    got = {r["id"]: r["val"] for r in state.collect()}
    assert got == {a: float(v) for a, v in final_balances.items()}


def test_mid_txn_cut_breaks_invariant(spark):
    """Negative control: cutting between a txn's debit and credit rows
    (seq-level, not commit-ts-level) must break conservation — proving
    the invariant check is sensitive and that commit-ts atomicity is
    what protects it."""
    cl, _ = _bank_changelog(spark)
    # find a txn and drop its second (credit) row only
    victim = cl.filter(
        (F.col("op") == "U") & (F.col("commit_ts") == BASE_TS + 200 * 1_000)
    ).agg(F.max("seq").alias("m")).collect()[0]["m"]
    broken = cl.filter(F.col("seq") != victim)
    # evaluate at the cut right after the mutilated txn — later updates
    # to the same account would otherwise paper over the hole
    # (last-write-wins), which is itself worth pinning down
    s = _total_at(broken, BASE_TS + 200 * 1_000)
    assert s != N_ACCOUNTS * INITIAL


def test_txn_flush_batches_keep_bank_txns_whole(spark):
    from ticdc_spark.sinks.mysql import txn_flush_batches

    cl, _ = _bank_changelog(spark)
    b = txn_flush_batches(cl.filter(F.col("op") == "U"),
                          max_txn_row=7, atomicity="table")
    spans = (b.groupBy("start_ts")
             .agg(F.countDistinct("flush_batch").alias("n"))
             .filter(F.col("n") > 1).count())
    assert spans == 0


def test_flush_batches_contiguous_and_threshold_closed(spark):
    """Batching contract of the div closed form: batches cover txns
    contiguously in txn order, and every batch except a table's last
    holds max_txn_row ± (largest txn − 1) rows (fixed prior-count
    boundaries: a straddling txn can leave the next batch short by up
    to its size − 1, and overshoot the previous by the same)."""
    from ticdc_spark.sinks.mysql import txn_flush_batches

    cl, _ = _bank_changelog(spark)
    m = 7
    s_max = 2  # transfer txns are two rows (seeds share one giant txn)
    b = txn_flush_batches(cl.filter(F.col("op") == "U"),
                          max_txn_row=m, atomicity="table")
    per_txn = (b.groupBy("schema_name", "table_name", "commit_ts", "start_ts")
               .agg(F.min("flush_batch").alias("fb"))
               .orderBy("schema_name", "table_name", "commit_ts", "start_ts")
               .collect())
    # contiguity: batch ids are non-decreasing in txn COMMIT order (the
    # apply order a downstream writer replays batches in)
    by_table = {}
    for r in per_txn:
        by_table.setdefault((r["schema_name"], r["table_name"]), []).append(r["fb"])
    for fbs in by_table.values():
        assert fbs == sorted(fbs)
    # threshold: all but the last batch of each table hold >= m rows
    sizes = (b.groupBy("schema_name", "table_name", "flush_batch")
             .agg(F.count(F.lit(1)).alias("n")).collect())
    last = {}
    for r in sizes:
        key = (r["schema_name"], r["table_name"])
        last[key] = max(last.get(key, -1), r["flush_batch"])
    for r in sizes:
        key = (r["schema_name"], r["table_name"])
        if r["flush_batch"] != last[key]:
            assert m - (s_max - 1) <= r["n"] <= m + (s_max - 1), (
                key, r["flush_batch"], r["n"])


def test_long_running_txn_batches_in_commit_order(spark):
    """Regression for the start-ts-ordered batching bug: a txn that
    STARTS first but COMMITS last must land in the LAST flush batch —
    a writer applying batches sequentially must apply it after every
    txn that committed earlier, or downstream state ends up stale.

    The bank fixture always sets start_ts = commit_ts - 1, which is
    blind to this; here txn L starts before everyone and commits after
    everyone."""
    from ticdc_spark.sinks.mysql import txn_flush_batches

    rows = []
    seq = 0
    # 9 short txns: start & commit early (commit_ts 100..108)
    for i in range(9):
        ct = 100 + i
        for j in range(2):
            rows.append(("s", "t", 1, "I", ct, ct - 1, seq, 1, seq,
                         None, {"id": seq}))
            seq += 1
    # the long-running txn: start_ts=10 (earliest), commit_ts=500 (latest)
    for j in range(2):
        rows.append(("s", "t", 1, "I", 500, 10, seq, 1, seq,
                     None, {"id": seq}))
        seq += 1
    schema = ("schema_name string, table_name string, table_id long, "
              "op string, commit_ts long, start_ts long, seq long, "
              "dml_order long, pk long, before struct<id:long>, "
              "after struct<id:long>")
    cl = spark.createDataFrame(rows, schema)
    b = txn_flush_batches(cl, max_txn_row=4, atomicity="table")
    got = {(r["commit_ts"], r["start_ts"]): r["fb"]
           for r in b.groupBy("commit_ts", "start_ts")
                     .agg(F.min("flush_batch").alias("fb")).collect()}
    long_fb = got[(500, 10)]
    # the long txn is in the final batch, strictly after all earlier commits
    assert long_fb == max(got.values())
    assert all(fb <= long_fb for (ct, _), fb in got.items() if ct < 500)
    # and batch ids are non-decreasing in commit order
    order = sorted(got)
    fbs = [got[k] for k in order]
    assert fbs == sorted(fbs)


def test_bank_invariant_through_live_wire(spark):
    """The reference's bank integration test executed across BOTH live
    protocol boundaries: balanced transfer txns -> update split -> canal
    json -> real Kafka wire -> consumer decode -> SQL -> real MySQL wire
    apply -> balances read back over the socket. Conservation and exact
    per-account bookkeeping must survive the full path."""
    from ticdc_spark.codec.canal_json import encode_canal_json
    from ticdc_spark.codec.open_protocol import open_protocol_key
    from ticdc_spark.operators.routing import route
    from ticdc_spark.operators.update_split import split_updates
    from ticdc_spark.sinks.consumer import decode_canal_json
    from ticdc_spark.sinks.kafka_live import kafka_live_roundtrip
    from ticdc_spark.sinks.mysql_live import mysql_live_apply

    cl, final_balances = _bank_changelog(spark)
    routed = route(split_updates(cl),
                   [{"matcher": ["bank.*"], "partition": "index-value",
                     "topic": "cdc_{schema}_{table}"}], 8)
    frame = (encode_canal_json(routed, tidb_extension=True)
             .withColumn("key", open_protocol_key())
             .select("topic", "partition", "key", "value"))
    fetched = kafka_live_roundtrip(frame, n_partitions=8)
    d = decode_canal_json(fetched, cl.schema["after"].dataType)
    op = F.col("op")
    rebuilt = d.select(
        "*",
        F.when(op == "D", 1).when(op == "U", 2).otherwise(3).alias("dml_order"),
        F.monotonically_increasing_id().alias("seq"),
    )
    state = mysql_live_apply(rebuilt, ["accounts"], schema="bank")
    rows = {r["id"]: r["val"] for r in state.collect()}
    assert rows == {a: float(v) for a, v in final_balances.items()}
    assert sum(rows.values()) == N_ACCOUNTS * INITIAL

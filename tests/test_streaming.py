"""Streaming changefeed: availableNow run == batch pipeline; barrier split."""

from __future__ import annotations

import glob
import json

from pyspark.sql import functions as F

from ticdc_spark.pipeline import ChangefeedConfig, build_pipeline
from ticdc_spark.sources.changelog import events_changelog
from ticdc_spark.streaming import Changefeed, split_batch_at_ddl


def test_changefeed_stream_matches_batch(spark, sf_dir, tmp_path):
    cfg = ChangefeedConfig(
        filter_rules=["*.*", "!test.tp_view"],
        dispatchers=[{"matcher": ["test.tp_*"], "partition": "index-value",
                      "topic": "cdc_{schema}_{table}"}],
        protocol="canal-json",
    )
    cf = Changefeed("cf_test", cfg, str(tmp_path))
    cf.start(spark, sf_dir, available_now=True)
    cf.wait(240)

    out_files = glob.glob(f"{cf.sink_dir}/**/*.json", recursive=True)
    assert out_files, "streaming sink wrote no files"
    streamed = spark.read.json(f"{cf.sink_dir}/epoch=*")

    batch = build_pipeline(events_changelog(spark, sf_dir), cfg)
    assert streamed.count() == batch.count()
    # Same multiset of encoded messages.
    a = {r["value"] for r in streamed.select("value").collect()}
    b = {r["value"] for r in batch.select("value").collect()}
    assert a == b

    # Progress log advanced the resolved ts (A2/W1).
    ckpt = cf.checkpoint_ts()
    expected = batch.agg(F.max("commit_ts")).collect()[0][0]
    assert ckpt == expected


def test_changefeed_resume_is_idempotent(spark, sf_dir, tmp_path):
    """Restart with the same checkpoint reprocesses nothing (offsets kept)."""
    cfg = ChangefeedConfig(protocol="csv", split_updates=False)
    cf = Changefeed("cf_resume", cfg, str(tmp_path))
    cf.start(spark, sf_dir, available_now=True)
    cf.wait(240)
    n1 = spark.read.json(f"{cf.sink_dir}/epoch=*").count()
    cf2 = Changefeed("cf_resume", cfg, str(tmp_path))
    cf2.start(spark, sf_dir, available_now=True)
    cf2.wait(240)
    n2 = spark.read.json(f"{cf.sink_dir}/epoch=*").count()
    assert n1 == n2 > 0


def test_ddl_barrier_split(spark, sf_dir):
    cl = events_changelog(spark, sf_dir).select("commit_ts", "seq").limit(500)
    rows = cl.collect()
    ts_sorted = sorted(r["commit_ts"] for r in rows)
    ddl_ts = ts_sorted[len(ts_sorted) // 2]

    flushed: list[tuple[int, int]] = []
    ddls: list[int] = []
    split_batch_at_ddl(
        cl,
        [ddl_ts],
        lambda df, seg: flushed.append((seg, df.count())),
        lambda ts: ddls.append(ts),
    )
    assert ddls == [ddl_ts]
    assert len(flushed) == 2
    assert flushed[0][1] + flushed[1][1] == len(rows)
    # pre-segment contains exactly the rows <= ddl_ts
    assert flushed[0][1] == sum(1 for r in rows if r["commit_ts"] <= ddl_ts)


def test_progress_log_replay_rewrites_only_the_last_entry(tmp_path):
    """A replayed epoch (crash after the flush, before the bookkeeping)
    replaces the log's last entry; a new epoch appends and leaves every
    earlier byte as it was.  The log is long enough that finding its last
    line crosses the 4 KB read chunk."""
    from ticdc_spark.streaming.changefeed import Changefeed

    cf = Changefeed("cf_log", ChangefeedConfig(), str(tmp_path))

    def entry(epoch, rows):
        return {"changefeed": "cf_log", "epoch": epoch, "resolved_ts": epoch,
                "rows": rows, "wall_ts": 0.0, "pad": "x" * 40}

    for epoch in range(100):
        cf._append_progress(entry(epoch, 1))
    with open(cf.progress_path, "rb") as f:
        before = f.read()
    assert len(before) > 4096

    cf._append_progress(entry(99, 2))  # replay of the last epoch
    with open(cf.progress_path, "rb") as f:
        replayed = f.read()
    lines = [json.loads(ln) for ln in replayed.splitlines()]
    assert [e["epoch"] for e in lines] == list(range(100))
    assert lines[-1]["rows"] == 2
    kept = before[:before.rindex(b"\n", 0, len(before) - 1) + 1]
    assert replayed.startswith(kept)

    cf._append_progress(entry(100, 3))  # a new epoch appends
    with open(cf.progress_path, "rb") as f:
        after = f.read()
    assert after.startswith(replayed)
    assert json.loads(after.splitlines()[-1])["epoch"] == 100
    assert cf.stats()["rows"] == 99 + 2 + 3


def test_stats_reads_only_the_first_and_last_entries(tmp_path,
                                                     monkeypatch):
    """``stats`` equals the full-parse totals of a >4 KB progress log
    whose last epoch was replayed, and parses exactly two lines: the
    last entry carries the cumulative rows and epochs."""
    import types

    from ticdc_spark.streaming import changefeed as cf_mod

    cf = Changefeed("cf_st", ChangefeedConfig(), str(tmp_path))
    for epoch in range(100):
        cf._append_progress({"changefeed": "cf_st", "epoch": epoch,
                             "resolved_ts": epoch, "rows": epoch % 7,
                             "wall_ts": 1000.0 + epoch})
    cf._append_progress({"changefeed": "cf_st", "epoch": 99,
                         "resolved_ts": 99, "rows": 50, "wall_ts": 1200.0})
    with open(cf.progress_path, "rb") as f:
        text = f.read()
    assert len(text) > 4096
    entries = [json.loads(ln) for ln in text.splitlines()]
    rows = sum(e["rows"] for e in entries)
    expected = {"epochs": 100, "rows": rows,
                "rows_per_sec": round(rows / 200.0, 1)}

    parsed = []

    def loads(s):
        parsed.append(s)
        return json.loads(s)

    monkeypatch.setattr(cf_mod, "json",
                        types.SimpleNamespace(loads=loads, dumps=json.dumps))
    got = cf.stats()
    monkeypatch.undo()
    assert got == expected
    assert len(parsed) == 2


def test_stats_and_append_fall_back_on_a_log_without_totals(tmp_path):
    """A progress log written before entries carried cumulative totals
    is parsed in full once: ``stats`` sums it, and the next appended
    entry starts carrying the totals."""
    import os

    cf = Changefeed("cf_old", ChangefeedConfig(), str(tmp_path))
    os.makedirs(os.path.dirname(cf.progress_path))
    with open(cf.progress_path, "w") as f:
        for epoch in range(3):
            f.write(json.dumps({"changefeed": "cf_old", "epoch": epoch,
                                "resolved_ts": epoch, "rows": 10,
                                "wall_ts": 10.0 * epoch}) + "\n")
    assert cf.stats() == {"epochs": 3, "rows": 30, "rows_per_sec": 1.5}
    cf._append_progress({"changefeed": "cf_old", "epoch": 2,
                         "resolved_ts": 2, "rows": 5, "wall_ts": 20.0})
    cf._append_progress({"changefeed": "cf_old", "epoch": 3,
                         "resolved_ts": 3, "rows": 4, "wall_ts": 30.0})
    with open(cf.progress_path) as f:
        last = json.loads(f.read().splitlines()[-1])
    assert (last["total_rows"], last["epochs"]) == (29, 4)
    assert cf.stats() == {"epochs": 4, "rows": 29, "rows_per_sec": 1.0}


def test_syncpoints_resume_past_the_ledgers_last_line(tmp_path,
                                                      monkeypatch):
    """The next epoch's syncpoints start at the first boundary past the
    ledger's last line, even when the epoch's rows start below it; the
    ledger is appended to, and only its last line is parsed.  The ledger
    is long enough that finding that line crosses the 4 KB read chunk."""
    import os
    import types

    from ticdc_spark.streaming import changefeed as cf_mod

    iv = 1_000_000
    cf = Changefeed("cf_sp", ChangefeedConfig(
        enable_sync_point=True, sync_point_interval_us=iv), str(tmp_path))
    path = os.path.join(str(tmp_path), "syncpoint", "cf_sp.jsonl")
    os.makedirs(os.path.dirname(path))
    with open(path, "w") as f:
        for i in range(1, 101):
            f.write(json.dumps({"changefeed": "cf_sp", "primary_ts": i * iv,
                                "secondary_ts": i * iv,
                                "created_at": 0.0}) + "\n")
    with open(path, "rb") as f:
        before = f.read()
    assert len(before) > 4096

    parsed = []

    def loads(s):
        parsed.append(s)
        return json.loads(s)

    monkeypatch.setattr(cf_mod, "json",
                        types.SimpleNamespace(loads=loads, dumps=json.dumps))
    cf._write_syncpoints(5 * iv, 103 * iv + 7)
    monkeypatch.undo()

    assert len(parsed) == 1
    with open(path, "rb") as f:
        after = f.read()
    assert after.startswith(before)
    new = [json.loads(ln) for ln in after[len(before):].splitlines()]
    assert [e["primary_ts"] for e in new] == [101 * iv, 102 * iv, 103 * iv]
    assert {e["secondary_ts"] for e in new} == {103 * iv + 7}

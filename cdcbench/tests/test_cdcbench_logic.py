"""Tests for the benchmark's own logic (no Spark needed).

    python3 -m pytest cdcbench/tests -q
"""

from __future__ import annotations

import ast
import json
import os
import re
import statistics
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from stats import (  # noqa: E402
    checkpoint_lags,
    highest_supported_percentile,
    percentile,
)
from tracing import Tracer  # noqa: E402
from downstream import data_records  # noqa: E402
from feeder import stamp  # noqa: E402
from workloads import WORKLOADS, lag_metrics  # noqa: E402

SPEC_PATH = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")


def spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


def _write_all(root: str, seed: int) -> list[str]:
    """Every input kind the benchmark generates, small."""
    os.makedirs(root)
    ev = os.path.join(root, "events.parquet")
    pq.write_table(gen.events_table(gen.rng_for(seed, 4, 1), 3_000, 3_000), ev)
    gen.write_changelog(os.path.join(root, "cl"), seed, 3_000, 4, 500)
    gen.write_corpus(os.path.join(root, "co"), seed, 50, ((15, 2), (80, 1)))
    return [ev, os.path.join(root, "cl", "changelog.parquet"),
            *(os.path.join(root, "co", p)
              for p in ("documents.parquet", "planted.parquet"))]


def _bytes(paths: list[str]) -> list[bytes]:
    out = []
    for p in paths:
        with open(p, "rb") as f:
            out.append(f.read())
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _bytes(_write_all(str(tmp_path / "a"), 7))
    b = _bytes(_write_all(str(tmp_path / "b"), 7))
    assert a == b


def test_other_seed_gives_other_inputs(tmp_path):
    a = _bytes(_write_all(str(tmp_path / "a"), 7))
    b = _bytes(_write_all(str(tmp_path / "b"), 8))
    assert all(x != y for x, y in zip(a, b))


def test_feeder_stamps_commit_times_across_the_period():
    t = stamp(gen.events_table(gen.rng_for(1, 4, 2), 400, 800),
              1_000_000, 3_000_000)
    ts = t.column("ts").cast("int64").to_pylist()
    assert ts == sorted(ts) and len(set(ts)) == len(ts)
    assert ts[0] > 1_000_000 and ts[-1] == 4_000_000
    assert t.column("event_id").to_pylist() == list(range(800, 1_200))


def test_changelog_histories_are_consistent_from_empty():
    t = gen.changelog_table(5, 20_000, 4, 500).to_pylist()
    live = set()
    for r in t:
        key = (r["table_name"], r["pk"])
        if r["op"] == "I":
            assert key not in live and r["before"] is None
            live.add(key)
        else:
            assert key in live and r["before"]["id"] == r["pk"]
            if r["op"] == "D":
                live.discard(key)
            else:
                assert r["after"]["id"] == r["pk"]
    ops = {r["op"] for r in t}
    assert ops == {"I", "U", "D"}


def test_corpus_plants_clusters_at_their_sizes():
    t = gen.corpus_table(2, 30, ((15, 3), (100, 1)))
    sizes = {}
    for c in t.column("cluster").to_pylist():
        sizes[c] = sizes.get(c, 0) + 1
    assert sizes.pop(-1) == 30
    assert sorted(sizes.values()) == [15, 15, 15, 100]


def test_percentile_matches_statistics_inclusive():
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.3, 5.8]
    for q, want in zip((0.25, 0.5, 0.75),
                       statistics.quantiles(xs, n=4, method="inclusive")):
        assert percentile(xs, q) == pytest.approx(want)
    assert percentile([2.0], 0.9) == 2.0
    with pytest.raises(ValueError):
        percentile([], 0.5)


@pytest.mark.parametrize("n, highest", [
    (19, 0), (20, 50), (50, 80), (99, 89), (100, 90), (1000, 99)])
def test_percentile_rule_keeps_ten_samples_beyond(n, highest):
    assert highest_supported_percentile(n) == highest
    if highest:
        beyond = n - n * highest / 100
        assert beyond >= 10
    assert (highest_supported_percentile(n) >= 90) == (n >= 100)


def test_checkpoint_lag_from_synthetic_progress_log():
    # files whose last events (commit_ts) were due at 9.5, 10, 12, 14 s
    files = [(1_000, 9.5), (2_000, 10.0), (3_000, 12.0), (4_000, 14.0)]
    checkpoints = [(500, 9.0),       # warm-up epoch, covers nothing new
                   (2_000, 10.8),    # covers the first file
                   (1_500, 11.0),    # a stale entry never lowers coverage
                   (3_000, 13.1)]    # covers the second file
    lags = checkpoint_lags(files, checkpoints)
    assert lags[0] == pytest.approx(1.3)
    assert lags[1] == pytest.approx(0.8)
    assert lags[2] == pytest.approx(1.1)
    assert lags[3] is None            # never covered: a failed file


def test_checkpoint_lag_uses_first_covering_checkpoint():
    lags = checkpoint_lags([(5, 1.0)], [(9, 2.0), (7, 1.5), (10, 3.0)])
    assert lags == [pytest.approx(0.5)]


def test_lag_metrics_take_median_and_p90_of_the_lags():
    m = lag_metrics([2.0, 4.0, 3.0], rows_per_s=100.0)
    assert m == {"rows_per_s": 100.0, "lag_p50_s": 3.0,
                 "lag_p90_s": pytest.approx(3.8)}
    assert lag_metrics([], 0.0)["lag_p90_s"] == 0.0


def test_tracer_self_time_subtracts_children():
    tr = Tracer("w")
    tr.spans = [
        {"name": "pass", "start": 0.0, "end": 10.0, "parent": None,
         "workload": "w", "pass": 1},
        {"name": "a", "start": 1.0, "end": 4.0, "parent": "pass",
         "workload": "w", "pass": 1},
        {"name": "b", "start": 3.0, "end": 6.0, "parent": "pass",
         "workload": "w", "pass": 1},
    ]
    assert tr.self_seconds("pass") == pytest.approx(5.0)
    assert tr.seconds("a") == pytest.approx(3.0)


def test_data_records_counts_the_broker_log_without_watermarks():
    sys.path.insert(0, os.path.dirname(BENCH))
    from ticdc_spark.codec.kafka_wire import Record
    from ticdc_spark.sinks.kafka_broker import KafkaBroker
    from ticdc_spark.sinks.kafka_client import KafkaConn

    with KafkaBroker() as b:
        with KafkaConn.from_bootstrap(b.bootstrap, sasl=None) as c:
            c.produce("t", 0, [Record(b"k", b"row-1"), Record(b"k", b"WM")])
            c.produce("t", 0, [Record(b"k", b"row-2")])
            c.produce("t", 1, [Record(None, b"row-3")])
        assert data_records(b, b"WM") == 3
        assert data_records(b, b"absent") == 4


#: what a metric name looks like: a dotted layer name or an e2e name
DOTTED = re.compile(r"[a-z]+(\.[a-z0-9_]+)+")
METRIC_SHAPE = re.compile(DOTTED.pattern + r"|[a-z0-9_]+_(s|mb)")


def _emitted_metric_names() -> set[str]:
    """Metric-name literals the benchmark writes as dict keys or
    subscript assignments, plus the ``spark.*`` names built from SparkRest's
    snapshot keys.  In ``tracing.py`` only dotted names are metrics (its
    snapshot keys are not)."""
    names = set()
    for fn, shape in (("run.py", METRIC_SHAPE), ("workloads.py", METRIC_SHAPE),
                      ("tracing.py", DOTTED)):
        with open(os.path.join(BENCH, fn)) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            stored = (isinstance(node, ast.Subscript)
                      and isinstance(node.ctx, ast.Store))
            keys = (node.keys if isinstance(node, ast.Dict) else
                    [node.slice] if stored else [])
            names |= {k.value for k in keys
                      if isinstance(k, ast.Constant)
                      and isinstance(k.value, str)
                      and shape.fullmatch(k.value)}
    with open(os.path.join(BENCH, "tracing.py")) as f:
        snapshot_keys = re.findall(r'"([a-z_]+)": sum', f.read())
    assert "executor_run_s" in snapshot_keys
    return names | {f"spark.{k}" for k in snapshot_keys}


def test_every_emitted_metric_is_declared():
    s = spec()
    declared = ({m["name"] for m in s["end_to_end"]}
                | {m["name"] for m in s["per_layer"]})
    emitted = _emitted_metric_names()
    assert emitted, "no metric names found"
    assert emitted <= declared, sorted(emitted - declared)


def test_end_to_end_metrics_are_all_produced():
    e2e = set(lag_metrics([1.0, 2.0], 10.0)) | {"setup_s", "peak_rss_mb"}
    assert e2e == {m["name"] for m in spec()["end_to_end"]}


def test_benchmark_json_contract():
    s = spec()
    assert set(s) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    name = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
    names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
    names += [w["name"] for w in s["workloads"]]
    assert len(names) == len(set(names))
    assert all(name.fullmatch(n) for n in names)
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])
               for m in s["end_to_end"] + s["per_layer"])
    assert 2 <= len(s["workloads"]) <= 8
    assert all(w["name"] in WORKLOADS for w in s["workloads"])
    assert all(0 < m["bound"] <= 0.25 for m in s["end_to_end"])
    setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in s["end_to_end"])}]
    assert 1 <= s["run_seconds"] <= 60

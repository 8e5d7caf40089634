"""The two benchmark workloads, and the traced layers they carry.

Each workload drives the engine only through its public entry points.
``prepare`` writes the seeded inputs before the clock starts; ``warm``
runs inside the set-up clock; ``timed`` measures for the run's seconds;
``batch_pass`` times one untraced pass over the traced pass's input;
``traced`` materializes every layer boundary under spans and returns the
per-layer metrics the workload exercises.

Both workloads feed one running ``Changefeed`` with events files on a
schedule that does not wait for the engine: ``changefeed_lag`` one file
per period at about half of what an epoch sustains, ``kafka_catchup`` a
backlog that is due all at once.  Each file is timed from its due time
to the first checkpoint that covers it.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

import gen
from downstream import MYSQL_PASSWORD, MYSQL_USER
from feeder import publish, release, stage, stamp
from stats import checkpoint_lags, percentile
from tracing import SparkRest

#: seconds between fixing an open loop's start and its first period
LEAD_S = 0.2


class Ctx:
    """What a workload needs at run time."""

    def __init__(self, spark, ds, work: str, seed: int):
        self.spark = spark
        self.ds = ds
        self.work = work
        self.seed = seed
        #: processes whose memory is not the engine's: the stand-ins and
        #: the feeder, left out of ``peak_rss_mb``
        self.not_engine = {ds.pid}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def lag_metrics(lags: list[float], rows_per_s: float) -> dict:
    """The end-to-end metrics a workload's timed window yields."""
    return {"rows_per_s": rows_per_s,
            "lag_p50_s": percentile(lags, 0.5) if lags else 0.0,
            "lag_p90_s": percentile(lags, 0.9) if lags else 0.0}


def kafka_cfg(bootstrap: str = "127.0.0.1:9092"):
    from ticdc_spark.pipeline import ChangefeedConfig

    return ChangefeedConfig(
        dispatchers=[{"matcher": ["test.*"], "partition": "index-value",
                      "topic": "cdc_{schema}_{table}"}],
        protocol="canal-json",
        sink_uri=f"kafka://{bootstrap}/cdc",
    )


class StreamWorkload:
    """A running ``Changefeed`` with a live Kafka sink, fed events files
    published into ``events.parquet/batch=<i>/``.  A file fails if no
    checkpoint covers it by the end of the run; if the broker's record
    count is wrong, every file fails."""

    name = ""
    rows_per_file = 5_000
    #: epochs run before the clock stops: one for the schema file, then
    #: full-size files while per-epoch JIT settles (epoch walls fell by
    #: about a quarter over the first three files)
    warm_epochs = 4
    #: seconds of events a file holds (for changefeed_lag, also the
    #: seconds between two files)
    period_s = 3.0

    def prepare(self, work: str, seed: int, seconds: float) -> None:
        src = os.path.join(work, "src", "events.parquet", "batch=0")
        os.makedirs(src, exist_ok=True)
        pq.write_table(self.file_table(seed, 0),
                       os.path.join(src, "events.parquet"))

    def file_table(self, seed: int, i: int):
        """File ``i`` before the clock: its events stamped over the i-th
        period from BASE_TS_US, below any commit time the feeder stamps
        at wall time."""
        n, period_us = self.rows_per_file, int(self.period_s * 1e6)
        return stamp(gen.events_table(gen.rng_for(seed, 4, i), n, i * n),
                     gen.BASE_TS_US + i * period_us, period_us)

    def warm(self, ctx: Ctx) -> None:
        """Start the changefeed and wait for its warm-up epochs."""
        from ticdc_spark.streaming.changefeed import Changefeed

        self.bootstrap = ctx.ds.call("kafka")["bootstrap"]
        self.cf = Changefeed("bench", kafka_cfg(self.bootstrap),
                             ctx.path("cf"), live_bootstrap=self.bootstrap)
        self.cf.start(ctx.spark, ctx.path("src"), available_now=False)
        for i in range(1, self.warm_epochs + 1):
            if i > 1:
                publish(ctx.path("src"), i - 1, self.file_table(ctx.seed, i - 1))
            deadline = time.time() + 120
            while len(self.checkpoints()) < i:
                if time.time() > deadline or not self.cf.query.isActive:
                    raise RuntimeError("changefeed committed no warm-up epoch")
                time.sleep(0.05)

    def checkpoints(self) -> list[tuple[int, float]]:
        if not os.path.exists(self.cf.progress_path):
            return []
        with open(self.cf.progress_path) as f:
            return [(e["resolved_ts"], e["wall_ts"])
                    for e in map(json.loads, f) if e.get("resolved_ts")]

    def covered(self, files) -> set[int]:
        cps = self.checkpoints()
        hi = max((ts for ts, _ in cps), default=0)
        return {f["file"] for f in files if f["max_ts"] <= hi}

    def finish(self, ctx: Ctx, files: list[dict], start: float) -> dict:
        """Stop the changefeed and score the timed files, given as
        ``{"file", "due", "published", "rows", "max_ts"}``; ``start`` is
        when the first was due."""
        self.files = files
        cps = self.checkpoints()
        # an epoch reports its progress after its checkpoint is written
        idle_by = time.time() + 10
        while (self.cf.query.status["isTriggerActive"]
               and time.time() < idle_by):
            time.sleep(0.05)
        self.progress = list(self.cf.query.recentProgress)
        self.cf.stop()
        covered = self.covered(files)
        # a file is due when its last event is created; its lag runs to
        # the first checkpoint covering that event's commit_ts
        lags = [x for x in checkpoint_lags([(f["max_ts"], f["due"]) for f in files],
                                      cps) if x is not None]
        print(f"cdcbench: file lags {[round(x, 3) for x in lags]} epoch ms "
              f"{[p['durationMs'].get('triggerExecution') for p in self.progress]}",
              file=sys.stderr)
        failed = len(files) - len(covered)
        if not self.counts_match(ctx):
            failed = len(files)
        last_cp = max((w for _, w in cps), default=time.time())
        rows = sum(f["rows"] for f in files if f["file"] in covered)
        return {"attempted": len(files), "failed": failed,
                **lag_metrics(lags, rows / max(1e-9, last_cp - start))}

    def counts_match(self, ctx: Ctx) -> bool:
        """Data records the broker stores (watermark broadcasts excluded;
        offsets checked gap-free) == batch build_pipeline over the same
        files, the warm-up files included."""
        from ticdc_spark.pipeline import build_pipeline
        from ticdc_spark.sources.changelog import events_changelog

        got = ctx.ds.call("kafka_records", bootstrap=self.bootstrap,
                          skip='"type":"TIDB_WATERMARK"')["records"]
        want = build_pipeline(events_changelog(ctx.spark, ctx.path("src")),
                              kafka_cfg()).count()
        return got == want

    def traced(self, ctx: Ctx, tr) -> dict:
        """The ``streaming.*`` metrics of the timed epochs, then the
        workload's traced pass (``trace_layers``)."""
        prog = [p for p in self.progress  # timed epochs only
                if p["numInputRows"] > 0 and p["batchId"] >= self.warm_epochs]

        def p50(key):
            vals = [p["durationMs"].get(key, 0) for p in prog]
            return statistics.median(vals) if vals else 0.0

        m = {
            "streaming.trigger_ms_p50": p50("triggerExecution"),
            "streaming.add_batch_ms_p50": p50("addBatch"),
            "streaming.latest_offset_ms_p50": p50("latestOffset"),
            "streaming.query_planning_ms_p50": p50("queryPlanning"),
            "streaming.wal_commit_ms_p50": p50("walCommit"),
            "streaming.epochs": len(prog),
            "streaming.rows_per_epoch": (statistics.median(
                p["numInputRows"] for p in prog) if prog else 0),
            "streaming.backlog_files_end": self.backlog_end,
            "gen.late_s_max": max((f["published"] - f["due"]
                                   for f in self.files), default=0.0),
        }
        m.update(self.trace_layers(ctx, tr))
        return m


class ChangefeedLag(StreamWorkload):
    """Open loop: a feeder process publishes one small events file per
    period, at about half of what one epoch sustains.  Its traced run
    carries the layers no declared workload enters: ``mysql_apply``'s
    pass (compaction, SQL generation, the MySQL wire) over a seeded
    changelog, and the ``llm`` layer."""

    name = "changefeed_lag"
    drain_s = 15.0
    #: the traced pass's changelog (FIXTURES §1 shape): events, tables,
    #: keys per table (at most 10k live rows to apply)
    changelog_rows = 100_000
    tables = [f"t{i}" for i in range(4)]
    key_space = 2_500

    def prepare(self, work: str, seed: int, seconds: float) -> None:
        super().prepare(work, seed, seconds)
        self.n_files = max(1, int(seconds // self.period_s))
        gen.write_changelog(os.path.join(work, "changelog"), seed,
                            self.changelog_rows, len(self.tables),
                            self.key_space)

    def timed(self, ctx: Ctx, meter) -> dict:
        feed_log = ctx.path("feed.jsonl")
        feeder = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "feeder.py"),
             "--dir", ctx.path("src"), "--seed", str(ctx.seed),
             "--rows", str(self.rows_per_file), "--period", str(self.period_s),
             "--files", str(self.n_files), "--first", str(self.warm_epochs),
             "--log", feed_log],
            stdout=subprocess.PIPE, text=True)
        ctx.not_engine.add(feeder.pid)
        try:
            start = json.loads(feeder.stdout.readline())["start"]
            meter.start()
            window_end = start + (self.n_files + 1) * self.period_s
            time.sleep(max(0.0, window_end - time.time()))
            meter.stop()
            files = read_jsonl(feed_log)
            self.backlog_end = len(files) - len(self.covered(files))
            deadline = time.time() + self.drain_s
            while (len(self.covered(files)) < self.n_files
                   and time.time() < deadline and self.cf.query.isActive):
                time.sleep(0.1)
            feeder.wait(timeout=30)
        finally:
            if feeder.poll() is None:
                feeder.kill()
                feeder.wait()
            feeder.stdout.close()
        return self.finish(ctx, read_jsonl(feed_log), start)

    def fresh_server(self, ctx: Ctx) -> dict:
        from ticdc_spark.sinks.mysql_live import create_tables

        srv = ctx.ds.call("mysql")
        create_tables(srv["host"], srv["port"], MYSQL_USER, MYSQL_PASSWORD,
                      self.tables)
        return srv

    @staticmethod
    def mysql_cfg():
        from ticdc_spark.pipeline import ChangefeedConfig

        return ChangefeedConfig(sink_uri="mysql://127.0.0.1:3306/")

    def batch_pass(self, ctx: Ctx) -> float:
        """``mysql_apply``'s pass: the seeded changelog through
        ``compile_changefeed(mysql://)`` and ``apply_stmt_frame`` into a
        fresh server, untraced."""
        from ticdc_spark.pipeline import compile_changefeed
        from ticdc_spark.sinks.mysql_live import apply_stmt_frame

        srv = self.fresh_server(ctx)
        t0 = time.perf_counter()
        cl = ctx.spark.read.parquet(ctx.path("changelog"))
        apply_stmt_frame(compile_changefeed(cl, self.mysql_cfg()), srv["host"],
                         srv["port"], MYSQL_USER, MYSQL_PASSWORD)
        return time.perf_counter() - t0

    def trace_layers(self, ctx: Ctx, tr) -> dict:
        """``batch_pass`` with each layer's output materialized before the
        next layer starts."""
        from pyspark.sql import functions as F

        from ticdc_spark.operators import (
            apply_table_filter,
            compact_changelog,
            split_updates,
        )
        from ticdc_spark.pipeline import compile_changefeed
        from ticdc_spark.sinks.mysql import multirow_batches
        from ticdc_spark.sinks.mysql_live import apply_stmt_frame

        cfg = self.mysql_cfg()
        srv = self.fresh_server(ctx)
        path = ctx.path("changelog")
        rest = SparkRest(ctx.spark)
        with tr.span("pass"):
            with tr.span("pipeline"):
                compile_changefeed(ctx.spark.read.parquet(path), cfg)
            cl = ctx.spark.read.parquet(path)
            with tr.span("operators"):
                ops = split_updates(apply_table_filter(
                    cl, cfg.filter_rules)).localCheckpoint()
            before = rest.snapshot()
            with tr.span("compaction"):
                comp = compact_changelog(ops).localCheckpoint()
            after = rest.snapshot()
            with tr.span("sinks.mysql.sqlgen"):
                stmts = multirow_batches(comp).localCheckpoint()
            with tr.span("sinks.mysql.apply"):
                apply_stmt_frame(stmts, srv["host"], srv["port"], MYSQL_USER,
                                 MYSQL_PASSWORD)
        n_in = ops.count()
        s = stmts.agg(F.count(F.lit(1)).alias("n"),
                      F.sum("n_rows").alias("r")).first()
        return {
            "pipeline.plan_s": tr.seconds("pipeline"),
            "operators.busy_s": tr.seconds("operators"),
            "operators.rows_out": n_in,
            "compaction.busy_s": tr.seconds("compaction"),
            "compaction.fold_ratio": comp.count() / n_in,
            "compaction.shuffle_write_mb": (after["shuffle_write_mb"]
                                            - before["shuffle_write_mb"]),
            "sinks.mysql.sqlgen_s": tr.seconds("sinks.mysql.sqlgen"),
            "sinks.mysql.apply_s": tr.seconds("sinks.mysql.apply"),
            "sinks.mysql.stmts": s["n"],
            "sinks.mysql.rows_per_stmt": s["r"] / s["n"],
        }


class KafkaCatchup(StreamWorkload):
    """Backlog catch-up on the MQ path, as after a pause: the events of
    a pause appear as a backlog of files at once, and the running
    changefeed drains it through canal-json, the index-value dispatcher
    and its Kafka produce."""

    name = "kafka_catchup"
    #: about one epoch's wall per file on the 4-core host: the backlog
    #: drains in about the run's seconds
    epoch_s = 2.0
    #: a backlog not drained by then counts its uncovered files as failed
    drain_s = 60.0

    def prepare(self, work: str, seed: int, seconds: float) -> None:
        super().prepare(work, seed, seconds)
        self.n_files = max(1, int(seconds // self.epoch_s))

    def timed(self, ctx: Ctx, meter) -> dict:
        """Every backlog file holds events created during the pause, so
        all are due when the backlog appears; a file's lag runs from then
        until a checkpoint covers it."""
        first = self.warm_epochs
        files = []
        for i in range(first, first + self.n_files):
            t = self.file_table(ctx.seed, i)
            stage(ctx.path("src"), i, t)
            files.append({"file": i, "rows": t.num_rows,
                          "max_ts": t.column("ts").cast("int64")[-1].as_py()})
        meter.start()
        start = time.time()
        for f in files:
            release(ctx.path("src"), f["file"])
            f.update(due=start, published=time.time())
        deadline = start + self.drain_s
        while (len(self.covered(files)) < self.n_files
               and time.time() < deadline and self.cf.query.isActive):
            time.sleep(0.05)
        meter.stop()
        self.backlog_end = self.n_files - len(self.covered(files))
        return self.finish(ctx, files, start)

    def batch_pass(self, ctx: Ctx) -> float:
        """The files the stream carried as one batch catch-up into a fresh
        broker, uncompressed like the changefeed's own produce."""
        from ticdc_spark.pipeline import build_pipeline
        from ticdc_spark.sinks.kafka_live import produce_frame
        from ticdc_spark.sources.changelog import events_changelog

        bootstrap = ctx.ds.call("kafka")["bootstrap"]
        t0 = time.perf_counter()
        produce_frame(build_pipeline(events_changelog(ctx.spark, ctx.path("src")),
                                     kafka_cfg(bootstrap)), bootstrap)
        return time.perf_counter() - t0

    def trace_layers(self, ctx: Ctx, tr) -> dict:
        """sources → operators → codec → sinks.kafka over the stream's
        files, each layer's output materialized before the next starts."""
        from pyspark.sql import functions as F

        from ticdc_spark.codec import encode_canal_json
        from ticdc_spark.operators import apply_table_filter, route, split_updates
        from ticdc_spark.pipeline import build_pipeline
        from ticdc_spark.sinks.kafka_live import produce_frame
        from ticdc_spark.sources.changelog import events_changelog

        bootstrap = ctx.ds.call("kafka")["bootstrap"]
        cfg = kafka_cfg(bootstrap)
        in_dir = ctx.path("src")
        with tr.span("pass"):
            with tr.span("pipeline"):
                build_pipeline(events_changelog(ctx.spark, in_dir), cfg)
            with tr.span("sources"):
                src = events_changelog(ctx.spark, in_dir).localCheckpoint()
            with tr.span("operators"):
                ops = route(split_updates(apply_table_filter(src, cfg.filter_rules)),
                            cfg.dispatchers, cfg.n_partitions).localCheckpoint()
            with tr.span("codec"):
                enc = encode_canal_json(ops).localCheckpoint()
            with tr.span("sinks.kafka"):
                produce_frame(enc, bootstrap)
        stats = enc.agg(F.count(F.lit(1)).alias("n"),
                        F.sum(F.length("value")).alias("b")).first()
        wire = ctx.ds.call("kafka_bytes", bootstrap=bootstrap)["bytes"]
        return {
            "pipeline.plan_s": tr.seconds("pipeline"),
            "sources.busy_s": tr.seconds("sources"),
            "sources.rows": src.count(),
            "operators.busy_s": tr.seconds("operators"),
            "operators.rows_out": ops.count(),
            "codec.busy_s": tr.seconds("codec"),
            "codec.bytes_per_row": stats["b"] / stats["n"],
            "sinks.kafka.produce_s": tr.seconds("sinks.kafka"),
            "sinks.kafka.records": stats["n"],
            "sinks.kafka.wire_bytes": wire,
            "sinks.kafka.compression_ratio": stats["b"] / wire,
        }


def read_jsonl(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


#: ``corpus_dedup``'s corpus: (cluster size, count) below and above
#: MAX_BUCKET_OCCUPANCY = 64, plus singletons
CORPUS_CLUSTERS = ((15, 20), (150, 2), (600, 1))
CORPUS_SINGLETONS = 3_000


def trace_llm_layer(ctx: Ctx, tr) -> dict:
    """The ``llm`` layer's five public calls over a seeded power-law
    near-duplicate corpus, for the traced run of a workload that does not
    enter it.  The corpus is written before the spans start."""
    from ticdc_spark.llm.dedup import (
        dedup_clusters,
        minhash_lsh_hot_buckets,
        minhash_lsh_pairs,
        minhash_signature,
    )

    in_dir = ctx.path("corpus")
    gen.write_corpus(in_dir, ctx.seed, CORPUS_SINGLETONS, CORPUS_CLUSTERS)
    docs = ctx.spark.read.parquet(os.path.join(in_dir, "documents.parquet"))
    rest = SparkRest(ctx.spark)
    with tr.span("pass"):
        with tr.span("llm.signature"):
            minhash_signature(docs).write.format("noop").mode(
                "overwrite").save()
        with tr.span("llm.lsh_pairs"):
            verified = minhash_lsh_pairs(docs).count()
        with tr.span("llm.candidates"):
            candidates = minhash_lsh_pairs(docs, threshold=0.0).count()
        with tr.span("llm.hot_buckets"):
            hot = minhash_lsh_hot_buckets(docs).count()
        before = rest.snapshot()
        with tr.span("llm.clusters"):
            dedup_clusters(docs).collect()
        after = rest.snapshot()
    return {
        "llm.signature_s": tr.seconds("llm.signature"),
        "llm.lsh_pairs_s": tr.seconds("llm.lsh_pairs"),
        "llm.clusters_s": tr.seconds("llm.clusters"),
        "llm.candidate_pairs": candidates,
        "llm.verify_yield": verified / candidates if candidates else 0.0,
        "llm.hot_buckets_dropped": hot,
        "llm.cc_jobs": after["jobs"] - before["jobs"],
    }


WORKLOADS = {w.name: w for w in (ChangefeedLag, KafkaCatchup)}

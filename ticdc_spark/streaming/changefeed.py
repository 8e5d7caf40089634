"""Changefeed lifecycle on Structured Streaming (SURVEY §3.1/§3.2).

The reference's changefeed is a named, restartable pipeline
(`pkg/config/changefeed.go:252-281`) scheduled by a
coordinator/maintainer over many nodes; here the whole control plane
collapses into one ``StreamingQuery``:

- create   = build DataFrame DAG + ``writeStream.start()``
- pause    = ``query.stop()`` (checkpoint keeps offsets)
- resume   = ``start()`` with the same checkpoint dir
- remove   = stop + delete checkpoint
- checkpointTs (A2: min over dispatcher watermarks,
  `maintainer/maintainer.go:83-88`) = what the epoch's flush reported:
  as in the reference, where checkpointTs follows what the sink flushed,
  the flush is the epoch's only pass over its rows.  The live Kafka
  produce tasks return a summary per topic — rows and commit-ts range —
  and the progress log entry, the syncpoints and the watermark
  broadcast are built from those few rows with no further Spark job
  (file/DB sinks: one aggregate, ``kafka_live.summarize``, before the
  write).  The resolved ts reaches downstream through the progress
  log's ``resolved_ts`` and the live WATERMARK broadcast.  The
  watermark and DDL broadcasts carry the frames of the changefeed's own
  protocol (its ``pipeline.PROTOCOLS`` record), built on the driver.
  One epoch is one data pass, the Structured Streaming (SIGMOD 2018)
  micro-batch model.
- epoch size = the changefeed's ``memory-quota``
  (`pkg/config/server.go:44-45`, 1 GiB default): each epoch admits
  source files up to that many on-disk bytes (at least one file), so a
  changefeed that fell behind catches up in a few large epochs instead
  of paying the per-epoch fixed cost once per file.

The data plane transform is EXACTLY the batch pipeline
(`pipeline.build_pipeline``) applied inside the micro-batch — batch and
streaming share one operator implementation, the core Spark-first win.
At scale the source swaps for Kafka and sinks write per-partition; the
foreachBatch body already routes/partitions accordingly.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ticdc_spark import failpoint
from ticdc_spark.operators.ordering import SORT_KEYS
from ticdc_spark.pipeline import ChangefeedConfig
from ticdc_spark.sources.changelog import stream_changelog


def bootstrap_from_sink_uri(cfg) -> str | None:
    """host:port from a kafka:// or kafka+ssl:// sink URI — what a
    deployment passes as ``live_bootstrap`` so the changefeed config
    alone selects the live endpoint (first server of a comma-separated
    bootstrap list)."""
    from urllib.parse import urlsplit

    uri = getattr(cfg, "sink_uri", None) or ""
    u = urlsplit(uri)
    if u.scheme not in ("kafka", "kafka+ssl") or not u.netloc:
        return None
    return u.netloc.split(",")[0]


def bump_schema_registry(path: str, ddl: dict) -> None:
    """Append a schema-version line for ``ddl`` — idempotent per DDL
    identity ``(ddl_ts, query)``.

    A crash between this append and the DDLTsBook record replays the
    DDL; the replay must not double-bump the version (consumers key on
    version numbers).  Identity is the (commit_ts, query) PAIR, not
    commit_ts alone: a multi-statement batch commits several distinct
    DDLs at one ts, and each must get its own version line.  A line
    with this identity already present means the bump happened — skip
    the append; version = distinct identities + 1."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    seen: set[tuple[int, str]] = set()
    if os.path.exists(path):
        with open(path) as f:
            for ln in f:
                if ln.strip():
                    doc = json.loads(ln)
                    seen.add((doc["ddl_ts"], doc.get("query", "")))
    if (ddl["commit_ts"], ddl.get("query", "")) in seen:
        return
    with open(path, "a") as f:
        f.write(json.dumps({
            "version": len(seen) + 1,
            "ddl_ts": ddl["commit_ts"],
            "schema_name": ddl.get("schema_name", ""),
            "table_name": ddl.get("table_name", ""),
            "query": ddl.get("query", ""),
        }) + "\n")


def _last_entry(f) -> tuple[int, dict | None]:
    """(start offset, parsed JSON) of the last newline-terminated line of
    the binary JSON-lines file ``f``; (size, None) when it is empty."""
    end = f.seek(0, os.SEEK_END)
    pos = end - 1  # the last line's own newline
    start = 0
    while pos > 0:
        step = min(4096, pos)
        f.seek(pos - step)
        i = f.read(step).rfind(b"\n")
        if i >= 0:
            start = pos - step + i + 1
            break
        pos -= step
    if start >= end:
        return end, None
    f.seek(start)
    return start, json.loads(f.read())


def _log_totals(f, last: dict | None) -> tuple[int, int]:
    """(rows, epochs) of the progress log ``f`` whose last entry is
    ``last``: its cumulative fields, or one full parse of a log written
    before entries carried them."""
    if last is None:
        return 0, 0
    if "total_rows" in last:
        return last["total_rows"], last["epochs"]
    f.seek(0)
    entries = [json.loads(line) for line in f.read().splitlines()]
    return sum(e["rows"] for e in entries), len(entries)


class Changefeed:
    """One changefeed = one Structured Streaming query + checkpoint dir."""

    def __init__(
        self,
        changefeed_id: str,
        cfg: ChangefeedConfig,
        work_dir: str,
        compression: str | None = None,
        live_bootstrap: str | None = None,
        epoch_offset: int = 0,
    ) -> None:
        self.changefeed_id = changefeed_id
        self.cfg = cfg
        self.work_dir = work_dir
        self.compression = compression
        # epoch-id namespace shift: a resume with overwrite_checkpoint_ts
        # deletes the stream checkpoint (fresh offsets restart epoch ids
        # at 0), so the rewound run writes epoch={offset+id} dirs and
        # cannot clobber the epochs the pre-rewind run already delivered
        # (`api/v2/changefeed.go:785-790` ResumeChangefeed overwrite)
        self.epoch_offset = epoch_offset
        # live MQ mode: produce epochs to a Kafka wire endpoint instead of
        # the filesystem sink (at-least-once like the reference; replays
        # append duplicates the consumer's idempotent apply absorbs),
        # over the connection options of the changefeed's own config
        self.live_bootstrap = live_bootstrap
        self.produce_opts = None
        if live_bootstrap is not None:
            from ticdc_spark.sinks.kafka_live import produce_options

            self.produce_opts = produce_options(
                cfg, live_bootstrap.rsplit(":", 1)[0])
        # planted DDL events (the logservice/schemastore feed in the
        # reference; a deployment wires the DDL job fetcher here): each
        # {"commit_ts", "schema_name", "table_name", "query", "ddl_type"}.
        # A DDL whose ts falls inside a micro-batch splits it at the
        # barrier (W3), broadcasts the protocol's DDL message to every
        # partition on the wire (reference MQ behavior), and bumps the
        # schema-version registry — exactly once across epoch replays
        # via the DDLTsBook.
        self.ddl_events = None
        self.checkpoint_dir = os.path.join(work_dir, "checkpoint", changefeed_id)
        self.sink_dir = os.path.join(work_dir, "sink", changefeed_id)
        self.progress_path = os.path.join(work_dir, "progress", f"{changefeed_id}.jsonl")
        self.query = None
        self._sink_compile = None
        self._protocol = None

    # -- sink --------------------------------------------------------------
    def _foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """One epoch = one data pass; the checkpoint is what the flush
        reported (W1/A2).

        Live Kafka: the produce is the epoch's only pass over its rows.
        It clusters them by (topic, partition), sorts each partition on
        the replay key (the reference's per-dispatcher ordered flush), and
        its tasks report a summary per topic: rows and commit-ts range.
        File and DB sinks take the same summary from one aggregate over
        the pre-compile frame (``kafka_live.summarize``), then write.
        ``_commit_epoch`` builds the progress entry (the changefeed's
        checkpointTs), the syncpoints and the watermark broadcast from
        those few rows, with no further Spark job; an epoch that reports
        0 rows records nothing.
        """
        epoch_id += self.epoch_offset  # rewind-generation namespace
        live_mq = (self.live_bootstrap is not None
                   and self._sink_compile is None
                   and not {"stmt", "path"} & set(batch_df.columns))
        if not live_mq:
            # the summary comes from the PRE-compile frame: a compiled DB
            # stmt batch drops commit_ts, but the checkpoint must still
            # advance for MySQL sinks (the reference advances checkpointTs
            # for every sink); otherwise /synced stays false, syncpoints
            # skip, and gc_safepoint ignores the changefeed
            from ticdc_spark.sinks.writer import summarize

            summary = summarize(batch_df)
            if not sum(r["rows"] for r in summary):
                return
        # chaos hook: crash BEFORE any sink effect — a restart must
        # re-deliver this epoch from the stream checkpoint with no loss
        failpoint.inject("changefeed/before-flush", {"epoch": epoch_id})
        if live_mq:
            # real wire produce (flexible Produce record batches from
            # executors); no filesystem sink — a Kafka changefeed's only
            # artifacts are the broker log + the progress bookkeeping below
            summary = self._produce_live(batch_df)
            if not sum(r["rows"] for r in summary):
                return
        else:
            self._write_sink(batch_df, epoch_id)
        # chaos hook: crash AFTER the sink effect but BEFORE progress
        # bookkeeping — restart re-delivers the epoch; the sink write is
        # idempotent under replay
        failpoint.inject("changefeed/after-flush", {"epoch": epoch_id})
        self._commit_epoch(epoch_id, summary, live_mq)

    def _write_sink(self, pre_df: DataFrame, epoch_id: int) -> None:
        """File and DB sinks: redo WAL, sink compile, ordered write."""
        # [consistent] level=eventual: persist the redo WAL for this
        # epoch BEFORE the sink flush (the reference's ordering — redo
        # logs must be durable before the sink may apply, so recovery
        # can replay them; `downstreamadapter/sink/redo`).  Applies on
        # the DB/storage paths where the pre-compile frame still
        # carries the row images; per-epoch overwrite keeps replay
        # idempotent like the sink write below.
        consistent = getattr(self.cfg, "consistent", None) or {}
        if (consistent.get("level", "none") == "eventual"
                and "after" in pre_df.columns):
            from ticdc_spark.sinks.redo import redo_log_files

            redo_log_files(pre_df).select("file_name", "value").write \
                .mode("overwrite").format("json").save(os.path.join(
                    self.work_dir, "redo", self.changefeed_id,
                    f"epoch={epoch_id}"))
        batch_df = pre_df
        if self._sink_compile is not None:
            # DB/storage sinks compile at flush time (windows/aggregates
            # are batch-only constructs) — reference shape: the sink owns
            # batching/SQL-gen at write, not the stream DAG
            batch_df = self._sink_compile(pre_df)
        cols = set(batch_df.columns)
        # sink-shape dispatch (compile_changefeed): MQ frames carry
        # value/topic, DB SQL batches carry stmt, storage frames carry
        # path/file_name
        if "stmt" in cols:
            out_cols = [c for c in ("schema_name", "table_name", "stmt")
                        if c in cols]
        elif "path" in cols:
            out_cols = ["path", "file_name", "value"]
        else:
            out_cols = [c for c in ("topic", "partition", "value")
                        if c in cols]
        sort_cols = [c for c in SORT_KEYS if c in cols]
        ordered = (
            batch_df.sortWithinPartitions(*sort_cols)
            if sort_cols else batch_df
        )
        # mode=overwrite per epoch dir: foreachBatch retries re-run with
        # the SAME epoch_id, so the write is idempotent under replay —
        # the Spark analog of the reference's replace-mode dedup on
        # restart (`basic_dispatcher.go:156-161`)
        writer = (
            ordered.select(*(out_cols or ["value"]))
            .write.mode("overwrite")
            .partitionBy(*[c for c in ("topic",) if c in out_cols])
            .format("json")
        )
        if self.compression:  # lz4/snappy/zstd analog (pkg/compression)
            writer = writer.option("compression", self.compression)
        writer.save(os.path.join(self.sink_dir, f"epoch={epoch_id}"))

    def _produce_live(self, batch_df: DataFrame) -> list:
        """Produce the epoch to the live wire; returns the produce tasks'
        summary rows (those of every segment on a DDL-barrier epoch)."""
        from ticdc_spark.sinks.kafka_live import produce_frame

        cols = set(batch_df.columns)
        frame = batch_df.select(*[
            c for c in ("topic", "partition", "key", "value", *SORT_KEYS)
            if c in cols])
        barriers, topics = self._pending_ddl_barriers(frame)
        if not barriers:
            return produce_frame(frame, self.live_bootstrap,
                                 **self.produce_opts)
        from ticdc_spark.streaming.barrier import split_batch_at_ddl

        by_ts = {d["commit_ts"]: d for d in self.ddl_events}
        book = self._ddl_book()
        summary: list = []
        # cut the epoch at each barrier: pre rows flush, the DDL message
        # broadcasts to every partition, post rows flush against the
        # bumped schema version (W3 on the live wire)
        split_batch_at_ddl(
            frame, barriers,
            lambda seg, _i: summary.extend(produce_frame(
                seg, self.live_bootstrap, **self.produce_opts)),
            lambda ts: self._apply_live_ddl(by_ts[ts], topics, book),
        )
        return summary

    def _commit_epoch(self, epoch_id: int, summary: list,
                      live_mq: bool) -> None:
        """Checkpoint bookkeeping from the flush's summary rows
        (``sinks.writer.SUMMARY_SCHEMA``, a few per task): the progress
        entry, the syncpoints and, on the live wire, the watermark
        broadcast.  No Spark job runs here."""
        rows = [r.asDict() for r in summary]
        stamped = [r for r in rows if r.get("max_ts") is not None]
        resolved_ts = max((r["max_ts"] for r in stamped), default=None)
        self._append_progress({
            "changefeed": self.changefeed_id,
            "epoch": epoch_id,
            "resolved_ts": resolved_ts,
            "rows": sum(r["rows"] for r in rows),
            "wall_ts": time.time(),
        })
        if resolved_ts is None:  # no ts anywhere; progress is row-count only
            return
        if getattr(self.cfg, "enable_sync_point", False):
            self._write_syncpoints(min(r["min_ts"] for r in stamped),
                                   resolved_ts)
        if live_mq:
            self._produce_live_watermarks(
                sorted({r["topic"] for r in rows}), int(resolved_ts))

    def _append_progress(self, entry: dict) -> None:
        """Append the epoch's progress line.  Replay (a crash between the
        flush and this point) must not double-count rows, and a replayed
        epoch can only be the LAST entry — Spark never re-runs an epoch
        after a later one ran, and a rewound run's ids start past the
        log's last entry (``next_epoch``) — so that entry alone is
        checked and dropped.  Each entry carries the log's cumulative
        ``total_rows`` and ``epochs``, taken from the last entry (or
        from the entry it replaces), so neither this nor ``stats``
        re-reads the log."""
        os.makedirs(os.path.dirname(self.progress_path), exist_ok=True)
        with open(self.progress_path, "a+b") as f:
            start, last = _last_entry(f)
            rows, epochs = _log_totals(f, last)
            if last is not None and last["epoch"] == entry["epoch"]:
                rows, epochs = rows - last["rows"], epochs - 1
                f.truncate(start)
            entry.update(total_rows=rows + entry["rows"], epochs=epochs + 1)
            f.write(json.dumps(entry).encode() + b"\n")

    def next_epoch(self) -> int:
        """First epoch id past every epoch this changefeed recorded: its
        sink's ``epoch=*`` dirs and its progress log's last entry (the
        only record a live Kafka changefeed keeps).  A rewound run starts
        its epoch-id namespace here."""
        import glob

        ids = [int(os.path.basename(p).split("=", 1)[1])
               for p in glob.glob(os.path.join(self.sink_dir, "epoch=*"))]
        if os.path.exists(self.progress_path):
            with open(self.progress_path, "rb") as f:
                _, last = _last_entry(f)
            if last is not None:
                ids.append(last["epoch"])
        return max(ids) + 1 if ids else 0

    def _ddl_book(self):
        from ticdc_spark.streaming.barrier import DDLTsBook

        return DDLTsBook(os.path.join(
            self.work_dir, "ddl", f"{self.changefeed_id}.book.jsonl"))

    def _pending_ddl_barriers(self, frame: DataFrame
                              ) -> tuple[list[int], list[str]]:
        """Unapplied DDL commit timestamps at or below this batch's max
        commit ts (barriers beyond the batch wait for a later epoch), and
        the batch's topics the DDL broadcasts to — one aggregate, run
        only while a DDL is pending."""
        if not self.ddl_events or "commit_ts" not in frame.columns:
            return [], []
        book = self._ddl_book()
        pending = sorted(d["commit_ts"] for d in self.ddl_events
                         if book.should_apply(d["commit_ts"]))
        if not pending:
            return [], []
        mx, topics = frame.agg(F.max("commit_ts"),
                               F.collect_set("topic")).first()
        if mx is None:
            return [], []
        return [t for t in pending if t <= mx], sorted(topics)

    def _apply_live_ddl(self, ddl: dict, topics: list[str], book) -> None:
        """Exactly-once DDL application at the barrier: broadcast the DDL
        message of the changefeed's own protocol (its ``PROTOCOLS``
        record's ``ddl`` frame) to EVERY partition of every routed topic
        — the reference MQ sink's DDL broadcast — then bump the
        schema-version registry and mark the ts applied.  A crash between
        broadcast and record re-broadcasts on replay (at-least-once,
        consumer dedups), the same contract as the data path."""
        self._broadcast(topics, *self._protocol.ddl(ddl))
        # chaos hook: crash AFTER the wire broadcast but BEFORE the
        # registry bump + DDLTsBook record (the reference's
        # checkpoint_race_ddl_crash window) — restart replays the epoch
        # and re-broadcasts (at-least-once on the wire, consumer
        # dedups), but the version bump and the book entry must land
        # exactly once
        failpoint.inject("changefeed/after-ddl-broadcast",
                         {"ts": ddl["commit_ts"]})
        # schema-version registry bump (the SchemaStore's multi-version
        # append; file-backed like the rest of the control plane)
        path = os.path.join(self.work_dir, "schema_versions",
                            f"{self.changefeed_id}.jsonl")
        bump_schema_registry(path, ddl)
        book.record(ddl["commit_ts"])

    def _produce_live_watermarks(self, topics: list[str], resolved_ts: int) -> None:
        """W1 live: after the flush, broadcast the epoch's resolved ts as
        the watermark frame of the changefeed's own protocol to EVERY
        partition of every topic seen this epoch (the reference's kafka
        sink broadcasts checkpoint events exactly like DDLs), with or
        without enable-tidb-extension."""
        self._broadcast(topics, *self._protocol.watermark(resolved_ts))

    def _broadcast(self, topics: list[str], key: bytes | None,
                   value: bytes) -> None:
        """One control message to EVERY partition of ``topics``, sent as
        ONE Produce request (every partition's error checked); built on
        the driver, so no Spark job runs."""
        from ticdc_spark.codec.kafka_wire import Record
        from ticdc_spark.sinks.kafka_client import KafkaConn
        from ticdc_spark.sinks.kafka_live import conn_options

        with KafkaConn.from_bootstrap(
                self.live_bootstrap,
                **conn_options(self.produce_opts)) as conn:
            md = conn.metadata(topics)
            conn.produce_all({
                t: {pt["index"]: [Record(key, value)]
                    for pt in md["topics"][t]["partitions"]}
                for t in topics})

    def _write_syncpoints(self, min_ts: int, resolved_ts: int) -> None:
        """W2 syncpoint writer (`mysql_writer_for_syncpoint.go:33-67`):
        every crossed multiple of sync-point-interval up to the batch's
        resolved ts is upserted once — `CalculateStartSyncPointTs`
        (`downstreamadapter/syncpoint/sync_point.go:28-39`) rounds the
        start UP to the next interval multiple. Driver-side: one line of
        arithmetic per micro-batch, no data-plane cost."""
        interval = self.cfg.sync_point_interval_us
        path = os.path.join(self.work_dir, "syncpoint",
                            f"{self.changefeed_id}.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "a+b") as f:
            # the ledger is append-only and ascending: its last line is
            # the highest boundary written
            _, entry = _last_entry(f)
            last = entry["primary_ts"] if entry else 0
            # first boundary strictly above what's already written,
            # anchored at the stream's own ts domain (commit_ts is
            # epoch-micros, so anchoring at 0 would enumerate ~50 years
            # of boundaries)
            start = ((max(last, min_ts - 1) // interval) + 1) * interval
            for ts in range(start, resolved_ts + 1, interval):
                f.write(json.dumps({
                    "changefeed": self.changefeed_id,
                    "primary_ts": ts,
                    "secondary_ts": resolved_ts,
                    "created_at": time.time(),
                }).encode() + b"\n")

    # -- lifecycle ---------------------------------------------------------
    def start(self, spark: SparkSession, sf_dir: str, available_now: bool = True):
        from ticdc_spark.pipeline import (
            DB_SCHEMES, STORAGE_SCHEMES, build_pipeline, build_pipeline_uncoded,
            compile_sink_tail, protocol_record, sink_scheme,
        )

        scheme = sink_scheme(self.cfg)
        live_mq = (self.live_bootstrap is not None
                   and scheme not in DB_SCHEMES
                   and scheme not in STORAGE_SCHEMES)
        if live_mq:  # the wire carries the protocol's own control frames
            self._protocol = protocol_record(self.cfg)
            if None in (self._protocol.ddl, self._protocol.watermark):
                raise ValueError(f"protocol {self.cfg.protocol!r} has no live "
                                 "DDL and watermark frames")
        cl = stream_changelog(spark, sf_dir, self.cfg.memory_quota)
        if scheme in DB_SCHEMES or scheme in STORAGE_SCHEMES:
            # stream the streaming-safe filter prefix; the sink-specific
            # tail (compaction windows, SQL batching, file layout) runs
            # per micro-batch in _foreach_batch
            out = build_pipeline_uncoded(cl, self.cfg)
            self._sink_compile = lambda df: compile_sink_tail(df, self.cfg)
        else:
            out = build_pipeline(cl, self.cfg)
            self._sink_compile = None
        writer = (
            out.writeStream.foreachBatch(self._foreach_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .queryName(f"changefeed_{self.changefeed_id}")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        self.query = writer.start()
        return self.query

    def wait(self, timeout_s: float = 300.0) -> bool:
        """True once the query has terminated, False if ``timeout_s``
        ran out first."""
        assert self.query is not None
        return self.query.awaitTermination(timeout_s)

    def stop(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()

    def stats(self) -> dict:
        """Changefeed statistics (cli_changefeed_statistics.go shape):
        totals + throughput from the progress log's first and last
        entries (the last carries the cumulative totals)."""
        last = None
        if os.path.exists(self.progress_path):
            with open(self.progress_path, "rb") as f:
                first = f.readline()
                _, last = _last_entry(f)
                rows, epochs = _log_totals(f, last)
        if last is None:
            return {"epochs": 0, "rows": 0, "rows_per_sec": None}
        elapsed = last["wall_ts"] - json.loads(first)["wall_ts"]
        return {
            "epochs": epochs,
            "rows": rows,
            "rows_per_sec": round(rows / elapsed, 1) if elapsed > 0 else None,
        }

    def checkpoint_ts(self) -> int | None:
        """Latest resolved ts from the progress log (A2)."""
        if not os.path.exists(self.progress_path):
            return None
        with open(self.progress_path, "rb") as f:
            _, last = _last_entry(f)
        return last["resolved_ts"] if last else None

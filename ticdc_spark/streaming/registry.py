"""Changefeed control plane (SURVEY §3.1): the API surface of
`api/v2/api.go:61-81` (create / list / get / pause / resume / remove)
collapsed onto one process.

Reference lifecycle states from `pkg/config/changefeed.go:252-281`
(ChangeFeedInfo.State: normal/stopped/failed…). Persistence = a JSON
registry file next to the checkpoints (the reference uses etcd); resume
reuses the Structured Streaming checkpoint, so a resumed changefeed
continues from its last committed offset (verified by the resume test).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

from ticdc_spark.config import parse_changefeed_config
from ticdc_spark.pipeline import ChangefeedConfig
from ticdc_spark.streaming.changefeed import Changefeed


class ChangefeedRegistry:
    def __init__(self, work_dir: str, live: bool = False) -> None:
        # live=True: changefeeds whose sink URI names a kafka broker
        # stream onto that broker's WIRE (bootstrap derived from the URI,
        # sinks/kafka_live) instead of the filesystem test sink
        self.live = live
        self.work_dir = work_dir
        self.path = os.path.join(work_dir, "changefeeds.json")
        self._live: dict[str, Changefeed] = {}
        self._backoffs: dict = {}  # per-feed error backoff state

    # -- persistence -------------------------------------------------------
    def _load(self) -> dict:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            return json.load(f)

    def _save(self, state: dict) -> None:
        os.makedirs(self.work_dir, exist_ok=True)
        with open(self.path, "w") as f:
            json.dump(state, f, indent=2)

    # -- API (api/v2 equivalents) -----------------------------------------
    def create(self, changefeed_id: str, config_toml: str,
               sink_uri: str | None = None,
               fmt: str = "toml") -> Changefeed:
        """CreateChangefeed: like the reference, the sink URI is a
        first-class argument beside the replica config
        (`api/v2/changefeed.go:89` ChangefeedConfig.SinkURI); when given
        it overrides any ``sink-uri`` key in the TOML.  ``fmt="json"``
        accepts the reference's JSON replica-config documents (the
        migration path, `pkg/migrate`)."""
        state = self._load()
        if changefeed_id in state and state[changefeed_id]["state"] != "removed":
            raise ValueError(f"changefeed {changefeed_id} already exists")
        entry = {"state": "normal", "config_toml": config_toml,
                 "config_fmt": fmt, "sink_uri": sink_uri}
        cfg = self._config(entry)
        entry["sink_uri"] = cfg.sink_uri
        state[changefeed_id] = entry
        self._save(state)
        cf = Changefeed(changefeed_id, cfg, self.work_dir,
                        live_bootstrap=self._bootstrap(cfg))
        self._live[changefeed_id] = cf
        return cf

    @staticmethod
    def _config(entry: dict) -> ChangefeedConfig:
        """A registry entry's config, parsed once with its override sink
        URI (if any) in place of the config's own."""
        return parse_changefeed_config(
            entry["config_toml"], fmt=entry.get("config_fmt", "toml"),
            sink_uri=entry.get("sink_uri"))

    def _bootstrap(self, cfg) -> str | None:
        if not self.live:
            return None
        from ticdc_spark.streaming.changefeed import bootstrap_from_sink_uri

        return bootstrap_from_sink_uri(cfg)

    def list(self) -> dict[str, str]:
        return {k: v["state"] for k, v in self._load().items()}

    def get(self, changefeed_id: str) -> Changefeed:
        state = self._load()
        if changefeed_id not in state:
            raise KeyError(changefeed_id)
        if changefeed_id not in self._live:
            cfg = self._config(state[changefeed_id])
            if state[changefeed_id].get("overwrite_checkpoint_ts"):
                # a rewound changefeed starts from the overwritten ts:
                # rows with commit_ts <= ts count as already replicated
                cfg.start_ts = state[changefeed_id]["overwrite_checkpoint_ts"]
            self._live[changefeed_id] = Changefeed(
                changefeed_id, cfg, self.work_dir,
                live_bootstrap=self._bootstrap(cfg),
                epoch_offset=state[changefeed_id].get("epoch_offset", 0))
        return self._live[changefeed_id]

    def run(self, changefeed_id: str, spark: SparkSession, sf_dir: str,
            timeout_s: float = 300.0) -> None:
        """Run to completion; a failing pipeline moves the changefeed to
        the ``failed`` state with the error recorded (ChangeFeedInfo
        State/Error, `pkg/config/changefeed.go:252-281`) instead of
        leaving it stuck in ``normal``. A later resume clears the error
        and retries."""
        cf = self.get(changefeed_id)
        try:
            cf.start(spark, sf_dir, available_now=True)
            cf.wait(timeout_s)
        except Exception as e:
            # error-state machine (`coordinator/changefeed/backoff.go`):
            # GC fast-fail codes and exhausted retries → failed;
            # transient errors → warning + retry schedule
            from ticdc_spark.api import _rfc_code
            from ticdc_spark.streaming.backoff import (
                ChangefeedBackoff,
                is_unretryable,
            )

            bo = self._backoffs.setdefault(changefeed_id, ChangefeedBackoff(
                cf.cfg.changefeed_error_stuck_duration_us / 1e6))
            code = _rfc_code(400, str(e))
            if is_unretryable(e):
                bo.failed = True
                new_state = "failed"
            else:
                ckpt = cf.checkpoint_ts() or 0
                _changed, new_state, _err = bo.check_status(
                    ckpt, [{"code": code, "message": str(e)[:500]}])
            state = self._load()
            state[changefeed_id]["state"] = new_state
            state[changefeed_id]["error"] = str(e)[:500]
            state[changefeed_id]["error_code"] = code
            self._save(state)
            raise
        if cf.cfg.target_ts:
            # bounded feed: everything <= target-ts is replicated, the
            # changefeed FINISHES (FeedState finished, ToInt 4) like the
            # reference when checkpointTs reaches targetTs
            self._set_state(changefeed_id, "finished")

    def pause(self, changefeed_id: str) -> None:
        self.get(changefeed_id).stop()
        self._set_state(changefeed_id, "stopped")

    def resume(self, changefeed_id: str,
               overwrite_checkpoint_ts: int | None = None) -> None:
        """ResumeChangefeed (`api/v2/changefeed.go:785-790`): plain
        resume continues from the kept checkpoint; with
        ``overwrite_checkpoint_ts`` the changefeed REWINDS — the stream
        checkpoint is dropped (fresh scan), the restart replicates
        exactly the rows with ``commit_ts > ts`` (start-ts semantics,
        `pkg/config/changefeed.go` StartTs), and the rewound run's
        epochs land in a fresh epoch-id namespace so the pre-rewind
        deliveries stay intact.  Replay is idempotent downstream: the
        per-epoch overwrite sink plus key-based state replay absorb the
        re-delivered range; DDLs inside the rewound range re-broadcast
        exactly once (their DDLTsBook entries are pruned)."""
        state = self._load()
        if changefeed_id not in state:
            raise KeyError(changefeed_id)
        if overwrite_checkpoint_ts is not None:
            import shutil

            if overwrite_checkpoint_ts <= 0:
                raise ValueError("overwrite_checkpoint_ts must be > 0")
            cf = self.get(changefeed_id)
            cf.stop()
            shutil.rmtree(cf.checkpoint_dir, ignore_errors=True)
            # next epoch namespace: past every epoch already recorded
            state[changefeed_id]["epoch_offset"] = cf.next_epoch()
            state[changefeed_id]["overwrite_checkpoint_ts"] = (
                overwrite_checkpoint_ts)
            # DDLs beyond the rewind point must re-apply on replay
            book_path = os.path.join(
                self.work_dir, "ddl", f"{changefeed_id}.book.jsonl")
            if os.path.exists(book_path):
                with open(book_path) as f:
                    kept = [ln for ln in f if ln.strip() and json.loads(
                        ln)["ddl_ts"] <= overwrite_checkpoint_ts]
                with open(book_path, "w") as f:
                    f.writelines(kept)
            self._live.pop(changefeed_id, None)  # rebuild with new cfg
        state[changefeed_id]["state"] = "normal"
        state[changefeed_id].pop("error", None)  # retry clears the error
        state[changefeed_id].pop("error_code", None)
        self._save(state)
        self._backoffs.pop(changefeed_id, None)  # resume resets backoff

    def update(self, changefeed_id: str, config_toml: str) -> None:
        """UpdateChangefeed (`api/v2/changefeed.go` UpdateChangefeed):
        only legal while stopped — the reference rejects updates to a
        running changefeed; the new config takes effect on resume."""
        state = self._load()
        if changefeed_id not in state:
            raise KeyError(changefeed_id)
        if state[changefeed_id]["state"] != "stopped":
            raise ValueError(
                f"changefeed {changefeed_id} is "
                f"{state[changefeed_id]['state']}; pause it before update"
            )
        parse_changefeed_config(config_toml)  # validate before persisting
        state[changefeed_id]["config_toml"] = config_toml
        self._save(state)
        self._live.pop(changefeed_id, None)  # rebuild DAG from new config

    def describe(self, changefeed_id: str) -> dict:
        """GetChangeFeed: state + config + checkpointTs in one document."""
        state = self._load()
        if changefeed_id not in state:
            raise KeyError(changefeed_id)
        cf = self.get(changefeed_id)
        doc = {
            "id": changefeed_id,
            "state": state[changefeed_id]["state"],
            "config_toml": state[changefeed_id]["config_toml"],
            "sink_uri": cf.cfg.sink_uri,
            "checkpoint_ts": cf.checkpoint_ts(),
        }
        if state[changefeed_id].get("error"):
            doc["error"] = state[changefeed_id]["error"]
        return doc

    def gc_safepoint(self) -> int | None:
        """Global GC safepoint = min checkpointTs over live changefeeds
        (`coordinator/coordinator.go:482` updateGlobalGcSafepoint): the
        upstream may GC MVCC versions strictly below this ts. None when
        no live changefeed has checkpointed yet (the reference likewise
        removes the safepoint after the last changefeed is deleted,
        `coordinator.go:401`)."""
        ckpts = [
            self.get(cid).checkpoint_ts()
            for cid, st in self._load().items()
            if st["state"] != "removed"
        ]
        ckpts = [c for c in ckpts if c is not None]
        return min(ckpts) if ckpts else None

    def remove(self, changefeed_id: str) -> None:
        cf = self.get(changefeed_id)
        cf.stop()
        self._set_state(changefeed_id, "removed")
        self._live.pop(changefeed_id, None)

    def _set_state(self, changefeed_id: str, value: str) -> None:
        state = self._load()
        state[changefeed_id]["state"] = value
        self._save(state)

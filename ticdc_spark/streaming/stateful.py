"""Custom stateful streaming operators (SURVEY §2.12).

Two reference stateful behaviors rebuilt on
``applyInPandasWithState`` (Arrow-batched, per-key state store,
timeout-driven eviction):

- **streaming txn matcher** (J2, `logservice/logpuller/txn_matcher.go`):
  prewrite rows wait in state until their commit record arrives; state
  times out (rollback analog) if no commit shows up within the horizon.
- **large-txn accumulation** (O3, `pkg/eventservice/large_txn_spill.go`):
  rows of one (start_ts) transaction accumulate in state and flush as
  one atomic group when the txn's resolved marker arrives.

The functions are nested so cloudpickle ships them by value (driver cwd
independence — see llm/multimodal.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

MATCHED_SCHEMA = (
    "start_ts long, pk long, op string, seq long, commit_ts long"
)
STATE_SCHEMA = "ops array<string>, seqs array<long>, commit_ts long"


def streaming_txn_match(events: DataFrame, timeout_ms: int = 60_000) -> DataFrame:
    """events: unioned stream of prewrite rows (kind='P', commit_ts null)
    and commit records (kind='C', commit_ts set), keyed by (start_ts, pk).

    Emits matched committed rows; prewrites lacking a commit are dropped
    when their state times out (the matcher's rollback GC).  The horizon
    is event time: a txn's state expires once the watermark (newest
    start_ts seen minus ``timeout_ms``) passes its own start_ts, and a
    commit arriving later than that is late data.  Event time, unlike a
    processing-time timeout, lets a bounded (``availableNow``) run end:
    Spark runs no-data batches only while the watermark still moves."""
    from pyspark.sql import functions as F

    def match(key, pdfs, state):
        import pandas as pd

        (start_ts, pk) = key
        ops, seqs, commit_ts = ([], [], None)
        if state.exists:
            ops, seqs, commit_ts = state.get
            ops, seqs = list(ops), list(seqs)
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(columns=[
                "start_ts", "pk", "op", "seq", "commit_ts"])
            return
        for pdf in pdfs:
            for _, row in pdf.iterrows():
                if row["kind"] == "C":
                    commit_ts = int(row["commit_ts"])
                else:
                    ops.append(row["op"])
                    seqs.append(int(row["seq"]))
        if commit_ts is not None and ops:
            state.remove()
            yield pd.DataFrame({
                "start_ts": start_ts, "pk": pk, "op": ops, "seq": seqs,
                "commit_ts": commit_ts,
            })
        else:
            state.update((ops, seqs, commit_ts))
            # start_ts is epoch µs; the timeout is an epoch-ms instant
            state.setTimeoutTimestamp(start_ts // 1000)
            yield pd.DataFrame(columns=[
                "start_ts", "pk", "op", "seq", "commit_ts"])

    return (
        events.withColumn("_start_time", F.timestamp_micros("start_ts"))
        .withWatermark("_start_time", f"{timeout_ms} milliseconds")
        .groupBy("start_ts", "pk")
        .applyInPandasWithState(match, MATCHED_SCHEMA, STATE_SCHEMA,
                                "append", "EventTimeTimeout")
    )


SCAN_WINDOW_OUT_SCHEMA = (
    "table_name string, upto_ts long, final_interval_ms long, "
    "fast_ema double, slow_ema double, pressure_score double, "
    "n_brake long, n_high_pressure long, n_sustained long, "
    "n_very_low_recovery long, n_low_recovery long, n_none long"
)
SCAN_WINDOW_STATE_SCHEMA = (
    "wts array<long>, wr array<double>, fast double, slow double, "
    "init int, p double, la long, ld long, lc long, li long, cur long, "
    "nb long, nh long, nsu long, nvl long, nlr long, nn long"
)


def streaming_scan_window(reports: DataFrame) -> DataFrame:
    """W4 as a live stream: the adaptive scan-window controller
    (`pkg/eventservice/scan_window.go:440-560`) with its state — the
    trailing 30 s usage window AND the EMA/pressure/cooldown scalars —
    persisted in the streaming state store, exactly where the
    reference's in-memory controller lives.  Input rows:
    (table_name, ts, lastr, rel); one state row per changefeed; each
    micro-batch emits the running controller state (take the row with
    the max ``upto_ts`` per changefeed for the current value).

    Unlike the batch fold (`operators/scan_window.py`), the window
    stats are maintained incrementally in state, because a stream
    cannot precompute a RANGE window over future batches — the batch
    equivalence test pins both paths to the same result."""
    from ticdc_spark.operators.scan_window import (
        ADJUST_COOLDOWN_S,
        BRAKE_COOLDOWN_S,
        DEFAULT_IV_MS,
        EMERGENCY_UNLOCK_SAMPLES,
        FLOOR_RECOVERY_S,
        MAX_IV_MS,
        MIN_INCREASE_SAMPLES,
        MIN_INCREASE_SPAN_S,
        MIN_IV_MS,
        PLATEAU_IV_MS,
        PRESSURE_COOLDOWN_S,
        RELEASE_RECOVERY_S,
        VERY_LOW_RECOVERY_S,
        WINDOW_S,
        _NEG_INF_TS,
    )

    default_iv, min_iv, max_iv = DEFAULT_IV_MS, MIN_IV_MS, MAX_IV_MS
    plateau_iv, neg_inf, window_s = PLATEAU_IV_MS, _NEG_INF_TS, WINDOW_S
    brake_cd, press_cd = BRAKE_COOLDOWN_S, PRESSURE_COOLDOWN_S
    floor_cd, adjust_cd = FLOOR_RECOVERY_S, ADJUST_COOLDOWN_S
    release_cd, vl_cd = RELEASE_RECOVERY_S, VERY_LOW_RECOVERY_S
    min_inc_n, min_inc_span = MIN_INCREASE_SAMPLES, MIN_INCREASE_SPAN_S
    unlock_n = EMERGENCY_UNLOCK_SAMPLES

    def control(key, pdfs, state):
        import pandas as pd

        if state.exists:
            (wts, wr, fast, slow, init, p, la, ld, lc, li, cur,
             nb, nh, nsu, nvl, nlr, nn) = state.get
            wts, wr = list(wts), list(wr)
        else:
            wts, wr = [], []
            fast = slow = p = 0.0
            init = 0
            la = ld = -1
            lc = li = neg_inf
            cur = default_iv
            nb = nh = nsu = nvl = nlr = nn = 0

        rows = []
        for pdf in pdfs:
            for _, r in pdf.iterrows():
                rows.append((int(r["ts"]), float(r["lastr"]),
                             int(r["rel"])))
        rows.sort()
        upto = -1
        for ts, lastr, rel in rows:
            upto = ts
            # trailing window upkeep (memoryUsageWindow.addSample/prune)
            wts.append(ts)
            wr.append(lastr)
            cutoff = ts - window_s
            k = 0
            while k < len(wts) and wts[k] < cutoff:
                k += 1
            if k:
                wts, wr = wts[k:], wr[k:]
            cnt = len(wts)
            avgr = sum(wr) / cnt
            mxr = max(wr)
            span = ts - wts[0]

            if not init:
                fast = slow = lastr
                init = 1
            else:
                fast = fast + 0.4 * (lastr - fast)
                slow = slow + 0.2 * (lastr - slow)
            if (ts - lc) >= brake_cd and lastr > 0.9:
                if lastr > 0.98:
                    if (cur <= default_iv and cnt >= unlock_n
                            and fast >= 0.9):
                        cur = max(cur // 2, min_iv)
                    elif cur <= 6 * default_iv:
                        cur = min(max(cur // 2, default_iv), cur)
                    else:
                        cur = max(cur // 4, plateau_iv)
                else:
                    cur = min(max(cur // 2, default_iv), cur)
                lc = la = ld = li = ts
                nb += 1
                continue
            hot = fast >= 0.75 or slow >= 0.75 or lastr >= 0.7
            warm = fast >= 0.55 or slow >= 0.55 or avgr >= 0.55
            if hot:
                p = min(p + 2, 8.0)
            elif warm:
                p = min(p + 1, 8.0)
            elif fast < 0.30 and slow < 0.25 and lastr < 0.30:
                p = max(0.0, p - 1.5)
            else:
                p = max(0.0, p - 0.5)
            if rel > 0:
                p = max(0.0, p - min(rel * 2.0, 8.0))
            if (ts - ld) >= press_cd and hot:
                cur = min(max(cur * 3 // 4, default_iv), cur)
                la = ld = li = ts
                nh += 1
                continue
            if (ts - ld) >= press_cd and p >= 3.0 and warm:
                cur = min(max(cur * 9 // 10, default_iv), cur)
                la = ld = li = ts
                nsu += 1
                continue
            if (cur <= default_iv and (ts - la) >= floor_cd
                    and (ts - ld) >= floor_cd and cnt >= 3
                    and lastr < 0.35 and avgr < 0.55
                    and fast < 0.45 and slow < 0.40 and p < 1.5):
                nxt = min(cur * 5 // 4, max_iv)
                if nxt > cur:
                    cur, la = nxt, ts
                    nlr += 1
                    continue
            if not ((ts - la) >= adjust_cd and (ts - ld) >= release_cd
                    and cnt >= min_inc_n and span >= min_inc_span
                    and p < 1.0):
                nn += 1
                continue
            if (mxr < 0.1 and avgr < 0.1 and fast < 0.1 and slow < 0.1
                    and (ts - li) >= vl_cd):
                num, den = ((11, 10) if cur >= 120000 else
                            (6, 5) if cur >= 60000 else (3, 2))
                nxt = min(cur * num // den, max_iv)
                if nxt > cur:
                    cur, la = nxt, ts
                    nvl += 1
                    continue
            if (cur < max_iv and mxr < 0.2 and avgr < 0.2
                    and fast < 0.23 and slow < 0.22):
                num, den = ((21, 20) if cur >= 120000 else
                            (11, 10) if cur >= 60000 else (5, 4))
                nxt = min(cur * num // den, max_iv)
                if nxt > cur:
                    cur, la = nxt, ts
                    nlr += 1
                    continue
            nn += 1

        state.update((wts, wr, fast, slow, init, p, la, ld, lc, li, cur,
                      nb, nh, nsu, nvl, nlr, nn))
        if upto >= 0:
            yield pd.DataFrame([{
                "table_name": key[0], "upto_ts": upto,
                "final_interval_ms": cur, "fast_ema": fast,
                "slow_ema": slow, "pressure_score": p, "n_brake": nb,
                "n_high_pressure": nh, "n_sustained": nsu,
                "n_very_low_recovery": nvl, "n_low_recovery": nlr,
                "n_none": nn,
            }])

    from pyspark.sql.streaming.state import GroupStateTimeout

    return reports.groupBy("table_name").applyInPandasWithState(
        control, SCAN_WINDOW_OUT_SCHEMA, SCAN_WINDOW_STATE_SCHEMA,
        "append", GroupStateTimeout.NoTimeout,
    )

"""Seeded input generators for the changefeed benchmark.

Everything here is numpy + pyarrow only: inputs are written before the
clock starts and the engine receives nothing but the files.  The same
seed gives byte-identical files; another seed gives other files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
TS_TYPE = pa.timestamp("us")


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...) so one input's size
    never shifts another input's draws."""
    return np.random.default_rng([seed, *stream])


def events_table(rng: np.random.Generator, n: int, first_id: int) -> pa.Table:
    """The driver's ``events`` schema: uniform keys over a key space 4x
    the row count (high cardinality), five event types, two-decimal
    values, ``props`` JSON carrying ``k``.  ``ts`` is left at 0: the
    feeder stamps each row's commit time when it schedules the file."""
    ts_us = np.zeros(n, np.int64)
    user_id = rng.integers(0, 4 * n, n)
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    value = np.round(rng.uniform(0.0, 200.0, n), 2)
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts_us.astype(np.int64), TS_TYPE),
        "user_id": pa.array(user_id.astype(np.int64)),
        "event_type": pa.array(etype.tolist(), pa.string()),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {x}}}' for x in k.tolist()], pa.string()),
    })


PAYLOAD = pa.struct([("id", pa.int64()), ("val", pa.float64()),
                     ("k", pa.int64())])
OP_ORDER = {"D": 1, "U": 2, "I": 3}
#: Zipf exponent of the changelog's keys: a few keys take most events,
#: so compaction folds most of a chunk away
ZIPF_A = 1.2
#: share of events on a live key that delete it (the rest update it)
P_DELETE = 0.2


def changelog_table(seed: int, n: int, n_tables: int,
                    key_space: int) -> pa.Table:
    """A FIXTURES §1 changelog whose per-key histories are consistent
    from an empty downstream: a key's first event is an INSERT, later
    events UPDATE or DELETE an existing row and re-INSERT a deleted one
    (I, U, D, D→I).  Keys are Zipf-hot, so the compaction fold ratio is
    high.  Updates never change the handle key."""
    rng = rng_for(seed, 2)
    table = rng.integers(0, n_tables, n)
    key = (rng.zipf(ZIPF_A, n) - 1) % key_space
    new_val = np.round(rng.uniform(0.0, 1000.0, n), 2)
    new_k = rng.integers(0, 1000, n)
    delete = rng.random(n) < P_DELETE
    commit_ts = BASE_TS_US + np.cumsum(rng.integers(1, 50, n))

    live: dict[tuple[int, int], tuple[float, int]] = {}
    ops, before, after = [], [], []
    for t, pk, v, k, d in zip(table.tolist(), key.tolist(), new_val.tolist(),
                              new_k.tolist(), delete.tolist()):
        cur = live.get((t, pk))
        img = {"id": pk, "val": v, "k": k}
        if cur is None:
            ops.append("I")
            before.append(None)
            after.append(img)
            live[(t, pk)] = (v, k)
            continue
        old = {"id": pk, "val": cur[0], "k": cur[1]}
        if d:
            ops.append("D")
            before.append(old)
            after.append(None)
            del live[(t, pk)]
        else:
            ops.append("U")
            before.append(old)
            after.append(img)
            live[(t, pk)] = (v, k)
    seq = np.arange(n, dtype=np.int64)
    return pa.table({
        "schema_name": pa.array(["test"] * n, pa.string()),
        "table_name": pa.array([f"t{t}" for t in table.tolist()], pa.string()),
        "table_id": pa.array((table + 1).astype(np.int64)),
        "op": pa.array(ops, pa.string()),
        "commit_ts": pa.array(commit_ts.astype(np.int64)),
        "start_ts": pa.array((commit_ts - 1 - seq % 997).astype(np.int64)),
        "seq": pa.array(seq),
        "dml_order": pa.array([OP_ORDER[o] for o in ops], pa.int32()),
        "pk": pa.array(key.astype(np.int64)),
        "before": pa.array(before, PAYLOAD),
        "after": pa.array(after, PAYLOAD),
    })


def write_changelog(path: str, seed: int, n: int, n_tables: int,
                    key_space: int) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(changelog_table(seed, n, n_tables, key_space),
                   os.path.join(path, "changelog.parquet"),
                   row_group_size=max(1, -(-n // 8)))


#: words per corpus document and vocabulary size: documents share almost
#: no 3-shingles unless planted in one cluster
DOC_WORDS = 70
VOCAB = 20_000


def corpus_table(seed: int, n_singletons: int,
                 clusters: tuple[tuple[int, int], ...]) -> pa.Table:
    """Power-law near-duplicate corpus.  ``clusters`` lists (size,
    count): each planted cluster is a random template plus size-1 copies
    with one word replaced, so every pair inside a cluster has 3-shingle
    Jaccard ≥ 0.83 and pairs across clusters share almost nothing.
    Columns: doc_id, text, cluster (planted id; -1 for singletons)."""
    rng = rng_for(seed, 3)
    words = np.array([f"w{i}" for i in range(VOCAB)])
    texts: list[str] = []
    cluster_ids: list[int] = []
    cid = 0
    for size, count in clusters:
        for _ in range(count):
            tmpl = words[rng.integers(0, VOCAB, DOC_WORDS)]
            texts.append(" ".join(tmpl))
            cluster_ids.append(cid)
            pos = rng.integers(0, DOC_WORDS, size - 1)
            repl = words[rng.integers(0, VOCAB, size - 1)]
            for p, w in zip(pos.tolist(), repl.tolist()):
                doc = tmpl.copy()
                doc[p] = w
                texts.append(" ".join(doc))
                cluster_ids.append(cid)
            cid += 1
    for _ in range(n_singletons):
        texts.append(" ".join(words[rng.integers(0, VOCAB, DOC_WORDS)]))
        cluster_ids.append(-1)
    # shuffle so planted clusters do not sit in contiguous doc ids
    order = rng.permutation(len(texts))
    return pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array([texts[i] for i in order.tolist()], pa.string()),
        "cluster": pa.array([cluster_ids[i] for i in order.tolist()],
                            pa.int64()),
    })


def write_corpus(path: str, seed: int, n_singletons: int,
                 clusters: tuple[tuple[int, int], ...]) -> None:
    """``documents.parquet`` (doc_id, text) is the engine's input;
    ``planted.parquet`` (doc_id, cluster) is kept for the check."""
    os.makedirs(path, exist_ok=True)
    t = corpus_table(seed, n_singletons, clusters)
    pq.write_table(t.select(["doc_id", "text"]),
                   os.path.join(path, "documents.parquet"),
                   row_group_size=4096)
    pq.write_table(t.select(["doc_id", "cluster"]),
                   os.path.join(path, "planted.parquet"))

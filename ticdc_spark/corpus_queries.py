"""Corpus-operator queries + DuckDB oracles (Bloom membership, mixture
weights, bigram LM, quality classifier — `llm/corpus.py`).

Every computation is integer-exact after hashing (see the module doc of
`llm/corpus.py`), so the oracles reproduce Spark's output bit-for-bit:
md5-derived buckets parse identically via `('0x' || substr(md5(..)))`
(DuckDB) vs `conv(substring(md5(..)), 16, 10)` (Spark), and all sums
are BIGINT.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ticdc_spark.llm.corpus import (
    BLOOM_K,
    BLOOM_WORD_BITS,
    BLOOM_BITS,
    QC_BUCKETS,
    QC_MULT,
    QC_THRESHOLD_MILLI,
    bigram_logprob,
    bloom_build,
    bloom_probe,
    mixture_weights,
    quality_classifier,
)
from ticdc_spark.queries import register
from ticdc_spark.sources.changelog import read_table


def _docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# Bloom filter membership: build over the corpus digests, probe a mixed
# present/absent candidate set; false positives are the measurement.
# ---------------------------------------------------------------------------
def _bloom_pos_sql(key: str, i: str) -> str:
    return (
        f"(('0x' || substr(md5({i} || ':' || {key}), 1, 12))::BIGINT)"
        f" % {BLOOM_BITS}"
    )


_BLOOM_ORACLE = f"""
WITH keys AS (SELECT md5(text) AS key FROM documents),
pos AS (
    SELECT {_bloom_pos_sql('key', 'i::VARCHAR')} AS pos
    FROM keys, generate_series(0, {BLOOM_K - 1}) s(i)
),
bloom AS (
    SELECT pos // {BLOOM_WORD_BITS} AS word_idx,
           bit_or(1::BIGINT << (pos % {BLOOM_WORD_BITS})) AS word
    FROM pos GROUP BY 1
),
cand AS (
    -- DISTINCT: duplicate texts share a digest; one probe per key
    SELECT DISTINCT md5(text) AS key, TRUE AS truly_present
    FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT 'absent:' || i::VARCHAR, FALSE
    FROM generate_series(0, 99) t(i)
),
lk AS (
    SELECT key, truly_present,
           {_bloom_pos_sql('key', 'i::VARCHAR')} AS pos
    FROM cand, generate_series(0, {BLOOM_K - 1}) s(i)
),
checked AS (
    SELECT key, truly_present,
           min(CASE WHEN (coalesce(word, 0)
                          & (1::BIGINT << (pos % {BLOOM_WORD_BITS})))
                        = (1::BIGINT << (pos % {BLOOM_WORD_BITS}))
                    THEN 1 ELSE 0 END) AS all_set
    FROM lk LEFT JOIN bloom ON bloom.word_idx = lk.pos // {BLOOM_WORD_BITS}
    GROUP BY 1, 2
)
SELECT key, truly_present, all_set = 1 AS bloom_hit FROM checked
"""


@register("bloom_membership", _BLOOM_ORACLE, bench="plan")
def q_bloom_membership(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    bloom = bloom_build(docs.select(F.md5("text").alias("key")))
    present = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.md5("text").alias("key")
    ).distinct().withColumn("truly_present", F.lit(True))
    absent = spark.range(100).select(
        F.concat(F.lit("absent:"), F.col("id").cast("string")).alias("key"),
        F.lit(False).alias("truly_present"),
    )
    cand = present.unionByName(absent)
    return bloom_probe(cand, bloom).join(
        cand, "key"
    ).select("key", "truly_present", "bloom_hit")


# ---------------------------------------------------------------------------
# Mixture weights (α = 0.5 temperature sampling), all-integer closed form
# ---------------------------------------------------------------------------
_MIX_BUDGET = 10_000_000

_MIX_ORACLE = f"""
WITH s AS (
    SELECT source, count(*)::BIGINT AS n_docs,
           sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
    FROM documents GROUP BY 1
),
n AS (SELECT *, floor(sqrt(n_tokens * 1000000.0))::BIGINT AS ns FROM s),
t AS (SELECT sum(ns)::BIGINT AS total_ns FROM n),
w AS (
    SELECT source, n_docs, n_tokens,
           (ns * 1000000) // total_ns AS weight_ppm
    FROM n, t
),
a AS (
    SELECT *, (weight_ppm * {_MIX_BUDGET}) // 1000000 AS alloc_tokens
    FROM w
)
SELECT source, n_docs, n_tokens, weight_ppm, alloc_tokens,
       (alloc_tokens * 1000) // n_tokens AS epochs_milli
FROM a
"""


@register("mixture_weights", _MIX_ORACLE, bench="plan")
def q_mixture_weights(spark, sf_dir):
    return mixture_weights(_docs(spark, sf_dir), token_budget=_MIX_BUDGET)


# ---------------------------------------------------------------------------
# Bigram LM (Laplace-smoothed, corpus-trained) scored in micro-nats
# ---------------------------------------------------------------------------
_BIGRAM_ORACLE = """
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents),
pairs AS (
    SELECT doc_id,
           unnest([{'w1': toks[i], 'w2': toks[i+1]}
                   for i in generate_series(1, len(toks) - 1)]) AS bg
    FROM docs
),
p AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM pairs),
bg AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM p GROUP BY 1, 2),
ctx AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM bg GROUP BY 1),
v AS (SELECT count(DISTINCT w2) AS vocab FROM bg),
scored AS (
    SELECT doc_id,
           round(ln((c12 + 1)::DOUBLE / (c1 + vocab)) * 1000000)::BIGINT
               AS mn
    FROM p JOIN bg USING (w1, w2) JOIN ctx USING (w1), v
)
SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       sum(mn)::BIGINT AS logprob_micro
FROM scored GROUP BY 1
"""


@register("bigram_logprob", _BIGRAM_ORACLE, bench="plan")
def q_bigram_logprob(spark, sf_dir):
    return bigram_logprob(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Hashed linear quality classifier (fasttext-shaped inference plumbing)
# ---------------------------------------------------------------------------
_QC_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
w AS (
    SELECT doc_id,
           ((('0x' || substr(md5(t), 1, 7))::BIGINT % {QC_BUCKETS})
            * {QC_MULT}) % 2001 - 1000 AS w_milli
    FROM tok
)
SELECT doc_id, count(*)::BIGINT AS n_toks,
       sum(w_milli)::BIGINT AS score_milli,
       sum(w_milli) > count(*) * {QC_THRESHOLD_MILLI} AS keep
FROM w GROUP BY 1
"""


@register("quality_classifier", _QC_ORACLE, bench="plan")
def q_quality_classifier(spark, sf_dir):
    return quality_classifier(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# CCNet-style perplexity buckets: per language, rank documents by their
# bigram-LM score (normalized per bigram) and cut head/middle/tail
# thirds — the classic quality-stratification step before sampling.
# Ordering key is the IEEE double logprob_micro/n_bigrams (correctly
# rounded, hence engine-identical for identical integer inputs); the
# bucket index is pure integer arithmetic over the rank.
# ---------------------------------------------------------------------------
# the full bigram query reruns as a named subquery (subqueries may
# carry their own WITH clause)
_BIGRAM_CORE = _BIGRAM_ORACLE

_CCNET_ORACLE = f"""
WITH scored AS ({_BIGRAM_CORE}),
ranked AS (
    SELECT s.doc_id, d.lang, s.n_bigrams, s.logprob_micro,
           row_number() OVER (
               PARTITION BY d.lang
               ORDER BY s.logprob_micro::DOUBLE / s.n_bigrams DESC,
                        s.doc_id) AS rn,
           count(*) OVER (PARTITION BY d.lang) AS n_lang
    FROM scored s JOIN documents d USING (doc_id)
)
SELECT doc_id, lang, n_bigrams, logprob_micro, rn,
       (3 * (rn - 1)) // n_lang AS bucket
FROM ranked
"""


@register("ccnet_buckets", _CCNET_ORACLE, bench="plan")
def q_ccnet_buckets(spark, sf_dir):
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    scored = bigram_logprob(docs)
    joined = scored.join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy(
        (F.col("logprob_micro").cast("double") / F.col("n_bigrams")).desc(),
        "doc_id",
    )
    wl = Window.partitionBy("lang")
    return (
        joined.withColumn("rn", F.row_number().over(w).cast("long"))
        .withColumn("n_lang", F.count(F.lit(1)).over(wl))
        .withColumn(
            "bucket",
            F.expr("(3 * (rn - 1)) div n_lang").cast("long"))
        .select("doc_id", "lang", "n_bigrams", "logprob_micro", "rn",
                "bucket")
    )


# ---------------------------------------------------------------------------
# Seeded deterministic shuffle: reproducible training order at any
# scale WITHOUT a global sort — shard by keyed hash, order within the
# shard by the hash (per-shard windows only; the training loader reads
# shards in index order).  Changing the seed reshuffles; the same seed
# reproduces the exact order on any engine.
# ---------------------------------------------------------------------------
_SHUFFLE_SEED = 42
_SHUFFLE_SHARDS = 64

_SHUFFLE_ORACLE = f"""
WITH k AS (
    SELECT doc_id,
           md5('{_SHUFFLE_SEED}:' || doc_id::VARCHAR) AS shuffle_key
    FROM documents
),
s AS (
    SELECT doc_id, shuffle_key,
           ('0x' || substr(shuffle_key, 1, 6))::BIGINT % {_SHUFFLE_SHARDS}
               AS shard
    FROM k
)
SELECT doc_id, shard, shuffle_key,
       row_number() OVER (PARTITION BY shard
                          ORDER BY shuffle_key, doc_id) AS pos_in_shard
FROM s
"""


@register("seeded_shuffle", _SHUFFLE_ORACLE, bench="plan")
def q_seeded_shuffle(spark, sf_dir):
    from pyspark.sql import Window

    key = F.md5(F.concat(F.lit(f"{_SHUFFLE_SEED}:"),
                         F.col("doc_id").cast("string")))
    shard = (
        F.conv(F.substring("shuffle_key", 1, 6), 16, 10).cast("long")
        % _SHUFFLE_SHARDS
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return (
        _docs(spark, sf_dir)
        .select("doc_id", key.alias("shuffle_key"))
        .withColumn("shard", shard)
        .withColumn("pos_in_shard", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "shuffle_key", "pos_in_shard")
    )


# ---------------------------------------------------------------------------
# Per-source length percentiles: rank-selected p50/p90/p99 token counts
# (exact order statistics — no interpolation, engine-identical), the
# length-distribution row of a corpus datasheet.
# ---------------------------------------------------------------------------
_LEN_PCT_ORACLE = """
WITH t AS (
    SELECT source, len(string_split(text, ' '))::BIGINT AS n_toks
    FROM documents
),
r AS (
    SELECT source, n_toks,
           row_number() OVER (PARTITION BY source
                              ORDER BY n_toks) AS rn,
           count(*) OVER (PARTITION BY source) AS n
    FROM t
)
SELECT source,
       max(n) AS n_docs,
       max(CASE WHEN rn = (n * 50 + 99) // 100 THEN n_toks END) AS p50,
       max(CASE WHEN rn = (n * 90 + 99) // 100 THEN n_toks END) AS p90,
       max(CASE WHEN rn = (n * 99 + 99) // 100 THEN n_toks END) AS p99,
       min(n_toks) AS min_toks, max(n_toks) AS max_toks
FROM r GROUP BY source
"""


@register("length_percentiles", _LEN_PCT_ORACLE)
def q_length_percentiles(spark, sf_dir):
    from pyspark.sql import Window

    t = _docs(spark, sf_dir).select(
        "source", F.size(F.split("text", " ")).cast("long").alias("n_toks"))
    w = Window.partitionBy("source").orderBy("n_toks")
    ws = Window.partitionBy("source")
    r = (
        t.withColumn("rn", F.row_number().over(w).cast("long"))
        .withColumn("n", F.count(F.lit(1)).over(ws).cast("long"))
    )

    def pct(p):
        # ceil(n*p/100) as the 1-based order statistic (exact, no interp)
        return F.max(
            F.when(F.col("rn") == F.expr(f"(n * {p} + 99) div 100"),
                   F.col("n_toks")))

    return r.groupBy("source").agg(
        F.max("n").alias("n_docs"),
        pct(50).alias("p50"), pct(90).alias("p90"), pct(99).alias("p99"),
        F.min("n_toks").alias("min_toks"),
        F.max("n_toks").alias("max_toks"),
    )


# ---------------------------------------------------------------------------
# BPE merge TRAINING loop (Sennrich et al. 2016) — k sequential merge
# steps, each: weighted pair count -> argmax (count desc, pair asc) ->
# leftmost-non-overlapping merge.  The oracle chains one CTE block per
# step; llm/text.py bpe_train_merges builds the same k-stage lazy plan.
# ---------------------------------------------------------------------------
_BPE_TRAIN_K = 4


def _bpe_train_oracle(k: int) -> str:
    # sentinel-wrapped symbols (chr(1) markers around every symbol) so
    # the merge replace is boundary-anchored — see llm/text.py
    parts = ["""w0 AS (
    SELECT w, count(*)::BIGINT AS n,
           regexp_replace(w, '(.)', chr(1) || '\\1' || chr(1), 'g') AS sym
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    WHERE len(w) > 0 GROUP BY w)"""]
    syms = "string_split(trim(sym, chr(1)), chr(1) || chr(1))"
    for i in range(k):
        parts.append(f"""p{i} AS (
    SELECT pair, sum(n)::BIGINT AS pair_count FROM (
        SELECT n, unnest([syms[j] || ' ' || syms[j+1]
                          for j in generate_series(1, len(syms)-1)]) AS pair
        FROM (SELECT n, {syms} AS syms FROM w{i})) t
    GROUP BY pair)""")
        parts.append(f"""b{i} AS (
    SELECT CAST({i} AS BIGINT) AS step, split_part(pair, ' ', 1) AS l,
           split_part(pair, ' ', 2) AS r, pair_count
    FROM p{i} ORDER BY pair_count DESC, pair LIMIT 1)""")
        parts.append(f"""w{i + 1} AS (
    SELECT w, n, replace(sym, chr(1) || b.l || chr(1) || chr(1) || b.r
                              || chr(1),
                         chr(1) || b.l || b.r || chr(1)) AS sym
    FROM w{i}, b{i} b)""")
    union = " UNION ALL ".join(f"SELECT * FROM b{i}" for i in range(k))
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT step, l AS \"left\", r AS \"right\", pair_count "
              f"FROM ({union})")


# bench "build": the merge loop trains (collects) at construction
@register("bpe_train_merges", _bpe_train_oracle(_BPE_TRAIN_K), bench="build")
def q_bpe_train_merges(spark, sf_dir):
    from ticdc_spark.llm.text import bpe_train_merges

    return bpe_train_merges(_docs(spark, sf_dir), k=_BPE_TRAIN_K)

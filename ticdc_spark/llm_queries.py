"""LLM-data-pipeline queries + DuckDB oracles (registered into the main
query registry). Shared constants (marker sets, hyperplanes, minhash
parameters) come from the operator modules so both sides stay in
lockstep."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ticdc_spark.llm.dedup import (
    BAND_SIZE,
    MAX_BUCKET_OCCUPANCY,
    N_BANDS,
    NUM_PERM,
    exact_dedup,
    minhash_lsh_hot_buckets,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
)
from ticdc_spark.llm.multimodal import extract_features
from ticdc_spark.llm.similarity import brute_force_knn, hyperplanes, lsh_knn
from ticdc_spark.llm.text import (
    MARKERS,
    fingerprint,
    lang_id,
    quality_score,
    token_stats,
)
from ticdc_spark.queries import register
from ticdc_spark.sources.changelog import epoch_us, read_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "embeddings")


# -- shared SQL fragments ----------------------------------------------------
_TOKS = "string_split(text, ' ')"
_SHINGLES_CTE = f"""
docs AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (
    SELECT doc_id,
           CASE WHEN len(toks) >= 3
                THEN list_distinct([array_to_string(toks[i:i+2], ' ')
                                    for i in generate_series(1, len(toks)-2)])
                ELSE [] END AS shingles
    FROM docs
)
"""

_FNV = (
    "list_reduce(list_prepend(2166136261::BIGINT, "
    "[ascii(c) for c in split({s}, '')]), "
    "(acc, x) -> (xor(acc, x) * 16777619) % 4294967296)"
)


def _marker_ratio_sql(markers: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter(toks, t -> t IN ({lst})))::DOUBLE / len(toks)"


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
@register(
    "dedup_exact",
    "SELECT md5(text) AS content_hash, count(*) AS n_dups, "
    "min(doc_id) AS keep_doc_id FROM documents GROUP BY 1",
    bench="plan",
)
def q_dedup_exact(spark, sf_dir):
    return exact_dedup(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs (inverted-index join)
# ---------------------------------------------------------------------------
_JACCARD_ORACLE = f"""
WITH {_SHINGLES_CTE},
e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
inter AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
    FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
sz AS (SELECT doc_id, len(shingles) AS n_sh FROM sh)
SELECT a_id, b_id, n_inter,
       round(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sz sa ON a_id = sa.doc_id
JOIN sz sb ON b_id = sb.doc_id
WHERE round(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.8
"""


@register("dedup_ngram_jaccard", _JACCARD_ORACLE, bench="plan")
def q_dedup_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.8)


# ---------------------------------------------------------------------------
# MinHash signatures + LSH near-dup pairs
# ---------------------------------------------------------------------------
_MH_COLS = ",\n       ".join(
    f"list_min(list_transform(shingles, x -> md5('{s}:' || x))) AS mh{s}"
    for s in range(NUM_PERM)
)
_BAND_COLS = ",\n       ".join(
    "md5(" + " || '|' || ".join(f"mh{b * BAND_SIZE + r}" for r in range(BAND_SIZE))
    + f") AS band{b}"
    for b in range(N_BANDS)
)
_MINHASH_ORACLE = f"""
WITH {_SHINGLES_CTE},
mh AS (
    SELECT doc_id,
       {_MH_COLS}
    FROM sh
)
SELECT doc_id, {', '.join(f'mh{s}' for s in range(NUM_PERM))},
       {_BAND_COLS}
FROM mh
"""


@register("dedup_minhash_signature", _MINHASH_ORACLE)
def q_dedup_minhash_signature(spark, sf_dir):
    return minhash_signature(_docs(spark, sf_dir))


_LSH_PAIRS_ORACLE = f"""
WITH {_SHINGLES_CTE},
mh AS (
    SELECT doc_id,
       {_MH_COLS}
    FROM sh
),
bands_all AS (
    SELECT doc_id, band, bucket FROM (
        SELECT doc_id,
           {_BAND_COLS}
        FROM mh
    ) UNPIVOT (bucket FOR band IN ({', '.join(f'band{b}' for b in range(N_BANDS))}))
),
-- hot-bucket guard mirror: buckets above MAX_BUCKET_OCCUPANCY are
-- excluded from candidate generation (llm/dedup.py minhash_lsh_pairs)
bands AS (
    SELECT doc_id, band, bucket FROM bands_all
    QUALIFY count(*) OVER (PARTITION BY band, bucket) <= {MAX_BUCKET_OCCUPANCY}
),
cand AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
verified AS (
    SELECT a_id, b_id,
           len(list_intersect(sa.shingles, sb.shingles)) AS n_inter,
           round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE /
                 (len(sa.shingles) + len(sb.shingles)
                  - len(list_intersect(sa.shingles, sb.shingles))), 6) AS jaccard
    FROM cand
    JOIN sh sa ON a_id = sa.doc_id
    JOIN sh sb ON b_id = sb.doc_id
)
SELECT * FROM verified WHERE jaccard >= 0.8
"""


@register("dedup_minhash_lsh", _LSH_PAIRS_ORACLE, bench="plan")
def q_dedup_minhash_lsh(spark, sf_dir):
    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.8)


_LSH_HOT_BUCKETS_ORACLE = f"""
WITH {_SHINGLES_CTE},
mh AS (
    SELECT doc_id,
       {_MH_COLS}
    FROM sh
),
bands AS (
    SELECT doc_id, band, bucket FROM (
        SELECT doc_id,
           {_BAND_COLS}
        FROM mh
    ) UNPIVOT (bucket FOR band IN ({', '.join(f'band{b}' for b in range(N_BANDS))}))
)
SELECT CAST(substr(band, 5) AS INTEGER) AS band, bucket, count(*) AS occ,
       CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS dropped_pairs
FROM bands
GROUP BY band, bucket
HAVING count(*) > {MAX_BUCKET_OCCUPANCY}
"""


@register("dedup_minhash_lsh_hot_buckets", _LSH_HOT_BUCKETS_ORACLE,
    bench="plan",
)
def q_dedup_minhash_lsh_hot_buckets(spark, sf_dir):
    """Recall-accounting side of the minhash LSH skew guard: the
    dropped (band, bucket) keys and how many pairs each would have
    produced (empty on healthy distributions)."""
    return minhash_lsh_hot_buckets(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
_BIT_VOTES = " + ".join(
    f"(CASE WHEN list_sum(list_transform(hashes, h -> "
    f"CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
    f"THEN {1 << i} ELSE 0 END)"
    for i in range(16)
)
_SIMHASH_ORACLE = f"""
WITH docs AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, list_transform(toks, t -> {_FNV.format(s='t')}) AS hashes
      FROM docs)
SELECT doc_id, CAST({_BIT_VOTES} AS BIGINT) AS simhash FROM h
"""


@register("dedup_simhash", _SIMHASH_ORACLE, bench="plan")
def q_dedup_simhash(spark, sf_dir):
    return simhash(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------
@register(
    "lang_id",
    "WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents) "
    "SELECT doc_id, lang AS labeled_lang, "
    f"round({_marker_ratio_sql(MARKERS['en'])}, 6) AS r_en, "
    f"round({_marker_ratio_sql(MARKERS['de'])}, 6) AS r_de, "
    f"round({_marker_ratio_sql(MARKERS['fr'])}, 6) AS r_fr, "
    "CASE WHEN "
    f"{_marker_ratio_sql(MARKERS['en'])} >= {_marker_ratio_sql(MARKERS['de'])} AND "
    f"{_marker_ratio_sql(MARKERS['en'])} >= {_marker_ratio_sql(MARKERS['fr'])} AND "
    f"{_marker_ratio_sql(MARKERS['en'])} > 0 THEN 'en' WHEN "
    f"{_marker_ratio_sql(MARKERS['de'])} >= {_marker_ratio_sql(MARKERS['fr'])} AND "
    f"{_marker_ratio_sql(MARKERS['de'])} > 0 THEN 'de' WHEN "
    f"{_marker_ratio_sql(MARKERS['fr'])} > 0 THEN 'fr' ELSE 'unknown' END "
    "AS predicted_lang FROM t",
)
def q_lang_id(spark, sf_dir):
    return lang_id(_docs(spark, sf_dir))


_ALL_MARKERS = MARKERS["en"] + MARKERS["de"] + MARKERS["fr"]


@register(
    "text_quality",
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) "
    "SELECT doc_id, len(toks) AS n_tokens, "
    f"round({_marker_ratio_sql(_ALL_MARKERS)}, 6) AS marker_ratio, "
    "round(len(list_distinct(toks))::DOUBLE / len(toks), 6) AS diversity, "
    "round(0.3 * least(len(toks)::DOUBLE / 100.0, 1.0) "
    f"+ 0.4 * ({_marker_ratio_sql(_ALL_MARKERS)}) "
    "+ 0.3 * (len(list_distinct(toks))::DOUBLE / len(toks)), 6) AS quality FROM t",
    bench="plan",
)
def q_text_quality(spark, sf_dir):
    return quality_score(_docs(spark, sf_dir))


@register(
    "token_stats",
    "WITH t AS (SELECT doc_id, n_chars, length(text) AS measured_chars, "
    "string_split(text, ' ') AS toks FROM documents) "
    "SELECT doc_id, n_chars, measured_chars, len(toks)::BIGINT AS n_tokens, "
    "list_sum(list_transform(toks, x -> ceil(length(x) / 4.0)::BIGINT))::BIGINT "
    "AS n_subwords_est FROM t",
    bench="plan",
)
def q_token_stats(spark, sf_dir):
    return token_stats(_docs(spark, sf_dir))


@register(
    "doc_fingerprint",
    "WITH t AS (SELECT doc_id, "
    "regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS norm FROM documents) "
    "SELECT doc_id, md5(norm) AS content_fp, "
    "md5(substring(norm, 1, 64)) AS prefix_fp FROM t",
)
def q_doc_fingerprint(spark, sf_dir):
    return fingerprint(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------
_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), p -> "
    "p[1]::DOUBLE * p[2]::DOUBLE))"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"round({_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)})), 6)"
    )


_KNN_ORACLE = f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
scored AS (
    SELECT q_id, c_id, {_cos_sql('q_emb', 'c_emb')} AS cos_sim
    FROM q CROSS JOIN c WHERE q_id <> c_id
),
ranked AS (
    SELECT q_id, c_id, cos_sim,
           row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rank
    FROM scored
)
SELECT q_id, c_id, cos_sim, rank FROM ranked WHERE rank <= 10
"""


@register("similarity_knn", _KNN_ORACLE, bench="plan")
def q_similarity_knn(spark, sf_dir):
    return brute_force_knn(_emb(spark, sf_dir), n_queries=20, k=10)


def _plane_sql(row: list[float]) -> str:
    return "[" + ", ".join(f"{v}::DOUBLE" for v in row) + "]"


_PLANES = hyperplanes()
_BUCKET_SQL = " || ".join(
    f"(CASE WHEN {_DOT.format(a='embedding', b=_plane_sql(row))} >= 0 "
    "THEN '1' ELSE '0' END)"
    for row in _PLANES
)
_LSH_KNN_ORACLE = f"""
WITH b AS (SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings),
q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM b WHERE vec_id < 20),
c AS (SELECT vec_id AS c_id, embedding AS c_emb, bucket FROM b),
scored AS (
    SELECT q_id, c_id, {_cos_sql('q_emb', 'c_emb')} AS cos_sim
    FROM q JOIN c USING (bucket) WHERE q_id <> c_id
),
ranked AS (
    SELECT q_id, c_id, cos_sim,
           row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rank
    FROM scored
)
SELECT q_id, c_id, cos_sim, rank FROM ranked WHERE rank <= 3
"""


@register("similarity_lsh_knn", _LSH_KNN_ORACLE, bench="plan")
def q_similarity_lsh_knn(spark, sf_dir):
    return lsh_knn(_emb(spark, sf_dir), n_queries=20, k=3)


# ---------------------------------------------------------------------------
# multimodal plumbing (Pandas-UDF path, still oracle-checked)
# ---------------------------------------------------------------------------
@register(
    "multimodal_features",
    "SELECT doc_id, length(text)::BIGINT AS payload_len, md5(text) AS payload_md5, "
    "16 + (ascii(substring(text, 1, 1)) % 64)::BIGINT AS fake_width, "
    "16 + (ascii(substring(text, 2, 1)) % 64)::BIGINT AS fake_height "
    "FROM documents",
    bench="plan",
)
def q_multimodal_features(spark, sf_dir):
    return extract_features(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# embedding-cosine near-duplicate pairs (dedup family #5): LSH-bucketed
# candidate join + exact cosine threshold
# ---------------------------------------------------------------------------
from pyspark.sql import functions as F  # noqa: E402

from ticdc_spark.llm.similarity import _dot, _norm, lsh_bucket_col  # noqa: E402

_EMB_DUP_THRESHOLD = 0.9


def _emb_near_dup(emb):
    planes = hyperplanes()
    with_b = emb.select(
        "vec_id", "embedding",
        lsh_bucket_col(F.col("embedding"), planes).alias("bucket"),
        _norm(F.col("embedding")).alias("nrm"),
    )
    a = with_b.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb"),
                      F.col("nrm").alias("a_nrm"), "bucket")
    b = with_b.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"),
                      F.col("nrm").alias("b_nrm"), "bucket")
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn(
            "cos_sim",
            F.round(_dot(F.col("a_emb"), F.col("b_emb")) / (F.col("a_nrm") * F.col("b_nrm")), 6),
        )
        .filter(F.col("cos_sim") >= _EMB_DUP_THRESHOLD)
        .select("a_id", "b_id", "cos_sim")
        .distinct()
    )
    return pairs


# Random testdata vectors never cross the 0.9 threshold — planted twins
# (every 50th vector, uniformly scaled + tiny offset, cos ≈ 0.999) give
# the query positive support at every SF so a pass is evidence, not
# vacuous.  Both engines build identical FLOAT twins (double math, then
# one float32 cast), so the downstream cos/bucket algebra sees
# bit-identical inputs.
_TWIN_SQL = """
emb2 AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000,
           list_transform(embedding,
               x -> CAST(x * 1.001::DOUBLE + 0.0001::DOUBLE AS FLOAT))
    FROM embeddings WHERE vec_id % 50 = 0
)
"""

_EMB_DUP_ORACLE = f"""
WITH {_TWIN_SQL.strip()},
b AS (SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM emb2),
a AS (SELECT vec_id AS a_id, embedding AS a_emb, bucket FROM b),
c AS (SELECT vec_id AS b_id, embedding AS b_emb, bucket FROM b),
pairs AS (
    SELECT DISTINCT a_id, b_id, {_cos_sql('a_emb', 'b_emb')} AS cos_sim
    FROM a JOIN c USING (bucket) WHERE a_id < b_id
)
SELECT a_id, b_id, cos_sim FROM pairs WHERE cos_sim >= {_EMB_DUP_THRESHOLD}
"""


@register("dedup_embedding_cosine", _EMB_DUP_ORACLE)
def q_dedup_embedding_cosine(spark, sf_dir):
    base = _emb(spark, sf_dir).select("vec_id", "embedding")
    twins = base.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x: (x * F.lit(1.001) + F.lit(0.0001)).cast("float"),
        ).alias("embedding"),
    )
    return _emb_near_dup(base.unionByName(twins))


# ---------------------------------------------------------------------------
# sessionization over the events stream (lag + gap cumsum — the batch
# equivalent of session_window, oracle-expressible)
# ---------------------------------------------------------------------------
_SESSION_GAP_US = 1_800_000_000  # 30 min

_SESSION_ORACLE = f"""
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS t, event_id
    FROM events
),
lagged AS (
    SELECT *, lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev_t
    FROM ev
),
marked AS (
    SELECT *, CASE WHEN prev_t IS NULL OR t - prev_t > {_SESSION_GAP_US}
                   THEN 1 ELSE 0 END AS is_start
    FROM lagged
),
sessions AS (
    SELECT *, CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY t, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM marked
)
SELECT user_id, session_id, count(*) AS n_events,
       min(t) AS session_start, max(t) AS session_end,
       max(t) - min(t) AS duration_us
FROM sessions GROUP BY 1, 2
"""


@register("sessionization", _SESSION_ORACLE)
def q_sessionization(spark, sf_dir):
    from pyspark.sql import Window

    ev_raw = read_table(spark, sf_dir, "events")
    ev = ev_raw.select(
        "user_id", epoch_us(ev_raw, "ts").alias("t"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    lagged = ev.withColumn("prev_t", F.lag("t").over(w))
    marked = lagged.withColumn(
        "is_start",
        F.when(
            F.col("prev_t").isNull()
            | (F.col("t") - F.col("prev_t") > _SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "session_id",
        F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("t").alias("session_start"),
        F.max("t").alias("session_end"),
        (F.max("t") - F.min("t")).alias("duration_us"),
    )


# ---------------------------------------------------------------------------
# IVF-flat ANN (fixed coarse quantizer) — scale-path alternative to LSH
# ---------------------------------------------------------------------------
from ticdc_spark.llm.similarity import ivf_centroids, ivf_knn  # noqa: E402

_CENTS = ivf_centroids()


def _cent_sql(row):
    return "[" + ", ".join(f"{v}::DOUBLE" for v in row) + "]"


_D2 = (
    "list_sum(list_transform(list_zip(embedding, {c}), p -> "
    "(p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE)))"
)
_DISTS = [_D2.format(c=_cent_sql(c)) for c in _CENTS]
_IDX_EXPR = "0"
_BEST_EXPR = f"({_DISTS[0]})"
for _i in range(1, len(_CENTS)):
    _IDX_EXPR = f"CASE WHEN ({_DISTS[_i]}) < {_BEST_EXPR} THEN {_i} ELSE ({_IDX_EXPR}) END"
    _BEST_EXPR = f"least(({_DISTS[_i]}), {_BEST_EXPR})"

_IVF_ORACLE = f"""
WITH cells AS (SELECT vec_id, embedding, ({_IDX_EXPR}) AS cell FROM embeddings),
q AS (SELECT vec_id AS q_id, embedding AS q_emb, cell FROM cells WHERE vec_id < 20),
c AS (SELECT vec_id AS c_id, embedding AS c_emb, cell FROM cells),
scored AS (
    SELECT q_id, c_id, {_cos_sql('q_emb', 'c_emb')} AS cos_sim
    FROM q JOIN c USING (cell) WHERE q_id <> c_id
),
ranked AS (
    SELECT q_id, c_id, cos_sim,
           row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rank
    FROM scored
)
SELECT q_id, c_id, cos_sim, rank FROM ranked WHERE rank <= 3
"""


@register("similarity_ivf_knn", _IVF_ORACLE)
def q_similarity_ivf_knn(spark, sf_dir):
    return ivf_knn(_emb(spark, sf_dir), n_queries=20, k=3)


# ---------------------------------------------------------------------------
# document chunking (fixed-size token windows with overlap)
# ---------------------------------------------------------------------------
from ticdc_spark.llm.text import CHUNK_SIZE, CHUNK_STRIDE, chunk_documents  # noqa: E402

_CHUNK_ORACLE = f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
st AS (SELECT doc_id, t,
              unnest(generate_series(1, greatest(len(t), 1), {CHUNK_STRIDE})) AS start
       FROM tk)
SELECT doc_id,
       CAST((start - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(least({CHUNK_SIZE}, len(t) - start + 1) AS BIGINT) AS n_chunk_tokens,
       array_to_string(t[start:start+{CHUNK_SIZE - 1}], ' ') AS chunk_text,
       md5(array_to_string(t[start:start+{CHUNK_SIZE - 1}], ' ')) AS chunk_fp
FROM st
"""


@register("doc_chunking", _CHUNK_ORACLE, bench="plan")
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# PII redaction (emails/phones → typed placeholders, with counts)
# ---------------------------------------------------------------------------
from pyspark.sql import functions as F  # noqa: E402

from ticdc_spark.llm.text import PII_EMAIL, PII_PHONE, redact_pii  # noqa: E402

# The synthetic corpus carries no PII; inject deterministic emails/phones
# (same expression both engines) so the redaction path is actually hit.
_PII_AUG_SQL = """
aug AS (
    SELECT doc_id,
           text || CASE doc_id % 3
               WHEN 0 THEN ' contact u' || doc_id || '@mail.com ok'
               WHEN 1 THEN ' call 555-123-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' now'
               ELSE '' END AS text
    FROM documents
)
"""

_PII_RED_SQL = (
    f"regexp_replace(regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'), "
    f"'{PII_PHONE}', '<PHONE>', 'g')"
)


@register(
    "pii_redaction",
    f"WITH {_PII_AUG_SQL} SELECT doc_id, "
    f"CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT) AS n_emails, "
    f"CAST(len(regexp_extract_all(text, '{PII_PHONE}')) AS BIGINT) AS n_phones, "
    f"{_PII_RED_SQL} AS redacted_text, "
    f"md5({_PII_RED_SQL}) AS redacted_fp FROM aug",
    bench="plan",
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" contact u"), F.col("doc_id").cast("string"),
                     F.lit("@mail.com ok")),
        ).when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit(" call 555-123-"),
                     F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                     F.lit(" now")),
        ).otherwise(F.lit("")),
    )
    return redact_pii(docs.withColumn("text", aug))


# ---------------------------------------------------------------------------
# near-dup cluster formation: connected components over the LSH pair graph
# (distributed min-label propagation; oracle = recursive CTE closure)
# ---------------------------------------------------------------------------
from ticdc_spark.llm.dedup import dedup_clusters  # noqa: E402

_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS ({_LSH_PAIRS_ORACLE}),
edges AS (
    SELECT a_id AS src, b_id AS dst FROM pairs
    UNION ALL
    SELECT b_id AS src, a_id AS dst FROM pairs
),
verts AS (SELECT DISTINCT src AS doc_id FROM edges),
reach(doc_id, label) AS (
    SELECT doc_id, doc_id AS label FROM verts
    UNION
    SELECT e.dst AS doc_id, r.label
    FROM reach r JOIN edges e ON e.src = r.doc_id
    WHERE r.label < e.dst
),
lab AS (SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS is_canonical
FROM lab
"""


# bench "build": the label-propagation loop (joins + counts) runs at
# construction; the returned frame is only the final labeled join, and
# timing that tail alone under-reports and fakes a super-linear scale ratio
@register("dedup_clusters", _CLUSTERS_ORACLE, bench="build")
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_clusters(_docs(spark, sf_dir), threshold=0.8)


@register("dedup_clusters_star", _CLUSTERS_ORACLE)
def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same component labeling, large-star/small-star O(log n)-round
    propagation — the shape that survives deep components at 100 TB."""
    from ticdc_spark.llm.dedup import dedup_clusters_star

    return dedup_clusters_star(_docs(spark, sf_dir), threshold=0.8)


# Quality-ranked canonical selection: what a real curation pipeline
# keeps from each near-dup cluster is its BEST member (highest quality
# score), not the min-id one — min-id is an arbitrary survivor.  One
# broadcast-sized join + a per-cluster window on top of the CC labels;
# ties broken on the ROUNDED score by doc_id so the choice is
# deterministic on both engines.
_QUALITY_EXPR = (
    "round(0.3 * least(len(toks)::DOUBLE / 100.0, 1.0) "
    f"+ 0.4 * ({_marker_ratio_sql(_ALL_MARKERS)}) "
    "+ 0.3 * (len(list_distinct(toks))::DOUBLE / len(toks)), 6)"
)
_KEEP_BEST_ORACLE = f"""
WITH RECURSIVE pairs AS ({_LSH_PAIRS_ORACLE}),
edges AS (
    SELECT a_id AS src, b_id AS dst FROM pairs
    UNION ALL
    SELECT b_id AS src, a_id AS dst FROM pairs
),
verts AS (SELECT DISTINCT src AS doc_id FROM edges),
reach(doc_id, label) AS (
    SELECT doc_id, doc_id AS label FROM verts
    UNION
    SELECT e.dst AS doc_id, r.label
    FROM reach r JOIN edges e ON e.src = r.doc_id
    WHERE r.label < e.dst
),
lab AS (SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id),
clus AS (
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM lab),
tq AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
q AS (SELECT doc_id, {_QUALITY_EXPR} AS quality FROM tq)
SELECT c.doc_id, c.cluster_id, c.cluster_size, q.quality,
       row_number() OVER (PARTITION BY c.cluster_id
                          ORDER BY q.quality DESC, c.doc_id) = 1 AS keep
FROM clus c JOIN q ON q.doc_id = c.doc_id
"""


# bench "build": the same construction-time loop as dedup_clusters
@register("dedup_clusters_keep_best", _KEEP_BEST_ORACLE, bench="build")
def q_dedup_clusters_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ticdc_spark.llm.text import quality_score

    clusters = dedup_clusters(_docs(spark, sf_dir), threshold=0.8)
    q = quality_score(_docs(spark, sf_dir)).select("doc_id", "quality")
    j = clusters.select("doc_id", "cluster_id", "cluster_size").join(
        q, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id"))
    return j.select(
        "doc_id", "cluster_id", "cluster_size", "quality",
        (F.row_number().over(w) == 1).alias("keep"))


# ---------------------------------------------------------------------------
# deterministic stratified sampling + the composed training-set manifest
# ---------------------------------------------------------------------------
from ticdc_spark.llm.text import stratified_sample, training_manifest  # noqa: E402

_SAMPLE_U = (
    "(('0x' || substr(md5('sample:' || doc_id::VARCHAR), 1, 8))::BIGINT)"
    " / 4294967296.0"
)
_FRACTIONS = {"en": 0.9, "de": 0.8, "fr": 0.8, "es": 0.5, "zh": 0.5}
_FRAC_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(_FRACTIONS.items()))
    + " ELSE 0.0 END"
)
_SMALL_FRACTIONS = {"en": 0.5, "de": 0.25}
_SMALL_FRAC_SQL = (
    "CASE lang WHEN 'de' THEN 0.25 WHEN 'en' THEN 0.5 ELSE 0.0 END"
)


@register(
    "stratified_sample",
    f"SELECT doc_id, lang, source FROM documents WHERE {_SAMPLE_U} < {_SMALL_FRAC_SQL}",
)
def q_stratified_sample(spark, sf_dir):
    out = stratified_sample(_docs(spark, sf_dir), _SMALL_FRACTIONS)
    return out.select("doc_id", "lang", "source")


_QUALITY_CTE = (
    "q AS (WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) "
    "SELECT doc_id, len(toks)::BIGINT AS n_tokens, "
    "round(0.3 * least(len(toks)::DOUBLE / 100.0, 1.0) "
    f"+ 0.4 * ({_marker_ratio_sql(_ALL_MARKERS)}) "
    "+ 0.3 * (len(list_distinct(toks))::DOUBLE / len(toks)), 6) AS quality FROM t)"
)

_MANIFEST_ORACLE = f"""
WITH {_QUALITY_CTE},
canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
SELECT d.doc_id, d.lang, d.source, q.n_tokens, q.quality
FROM documents d
JOIN canon c ON d.doc_id = c.doc_id
JOIN q ON d.doc_id = q.doc_id
WHERE q.quality >= 0.45 AND {_SAMPLE_U.replace("doc_id", "d.doc_id")} < {_FRAC_SQL.replace("lang", "d.lang")}
"""


@register("training_manifest", _MANIFEST_ORACLE, bench="plan")
def q_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return training_manifest(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# per-stratum token-budget selection: best-quality docs until the lang's
# token budget fills (window cumsum per stratum — no global sort)
# ---------------------------------------------------------------------------
_TOKEN_BUDGET = 5000

_BUDGET_ORACLE = f"""
WITH {_QUALITY_CTE},
ranked AS (
    SELECT d.doc_id, d.lang, q.n_tokens, q.quality,
           CAST(sum(q.n_tokens) OVER (
               PARTITION BY d.lang ORDER BY q.quality DESC, d.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_tokens
    FROM documents d JOIN q ON d.doc_id = q.doc_id
)
SELECT doc_id, lang, n_tokens, quality, cum_tokens
FROM ranked WHERE cum_tokens <= {_TOKEN_BUDGET}
"""


@register("token_budget_selection", _BUDGET_ORACLE)
def q_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill each language's token budget with its highest-quality docs.
    The window is PER STRATUM (lang) — at 100 TB each stratum sorts
    independently across the cluster; there is no global single-partition
    sort. Deterministic tiebreak (quality DESC, doc_id) keeps the
    selection reproducible."""
    from pyspark.sql.window import Window

    from ticdc_spark.llm.text import quality_score

    docs = _docs(spark, sf_dir)
    q = quality_score(docs).select("doc_id", "n_tokens", "quality")
    j = docs.select("doc_id", "lang").join(q, "doc_id")
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("quality").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = j.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return out.filter(F.col("cum_tokens") <= _TOKEN_BUDGET).select(
        "doc_id", "lang", "n_tokens", "quality", "cum_tokens"
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (broadcast eval-shingle index, no self-join)
# ---------------------------------------------------------------------------
_DECONTAM_ORACLE = f"""
WITH {_SHINGLES_CTE},
bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 97 = 0),
corp AS (SELECT doc_id, shingles FROM sh WHERE doc_id % 97 <> 0),
e AS (SELECT doc_id, unnest(shingles) AS s FROM corp),
hits AS (SELECT doc_id, count(*) AS n_hit FROM e JOIN bench USING (s) GROUP BY 1)
SELECT c.doc_id, len(c.shingles) AS n_shingles,
       coalesce(n_hit, 0) AS n_contaminated,
       CASE WHEN len(c.shingles) > 0
            THEN round(coalesce(n_hit, 0)::DOUBLE / len(c.shingles), 6)
       END AS contamination,
       CASE WHEN len(c.shingles) > 0
            THEN round(coalesce(n_hit, 0)::DOUBLE / len(c.shingles), 6) >= 0.2
            ELSE FALSE END AS flagged
FROM corp c LEFT JOIN hits USING (doc_id)
"""


@register("decontaminate", _DECONTAM_ORACLE, bench="plan")
def q_decontaminate(spark, sf_dir):
    from ticdc_spark.llm.dedup import decontaminate

    return decontaminate(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# repetition quality metrics (Gopher-style, map-only HOF algebra)
# ---------------------------------------------------------------------------
_REP_ORACLE = f"""
WITH docs AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
    SELECT doc_id,
           CASE WHEN len(toks) >= 2
                THEN [array_to_string(toks[i:i+1], ' ')
                      for i in generate_series(1, len(toks)-1)]
                ELSE [] END AS g2,
           CASE WHEN len(toks) >= 3
                THEN [array_to_string(toks[i:i+2], ' ')
                      for i in generate_series(1, len(toks)-2)]
                ELSE [] END AS g3
    FROM docs
),
top2 AS (
    SELECT doc_id, max(c) AS top2_count FROM (
        SELECT doc_id, s, count(*) AS c
        FROM (SELECT doc_id, unnest(g2) AS s FROM g)
        GROUP BY doc_id, s
    ) GROUP BY doc_id
),
m AS (
    SELECT g.doc_id, len(g2) AS n_2grams,
           CASE WHEN len(g2) > 0 THEN round(
               top2_count::DOUBLE / len(g2), 6) END AS top_2gram_frac,
           CASE WHEN len(g3) > 0 THEN round(
               (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3), 6)
           END AS dup_3gram_frac
    FROM g LEFT JOIN top2 ON g.doc_id = top2.doc_id
)
SELECT doc_id, n_2grams, top_2gram_frac, dup_3gram_frac,
       (coalesce(top_2gram_frac, 0) > 0.10
        OR coalesce(dup_3gram_frac, 0) > 0.02) AS repetitious
FROM m
"""


@register("repetition_metrics", _REP_ORACLE, bench="plan")
def q_repetition_metrics(spark, sf_dir):
    from ticdc_spark.llm.text import repetition_metrics

    return repetition_metrics(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# IVF coarse-quantizer TRAINING (k-means refinement of the fixed seeds)
# — the oracle replays the identical Lloyd rounds in SQL: assignment by
# (dist², cell) argmin, per-(cell,dim) means rounded to 6, empty cells
# inheriting the previous centroid.
# ---------------------------------------------------------------------------
def _kmeans_oracle(iters: int = 2, k: int = 8, dim: int = 64) -> str:
    from ticdc_spark.llm.similarity import ivf_centroids

    seeds = ", ".join(
        f"({c}, [{', '.join(repr(v) for v in row)}])"
        for c, row in enumerate(ivf_centroids(dim, k))
    )
    d2 = (
        "list_sum([(embedding[i]::DOUBLE - s.cent[i]) * "
        "(embedding[i]::DOUBLE - s.cent[i]) "
        f"for i in generate_series(1, {dim})])"
    )
    parts = [
        f"cents0 AS (SELECT * FROM (VALUES {seeds}) t(cell, cent))",
        "e AS (SELECT vec_id, embedding FROM embeddings)",
    ]
    for r in range(iters):
        parts.append(
            f"a{r} AS (SELECT vec_id, embedding, cell FROM ("
            f"  SELECT e.vec_id, e.embedding, s.cell, {d2} AS d2, "
            "   row_number() OVER (PARTITION BY e.vec_id "
            "     ORDER BY "
            f"{d2}, s.cell) AS rn "
            f"  FROM e CROSS JOIN cents{r} s) WHERE rn = 1)"
        )
        parts.append(
            f"m{r} AS (SELECT cell, d, round(avg(embedding[d]::DOUBLE), 6) AS m "
            f"  FROM a{r} CROSS JOIN (SELECT unnest(generate_series(1, {dim})) "
            "    AS d) g GROUP BY cell, d)"
        )
        parts.append(
            f"cents{r + 1} AS (SELECT p.cell, "
            f"  coalesce(n.cent, p.cent) AS cent FROM cents{r} p LEFT JOIN "
            f"  (SELECT cell, list(m ORDER BY d) AS cent FROM m{r} GROUP BY cell) n "
            "  USING (cell))"
        )
    parts.append(
        f"afinal AS (SELECT vec_id, cell, d2 FROM ("
        f"  SELECT e.vec_id, s.cell, {d2} AS d2, "
        "   row_number() OVER (PARTITION BY e.vec_id "
        f"     ORDER BY {d2}, s.cell) AS rn "
        f"  FROM e CROSS JOIN cents{iters} s) WHERE rn = 1)"
    )
    return (
        "WITH " + ", ".join(parts)
        + " SELECT cell::BIGINT AS cell, count(*) AS n_vecs, "
        "round(sum(d2), 3) AS inertia FROM afinal GROUP BY cell"
    )


@register("ivf_kmeans_train", _kmeans_oracle())
def q_ivf_kmeans_train(spark, sf_dir):
    from ticdc_spark.llm.similarity import kmeans_refine

    _, summary = kmeans_refine(_emb(spark, sf_dir), iters=2)
    return summary


# ---------------------------------------------------------------------------
# multimodal: frame sampling (JVM-side binary slicing) + resize
# (pandas-UDF binary→binary). Oracle slices the same bytes via text
# substr (ASCII corpus: char offsets == byte offsets).
# ---------------------------------------------------------------------------
@register(
    "multimodal_frame_sample",
    "WITH p AS (SELECT doc_id, text, length(text) // 64 AS n_frames "
    "  FROM documents), "
    "ex AS (SELECT doc_id, n_frames, text, "
    "  unnest(generate_series(0, n_frames - 1, 3)) AS frame_idx "
    "  FROM p WHERE n_frames > 0) "
    "SELECT doc_id, n_frames, frame_idx // 3 AS sample_seq, frame_idx, "
    "  md5(substr(text, (frame_idx * 64 + 1)::INT, 64)) AS frame_md5 FROM ex",
)
def q_multimodal_frame_sample(spark, sf_dir):
    from ticdc_spark.llm.multimodal import sample_frames

    return sample_frames(_docs(spark, sf_dir))


@register(
    "multimodal_resize",
    "SELECT doc_id, CAST(32 AS BIGINT) AS out_w, CAST(32 AS BIGINT) AS out_h, "
    "md5(substr(repeat(md5(text), 32), 1, 1024)) AS resized_md5 FROM documents",
)
def q_multimodal_resize(spark, sf_dir):
    from ticdc_spark.llm.multimodal import resize_payloads

    return resize_payloads(_docs(spark, sf_dir)).select(
        "doc_id", "out_w", "out_h", "resized_md5")


# ---------------------------------------------------------------------------
# multimodal audio: waveform stats over PCM-interpreted payload bytes.
# Integer sum-of-squares keeps both engines exact; rms rounds via the
# ties-away floor formula on an exact integer ratio.
# ---------------------------------------------------------------------------
@register(
    "multimodal_waveform",
    "WITH s AS (SELECT doc_id, [ascii(c) for c in split(text, '')] AS xs "
    "  FROM documents) "
    "SELECT doc_id, len(xs)::BIGINT AS n_samples, "
    "  coalesce(list_max(xs), 0)::BIGINT AS peak, "
    "  coalesce(list_sum(list_transform(xs, x -> x * x)), 0)::BIGINT AS sum_sq, "
    "  CASE WHEN len(xs) > 0 THEN "
    "    floor(sqrt(list_sum(list_transform(xs, x -> x * x))::DOUBLE / len(xs)) "
    "          * 1e6 + 0.5) / 1e6 END AS rms "
    "FROM s",
)
def q_multimodal_waveform(spark, sf_dir):
    from ticdc_spark.llm.multimodal import waveform_stats

    return waveform_stats(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction (llm/text.py)
# ---------------------------------------------------------------------------
from ticdc_spark.llm.text import tfidf_keywords  # noqa: E402

_TFIDF_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term
    FROM documents
),
tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks
    WHERE term <> '' GROUP BY 1, 2
),
df AS (
    SELECT term, count(*) AS df FROM tf GROUP BY 1
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           round(tf.tf * ln(n.n_docs / df.df), 6) AS score
    FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
    FROM scored
)
SELECT doc_id, term, tf, df, score, rk FROM ranked WHERE rk <= 5
"""


@register("tfidf_keywords", _TFIDF_SQL, bench="plan")
def q_tfidf_keywords(spark, sf_dir):
    return tfidf_keywords(_docs(spark, sf_dir), k=5)


# ---------------------------------------------------------------------------
# Unigram LM quality scoring (llm/text.py)
# ---------------------------------------------------------------------------
from ticdc_spark.llm.text import unigram_logprob  # noqa: E402

_UNIGRAM_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term
    FROM documents
),
t2 AS (SELECT * FROM toks WHERE term <> ''),
counts AS (SELECT term, count(*) AS tc FROM t2 GROUP BY 1),
total AS (SELECT count(*) AS corpus_tokens FROM t2)
SELECT doc_id, count(*) AS n_tokens,
       round(avg(ln(tc / corpus_tokens)), 6) AS avg_logprob
FROM t2 JOIN counts USING (term) CROSS JOIN total
GROUP BY doc_id
"""


@register("unigram_logprob", _UNIGRAM_SQL, bench="plan")
def q_unigram_logprob(spark, sf_dir):
    return unigram_logprob(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Chunk-level exact dedup (llm/text.py chunking + hash groupBy) — the
# scalable approximation of exact-substring dedup: identical overlapping
# token windows across documents.
# ---------------------------------------------------------------------------
_CHUNK_DUP_SQL = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
starts AS (
    SELECT doc_id, t,
           unnest(generate_series(1::BIGINT, greatest(len(t), 1)::BIGINT, 48::BIGINT)) AS s
    FROM toks
),
chunks AS (
    SELECT doc_id, md5(array_to_string(t[s:s+63], ' ')) AS chunk_fp
    FROM starts
)
SELECT chunk_fp, count(*) AS n_copies, count(DISTINCT doc_id) AS n_docs,
       min(doc_id) AS canonical_doc
FROM chunks GROUP BY 1 HAVING count(*) > 1
"""


@register("dedup_chunks", _CHUNK_DUP_SQL, bench="plan")
def q_dedup_chunks(spark, sf_dir):
    """Duplicated chunk windows across the corpus: chunk → md5 →
    hash-groupBy, keeping only fingerprints with more than one copy.
    One shuffle on the digest; at 100 TB this is the standard
    exact-substring-dedup first pass (Lee et al. dedup windows)."""
    from ticdc_spark.llm.text import chunk_documents

    ch = chunk_documents(_docs(spark, sf_dir))
    return (
        ch.groupBy("chunk_fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .filter(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup through embedding clusters (Abbas et al.
# 2023): cluster-blocked cosine pruning with a lowest-id representative.
# Twin planting (same as dedup_embedding_cosine) guarantees positive
# support at every SF.
# ---------------------------------------------------------------------------
from ticdc_spark.llm.dedup import semantic_dedup, substring_dup_stats  # noqa: E402

_SEMDEDUP_TAU = 0.95

_SEMDEDUP_ORACLE = f"""
WITH {_TWIN_SQL.strip()},
cells AS (SELECT vec_id, embedding, ({_IDX_EXPR}) AS cell,
                 {_BUCKET_SQL} AS bucket
          FROM emb2),
lo AS (SELECT vec_id AS rep_id, embedding AS a_emb, cell, bucket FROM cells),
hi AS (SELECT vec_id, embedding AS b_emb, cell, bucket FROM cells),
pairs AS (
    SELECT vec_id, rep_id, cell, {_cos_sql('a_emb', 'b_emb')} AS cos_sim
    FROM lo JOIN hi USING (cell, bucket) WHERE rep_id < vec_id
),
qual AS (SELECT * FROM pairs WHERE cos_sim >= {_SEMDEDUP_TAU}),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cos_sim DESC, rep_id) AS rk
    FROM qual
)
SELECT vec_id, rep_id, CAST(cell AS BIGINT) AS cell, cos_sim
FROM ranked WHERE rk = 1
"""


@register("dedup_semantic", _SEMDEDUP_ORACLE, bench="plan")
def q_dedup_semantic(spark, sf_dir):
    base = _emb(spark, sf_dir).select("vec_id", "embedding")
    twins = base.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x: (x * F.lit(1.001) + F.lit(0.0001)).cast("float"),
        ).alias("embedding"),
    )
    return semantic_dedup(base.unionByName(twins), tau=_SEMDEDUP_TAU)


# ---------------------------------------------------------------------------
# Exact substring duplication profile (Lee et al. 2021): repeated
# 8-word grams across the corpus, per-document dup fraction.
# ---------------------------------------------------------------------------
from ticdc_spark.llm.dedup import SUBSTR_W  # noqa: E402

_SUBSTR_ORACLE = f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
g AS (
    SELECT doc_id, array_to_string(t[i:i+{SUBSTR_W - 1}], ' ') AS gram
    FROM (SELECT doc_id, t,
                 unnest(generate_series(1, len(t) - {SUBSTR_W} + 1)) AS i
          FROM tk WHERE len(t) >= {SUBSTR_W})
),
gc AS (SELECT gram, count(*) AS n_occ FROM g GROUP BY 1),
pd AS (
    SELECT doc_id, count(*) AS n_grams,
           sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS n_dup
    FROM g JOIN gc USING (gram) GROUP BY 1
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_dup AS BIGINT) AS n_dup_grams,
       round(n_dup / n_grams, 6) AS dup_frac
FROM pd
"""


@register("dedup_exact_substring", _SUBSTR_ORACLE, bench="plan")
def q_dedup_exact_substring(spark, sf_dir):
    return substring_dup_stats(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023): two smoothed unigram LMs
# (target = English slice, raw = whole corpus), per-doc log weight.
# ---------------------------------------------------------------------------
from ticdc_spark.llm.text import dsir_importance  # noqa: E402

_DSIR_ORACLE = """
WITH toks AS (
    SELECT doc_id, lang = 'en' AS tgt,
           unnest(string_split(text, ' ')) AS term
    FROM documents
),
tk AS (SELECT * FROM toks WHERE term <> ''),
counts AS (
    SELECT term, count(*) AS qc,
           sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS pc
    FROM tk GROUP BY 1
),
tot AS (
    SELECT sum(qc) AS q_total, sum(pc) AS p_total, count(*) AS vocab
    FROM counts
),
sc AS (
    SELECT doc_id,
           ln((pc + 1) / (p_total + vocab))
         - ln((qc + 1) / (q_total + vocab)) AS lw
    FROM tk JOIN counts USING (term) CROSS JOIN tot
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(sum(lw), 6) AS log_weight,
       round(sum(lw), 6) > 0 AS target_like
FROM sc GROUP BY doc_id
"""


@register("dsir_importance", _DSIR_ORACLE, bench="plan")
def q_dsir_importance(spark, sf_dir):
    return dsir_importance(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Sequence packing: concatenate-and-split training batch construction
# (per-stratum cumulative offsets -> fixed seq_len windows)
# ---------------------------------------------------------------------------
from ticdc_spark.llm.text import SEQ_LEN, sequence_packing  # noqa: E402

_PACK_ORACLE = f"""
WITH tk AS (
    SELECT doc_id, source, lang, len({_TOKS})::BIGINT AS n_tokens
    FROM documents
),
c AS (
    SELECT *, sum(n_tokens) OVER (PARTITION BY source, lang
                                  ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum
    FROM tk
)
SELECT doc_id, source, lang, n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS start_offset,
       CAST((cum - n_tokens) // {SEQ_LEN} AS BIGINT) AS first_bin,
       CAST((cum - 1) // {SEQ_LEN} AS BIGINT) AS last_bin,
       CAST((cum - 1) // {SEQ_LEN} - (cum - n_tokens) // {SEQ_LEN} + 1
            AS BIGINT) AS n_bins
FROM c
"""


@register("sequence_packing", _PACK_ORACLE, bench="plan")
def q_sequence_packing(spark, sf_dir):
    return sequence_packing(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# hot-shingle-pruned Jaccard: the skew-free 100 TB shape, oracle-locked
# ---------------------------------------------------------------------------
_JACCARD_PRUNED_ORACLE = f"""
WITH {_SHINGLES_CTE},
e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
tot AS (SELECT count(DISTINCT doc_id) AS n_docs FROM e),
hot AS (
    SELECT s FROM e, tot GROUP BY s, n_docs
    HAVING count(*) > n_docs * 0.02),
kept AS (SELECT doc_id, s FROM e WHERE s NOT IN (SELECT s FROM hot)),
inter AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
    FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2),
sz AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id)
SELECT a_id, b_id, n_inter,
       round(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sz sa ON a_id = sa.doc_id
JOIN sz sb ON b_id = sb.doc_id
WHERE round(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.8
"""


@register("dedup_ngram_jaccard_pruned", _JACCARD_PRUNED_ORACLE, bench="plan")
def q_dedup_ngram_jaccard_pruned(spark, sf_dir):
    from ticdc_spark.llm.dedup import ngram_jaccard_pairs_pruned

    return ngram_jaccard_pairs_pruned(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# BPE merge-step pair statistics (tokenizer training primitive)
# ---------------------------------------------------------------------------
_BPE_ORACLE = """
WITH wc AS (
  SELECT w, count(*) AS n, length(w) AS len
  FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
        FROM documents)
  WHERE length(w) > 0
  GROUP BY w),
pos AS (
  SELECT w, n, len, i
  FROM wc JOIN generate_series(1, 512) s(i)  -- static bound > any token
    ON s.i <= wc.len),
pairs AS (
  SELECT CASE WHEN i < len THEN substr(w, i, 2)
              ELSE substr(w, len, 1) || '</w>' END AS pair, n
  FROM pos)
SELECT pair, CAST(sum(n) AS BIGINT) AS n FROM pairs GROUP BY pair
ORDER BY n DESC, pair LIMIT 50
"""


@register("bpe_pair_stats", _BPE_ORACLE, bench="plan")
def q_bpe_pair_stats(spark, sf_dir):
    from ticdc_spark.llm.text import bpe_pair_stats

    return bpe_pair_stats(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Cross-source contamination matrix (shared distinct 8-word grams)
# ---------------------------------------------------------------------------
_OVERLAP_ORACLE = f"""
WITH tk AS (SELECT source, {_TOKS} AS t FROM documents),
g AS (
    SELECT DISTINCT source,
           array_to_string(t[i:i+{SUBSTR_W - 1}], ' ') AS gram
    FROM (SELECT source, t,
                 unnest(generate_series(1, len(t) - {SUBSTR_W} + 1)) AS i
          FROM tk WHERE len(t) >= {SUBSTR_W})),
tot AS (SELECT source, count(*) AS n_grams FROM g GROUP BY 1),
shared AS (
    SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
    FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
    GROUP BY 1, 2)
SELECT src_a, src_b, n_shared,
       ta.n_grams AS n_a, tb.n_grams AS n_b,
       round(n_shared / least(ta.n_grams, tb.n_grams), 6) AS overlap
FROM shared
JOIN tot ta ON ta.source = src_a
JOIN tot tb ON tb.source = src_b
"""


@register("source_overlap_matrix", _OVERLAP_ORACLE, bench="plan")
def q_source_overlap_matrix(spark, sf_dir):
    from ticdc_spark.llm.dedup import source_overlap_matrix

    return source_overlap_matrix(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Exact-substring excision: remove corpus-duplicated spans from the text
# ---------------------------------------------------------------------------
_EXCISE_ORACLE = f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
pt AS (
  SELECT doc_id, i - 1 AS idx, t[i] AS tok
  FROM tk JOIN generate_series(1, 4096) s(i) ON s.i <= len(t)),
g AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(t[i:i+{SUBSTR_W - 1}], ' ') AS gram
  FROM (SELECT doc_id, t FROM tk WHERE len(t) >= {SUBSTR_W})
  JOIN generate_series(1, 4096) s(i) ON s.i <= len(t) - {SUBSTR_W} + 1),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
covered AS (
  SELECT DISTINCT doc_id, pos + d.i AS idx
  FROM g JOIN dup USING (gram)
  JOIN generate_series(0, {SUBSTR_W - 1}) d(i) ON true),
kept AS (
  SELECT pt.doc_id, pt.idx, pt.tok FROM pt
  ANTI JOIN covered c ON c.doc_id = pt.doc_id AND c.idx = pt.idx),
cleaned AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY idx) AS cleaned_text
  FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, count(*) AS n_tokens FROM pt GROUP BY doc_id)
SELECT t.doc_id, t.n_tokens,
       CAST(COALESCE(c.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(t.n_tokens - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(c.cleaned_text, '') AS cleaned_text
FROM tot t LEFT JOIN cleaned c USING (doc_id)
"""


@register("substring_excise", _EXCISE_ORACLE, bench="plan")
def q_substring_excise(spark, sf_dir):
    from ticdc_spark.llm.dedup import substring_excise

    return substring_excise(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Product quantization: m-byte codes + asymmetric-distance top-k
# ---------------------------------------------------------------------------
from ticdc_spark.llm.similarity import (  # noqa: E402
    PQ_M,
    PQ_SUB_DIM,
    pq_adc_knn,
    pq_codebooks,
    pq_codes,
)

_BOOKS = pq_codebooks()


def _pq_sub_sql(s: int) -> str:
    a, b = s * PQ_SUB_DIM + 1, (s + 1) * PQ_SUB_DIM
    return f"embedding[{a}:{b}]"


def _pq_d2_sql(sub: str, cent: list[float]) -> str:
    lit = "[" + ", ".join(f"{v}::DOUBLE" for v in cent) + "]"
    return ("list_sum(list_transform(list_zip(" + sub + ", " + lit + "), "
            "p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE)))")


def _pq_code_sql(s: int) -> str:
    sub = _pq_sub_sql(s)
    dists = [_pq_d2_sql(sub, cent) for cent in _BOOKS[s]]
    idx, best = "0", f"({dists[0]})"
    for i in range(1, len(_BOOKS[s])):
        idx = f"CASE WHEN ({dists[i]}) < {best} THEN {i} ELSE ({idx}) END"
        best = f"least(({dists[i]}), {best})"
    return f"CAST(({idx}) AS INT)"


_PQ_CODES_ORACLE = "SELECT vec_id, " + ", ".join(
    f"{_pq_code_sql(s)} AS code{s}" for s in range(PQ_M)
) + " FROM embeddings"


@register("pq_codes", _PQ_CODES_ORACLE, bench="plan")
def q_pq_codes(spark, sf_dir):
    return pq_codes(_emb(spark, sf_dir))


def _pq_book_lit(s: int) -> str:
    return "[" + ", ".join(
        "[" + ", ".join(f"{v}::DOUBLE" for v in cent) + "]"
        for cent in _BOOKS[s]
    ) + "]"


_PQ_ADC_TERMS = " + ".join(
    "list_sum(list_transform(list_zip("
    f"q_emb[{s * PQ_SUB_DIM + 1}:{(s + 1) * PQ_SUB_DIM}], "
    f"({_pq_book_lit(s)})[code{s} + 1]), "
    "p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE)))"
    for s in range(PQ_M)
)

_PQ_ADC_ORACLE = f"""
WITH coded AS ({_PQ_CODES_ORACLE}),
q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
      WHERE vec_id < 10),
c AS (SELECT vec_id AS c_id, {", ".join(f"code{s}" for s in range(PQ_M))}
      FROM coded),
pair AS (
  SELECT q_id, c_id, round({_PQ_ADC_TERMS}, 6) AS approx_d2
  FROM q CROSS JOIN c WHERE q_id <> c_id),
ranked AS (
  SELECT q_id, c_id, approx_d2,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY approx_d2, c_id) AS rank
  FROM pair)
SELECT q_id, c_id, approx_d2, rank FROM ranked WHERE rank <= 3
"""


@register("pq_adc_knn", _PQ_ADC_ORACLE, bench="plan")
def q_pq_adc_knn(spark, sf_dir):
    return pq_adc_knn(_emb(spark, sf_dir))


# ---------------------------------------------------------------------------
# ANN evaluation: planted-twin retrieval through the compressed domain.
# Random synthetic vectors have no true neighbor structure (top-k
# recall on iid gaussians is inherently ~0 for any compressed method),
# so the meaningful gauge is: plant a near-identical twin for each
# query (the dedup_embedding_cosine convention) and assert ADC ranks it
# first — a broken encoder/distance would lose it.
# ---------------------------------------------------------------------------
_PQ_TWIN_ORACLE = f"""
WITH emb2 AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(embedding,
             x -> CAST(x * 1.001::DOUBLE + 0.0001::DOUBLE AS FLOAT))
  FROM embeddings WHERE vec_id < 10),
coded AS (SELECT vec_id, {", ".join(f"{_pq_code_sql(s)} AS code{s}" for s in range(PQ_M))}
          FROM emb2),
q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM emb2 WHERE vec_id < 10),
c AS (SELECT vec_id AS c_id, {", ".join(f"code{s}" for s in range(PQ_M))}
      FROM coded),
pair AS (
  SELECT q_id, c_id, round({_PQ_ADC_TERMS}, 6) AS approx_d2
  FROM q CROSS JOIN c WHERE q_id <> c_id),
ranked AS (
  SELECT q_id, c_id,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY approx_d2, c_id) AS rank
  FROM pair)
SELECT q_id,
       CAST(min(CASE WHEN c_id = q_id + 1000000 THEN rank END) AS BIGINT)
         AS twin_rank,
       CAST(CASE WHEN min(CASE WHEN c_id = q_id + 1000000 THEN rank END) = 1
                 THEN 1 ELSE 0 END AS BIGINT) AS twin_first
FROM ranked GROUP BY q_id
"""


# ---------------------------------------------------------------------------
# HNSW (graph ANN) recall gauge, same planted-twin convention: the twin
# is the exact nearest neighbor by construction, so a correct HNSW
# retrieval ranks it first in the merged shard results.  The oracle is
# the EXACT squared-L2 ranking — a missed twin (recall failure) or a
# distance bug surfaces as a rank/NULL mismatch.
# ---------------------------------------------------------------------------
_D2_SQL = ("round(list_sum(list_transform(list_zip({a}, {b}), "
           "p -> (p[1]::DOUBLE - p[2]::DOUBLE) * "
           "(p[1]::DOUBLE - p[2]::DOUBLE))), 6)")

_HNSW_TWIN_ORACLE = f"""
WITH emb2 AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(embedding,
             x -> CAST(x * 1.001::DOUBLE + 0.0001::DOUBLE AS FLOAT))
  FROM embeddings WHERE vec_id < 10),
q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM emb2 WHERE vec_id < 10),
c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM emb2),
pair AS (
  SELECT q_id, c_id, {_D2_SQL.format(a='q_emb', b='c_emb')} AS d2
  FROM q CROSS JOIN c WHERE q_id <> c_id),
ranked AS (
  SELECT q_id, c_id,
         row_number() OVER (PARTITION BY q_id ORDER BY d2, c_id) AS rank
  FROM pair)
SELECT q_id,
       CAST(min(CASE WHEN c_id = q_id + 1000000 THEN rank END) AS BIGINT)
         AS twin_rank,
       CAST(CASE WHEN min(CASE WHEN c_id = q_id + 1000000 THEN rank END) = 1
                 THEN 1 ELSE 0 END AS BIGINT) AS twin_first
FROM ranked GROUP BY q_id
"""


@register("hnsw_recall_at_k", _HNSW_TWIN_ORACLE, bench="plan")
def q_hnsw_recall_at_k(spark, sf_dir):
    from ticdc_spark.llm.similarity import hnsw_knn

    emb = _emb(spark, sf_dir)
    twins = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x: (x * F.lit(1.001) + F.lit(0.0001)).cast("float"),
        ).alias("embedding"),
    )
    emb2 = emb.select("vec_id", "embedding").unionByName(twins)
    found = hnsw_knn(emb2, n_queries=10, k=3, ef=64)
    twin = F.min(F.when(F.col("c_id") == F.col("q_id") + 1000000,
                        F.col("rank")))
    return found.groupBy("q_id").agg(
        twin.cast("long").alias("twin_rank"),
        F.when(twin == 1, 1).otherwise(0).cast("long").alias("twin_first"),
    )


# ---------------------------------------------------------------------------
# Cross-family flagship: VECTOR column -> changefeed -> ANN ("CDC into a
# vector store", the user story the reference's VECTOR e2e gestures at —
# `tests/integration_tests/vector/data/*.sql:7`).  Every embedding rides
# the REAL TiDB binary row codec as a VECTOR(float32) column
# (`types/vector.go` u32-count + f32 elements, text rendered
# strconv-f32; `pkg/common/event/codec.go:212` mounts it like any
# datum): base rows enter the changelog as a stale INSERT (reversed
# vector) followed by the true UPDATE, twins as single INSERTs — so the
# replay step is load-bearing: serving pre-compaction rows would index
# the stale vectors and the exact-L2 twin ranks would mismatch.  The
# mounted state (latest image per pk, the consumer's replay_to_state
# convention) feeds the sharded-HNSW index; output = planted-twin
# recall accounting + the mounted dimensionality (proves the wire
# carried full vectors, not truncations).
# ---------------------------------------------------------------------------
_VEC_CF_ANN_ORACLE = f"""
WITH emb2 AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(embedding,
             x -> CAST(x * 1.001::DOUBLE + 0.0001::DOUBLE AS FLOAT))
  FROM embeddings WHERE vec_id < 10),
q AS (SELECT vec_id AS q_id, embedding AS q_emb, len(embedding) AS vd
      FROM emb2 WHERE vec_id < 10),
c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM emb2),
pair AS (
  SELECT q_id, c_id, {_D2_SQL.format(a='q_emb', b='c_emb')} AS d2
  FROM q CROSS JOIN c WHERE q_id <> c_id),
ranked AS (
  SELECT q_id, c_id,
         row_number() OVER (PARTITION BY q_id ORDER BY d2, c_id) AS rank
  FROM pair)
SELECT r.q_id,
       CAST(min(CASE WHEN r.c_id = r.q_id + 1000000 THEN r.rank END)
            AS BIGINT) AS twin_rank,
       CAST(CASE WHEN min(CASE WHEN r.c_id = r.q_id + 1000000
                          THEN r.rank END) = 1
                 THEN 1 ELSE 0 END AS BIGINT) AS twin_first,
       CAST(min(q.vd) AS BIGINT) AS vec_dim
FROM ranked r JOIN q ON q.q_id = r.q_id GROUP BY r.q_id
"""


# bench "build": the query-set collect at construction runs the mount
# chain; the HNSW build runs at the action
@register("vector_changefeed_ann", _VEC_CF_ANN_ORACLE, bench="build")
def q_vector_changefeed_ann(spark, sf_dir):
    from pyspark.sql import Window

    from ticdc_spark.llm.similarity import hnsw_knn
    from ticdc_spark.sources.binary_mount import (
        mount_binary_rows,
        synthesize_binary_changelog,
    )

    emb = _emb(spark, sf_dir)
    twins = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x: (x * F.lit(1.001) + F.lit(0.0001)).cast("float"),
        ).alias("embedding"),
    )
    base = emb.select("vec_id", "embedding")
    nil = F.lit(None).cast("array<float>")

    def _cl_rows(df, op, ts, before, after):
        return df.select(
            F.lit(77).alias("table_id"),
            F.col("vec_id").alias("pk"),
            F.lit(op).alias("op"),
            F.lit(ts).alias("commit_ts"),
            F.lit(ts - 1).alias("start_ts"),
            (F.col("vec_id") + ts).alias("seq"),
            before.alias("before_vec"),
            after.alias("after_vec"),
        )

    changelog = (
        # stale insert: reversed vector — must NOT survive replay
        _cl_rows(base, "I", 1_000, nil, F.reverse("embedding"))
        .unionByName(_cl_rows(base, "U", 2_000,
                              F.reverse("embedding"), F.col("embedding")))
        .unionByName(_cl_rows(twins, "I", 1_000, nil, F.col("embedding")))
    )
    cols = ({"id": 1, "name": "vec", "type": "vector"},)
    mounted = mount_binary_rows(
        synthesize_binary_changelog(changelog, cols), cols)
    # changefeed materialization: latest image per pk (replay_to_state)
    w = Window.partitionBy("pk").orderBy(
        F.desc("commit_ts"), F.desc("seq"))
    state = (
        mounted.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
    )
    # strconv-f32 text -> float32 array (exact: shortest-repr round-trip)
    emb_state = state.select(
        F.col("pk").alias("vec_id"),
        F.expr("transform(split(substring(after_vec, 2, "
               "length(after_vec) - 2), ','), x -> cast(x AS float))"
               ).alias("embedding"),
    ).localCheckpoint()  # materialize the replayed state ONCE: the
    # query-set collect, the shard build, and the dim audit all reuse
    # it instead of re-running the mount chain (the vector-store shape:
    # state is materialized, then indexed and served from it)
    found = hnsw_knn(emb_state, n_queries=10, k=3, ef=64)
    dims = emb_state.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.size("embedding").alias("vec_dim"))
    twin = F.min(F.when(F.col("c_id") == F.col("q_id") + 1000000,
                        F.col("rank")))
    out = found.groupBy("q_id").agg(
        twin.cast("long").alias("twin_rank"),
        F.when(twin == 1, 1).otherwise(0).cast("long").alias("twin_first"),
    )
    return out.join(F.broadcast(dims), "q_id").select(
        "q_id", "twin_rank", "twin_first",
        F.col("vec_dim").cast("long").alias("vec_dim"))


@register("pq_recall_at_k", _PQ_TWIN_ORACLE)
def q_pq_recall_at_k(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    twins = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x: (x * F.lit(1.001) + F.lit(0.0001)).cast("float"),
        ).alias("embedding"),
    )
    emb2 = emb.select("vec_id", "embedding").unionByName(twins)
    adc = pq_adc_knn(emb2, n_queries=10, k=2_000_000)
    twin = F.min(F.when(F.col("c_id") == F.col("q_id") + 1000000,
                        F.col("rank")))
    return adc.groupBy("q_id").agg(
        twin.cast("long").alias("twin_rank"),
        F.when(twin == 1, 1).otherwise(0).cast("long").alias("twin_first"),
    )


# ---------------------------------------------------------------------------
# IVF + PQ composed (cell routing, ADC inside the cell) and int8
# scalar quantization (integer dot products — hash-exact end to end)
# ---------------------------------------------------------------------------
from ticdc_spark.llm.similarity import ivf_pq_knn, sq_dot_topk, sq_encode  # noqa: E402

_IVFPQ_ORACLE = f"""
WITH cells AS (SELECT vec_id, embedding, ({_IDX_EXPR}) AS cell FROM embeddings),
coded AS (SELECT vec_id, {", ".join(f"{_pq_code_sql(s)} AS code{s}" for s in range(PQ_M))}
          FROM embeddings),
q AS (SELECT vec_id AS q_id, embedding AS q_emb, cell FROM cells
      WHERE vec_id < 10),
c AS (SELECT cells.vec_id AS c_id, cell,
             {", ".join(f"code{s}" for s in range(PQ_M))}
      FROM cells JOIN coded ON cells.vec_id = coded.vec_id),
pair AS (
  SELECT q_id, c_id, round({_PQ_ADC_TERMS}, 6) AS approx_d2
  FROM q JOIN c USING (cell) WHERE q_id <> c_id),
ranked AS (
  SELECT q_id, c_id, approx_d2,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY approx_d2, c_id) AS rank
  FROM pair)
SELECT q_id, c_id, approx_d2, rank FROM ranked WHERE rank <= 3
"""


@register("ivf_pq_knn", _IVFPQ_ORACLE, bench="plan")
def q_ivf_pq_knn(spark, sf_dir):
    return ivf_pq_knn(_emb(spark, sf_dir))


_SQ_ENC = """
sc AS (SELECT max(abs(x.x::DOUBLE)) AS max_abs
       FROM (SELECT unnest(embedding) AS x FROM embeddings) x),
coded AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(x::DOUBLE * 127.0e0 / max_abs) AS INT)) AS q8
  FROM embeddings, sc)
"""


@register(
    "sq_encode_int8",
    f"WITH {_SQ_ENC} SELECT vec_id, q8 FROM coded",
)
def q_sq_encode(spark, sf_dir):
    return sq_encode(_emb(spark, sf_dir))


_SQ_TOPK_ORACLE = f"""
WITH {_SQ_ENC},
q AS (SELECT vec_id AS q_id, q8 AS q_q8 FROM coded WHERE vec_id < 10),
c AS (SELECT vec_id AS c_id, q8 AS c_q8 FROM coded),
pair AS (
  SELECT q_id, c_id,
         CAST(list_sum(list_transform(list_zip(q_q8, c_q8),
              p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT)))
              AS BIGINT) AS dot_i
  FROM q CROSS JOIN c WHERE q_id <> c_id),
ranked AS (
  SELECT q_id, c_id, dot_i,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY dot_i DESC, c_id) AS rank
  FROM pair)
SELECT q_id, c_id, dot_i, rank FROM ranked WHERE rank <= 3
"""


@register("sq_dot_topk", _SQ_TOPK_ORACLE, bench="plan")
def q_sq_dot_topk(spark, sf_dir):
    return sq_dot_topk(_emb(spark, sf_dir))


# SQ + exact re-rank — the production scalar-quantizer shape (FAISS
# IndexScalarQuantizer + IndexRefineFlat): the round-8 clustered
# planted-twin fixture measured int8 rounding noise EXCEEDING the true
# dot gap between a near-exact twin and its cluster-mates (7/10 rank-1
# without re-rank, tests/test_hostile_fixtures.py) — the same failure
# class as the r7 fixed-codebook PQ defect.  The shortlist is int8; the
# final top-k is an exact float dot over shortlist-sized joins only.
_SQ_RERANK_ORACLE = f"""
WITH {_SQ_ENC},
q AS (SELECT vec_id AS q_id, q8 AS q_q8 FROM coded WHERE vec_id < 10),
c AS (SELECT vec_id AS c_id, q8 AS c_q8 FROM coded),
pair AS (
  SELECT q_id, c_id,
         CAST(list_sum(list_transform(list_zip(q_q8, c_q8),
              p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT)))
              AS BIGINT) AS dot_i
  FROM q CROSS JOIN c WHERE q_id <> c_id),
shortlist AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY dot_i DESC, c_id) AS r
    FROM pair) WHERE r <= 64),
exact AS (
  SELECT s.q_id, s.c_id,
         round({_DOT.format(a='qe.embedding', b='ce.embedding')}, 6)
         AS dot_x
  FROM shortlist s
  JOIN embeddings qe ON qe.vec_id = s.q_id
  JOIN embeddings ce ON ce.vec_id = s.c_id),
ranked AS (
  SELECT q_id, c_id, dot_x,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY dot_x DESC, c_id) AS rank
  FROM exact)
SELECT q_id, c_id, dot_x, rank FROM ranked WHERE rank <= 3
"""


@register("sq_rerank_topk", _SQ_RERANK_ORACLE, bench="plan")
def q_sq_rerank_topk(spark, sf_dir):
    return sq_dot_topk(_emb(spark, sf_dir), rerank=64)


# ---------------------------------------------------------------------------
# Dataset card: the per-source datasheet (docs, tokens, dup rate,
# quality, dominant language) every corpus release ships with
# ---------------------------------------------------------------------------
_CARD_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, lang, md5(text) AS h,
         string_split(text, ' ') AS toks,
         round(0.3 * least(len(string_split(text, ' '))::DOUBLE / 100.0, 1.0)
         + 0.4 * ({{marker}})
         + 0.3 * (len(list_distinct(string_split(text, ' ')))::DOUBLE
                  / len(string_split(text, ' '))), 6) AS quality
  FROM documents),
per_doc AS (
  SELECT source, lang, h, len(toks) AS n_toks,
         CAST(round(quality * 1000000) AS BIGINT) AS q6
  FROM t),
lang_counts AS (
  SELECT source, lang, count(*) AS cnt FROM per_doc GROUP BY 1, 2),
top_lang AS (
  SELECT source, lang AS top_lang FROM (
    SELECT source, lang,
           row_number() OVER (PARTITION BY source
                              ORDER BY cnt DESC, lang) AS rn
    FROM lang_counts) WHERE rn = 1),
agg AS (
  SELECT source,
         count(*) AS n_docs,
         CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         CAST(count(*) - count(DISTINCT h) AS BIGINT) AS dup_docs,
         CAST(sum(q6) AS BIGINT) AS sum_q6
  FROM per_doc GROUP BY source)
SELECT a.source, a.n_docs, a.total_tokens, a.dup_docs, a.sum_q6,
       round(a.sum_q6 / 1000000.0e0 / a.n_docs, 6) AS mean_quality,
       tl.top_lang
FROM agg a JOIN top_lang tl USING (source)
""".format(marker=_marker_ratio_sql(_ALL_MARKERS))


@register("dataset_card", _CARD_ORACLE, bench="plan")
def q_dataset_card(spark, sf_dir):
    """Per-source corpus datasheet.  Per-doc quality is integer-scaled
    (q6 = round(quality*1e6)) before summation so the aggregate is
    order-independent and engine-exact; the mean divides the exact sum
    once at the end."""
    from ticdc_spark.llm.text import quality_score

    docs = _docs(spark, sf_dir)
    q = quality_score(docs).select(
        "doc_id",
        (F.round(F.col("quality") * 1_000_000)).cast("long").alias("q6"),
    )
    per_doc = (
        docs.select("doc_id", "source", "lang", F.md5("text").alias("h"),
                    F.size(F.split("text", " ")).alias("n_toks"))
        .join(q, "doc_id")
    )
    from pyspark.sql import Window

    lang_counts = per_doc.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), "lang")
    top_lang = (
        lang_counts.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1").select("source", F.col("lang").alias("top_lang"))
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        (F.count(F.lit(1)) - F.count_distinct("h")).cast("long")
        .alias("dup_docs"),
        F.sum("q6").cast("long").alias("sum_q6"),
    )
    return agg.join(F.broadcast(top_lang), "source").select(
        "source", "n_docs", "total_tokens", "dup_docs", "sum_q6",
        F.round(F.col("sum_q6") / F.lit(1_000_000.0) / F.col("n_docs"), 6)
        .alias("mean_quality"),
        "top_lang",
    )


# ---------------------------------------------------------------------------
# BPE encode: exact subword counts under the shipped merge table
# ---------------------------------------------------------------------------
from ticdc_spark.llm.text import BPE_MERGES, bpe_encode_stats  # noqa: E402

_BPE_APPLY = "regexp_replace(w, '(.)', '\\1 ', 'g') || '</w>'"
for _a, _b in BPE_MERGES:
    _BPE_APPLY = f"replace({_BPE_APPLY}, '{_a} {_b}', '{_a}{_b}')"

_BPE_ENC_ORACLE = f"""
WITH words AS (
  SELECT doc_id, w
  FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
        FROM documents)
  WHERE length(w) > 0)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(string_split({_BPE_APPLY}, ' '))) AS BIGINT) AS n_subwords
FROM words GROUP BY doc_id
"""


@register("bpe_encode_stats", _BPE_ENC_ORACLE, bench="plan")
def q_bpe_encode_stats(spark, sf_dir):
    return bpe_encode_stats(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Dup-cluster size distribution: the dedup report (how much of the
# corpus sits in near-dup clusters of each size; retention = corpus
# minus (size-1) per cluster)
# ---------------------------------------------------------------------------
_CLUSTER_DIST_ORACLE = f"""
WITH RECURSIVE pairs AS ({_LSH_PAIRS_ORACLE}),
edges AS (
    SELECT a_id AS src, b_id AS dst FROM pairs
    UNION ALL
    SELECT b_id AS src, a_id AS dst FROM pairs
),
verts AS (SELECT DISTINCT src AS doc_id FROM edges),
reach(doc_id, label) AS (
    SELECT doc_id, doc_id AS label FROM verts
    UNION
    SELECT e.dst AS doc_id, r.label
    FROM reach r JOIN edges e ON e.src = r.doc_id
    WHERE r.label < e.dst
),
lab AS (SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id),
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(count(*) * cluster_size AS BIGINT) AS n_docs,
       CAST(count(*) * (cluster_size - 1) AS BIGINT) AS n_removable
FROM sz GROUP BY cluster_size
"""


@register("dup_cluster_size_dist", _CLUSTER_DIST_ORACLE)
def q_dup_cluster_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ticdc_spark.llm.dedup import dedup_clusters

    labs = dedup_clusters(_docs(spark, sf_dir), threshold=0.8)
    sz = labs.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return sz.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size")).cast("long")
        .alias("n_docs"),
        (F.count(F.lit(1)) * (F.col("cluster_size") - 1)).cast("long")
        .alias("n_removable"),
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer et al. 2003 / MOSS) — the
# density-guaranteed local fingerprint family above the rolling-hash
# doc_fingerprint; map-only
# ---------------------------------------------------------------------------
_WINNOW_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (
    SELECT doc_id, len(toks) AS n,
           [('0x' || substr(md5(array_to_string(toks[i+1:i+4], ' ')),
                            1, 8))::BIGINT
            for i in generate_series(0, len(toks) - 4)] AS hs
    FROM t WHERE len(toks) >= 8
),
m AS (
    SELECT doc_id, n, hs,
           [list_min(hs[j+1:j+5]) for j in
            generate_series(0, len(hs) - 5)] AS mins
    FROM g
)
SELECT doc_id, CAST(n - 3 AS BIGINT) AS n_grams,
       CAST(len(list_sort(list_distinct(mins))) AS BIGINT)
           AS n_fingerprints,
       list_sort(list_distinct(mins)) AS fingerprints
FROM m
"""


@register("winnowing_fingerprint", _WINNOW_ORACLE, bench="plan")
def q_winnowing_fingerprint(spark, sf_dir):
    from ticdc_spark.llm.text import winnowing_fingerprints

    return winnowing_fingerprints(_docs(spark, sf_dir))


# planted near-copies: every 10th doc gets a twin with the last 8
# tokens dropped — long shared runs guarantee shared fingerprints
_WINNOW_PAIR_ORACLE = """
WITH base AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000,
           array_to_string(
               (string_split(text, ' '))[1:len(string_split(text, ' '))-8],
               ' ')
    FROM documents
    WHERE doc_id % 10 = 0 AND len(string_split(text, ' ')) >= 20
),
t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM base),
g AS (
    SELECT doc_id,
           [('0x' || substr(md5(array_to_string(toks[i+1:i+4], ' ')),
                            1, 8))::BIGINT
            for i in generate_series(0, len(toks) - 4)] AS hs
    FROM t WHERE len(toks) >= 8
),
m AS (
    SELECT doc_id,
           list_sort(list_distinct(
               [list_min(hs[j+1:j+5]) for j in
                generate_series(0, len(hs) - 5)])) AS fps
    FROM g
),
e AS (SELECT doc_id, unnest(fps) AS fp FROM m),
tot AS (SELECT count(*) AS n_docs FROM m),
hot AS (SELECT fp FROM e, tot GROUP BY fp, n_docs
        HAVING count(*) * 100 > n_docs),
kept AS (SELECT doc_id, fp FROM e WHERE fp NOT IN (SELECT fp FROM hot))
SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 3
"""


@register("winnowing_near_dup", _WINNOW_PAIR_ORACLE, bench="plan")
def q_winnowing_near_dup(spark, sf_dir):
    from ticdc_spark.llm.text import winnowing_near_dup

    d = _docs(spark, sf_dir)
    toks = F.split("text", " ")
    twins = (
        d.filter((F.col("doc_id") % 10 == 0) & (F.size(toks) >= 20))
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.array_join(
                F.slice(toks, 1, F.size(toks) - 8), " ").alias("text"),
        )
    )
    base = d.select("doc_id", "text").unionByName(twins)
    return winnowing_near_dup(base)


# ---------------------------------------------------------------------------
# Unigram LM tokenizer (SentencePiece-style, Kudo 2018) — distributed
# Viterbi-EM trainer + segmentation stats (llm/unigram.py).  Iterative
# (EM + prune loop), so there is NO DuckDB oracle: correctness is pinned
# by tests/test_unigram.py, including an EXHAUSTIVE-enumeration oracle of
# the Viterbi kernel, hard-EM objective monotonicity, and run-to-run
# determinism (counts stay int64 end to end).  The driver records the
# weaker rows-only check for these two — the only oracle-less entries in
# the registry, both genuinely non-SQL-expressible.
# ---------------------------------------------------------------------------
@register("unigram_train_pieces", None)
def q_unigram_train_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ticdc_spark.llm.unigram import train_unigram

    vocab, _obj = train_unigram(
        _docs(spark, sf_dir), vocab_size=192, n_iters=2,
        max_piece_len=4, seed_size=384)
    return spark.createDataFrame(
        [(p, c, len(p)) for p, c in vocab],
        "piece string, count long, piece_len int")


@register("unigram_train_pieces_full_em", None)
def q_unigram_train_pieces_full_em(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The integrated full-EM trainer (forward-backward expectations,
    int64 fixed-point determinism) — oracle-less like the other two
    trainers, pinned by the exhaustive-posterior tests instead."""
    from ticdc_spark.llm.unigram import train_unigram

    vocab, _obj = train_unigram(
        _docs(spark, sf_dir), vocab_size=128, n_iters=2,
        max_piece_len=4, seed_size=256, em_mode="full")
    return spark.createDataFrame(
        [(p, c, len(p)) for p, c in vocab],
        "piece string, count long, piece_len int")


@register("unigram_tokenize_stats", None)
def q_unigram_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ticdc_spark.llm.unigram import tokenize_stats, train_unigram

    docs = _docs(spark, sf_dir)
    vocab, _ = train_unigram(docs, vocab_size=192, n_iters=2,
                             max_piece_len=4, seed_size=384)
    return tokenize_stats(docs, vocab, max_piece_len=4)


# Trained-codebook PQ with exact rerank finds the planted twins the
# fixed codebooks may tie away (round-7 hostile-fixture fix; suite
# tests pin the clustered-corpus behavior in
# tests/test_hostile_fixtures.py).  Oracle: exact brute-force twin
# rank — the ADC-shortlist + exact-rerank pipeline must agree with it.
# Bench "build": the PQ training sample collects at construction.
@register("pq_trained_rerank_recall", _HNSW_TWIN_ORACLE, bench="build")
def q_pq_trained_rerank_recall(spark, sf_dir):
    from ticdc_spark.llm.similarity import pq_adc_knn, pq_codebooks_trained

    emb = _emb(spark, sf_dir)
    twins = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x: (x * F.lit(1.001) + F.lit(0.0001)).cast("float"),
        ).alias("embedding"),
    )
    emb2 = emb.select("vec_id", "embedding").unionByName(twins)
    books = pq_codebooks_trained(emb2)
    found = pq_adc_knn(emb2, n_queries=10, k=3, books=books, rerank=64)
    twin = F.min(F.when(F.col("c_id") == F.col("q_id") + 1000000,
                        F.col("rank")))
    return found.groupBy("q_id").agg(
        twin.cast("long").alias("twin_rank"),
        F.when(twin == 1, 1).otherwise(0).cast("long").alias("twin_first"),
    )

"""Web-corpus curation queries + DuckDB oracles (llm/web.py).

The documents fixture is flat word-soup, so each query synthesizes the
page structure it needs (URLs, paragraph/line breaks, planted
boilerplate and policy lines) DETERMINISTICALLY on both sides — the
planted rows give every rule positive support (VERDICT r1 item 7: a
filter nothing trips proves nothing).  The ORACLES are written as
independent derivations (closed-form expected URLs, re-derived line
flags), not mirrors of the Spark expression tree, so a shared bug
can't cancel out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ticdc_spark.llm.web import (
    C4_MIN_KEPT_LINES,
    C4_MIN_LINE_WORDS,
    STOPWORDS,
    c4_line_filter,
    gopher_rules,
    normalize_url,
    paragraph_dedup,
    url_dedup,
)
from ticdc_spark.queries import register
from ticdc_spark.sources.changelog import read_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# URL canonicalization + crawl-level dedup
# ---------------------------------------------------------------------------
# Synthetic URL exercising every normalization rule: mixed-case scheme/
# host, www. prefix, default port, tracking params, unsorted params,
# fragment.  The oracle states the expected CLOSED FORM.

def _with_url(docs: DataFrame) -> DataFrame:
    odd = F.col("doc_id") % 2 == 1
    return docs.withColumn(
        "url",
        F.concat(
            F.when(odd, F.lit("HTTPS")).otherwise(F.lit("HTTP")),
            F.lit("://WWW."), F.col("source"), F.lit(".Example.COM"),
            F.when(odd, F.lit(":443")).otherwise(F.lit(":80")),
            F.lit("/Docs/"), (F.col("doc_id") % 20).cast("string"),
            F.lit("/?utm_source=rss&id="), (F.col("doc_id") % 8).cast("string"),
            F.lit("&ref="), F.col("lang"), F.lit("&q=Spark+SQL"),
            F.lit("#sec-"), (F.col("doc_id") % 7).cast("string"),
        ),
    )


_URL_RAW_SQL = (
    "CASE WHEN doc_id % 2 = 1 THEN 'HTTPS' ELSE 'HTTP' END || '://WWW.' "
    "|| source || '.Example.COM' "
    "|| CASE WHEN doc_id % 2 = 1 THEN ':443' ELSE ':80' END "
    "|| '/Docs/' || (doc_id % 20)::VARCHAR || '/?utm_source=rss&id=' "
    "|| (doc_id % 8)::VARCHAR || '&ref=' || lang || '&q=Spark+SQL' "
    "|| '#sec-' || (doc_id % 7)::VARCHAR"
)

# expected canonical form, derived BY HAND from the construction above:
# fragment gone, scheme+host lowercased, www. stripped, default port
# stripped, path case kept, trailing slash stripped, utm_*/ref dropped,
# survivors sorted ('id=' < 'q=')
_URL_NORM_SQL = (
    "'http' || CASE WHEN doc_id % 2 = 1 THEN 's' ELSE '' END || '://' "
    "|| source || '.example.com/Docs/' || (doc_id % 20)::VARCHAR "
    "|| '?id=' || (doc_id % 8)::VARCHAR || '&q=Spark+SQL'"
)


@register(
    "url_normalize",
    f"SELECT doc_id, {_URL_RAW_SQL} AS url, {_URL_NORM_SQL} AS norm_url "
    "FROM documents",
)
def q_url_normalize(spark, sf_dir):
    d = _with_url(_docs(spark, sf_dir))
    return d.select("doc_id", "url", normalize_url("url").alias("norm_url"))


@register(
    "url_dedup",
    f"SELECT {_URL_NORM_SQL} AS norm_url, min(doc_id) AS keep_doc_id, "
    "count(*) AS n_docs, count(DISTINCT source) AS n_sources "
    "FROM documents GROUP BY 1",
    bench="plan",
)
def q_url_dedup(spark, sf_dir):
    return url_dedup(_with_url(_docs(spark, sf_dir)))


# ---------------------------------------------------------------------------
# boilerplate-paragraph removal (RefinedWeb-style)
# ---------------------------------------------------------------------------
_BOILER1 = "please accept our cookie policy before reading this page"
_BOILER2 = "subscribe to our newsletter for weekly updates"

# paragraphs = 10-word chunks; boilerplate planted on 1/3 and 1/4 of docs
_PARA_SYNTH_SQL = f"""
lists AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
chunked AS (
    SELECT doc_id,
           [array_to_string(toks[i*10+1:i*10+10], ' ')
            for i in generate_series(0, (len(toks)-1)//10)] AS paras
    FROM lists
),
synth AS (
    SELECT doc_id,
           CASE WHEN doc_id % 4 = 0 THEN
                CASE WHEN doc_id % 3 = 0
                     THEN '{_BOILER1}' || chr(10)||chr(10) || array_to_string(paras, chr(10)||chr(10))
                     ELSE array_to_string(paras, chr(10)||chr(10)) END
                || chr(10)||chr(10) || '{_BOILER2}'
           ELSE
                CASE WHEN doc_id % 3 = 0
                     THEN '{_BOILER1}' || chr(10)||chr(10) || array_to_string(paras, chr(10)||chr(10))
                     ELSE array_to_string(paras, chr(10)||chr(10)) END
           END AS text
    FROM chunked
)
"""


def _para_synth(docs: DataFrame) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    paras = F.transform(
        F.sequence(F.lit(0), F.floor((F.size(toks) - 1) / 10).cast("int")),
        lambda i: F.array_join(F.slice(toks, i * 10 + 1, 10), " "),
    )
    base = F.array_join(paras, "\n\n")
    t = F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(_BOILER1 + "\n\n"), base)).otherwise(base)
    t = F.when(F.col("doc_id") % 4 == 0,
               F.concat(t, F.lit("\n\n" + _BOILER2))).otherwise(t)
    return docs.select("doc_id", t.alias("text"))


_PARA_ORACLE = f"""
WITH {_PARA_SYNTH_SQL},
plists AS (SELECT doc_id, string_split(text, chr(10)||chr(10)) AS ps FROM synth),
paras AS (
    SELECT doc_id, g.i AS pos, ps[g.i] AS para
    FROM plists, LATERAL (SELECT unnest(generate_series(1, len(ps))) AS i) g
),
dfreq AS (SELECT para, count(DISTINCT doc_id) AS df FROM paras GROUP BY 1),
tot AS (SELECT count(*) AS n FROM synth),
flagged AS (
    SELECT p.doc_id, p.pos, p.para,
           (d.df >= 3 AND d.df * 100 >= t.n * 2) AS is_boiler
    FROM paras p JOIN dfreq d USING (para), tot t
)
SELECT doc_id, count(*) AS n_paras,
       CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       coalesce(string_agg(CASE WHEN NOT is_boiler THEN para END,
                           chr(10)||chr(10) ORDER BY pos), '') AS clean_text
FROM flagged GROUP BY doc_id
"""


@register("paragraph_dedup", _PARA_ORACLE, bench="plan")
def q_paragraph_dedup(spark, sf_dir):
    return paragraph_dedup(_para_synth(_docs(spark, sf_dir)))


# ---------------------------------------------------------------------------
# C4 line filter
# ---------------------------------------------------------------------------
_JS_LINE = "please enable javascript and view our cookie policy settings."
_LOREM_LINE = "lorem ipsum dolor sit amet consectetur adipiscing elit nunc."
_BRACE_LINE = "function menu { return window config data layout theme }."

# lines = 8-word chunks; terminal '.' on 3/4 of lines by position
_C4_SYNTH_SQL = f"""
lists AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
chunked AS (
    SELECT doc_id,
           [array_to_string(toks[i*8+1:i*8+8], ' ')
            || CASE WHEN (doc_id + i) % 4 <> 0 THEN '.' ELSE '' END
            for i in generate_series(0, (len(toks)-1)//8)] AS nat
    FROM lists
),
synth AS (
    SELECT doc_id,
           array_to_string(
               (CASE WHEN doc_id % 7 = 0 THEN ['{_JS_LINE}'] ELSE [] END)
               || (CASE WHEN doc_id % 13 = 0 THEN ['{_LOREM_LINE}'] ELSE [] END)
               || (CASE WHEN doc_id % 11 = 0 THEN ['{_BRACE_LINE}'] ELSE [] END)
               || nat, chr(10)) AS text
    FROM chunked
)
"""


def _c4_synth(docs: DataFrame) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    doc_id = F.col("doc_id")
    nat = F.transform(
        F.sequence(F.lit(0), F.floor((F.size(toks) - 1) / 8).cast("int")),
        lambda i: F.concat(
            F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
            F.when((doc_id + i) % 4 != 0, F.lit(".")).otherwise(F.lit("")),
        ),
    )
    def _opt(cond, line):
        return F.when(cond, F.array(F.lit(line))).otherwise(
            F.array().cast("array<string>"))
    lines = F.concat(
        _opt(doc_id % 7 == 0, _JS_LINE),
        _opt(doc_id % 13 == 0, _LOREM_LINE),
        _opt(doc_id % 11 == 0, _BRACE_LINE),
        nat,
    )
    return docs.select("doc_id", F.array_join(lines, "\n").alias("text"))


_C4_ORACLE = f"""
WITH {_C4_SYNTH_SQL},
llists AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM synth),
lines AS (
    SELECT doc_id,
           (contains(lower(text), 'lorem ipsum')
            OR contains(lower(text), '{{')) AS doc_bad,
           g.i AS pos, ls[g.i] AS line
    FROM llists, LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i) g
),
flagged AS (
    SELECT doc_id, doc_bad, pos, line,
           (len(string_split(line, ' ')) >= {C4_MIN_LINE_WORDS}
            AND right(line, 1) IN ('.', '!', '?', '"')
            AND NOT contains(lower(line), 'javascript')
            AND NOT contains(lower(line), 'cookie')) AS keep_line
    FROM lines
),
agg AS (
    SELECT doc_id, doc_bad, count(*) AS n_lines,
           CAST(sum(CASE WHEN keep_line THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           string_agg(CASE WHEN keep_line THEN line END,
                      chr(10) ORDER BY pos) AS joined
    FROM flagged GROUP BY doc_id, doc_bad
)
SELECT doc_id, n_lines, n_kept,
       (NOT doc_bad AND n_kept >= {C4_MIN_KEPT_LINES}) AS doc_kept,
       CASE WHEN NOT doc_bad AND n_kept >= {C4_MIN_KEPT_LINES}
            THEN coalesce(joined, '') END AS clean_text
FROM agg
"""


@register("c4_line_filter", _C4_ORACLE, bench="plan")
def q_c4_line_filter(spark, sf_dir):
    return c4_line_filter(_c4_synth(_docs(spark, sf_dir)))


# ---------------------------------------------------------------------------
# Gopher document rules
# ---------------------------------------------------------------------------
_GOPHER_SYNTH_SQL = """
synth AS (
    SELECT doc_id,
           CASE WHEN doc_id % 9 = 0
                THEN text || ' # # # # # # # # # # # # # # #'
                ELSE text END AS text
    FROM documents
)
"""

_STOP_LIST = ", ".join(f"'{s}'" for s in STOPWORDS)

_GOPHER_ORACLE = f"""
WITH {_GOPHER_SYNTH_SQL},
m AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS wc,
           len(text) - (len(string_split(text, ' ')) - 1) AS sum_chars,
           len(list_intersect(list_transform(string_split(text, ' '),
                                              t -> lower(t)),
                              [{_STOP_LIST}])) AS n_stop,
           len(list_filter(string_split(text, ' '),
                           t -> t = '#' OR t = '...')) AS n_sym,
           len(list_filter(string_split(text, ' '),
                           t -> regexp_matches(t, '[a-zA-Z]'))) AS n_alpha
    FROM synth
),
sc AS (
    SELECT doc_id, wc AS word_count,
           sum_chars * 100 // wc AS mean_word_len_c,
           n_stop AS n_stopwords,
           n_sym * 1000 // wc AS sym_ratio_m,
           n_alpha * 1000 // wc AS alpha_ratio_m
    FROM m
)
SELECT *,
       (word_count >= 40 AND word_count <= 100000) AS r_word_count,
       (mean_word_len_c >= 380 AND mean_word_len_c <= 1000) AS r_mean_len,
       (n_stopwords >= 2) AS r_stopwords,
       (sym_ratio_m <= 100) AS r_symbols,
       (alpha_ratio_m >= 800) AS r_alpha,
       (word_count >= 40 AND word_count <= 100000
        AND mean_word_len_c >= 380 AND mean_word_len_c <= 1000
        AND n_stopwords >= 2 AND sym_ratio_m <= 100
        AND alpha_ratio_m >= 800) AS keep
FROM sc
"""


@register("gopher_rules", _GOPHER_ORACLE, bench="plan")
def q_gopher_rules(spark, sf_dir):
    d = _docs(spark, sf_dir)
    planted = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 9 == 0,
               F.concat(F.col("text"),
                        F.lit(" # # # # # # # # # # # # # # #")))
        .otherwise(F.col("text")).alias("text"),
    )
    return gopher_rules(planted)


# ---------------------------------------------------------------------------
# flagship composition: rules -> dedup -> per-source manifest, one plan
# ---------------------------------------------------------------------------
_CURATION_ORACLE = f"""
WITH {_GOPHER_SYNTH_SQL},
m AS (
    SELECT doc_id, text,
           len(string_split(text, ' ')) AS wc,
           len(text) - (len(string_split(text, ' ')) - 1) AS sum_chars,
           len(list_intersect(list_transform(string_split(text, ' '),
                                              t -> lower(t)),
                              [{_STOP_LIST}])) AS n_stop,
           len(list_filter(string_split(text, ' '),
                           t -> t = '#' OR t = '...')) AS n_sym,
           len(list_filter(string_split(text, ' '),
                           t -> regexp_matches(t, '[a-zA-Z]'))) AS n_alpha
    FROM synth
),
flags AS (
    SELECT m.doc_id, d.source, m.text, m.wc,
           (wc >= 40 AND wc <= 100000
            AND sum_chars * 100 // wc >= 380
            AND sum_chars * 100 // wc <= 1000
            AND n_stop >= 2 AND n_sym * 1000 // wc <= 100
            AND n_alpha * 1000 // wc >= 800) AS keep
    FROM m JOIN documents d USING (doc_id)
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY md5(text) ORDER BY keep DESC, doc_id) AS rn
    FROM flags
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_after_rules,
       CAST(sum(CASE WHEN keep AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_after_dedup,
       CAST(sum(CASE WHEN keep AND rn = 1 THEN wc ELSE 0 END) AS BIGINT)
           AS tokens_after
FROM ranked GROUP BY source
"""


@register("curation_pipeline", _CURATION_ORACLE, bench="plan")
def q_curation_pipeline(spark, sf_dir):
    from ticdc_spark.llm.web import curation_pipeline

    d = _docs(spark, sf_dir)
    planted = d.select(
        "doc_id", "source",
        F.when(F.col("doc_id") % 9 == 0,
               F.concat(F.col("text"),
                        F.lit(" # # # # # # # # # # # # # # #")))
        .otherwise(F.col("text")).alias("text"),
    )
    return curation_pipeline(planted)


# ---------------------------------------------------------------------------
# domain-level rollup: registered domain from the canonical URL
# ---------------------------------------------------------------------------
_TLD_SQL = ("CASE doc_id % 3 WHEN 0 THEN 'COM' WHEN 1 THEN 'ORG' "
            "ELSE 'NET' END")

_DOM_URL_RAW_SQL = (
    "'HTTP://WWW.' || source || '.Example.' || " + _TLD_SQL
    + " || ':80/Docs/' || (doc_id % 20)::VARCHAR || '?utm_source=rss'"
)

# closed-form: registered domain = example.<tld lowercased> (the
# source label is a subdomain and drops out of the two-label key)
_DOM_ORACLE = f"""
WITH d AS (
    SELECT doc_id, lang,
           'example.' || lower({_TLD_SQL}) AS domain,
           'http://' || source || '.example.' || lower({_TLD_SQL})
           || '/Docs/' || (doc_id % 20)::VARCHAR AS norm_url,
           len(string_split(text, ' ')) AS wc
    FROM documents
)
SELECT domain, count(*) AS n_docs, count(DISTINCT norm_url) AS n_pages,
       CAST(sum(wc) AS BIGINT) AS total_words,
       count(DISTINCT lang) AS n_langs
FROM d GROUP BY domain
"""


@register("domain_stats", _DOM_ORACLE, bench="plan")
def q_domain_stats(spark, sf_dir):
    from ticdc_spark.llm.web import domain_stats

    d = _docs(spark, sf_dir).withColumn(
        "url",
        F.concat(
            F.lit("HTTP://WWW."), F.col("source"), F.lit(".Example."),
            F.element_at(F.array(F.lit("COM"), F.lit("ORG"), F.lit("NET")),
                         (F.col("doc_id") % 3 + 1).cast("int")),
            F.lit(":80/Docs/"), (F.col("doc_id") % 20).cast("string"),
            F.lit("?utm_source=rss"),
        ),
    )
    return domain_stats(d)


# ---------------------------------------------------------------------------
# the FULL curation stack: paragraph dedup -> C4 -> Gopher -> exact
# dedup -> per-source manifest, one plan.  The synth gives every stage
# planted positive support: boilerplate paragraphs (removed at the
# paragraph stage BEFORE C4 could see them — ordering is load-bearing),
# doc-unique lorem/brace paragraphs (df=1 survives paragraph dedup,
# trips the C4 doc gate), '#' paragraphs (survive C4, trip the Gopher
# symbol rule), and a fixed 48-word snippet on doc_id%67 docs whose
# identical post-C4 text collapses in the dedup stage.
# ---------------------------------------------------------------------------
_SNIP_LINE = "the a spark table merge window filter stream"
_SNIPPET = " ".join([_SNIP_LINE] * 6)
_BOILER_PARA = ("please accept our cookie policy before reading this page."
                "\n"
                "subscribe to our newsletter for weekly updates today.")
_HASH_PARA = " ".join(["#"] * 14) + " #."

_FULL_SYNTH_SQL = f"""
base AS (
    SELECT doc_id, source,
           CASE WHEN doc_id % 67 = 0 THEN '{_SNIPPET}' ELSE text END AS t
    FROM documents),
ltab AS (
    SELECT doc_id, source,
           [array_to_string(w[i*8+1:i*8+8], ' ')
            || CASE WHEN i % 4 <> 3 THEN '.' ELSE '' END
            for i in generate_series(0, (len(w)-1)//8)] AS ls
    FROM (SELECT doc_id, source, string_split(t, ' ') AS w FROM base)),
ptab AS (
    SELECT doc_id, source,
           [CASE WHEN j*2+2 <= len(ls)
                 THEN ls[j*2+1] || chr(10) || ls[j*2+2]
                 ELSE ls[j*2+1] END
            for j in generate_series(0, (len(ls)-1)//2)] AS ps
    FROM ltab),
synth AS (
    SELECT doc_id, source,
           array_to_string(
               (CASE WHEN doc_id % 3 = 0
                     THEN ['{_BOILER_PARA.replace(chr(10), "' || chr(10) || '")}']
                     ELSE [] END)
               || (CASE WHEN doc_id % 13 = 0
                        THEN ['lorem ipsum dolor sit amet consectetur '
                              || 'adipiscing elit ' || doc_id::VARCHAR || '.']
                        ELSE [] END)
               || (CASE WHEN doc_id % 11 = 0
                        THEN ['var config ' || doc_id::VARCHAR
                              || ' = {{ layout theme data }}.']
                        ELSE [] END)
               || ps
               || (CASE WHEN doc_id % 9 = 0 THEN ['{_HASH_PARA}']
                        ELSE [] END),
               chr(10) || chr(10)) AS text
    FROM ptab)
"""

# The curation CTE chain, templated so it can be instantiated per
# micro-batch epoch (the streaming flagship's oracle runs it twice and
# adds the cross-epoch dedup adjustment).  {SFX} suffixes every CTE
# name; {DOCS} is the docs CTE to read.
_CURATION_CHAIN = """
pl{SFX} AS (SELECT doc_id, source,
              string_split(text, chr(10)||chr(10)) AS ps FROM {DOCS}),
pp{SFX} AS (SELECT doc_id, source, g.i AS pos, ps[g.i] AS para
       FROM pl{SFX}, LATERAL (SELECT unnest(generate_series(1, len(ps))) AS i) g),
pdf{SFX} AS (SELECT para, count(DISTINCT doc_id) AS df FROM pp{SFX} GROUP BY 1),
ptot{SFX} AS (SELECT count(*) AS n FROM {DOCS}),
pfl{SFX} AS (SELECT p.doc_id, p.source, p.pos, p.para,
               (d.df >= 3 AND d.df * 100 >= t.n * 2) AS boiler
        FROM pp{SFX} p JOIN pdf{SFX} d USING (para), ptot{SFX} t),
pstage{SFX} AS (
    SELECT doc_id, source,
           CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
           coalesce(string_agg(CASE WHEN NOT boiler THEN para END,
                               chr(10)||chr(10) ORDER BY pos), '') AS ctext
    FROM pfl{SFX} GROUP BY doc_id, source),
cin{SFX} AS (SELECT doc_id, source, n_removed,
               replace(ctext, chr(10)||chr(10), chr(10)) AS t2 FROM pstage{SFX}),
cl2{SFX} AS (SELECT doc_id, source, n_removed,
               (contains(lower(t2), 'lorem ipsum')
                OR contains(lower(t2), '{')) AS doc_bad,
               g.i AS pos, ls[g.i] AS line
        FROM (SELECT *, string_split(t2, chr(10)) AS ls FROM cin{SFX}),
             LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i) g),
cfl{SFX} AS (SELECT *,
               (len(string_split(line, ' ')) >= 5
                AND right(line, 1) IN ('.', '!', '?', '"')
                AND NOT contains(lower(line), 'javascript')
                AND NOT contains(lower(line), 'cookie')) AS keepl
        FROM cl2{SFX}),
cagg{SFX} AS (SELECT doc_id, source, n_removed, doc_bad,
                CAST(sum(CASE WHEN keepl THEN 1 ELSE 0 END) AS BIGINT)
                    AS nk,
                string_agg(CASE WHEN keepl THEN line END,
                           chr(10) ORDER BY pos) AS jt
         FROM cfl{SFX} GROUP BY doc_id, source, n_removed, doc_bad),
cstage{SFX} AS (SELECT doc_id, source, n_removed,
                  (NOT doc_bad AND nk >= 3) AS kept,
                  CASE WHEN NOT doc_bad AND nk >= 3
                       THEN coalesce(jt, '') END AS ct
           FROM cagg{SFX}),
gm{SFX} AS (SELECT doc_id, source, ct,
              len(string_split(ct, ' ')) AS wc,
              len(ct) - (len(string_split(ct, ' ')) - 1) AS sc,
              len(list_intersect(list_transform(string_split(ct, ' '),
                                                t -> lower(t)),
                                 [{STOP}])) AS nst,
              len(list_filter(string_split(ct, ' '),
                              t -> t = '#' OR t = '...')) AS nsym,
              len(list_filter(string_split(ct, ' '),
                              t -> regexp_matches(t, '[a-zA-Z]'))) AS nal
       FROM cstage{SFX} WHERE kept),
gfl{SFX} AS (SELECT doc_id, source, ct, wc,
               (wc >= 40 AND wc <= 100000
                AND sc * 100 // wc >= 380 AND sc * 100 // wc <= 1000
                AND nst >= 2 AND nsym * 1000 // wc <= 100
                AND nal * 1000 // wc >= 800) AS keep
        FROM gm{SFX}),
rk{SFX} AS (SELECT *, row_number() OVER (
           PARTITION BY md5(ct) ORDER BY keep DESC, doc_id) AS rn
       FROM gfl{SFX}),
s0{SFX} AS (SELECT source, count(*) AS n_docs,
              CAST(sum(n_removed) AS BIGINT) AS paras_removed
       FROM pstage{SFX} GROUP BY source),
s1{SFX} AS (SELECT source, CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
           AS n_after_c4 FROM cstage{SFX} GROUP BY source),
s2{SFX} AS (SELECT source,
              CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_after_rules,
              CAST(sum(CASE WHEN keep AND rn = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_final,
              CAST(sum(CASE WHEN keep AND rn = 1 THEN wc ELSE 0 END)
                   AS BIGINT) AS tokens_final
       FROM rk{SFX} GROUP BY source)"""


def _curation_ctes(sfx: str, docs: str) -> str:
    return (_CURATION_CHAIN.replace("{SFX}", sfx)
            .replace("{DOCS}", docs).replace("{STOP}", _STOP_LIST))


_MANIFEST_SELECT = """
SELECT s0{SFX}.source, n_docs, paras_removed, n_after_c4,
       coalesce(n_after_rules, 0) AS n_after_rules,
       coalesce(n_final, 0) AS n_final,
       coalesce(tokens_final, 0) AS tokens_final
FROM s0{SFX} LEFT JOIN s1{SFX} USING (source)
             LEFT JOIN s2{SFX} USING (source)"""

_FULL_ORACLE = (f"WITH {_FULL_SYNTH_SQL}," + _curation_ctes("", "synth")
                + _MANIFEST_SELECT.replace("{SFX}", ""))


def _full_synth(docs: DataFrame) -> DataFrame:
    doc_id = F.col("doc_id")
    t0 = F.when(doc_id % 67 == 0, F.lit(_SNIPPET)).otherwise(F.col("text"))
    d = docs.select("doc_id", "source", t0.alias("t"))
    d = d.withColumn("w", F.split("t", " "))
    d = d.withColumn(
        "ls",
        F.transform(
            F.sequence(F.lit(0), F.floor((F.size("w") - 1) / 8).cast("int")),
            lambda i: F.concat(
                F.array_join(F.slice(F.col("w"), i * 8 + 1, 8), " "),
                F.when(i % 4 != 3, F.lit(".")).otherwise(F.lit("")),
            ),
        ),
    )
    d = d.withColumn(
        "ps",
        F.transform(
            F.sequence(F.lit(0), F.floor((F.size("ls") - 1) / 2).cast("int")),
            lambda j: F.when(
                j * 2 + 2 <= F.size("ls"),
                F.concat(F.element_at("ls", (j * 2 + 1).cast("int")),
                         F.lit("\n"),
                         F.element_at("ls", (j * 2 + 2).cast("int"))),
            ).otherwise(F.element_at("ls", (j * 2 + 1).cast("int"))),
        ),
    )

    def _opt(cond, col):
        return F.when(cond, F.array(col)).otherwise(
            F.array().cast("array<string>"))

    paras = F.concat(
        _opt(doc_id % 3 == 0, F.lit(_BOILER_PARA)),
        _opt(doc_id % 13 == 0,
             F.concat(F.lit("lorem ipsum dolor sit amet consectetur "
                            "adipiscing elit "),
                      doc_id.cast("string"), F.lit("."))),
        _opt(doc_id % 11 == 0,
             F.concat(F.lit("var config "), doc_id.cast("string"),
                      F.lit(" = { layout theme data }."))),
        F.col("ps"),
        _opt(doc_id % 9 == 0, F.lit(_HASH_PARA)),
    )
    return d.select("doc_id", "source",
                    F.array_join(paras, "\n\n").alias("text"))


@register("curation_pipeline_full", _FULL_ORACLE, bench="plan")
def q_curation_pipeline_full(spark, sf_dir):
    from ticdc_spark.llm.web import curation_pipeline_full

    return curation_pipeline_full(_full_synth(_docs(spark, sf_dir)))


# ---------------------------------------------------------------------------
# STREAMING curation flagship, driver-checked: the full curation stack
# runs as a real Structured Streaming job (availableNow, two
# micro-batch epochs split by doc parity, exact cross-batch dedup
# state — streaming/curation.py) at query-construction time (trainer
# precedent), and the per-epoch manifests are hash-compared against a
# DuckDB oracle that instantiates the SAME curation chain per epoch
# and applies the cross-epoch winner adjustment (an epoch-1 winner
# whose text digest already won in epoch 0 loses n_final/tokens_final
# credit).  Natural cross-epoch duplicates (the %67 snippet docs, both
# parities) give the adjustment positive support.
# ---------------------------------------------------------------------------
_STREAM_CURATION_ORACLE = (
    f"WITH {_FULL_SYNTH_SQL},"
    "d0 AS (SELECT * FROM synth WHERE doc_id % 2 = 0),"
    "d1 AS (SELECT * FROM synth WHERE doc_id % 2 = 1),"
    + _curation_ctes("_e0", "d0") + ","
    + _curation_ctes("_e1", "d1") + ","
    + """
w0 AS (SELECT DISTINCT md5(ct) AS dig FROM rk_e0 WHERE keep AND rn = 1),
adj AS (SELECT source, CAST(count(*) AS BIGINT) AS n_dup,
               CAST(sum(wc) AS BIGINT) AS wc_dup
        FROM rk_e1 JOIN w0 ON md5(ct) = dig
        WHERE keep AND rn = 1 GROUP BY source),
m0 AS (SELECT CAST(0 AS BIGINT) AS epoch, s0_e0.source, n_docs,
              paras_removed, n_after_c4,
              coalesce(n_after_rules, 0) AS n_after_rules,
              coalesce(n_final, 0) AS n_final,
              coalesce(tokens_final, 0) AS tokens_final
       FROM s0_e0 LEFT JOIN s1_e0 USING (source)
                  LEFT JOIN s2_e0 USING (source)),
m1 AS (SELECT CAST(1 AS BIGINT) AS epoch, s0_e1.source, n_docs,
              paras_removed, n_after_c4,
              coalesce(n_after_rules, 0) AS n_after_rules,
              coalesce(n_final, 0) - coalesce(a.n_dup, 0) AS n_final,
              coalesce(tokens_final, 0) - coalesce(a.wc_dup, 0)
                  AS tokens_final
       FROM s0_e1 LEFT JOIN s1_e1 USING (source)
                  LEFT JOIN s2_e1 USING (source)
                  LEFT JOIN adj a USING (source))
SELECT * FROM m0 UNION ALL SELECT * FROM m1
""")


@register("curation_streaming_manifest", _STREAM_CURATION_ORACLE)
def q_curation_streaming_manifest(spark, sf_dir):
    import glob
    import os
    import shutil

    from ticdc_spark.streaming.curation import StreamingCurationPipeline

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = os.path.join(
        repo, "spark-warehouse",
        f"curation_stream_{os.path.basename(os.path.normpath(sf_dir))}")
    shutil.rmtree(base, ignore_errors=True)
    stream_in = os.path.join(base, "in")
    os.makedirs(stream_in)
    docs = _full_synth(_docs(spark, sf_dir))
    for i, pred in enumerate(["doc_id % 2 = 0", "doc_id % 2 = 1"]):
        part_dir = os.path.join(base, f"b{i}")
        docs.filter(pred).coalesce(1).write.parquet(part_dir)
        part = glob.glob(os.path.join(part_dir, "part-*.parquet"))[0]
        dst = os.path.join(stream_in, f"{i:04d}.parquet")
        os.rename(part, dst)
        # FileStreamSource orders by modification time: force epoch order
        os.utime(dst, (1700000000 + i * 100, 1700000000 + i * 100))
        shutil.rmtree(part_dir)
    pipe = StreamingCurationPipeline(spark, os.path.join(base, "work"))
    stream = (spark.readStream
              .schema("doc_id long, source string, text string")
              .option("maxFilesPerTrigger", 1).parquet(stream_in))
    q = pipe.start(stream, os.path.join(base, "ckpt"))
    q.awaitTermination(600)
    return pipe.manifests().select(
        F.col("epoch").cast("long").alias("epoch"), "source", "n_docs",
        "paras_removed", "n_after_c4", "n_after_rules", "n_final",
        "tokens_final")

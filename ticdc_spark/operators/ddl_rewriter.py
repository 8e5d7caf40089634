"""DDL query rewriting for routed (renamed) tables.

Reference: `pkg/routing/ddl_query_rewriter.go` — when a route binding
renames ``src_schema.src_table`` to a target, the DDL statement TEXT
sent downstream must name the target too: qualified references rewrite
anywhere, bare table names rewrite against the event's default schema
(`fillDefaultSchema :133`), multi-statement queries rewrite per
statement (`splitMultiStmtDDLQuery :64`), and names inside string
literals or comments are untouched (the reference guarantees this by
using the TiDB parser; here a quote/comment-aware tokenizer gives the
same guarantee without one).

Scale shape: the DDL stream is control-plane-sized (a handful of events
per schema change), so the per-row Python tokenizer runs in an
Arrow-batched ``mapInPandas`` — the sanctioned slow path, never applied
to DML rows.

Scope vs the parser-backed reference: bare names rewrite only in table
positions (after TABLE / EXISTS / TO / ON / LIKE / RENAME), which
covers the supported DDL classes; a bare name used as a column
identifier never rewrites because column positions don't follow those
keywords.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

# previous significant token after which a bare identifier is a TABLE name
_TABLE_POS_KEYWORDS = {"TABLE", "EXISTS", "TO", "ON", "LIKE", "RENAME"}


def _tokens(sql: str) -> Iterator[tuple[str, str]]:
    """(kind, text) with kind ∈ ident | qident | string | comment |
    ws | op.  Backquoted idents keep their quotes in text."""
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c.isspace():
            j = i
            while j < n and sql[j].isspace():
                j += 1
            yield "ws", sql[i:j]
            i = j
        elif c == "`":
            j = i + 1
            while j < n:
                if sql[j] == "`":
                    if j + 1 < n and sql[j + 1] == "`":  # escaped ``
                        j += 2
                        continue
                    break
                j += 1
            yield "qident", sql[i:j + 1]
            i = j + 1
        elif c in ("'", '"'):
            q, j = c, i + 1
            while j < n:
                if sql[j] == "\\":
                    j += 2
                    continue
                if sql[j] == q:
                    if j + 1 < n and sql[j + 1] == q:  # doubled quote
                        j += 2
                        continue
                    break
                j += 1
            yield "string", sql[i:j + 1]
            i = j + 1
        elif sql.startswith("--", i) or c == "#":
            j = sql.find("\n", i)
            j = n if j < 0 else j
            yield "comment", sql[i:j]
            i = j
        elif sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            j = n if j < 0 else j + 2
            yield "comment", sql[i:j]
            i = j
        elif c.isalpha() or c == "_":
            j = i
            while j < n and (sql[j].isalnum() or sql[j] == "_"):
                j += 1
            yield "ident", sql[i:j]
            i = j
        else:
            yield "op", c
            i += 1


def _unq(tok: tuple[str, str]) -> str:
    kind, text = tok
    if kind == "qident":
        return text[1:-1].replace("``", "`")
    return text


def rewrite_ddl(query: str, default_schema: str,
                bindings: dict[tuple[str, str], tuple[str, str]]) -> str:
    """Rewrite one (possibly multi-statement) DDL query against the
    route bindings {(src_schema, src_table): (tgt_schema, tgt_table)}."""
    toks = list(_tokens(query))
    out: list[str] = []
    prev_sig = ""  # last significant (non-ws/comment) ident, uppercased
    i = 0
    while i < len(toks):
        kind, text = toks[i]
        if kind in ("ident", "qident"):
            # qualified form: ident . ident (no ws around the dot in
            # canonical MySQL; tolerate ws anyway)
            j = i + 1
            while j < len(toks) and toks[j][0] in ("ws", "comment"):
                j += 1
            if j < len(toks) and toks[j] == ("op", "."):
                k = j + 1
                while k < len(toks) and toks[k][0] in ("ws", "comment"):
                    k += 1
                if k < len(toks) and toks[k][0] in ("ident", "qident"):
                    key = (_unq(toks[i]), _unq(toks[k]))
                    if key in bindings:
                        ts, tt = bindings[key]
                        out.append(f"`{ts}`.`{tt}`")
                        prev_sig = ""
                        i = k + 1
                        continue
            # bare form in a table position
            if (kind == "qident" or text.upper() not in _TABLE_POS_KEYWORDS) \
                    and prev_sig in _TABLE_POS_KEYWORDS:
                key = (default_schema, _unq(toks[i]))
                if key in bindings:
                    ts, tt = bindings[key]
                    out.append(f"`{ts}`.`{tt}`")
                    prev_sig = ""
                    i += 1
                    continue
            if kind == "ident":
                prev_sig = text.upper()
            else:
                prev_sig = ""
        elif kind not in ("ws", "comment"):
            prev_sig = ""
        out.append(text)
        i += 1
    return "".join(out)


def apply_ddl_rewrite(
    ddl: DataFrame,
    bindings: dict[tuple[str, str], tuple[str, str]],
    query_col: str = "query",
    schema_col: str = "schema_name",
) -> DataFrame:
    """Add ``routed_query`` to a DDL event frame."""
    items = sorted(bindings.items())

    def run(batches):  # pandas batches; pandas loads in the worker
        b = dict(items)
        for pdf in batches:
            pdf = pdf.copy()
            pdf["routed_query"] = [
                rewrite_ddl(q, s, b)
                for q, s in zip(pdf[query_col], pdf[schema_col])
            ]
            yield pdf

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in ddl.schema.fields)
    return ddl.mapInPandas(run, f"{fields}, routed_query string")

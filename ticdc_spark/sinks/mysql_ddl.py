"""MySQL-sink DDL query transforms applied before executing a DDL
downstream.

Two reference behaviors (`pkg/sink/mysql/`):

- ``format_ddl_query`` — `format_ddl.go:27-61`: a column typed
  ``VECTOR``/``VECTOR(n)`` becomes ``LONGBLOB`` (MySQL has no vector
  type), its charset/collation/length reset and its column OPTIONS
  cleared (the Go visitor empties ``ColumnDef.Options`` — the vector
  COMMENT carries index hints meaningless downstream).
- ``restore_anonymous_index_names`` — `ddl_index_rewrite.go:25-110`:
  TiDB generates names for anonymous ``ADD INDEX`` clauses; the i-th
  anonymous index constraint in SQL order gets the name of the i-th
  upstream-created index id, so downstream retries and
  ``CREATE TABLE LIKE`` agree with the upstream names.  ``ADD PRIMARY
  KEY`` and ``ADD FOREIGN KEY`` are not index constraints
  (`isIndexRewrite isIndexConstraint :105`) and consume no id; a
  constraint that already has a name is skipped.

Unlike the reference (which round-trips through the TiDB parser and
re-renders the whole statement), these rewrite surgically at the token
level and preserve the original formatting everywhere else — the
tokenizer in ``operators/ddl_rewriter.py`` keeps strings/comments
opaque, so names inside literals never rewrite.

Scale shape: DDL is control-plane traffic (a handful of rows per
schema change), so the per-row Python tokenizer runs Arrow-batched as
an ``arrow_rows.map_batches`` stage — the sanctioned slow path, never
on DML rows.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

from ticdc_spark.functions.arrow_rows import map_batches
from ticdc_spark.operators.ddl_rewriter import _tokens

_SIG = ("ident", "qident", "string", "op")  # significant token kinds
_INDEX_KWS = {"INDEX", "KEY"}
# constraint-kind keywords that denote an INDEX constraint
# (`ddl_index_rewrite.go:105-124` isIndexConstraint)
_INDEX_KIND_KWS = _INDEX_KWS | {"UNIQUE", "FULLTEXT", "VECTOR", "COLUMNAR"}

# an unquoted identifier in one of these roles cannot be a column name,
# so an ident after it is not in type position
_NOT_COLUMN_NAME = {
    "TABLE", "INDEX", "KEY", "UNIQUE", "FULLTEXT", "PRIMARY", "FOREIGN",
    "CONSTRAINT", "ADD", "DROP", "EXISTS", "DATABASE", "SCHEMA",
    "REFERENCES", "ON", "TO", "LIKE", "AFTER", "COMMENT", "DEFAULT",
    "RENAME", "ALTER", "CREATE", "MODIFY", "CHANGE", "COLUMN",
}


def _next_sig(toks: list[tuple[str, str]], i: int) -> int:
    """Index of the next significant token at/after i (len() if none)."""
    while i < len(toks) and toks[i][0] in ("ws", "comment"):
        i += 1
    return i


def format_ddl_query(sql: str) -> str:
    """``VECTOR``/``VECTOR(n)`` column types become ``LONGBLOB`` and the
    rest of that column definition (options: NOT NULL / DEFAULT /
    COMMENT ...) is dropped, mirroring the reference's cleared
    ``ColumnDef.Options``.  A column *named* ``vector`` is untouched —
    a type name can only follow a column name (ident/qident), while a
    column name follows ``(`` , ``,`` or a keyword."""
    toks = list(_tokens(sql))
    out: list[str] = []
    prev_sig_kind = ""  # kind of previous significant token
    prev_sig_upper = ""
    i = 0
    while i < len(toks):
        kind, text = toks[i]
        if (kind == "ident" and text.upper() == "VECTOR"
                and prev_sig_kind in ("ident", "qident")
                and prev_sig_upper not in _NOT_COLUMN_NAME):
            out.append("LONGBLOB")
            j = _next_sig(toks, i + 1)
            # optional (n)
            if j < len(toks) and toks[j] == ("op", "("):
                depth = 1
                j += 1
                while j < len(toks) and depth:
                    if toks[j] == ("op", "("):
                        depth += 1
                    elif toks[j] == ("op", ")"):
                        depth -= 1
                    j += 1
            # drop remaining column options until a top-level ',' or ')'
            depth = 0
            k = j
            while k < len(toks):
                if toks[k] == ("op", "("):
                    depth += 1
                elif toks[k] == ("op", ")"):
                    if depth == 0:
                        break
                    depth -= 1
                elif toks[k] == ("op", ",") and depth == 0:
                    break
                k += 1
            i = k
            prev_sig_kind, prev_sig_upper = "ident", "LONGBLOB"
            continue
        if kind in _SIG:
            prev_sig_kind = kind
            prev_sig_upper = text.upper() if kind == "ident" else ""
        out.append(text)
        i += 1
    return "".join(out)


def restore_anonymous_index_names(
    sql: str, index_name_by_id: dict[int, str], index_ids: list[int],
) -> str:
    """Insert upstream index names into anonymous ``ADD INDEX`` /
    ``ADD UNIQUE [INDEX|KEY]`` / ``ADD FULLTEXT`` clauses of an ALTER
    TABLE, matching the i-th anonymous clause to ``index_ids[i]``."""
    if not sql or not index_name_by_id or not index_ids:
        return sql
    toks = list(_tokens(sql))
    # only ALTER TABLE statements rewrite
    j = _next_sig(toks, 0)
    if j >= len(toks) or toks[j][1].upper() != "ALTER":
        return sql
    out: list[str] = []
    # position among ALL index constraints (named AND anonymous), in
    # SQL order — the reference enumerates indexConstraints and pairs
    # the i-th constraint with indexIDs[i], skipping (but still
    # consuming the slot of) constraints that already carry a name
    # (`ddl_index_rewrite.go:63-80`)
    cons_seen = 0
    changed = False
    i = 0
    while i < len(toks):
        kind, text = toks[i]
        out.append(text)
        if kind == "ident" and text.upper() == "ADD":
            j = _next_sig(toks, i + 1)
            if j >= len(toks) or toks[j][0] != "ident":
                i += 1
                continue
            kw = toks[j][1].upper()
            end = j  # last keyword token of the constraint intro
            if kw == "CONSTRAINT":
                # ADD CONSTRAINT [symbol] <kind> ...  The symbol is
                # OPTIONAL: if the token after CONSTRAINT is itself an
                # index-kind keyword, the constraint is ANONYMOUS
                # (Name == "" in the reference) and must be renamed;
                # with a symbol it is named — consumes a slot, no
                # rewrite (`ddl_index_rewrite.go:63-80`).
                k = _next_sig(toks, j + 1)
                if (k < len(toks) and toks[k][0] == "ident"
                        and toks[k][1].upper() in _INDEX_KIND_KWS):
                    j = k          # fall through as anonymous intro
                    kw = toks[k][1].upper()
                    end = k
                else:
                    # k is the symbol — unless it's PRIMARY/FOREIGN/
                    # CHECK (whose KEY would false-match the kind set)
                    m = _next_sig(toks, k + 1) if k < len(toks) \
                        else len(toks)
                    if (k < len(toks) and toks[k][1].upper() not in
                            ("PRIMARY", "FOREIGN", "CHECK")
                            and m < len(toks) and toks[m][0] == "ident"
                            and toks[m][1].upper() in _INDEX_KIND_KWS):
                        cons_seen += 1
                    i += 1
                    continue
            if kw in _INDEX_KWS:
                pass
            elif kw in ("UNIQUE", "FULLTEXT", "VECTOR", "COLUMNAR"):
                # isIndexConstraint includes ConstraintVector /
                # ConstraintColumnar (`ddl_index_rewrite.go:105-124`);
                # an optional INDEX|KEY may follow the kind keyword
                k = _next_sig(toks, j + 1)
                if (k < len(toks) and toks[k][0] == "ident"
                        and toks[k][1].upper() in _INDEX_KWS):
                    end = k
            else:
                # PRIMARY KEY / FOREIGN KEY / COLUMN / CHECK / ...:
                # not an index constraint, consumes no slot
                i += 1
                continue
            after = _next_sig(toks, end + 1)
            idx = cons_seen
            cons_seen += 1
            if after < len(toks) and toks[after] == ("op", "("):
                # anonymous: name would sit between the keyword and '('
                if idx < len(index_ids):
                    name = index_name_by_id.get(index_ids[idx])
                    if name is not None:
                        # emit intro tokens up to `end`, then the name
                        out.extend(t for _, t in toks[i + 1:end + 1])
                        out.append(" `" + name.replace("`", "``") + "`")
                        changed = True
                        i = end + 1
                        continue
        i += 1
    return "".join(out) if changed else sql


def _with_column(ddl: DataFrame, name: str, fn: Callable[..., str],
                 *args: str) -> DataFrame:
    """``ddl`` plus a string column ``name``, ``fn`` of the row's
    ``args`` columns.  The DDL frames are flat: a struct column would
    reach the stage as ``{field: values}``, not one value per row."""
    names = ddl.columns
    at = [names.index(a) for a in args]

    def run(batches):
        for c in batches:
            yield [(*row, fn(*(row[i] for i in at)))
                   for row in zip(*(c[n] for n in names))]

    return map_batches(ddl, run, StructType(
        [*ddl.schema.fields, StructField(name, StringType())]))


def apply_mysql_ddl_format(ddl: DataFrame,
                           query_col: str = "query") -> DataFrame:
    """Add ``formatted_query`` (vector-type rewrite) to a DDL frame."""
    return _with_column(ddl, "formatted_query", format_ddl_query, query_col)


def apply_index_name_restore(
    ddl: DataFrame, query_col: str = "query",
    names_col: str = "index_names_json", ids_col: str = "index_ids",
) -> DataFrame:
    """Add ``restored_query``; per-row table-info index map arrives as
    a JSON object column {index_id: name} plus an id-list column."""
    def restore(q, nm, ids):
        return restore_anonymous_index_names(
            q, {int(k): v for k, v in json.loads(nm or "{}").items()},
            ids or [])

    return _with_column(ddl, "restored_query", restore,
                        query_col, names_col, ids_col)

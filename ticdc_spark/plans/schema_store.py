"""S4/S5 — SchemaStore: versioned table metadata built by applying DDL
events, with as-of lookup.

Reference: the schema store ingests parsed DDL jobs and applies a
per-action handler (`logservice/schemastore/persist_storage_ddl_handlers.go:
120-462` — 38 action types), keeps EVERY historical TableInfo version
(`logservice/schemastore/multi_version.go`), and answers
``GetTableInfo(tableID, ts)`` = largest version ≤ ts
(`logservice/schemastore/schema_store.go:50-54`) plus
``GetAllPhysicalTables`` (`:44`) and ``FetchTableDDLEvents(start, end]``
(`:62`).

This is the driver-side control plane of the Spark engine (schemas are
small metadata): handlers mutate an in-memory multi-version map; the
data plane consumes it either as a broadcast registry DataFrame
(``registry_rows``) or as literal as-of expressions compiled into the
changelog mount (`sources/typed.py`). Spark structural notes per handler
are in each method docstring.

Covers ALL 38 reference action types
(`persist_storage_ddl_handlers.go:120-462`): schema/table/column DDL,
index + FK + PK actions, partition lifecycle (add/drop/truncate/
exchange/reorganize/alter-partitioning/remove-partitioning), TTL,
charset/collation at schema/table/column level, views, recover-table,
batch create-tables and multi-table rename, and multi-schema-change.
Actions that don't change row shape still bump the table version
(consumers re-plan against the new version — same discipline as the
reference's SetVersion-only handlers).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

DEFAULT_CHARSET = "utf8mb4"


@dataclass(frozen=True)
class ColumnInfo:
    """Per-column meta (`pkg/common/column.go:25-36`: name, type, flags,
    per-column charset — GBK et al. ride each column in the reference)."""
    name: str
    spark_type: str          # §1.3 mapping, e.g. "bigint", "double", "string"
    nullable: bool = True
    primary_key: bool = False
    charset: str | None = None   # None = inherit table charset
    default: str | None = None   # ActionSetDefaultValue

    def meta_str(self) -> str:
        """Canonical per-column descriptor used by version exports —
        pins every column-level handler effect in one comparable token."""
        return (f"{self.name}:{self.spark_type}:{int(self.nullable)}:"
                f"{int(self.primary_key)}:{self.charset or ''}:"
                f"{self.default or ''}")


@dataclass(frozen=True)
class TableInfo:
    """`pkg/common/table_info.go:79-117` analog: naming + columns +
    PK/UK eligibility + version (UpdateTS) + table attributes the DDL
    handlers mutate (charset, comment, TTL, partition physical ids)."""
    table_id: int
    schema_name: str
    table_name: str
    columns: tuple[ColumnInfo, ...]
    version_ts: int
    dropped: bool = False
    charset: str = DEFAULT_CHARSET
    comment: str = ""
    ttl: str | None = None            # ActionAlterTTLInfo / TTLRemove
    partitions: tuple[int, ...] = ()  # physical partition table ids

    @property
    def has_pk_or_not_null_uk(self) -> bool:
        # eligibility flag `table_info.go:98` — replication needs a handle
        return any(c.primary_key and not c.nullable for c in self.columns)

    def column_names(self) -> list[str]:
        return [c.name for c in self.columns]

    def spark_schema_ddl(self) -> str:
        """Spark DDL string for the payload struct at this version."""
        return ", ".join(f"{c.name} {c.spark_type}" for c in self.columns)

    def physical_ids(self) -> tuple[int, ...]:
        """Physical table ids carrying rows: the partitions when
        partitioned, else the table id itself."""
        return self.partitions if self.partitions else (self.table_id,)


class DDLError(ValueError):
    pass


class SchemaStore:
    """Multi-versioned store: every (table_id → sorted [(ts, TableInfo)])
    plus the DDL event log for ``fetch_table_ddl_events``."""

    def __init__(self) -> None:
        self._schemas: set[str] = set()
        self._schema_charsets: dict[str, str] = {}
        self._views: dict[tuple[str, str], int] = {}  # (schema, view) → ts
        self._versions: dict[int, list[tuple[int, TableInfo]]] = {}
        self._by_name: dict[tuple[str, str], int] = {}  # current name → id
        self._ddl_log: list[dict] = []
        self._next_id = 1

    # -- lookups (schema_store.go:41-68) ----------------------------------
    def get_table_info(self, table_id: int, ts: int) -> TableInfo:
        """Largest version with version_ts <= ts (`schema_store.go:50-54`)."""
        versions = self._versions.get(table_id)
        if not versions:
            raise DDLError(f"unknown table id {table_id}")
        best = None
        for vts, info in versions:
            if vts <= ts:
                best = info
            else:
                break
        if best is None:
            raise DDLError(f"table {table_id} has no version <= {ts}")
        if best.dropped:
            raise DDLError(f"table {table_id} is dropped as of {ts}")
        return best

    def get_all_physical_tables(self, ts: int) -> list[TableInfo]:
        out = []
        for tid in self._versions:
            try:
                out.append(self.get_table_info(tid, ts))
            except DDLError:
                continue
        return sorted(out, key=lambda t: t.table_id)

    def fetch_table_ddl_events(self, table_id: int, start_ts: int, end_ts: int) -> list[dict]:
        """DDLs for one table in (start_ts, end_ts] (`schema_store.go:62`)."""
        return [
            e for e in self._ddl_log
            if e.get("table_id") == table_id and start_ts < e["commit_ts"] <= end_ts
        ]

    # -- apply (persist_storage_ddl_handlers.go:120-462) -------------------
    def apply_ddl(self, ddl: dict) -> None:
        """ddl: {"type": ..., "commit_ts": int, ...action fields}.

        Version discipline: a new TableInfo is appended at commit_ts;
        earlier versions stay answerable (as-of reads at older ts see the
        old shape — exactly the reference's multi-version store).
        """
        handler = getattr(self, "_h_" + ddl["type"].replace("-", "_"), None)
        if handler is None:
            raise DDLError(f"unsupported DDL action: {ddl['type']}")
        handler(ddl)
        self._ddl_log.append(dict(ddl))

    def _push(self, info: TableInfo) -> None:
        vs = self._versions.setdefault(info.table_id, [])
        if vs and vs[-1][0] > info.version_ts:
            raise DDLError("DDL commit_ts regressed")
        vs.append((info.version_ts, info))

    def _current(self, ddl: dict) -> TableInfo:
        key = (ddl["schema"], ddl["table"])
        tid = ddl.get("table_id") or self._by_name.get(key)
        if tid is None:
            raise DDLError(f"unknown table {key[0]}.{key[1]}")
        info = self._versions[tid][-1][1]
        if info.dropped:
            raise DDLError(f"table {key[0]}.{key[1]} is dropped")
        return info

    # each handler notes its Spark-side structural consequence
    def _h_create_schema(self, ddl: dict) -> None:
        self._schemas.add(ddl["schema"])

    def _h_drop_schema(self, ddl: dict) -> None:
        """Drops every table in the schema (handlers `:120-170`)."""
        self._schemas.discard(ddl["schema"])
        for (s, t), tid in list(self._by_name.items()):
            if s == ddl["schema"]:
                cur = self._versions[tid][-1][1]
                self._push(replace(cur, dropped=True, version_ts=ddl["commit_ts"]))
                del self._by_name[(s, t)]

    def _h_create_table(self, ddl: dict) -> None:
        """Spark: a new per-table stream/DataFrame becomes plannable."""
        key = (ddl["schema"], ddl["table"])
        if key in self._by_name:
            raise DDLError(f"table {key[0]}.{key[1]} already exists")
        tid = ddl.get("table_id") or self._next_id
        self._next_id = max(self._next_id, tid) + 1
        cols = tuple(ColumnInfo(**c) for c in ddl["columns"])
        info = TableInfo(tid, key[0], key[1], cols, ddl["commit_ts"])
        self._push(info)
        self._by_name[key] = tid

    def _h_drop_table(self, ddl: dict) -> None:
        cur = self._current(ddl)
        self._push(replace(cur, dropped=True, version_ts=ddl["commit_ts"]))
        del self._by_name[(cur.schema_name, cur.table_name)]

    def _alloc(self) -> int:
        tid = self._next_id
        self._next_id += 1
        return tid

    def _h_truncate_table(self, ddl: dict) -> None:
        """Truncate assigns a NEW physical table id (the reference treats
        truncate as drop+create of the data keyspace, handlers `:241`);
        Spark: storage-sink paths bump tableVersion, state for the old id
        is discarded. A partitioned table reallocates every partition id
        too (each partition is a physical keyspace)."""
        cur = self._current(ddl)
        self._push(replace(cur, dropped=True, version_ts=ddl["commit_ts"]))
        new_id = self._alloc()
        new_parts = tuple(self._alloc() for _ in cur.partitions)
        info = replace(cur, table_id=new_id, version_ts=ddl["commit_ts"],
                       dropped=False, partitions=new_parts)
        self._versions[new_id] = []
        self._push(info)
        self._by_name[(cur.schema_name, cur.table_name)] = new_id

    def _h_rename_table(self, ddl: dict) -> None:
        """Same table_id, new name (incl. the multi-table form `:391` via
        one event per table); Spark: routing/encoders read the new name
        from the bound version."""
        cur = self._current(ddl)
        new_key = (ddl.get("to_schema", cur.schema_name), ddl["to_table"])
        if new_key in self._by_name:
            raise DDLError(f"target table {new_key[0]}.{new_key[1]} exists")
        self._push(replace(cur, schema_name=new_key[0], table_name=new_key[1],
                           version_ts=ddl["commit_ts"]))
        del self._by_name[(cur.schema_name, cur.table_name)]
        self._by_name[new_key] = cur.table_id

    def _h_add_column(self, ddl: dict) -> None:
        """Spark: rows mounted at older versions carry NULL for the new
        column (see sources/typed.py — version-gated payload fields)."""
        cur = self._current(ddl)
        col = ColumnInfo(**ddl["column"])
        if col.name in cur.column_names():
            raise DDLError(f"column {col.name} exists")
        self._push(replace(cur, columns=cur.columns + (col,),
                           version_ts=ddl["commit_ts"]))

    def _h_drop_column(self, ddl: dict) -> None:
        cur = self._current(ddl)
        name = ddl["column_name"]
        if name not in cur.column_names():
            raise DDLError(f"column {name} missing")
        kept = tuple(c for c in cur.columns if c.name != name)
        if any(c.primary_key for c in cur.columns) and not any(
            c.primary_key for c in kept
        ):
            raise DDLError("cannot drop the handle column")
        self._push(replace(cur, columns=kept, version_ts=ddl["commit_ts"]))

    def _h_modify_column(self, ddl: dict) -> None:
        """Type/nullability change; Spark: a cast in the mount bound to
        versions ≥ this one."""
        cur = self._current(ddl)
        col = ColumnInfo(**ddl["column"])
        if col.name not in cur.column_names():
            raise DDLError(f"column {col.name} missing")
        cols = tuple(col if c.name == col.name else c for c in cur.columns)
        self._push(replace(cur, columns=cols, version_ts=ddl["commit_ts"]))

    def _h_rename_column(self, ddl: dict) -> None:
        cur = self._current(ddl)
        old, new = ddl["from_name"], ddl["to_name"]
        if old not in cur.column_names():
            raise DDLError(f"column {old} missing")
        if new in cur.column_names():
            raise DDLError(f"column {new} exists")
        cols = tuple(
            replace(c, name=new) if c.name == old else c for c in cur.columns
        )
        self._push(replace(cur, columns=cols, version_ts=ddl["commit_ts"]))

    def _h_add_index(self, ddl: dict) -> None:
        """Row shape unchanged — version bump only (consumers may re-plan
        index-value partitioners)."""
        cur = self._current(ddl)
        self._push(replace(cur, version_ts=ddl["commit_ts"]))

    _h_drop_index = _h_add_index

    def _h_exchange_partition(self, ddl: dict) -> None:
        """ActionExchangeTablePartition (handlers `:382`): the named
        partition of a partitioned table and a plain table swap PHYSICAL
        ids — each keeps its logical binding, the data keyspaces trade
        places. Spark: per-physical-id routing state follows the id."""
        part = self._current({"schema": ddl["schema"], "table": ddl["table"]})
        if not part.partitions:
            raise DDLError(f"{part.table_name} is not partitioned")
        idx = int(ddl.get("partition_index", 0))
        if not 0 <= idx < len(part.partitions):
            raise DDLError(f"partition index {idx} out of range")
        plain = self._current(
            {"schema": ddl["with_schema"], "table": ddl["with_table"]}
        )
        if plain.partitions:
            raise DDLError(f"{plain.table_name} must be non-partitioned")
        ts = ddl["commit_ts"]
        parts = list(part.partitions)
        parts[idx], swapped = plain.table_id, parts[idx]
        self._push(replace(part, partitions=tuple(parts), version_ts=ts))
        # the plain table's logical id is its physical id: move its
        # version chain onto the partition's old physical id
        moved = replace(plain, table_id=swapped, version_ts=ts)
        self._push(replace(plain, dropped=True, version_ts=ts))
        self._versions.setdefault(swapped, [])
        self._push(moved)
        self._by_name[(plain.schema_name, plain.table_name)] = swapped

    def _h_multi_schema_change(self, ddl: dict) -> None:
        """One DDL carrying several sub-actions at one commit_ts
        (handlers `:409`) — applied in order, atomically versioned:
        readers never observe an intermediate sub-state, so the
        versions the sub-handlers push at this commit_ts collapse into
        the final one."""
        for sub in ddl["actions"]:
            sub = dict(sub)
            sub["commit_ts"] = ddl["commit_ts"]
            handler = getattr(self, "_h_" + sub["type"].replace("-", "_"))
            handler(sub)
        ts = ddl["commit_ts"]
        tid = self._by_name.get((ddl["schema"], ddl["table"]))
        if tid is not None:
            vs = self._versions[tid]
            at_ts = [v for v in vs if v[0] == ts]
            if len(at_ts) > 1:
                self._versions[tid] = (
                    [v for v in vs if v[0] != ts] + [at_ts[-1]]
                )

    # -- version-bump-only actions: row shape unchanged, consumers
    # re-plan against the new version (reference SetVersion handlers) ----
    def _bump(self, ddl: dict) -> None:
        cur = self._current(ddl)
        self._push(replace(cur, version_ts=ddl["commit_ts"]))

    _h_add_foreign_key = _bump
    _h_drop_foreign_key = _bump
    _h_rebase_auto_id = _bump
    _h_shard_row_id = _bump
    _h_rename_index = _bump
    _h_alter_index_visibility = _bump

    def _h_set_default_value(self, ddl: dict) -> None:
        """ActionSetDefaultValue: column keeps shape, gains a default —
        Spark: mounts fill missing values with the default literal."""
        cur = self._current(ddl)
        name = ddl["column_name"]
        if name not in cur.column_names():
            raise DDLError(f"column {name} missing")
        cols = tuple(
            replace(c, default=ddl.get("default")) if c.name == name else c
            for c in cur.columns
        )
        self._push(replace(cur, columns=cols, version_ts=ddl["commit_ts"]))

    def _h_modify_table_comment(self, ddl: dict) -> None:
        cur = self._current(ddl)
        self._push(replace(cur, comment=ddl.get("comment", ""),
                           version_ts=ddl["commit_ts"]))

    def _h_modify_table_charset_and_collate(self, ddl: dict) -> None:
        """Charset travels with the table (and per-column overrides,
        `pkg/common/column.go:25-36`); encoders consult it for byte-level
        rendering (csv/canal GBK paths)."""
        cur = self._current(ddl)
        self._push(replace(cur, charset=ddl["charset"],
                           version_ts=ddl["commit_ts"]))

    def _h_modify_schema_charset_and_collate(self, ddl: dict) -> None:
        if ddl["schema"] not in self._schemas:
            raise DDLError(f"unknown schema {ddl['schema']}")
        self._schema_charsets[ddl["schema"]] = ddl["charset"]

    def _h_alter_ttl_info(self, ddl: dict) -> None:
        """ActionAlterTTLInfo (handlers `:427`): rows expire after the
        TTL — Spark: the mount appends a ttl-horizon filter predicate."""
        cur = self._current(ddl)
        self._push(replace(cur, ttl=ddl.get("ttl"),
                           version_ts=ddl["commit_ts"]))

    def _h_alter_ttl_remove(self, ddl: dict) -> None:
        cur = self._current(ddl)
        self._push(replace(cur, ttl=None, version_ts=ddl["commit_ts"]))

    def _h_add_primary_key(self, ddl: dict) -> None:
        """ActionAddPrimaryKey: the named columns become the handle —
        Spark: update-split and index-value partitioners re-key."""
        cur = self._current(ddl)
        names = set(ddl["column_names"])
        missing = names - set(cur.column_names())
        if missing:
            raise DDLError(f"columns missing: {sorted(missing)}")
        cols = tuple(
            replace(c, primary_key=c.name in names, nullable=False
                    if c.name in names else c.nullable)
            for c in cur.columns
        )
        self._push(replace(cur, columns=cols, version_ts=ddl["commit_ts"]))

    def _h_drop_primary_key(self, ddl: dict) -> None:
        cur = self._current(ddl)
        cols = tuple(replace(c, primary_key=False) for c in cur.columns)
        self._push(replace(cur, columns=cols, version_ts=ddl["commit_ts"]))

    # -- partition lifecycle ------------------------------------------------
    def _h_alter_table_partitioning(self, ddl: dict) -> None:
        """ActionAlterTablePartitioning: a plain table becomes
        partitioned — every partition is a fresh physical id. Spark:
        the mount unions per-partition keyspaces under one logical
        table."""
        cur = self._current(ddl)
        if cur.partitions:
            raise DDLError("table is already partitioned")
        n = int(ddl.get("n_partitions", 1))
        parts = tuple(self._alloc() for _ in range(n))
        self._push(replace(cur, partitions=parts,
                           version_ts=ddl["commit_ts"]))

    def _h_remove_partitioning(self, ddl: dict) -> None:
        """ActionRemovePartitioning: collapse back to one keyspace."""
        cur = self._current(ddl)
        if not cur.partitions:
            raise DDLError("table is not partitioned")
        self._push(replace(cur, partitions=(),
                           version_ts=ddl["commit_ts"]))

    def _h_add_table_partition(self, ddl: dict) -> None:
        cur = self._current(ddl)
        if not cur.partitions:
            raise DDLError("table is not partitioned")
        n = int(ddl.get("n_partitions", 1))
        parts = cur.partitions + tuple(self._alloc() for _ in range(n))
        self._push(replace(cur, partitions=parts,
                           version_ts=ddl["commit_ts"]))

    def _h_drop_table_partition(self, ddl: dict) -> None:
        cur = self._current(ddl)
        idx = int(ddl.get("partition_index", 0))
        if not 0 <= idx < len(cur.partitions):
            raise DDLError(f"partition index {idx} out of range")
        parts = cur.partitions[:idx] + cur.partitions[idx + 1:]
        self._push(replace(cur, partitions=parts,
                           version_ts=ddl["commit_ts"]))

    def _h_truncate_table_partition(self, ddl: dict) -> None:
        """Like truncate-table but for one partition: its physical id is
        reallocated in place (handlers treat it as a keyspace swap)."""
        cur = self._current(ddl)
        idx = int(ddl.get("partition_index", 0))
        if not 0 <= idx < len(cur.partitions):
            raise DDLError(f"partition index {idx} out of range")
        parts = list(cur.partitions)
        parts[idx] = self._alloc()
        self._push(replace(cur, partitions=tuple(parts),
                           version_ts=ddl["commit_ts"]))

    def _h_reorganize_partition(self, ddl: dict) -> None:
        """ActionReorganizePartition (handlers `:418`): the partition
        set is rewritten wholesale — all-new physical ids."""
        cur = self._current(ddl)
        if not cur.partitions:
            raise DDLError("table is not partitioned")
        n = int(ddl.get("n_partitions", len(cur.partitions)))
        parts = tuple(self._alloc() for _ in range(n))
        self._push(replace(cur, partitions=parts,
                           version_ts=ddl["commit_ts"]))

    # -- views, recover, batch actions --------------------------------------
    def _h_create_view(self, ddl: dict) -> None:
        """Views carry no physical rows; the store records them so DDL
        consumers (allow-list, normalizer) see the event (`:241` create
        view area)."""
        key = (ddl["schema"], ddl["view"])
        if key in self._views:
            raise DDLError(f"view {key[0]}.{key[1]} exists")
        self._views[key] = ddl["commit_ts"]

    def _h_drop_view(self, ddl: dict) -> None:
        key = (ddl["schema"], ddl["view"])
        if key not in self._views:
            raise DDLError(f"view {key[0]}.{key[1]} missing")
        del self._views[key]

    def _h_recover_table(self, ddl: dict) -> None:
        """ActionRecoverTable: un-drop — the dropped chain gets a live
        version again under its original id (FLASHBACK semantics)."""
        tid = ddl["table_id"]
        versions = self._versions.get(tid)
        if not versions:
            raise DDLError(f"unknown table id {tid}")
        last = versions[-1][1]
        if not last.dropped:
            raise DDLError(f"table {tid} is not dropped")
        if (last.schema_name, last.table_name) in self._by_name:
            raise DDLError(
                f"name {last.schema_name}.{last.table_name} is taken")
        self._push(replace(last, dropped=False,
                           version_ts=ddl["commit_ts"]))
        self._by_name[(last.schema_name, last.table_name)] = tid

    def _h_create_tables(self, ddl: dict) -> None:
        """ActionCreateTables: batch create at one commit_ts (the
        reference's BR/import path)."""
        for sub in ddl["tables"]:
            sub = dict(sub)
            sub["type"] = "create-table"
            sub["commit_ts"] = ddl["commit_ts"]
            self._h_create_table(sub)

    def _h_rename_tables(self, ddl: dict) -> None:
        """ActionRenameTables (handlers `:391`): several renames commit
        atomically — old names all release BEFORE new names bind, so
        cyclic renames (a→b, b→a) work."""
        renames = ddl["renames"]
        infos = [self._current(r) for r in renames]
        for info in infos:
            del self._by_name[(info.schema_name, info.table_name)]
        ts = ddl["commit_ts"]
        for info, r in zip(infos, renames):
            new_key = (r.get("to_schema", info.schema_name), r["to_table"])
            if new_key in self._by_name:
                raise DDLError(f"target {new_key[0]}.{new_key[1]} exists")
            self._push(replace(info, schema_name=new_key[0],
                               table_name=new_key[1], version_ts=ts))
            self._by_name[new_key] = info.table_id

    # -- data-plane export --------------------------------------------------
    def registry_rows(self) -> list[tuple[int, int, str, str, str]]:
        """(table_id, version_ts, schema, table, columns_ddl) rows for a
        broadcast registry DataFrame."""
        rows = []
        for tid, versions in sorted(self._versions.items()):
            for vts, info in versions:
                if not info.dropped:
                    rows.append((tid, vts, info.schema_name, info.table_name,
                                 info.spark_schema_ddl()))
        return rows

    def version_rows(self) -> list[tuple]:
        """Extended export pinning EVERY handler effect: one row per live
        (table, version) with column metadata, charset, ttl, comment and
        the partition id list — the surface the ddl_handlers_* oracle
        queries diff against DuckDB."""
        rows = []
        for tid, versions in sorted(self._versions.items()):
            for vts, info in versions:
                if not info.dropped:
                    rows.append((
                        tid, vts, info.schema_name, info.table_name,
                        ";".join(c.meta_str() for c in info.columns),
                        info.charset,
                        info.ttl or "",
                        info.comment,
                        ",".join(str(p) for p in info.partitions),
                    ))
        return rows

    def views(self) -> list[tuple[str, str, int]]:
        return sorted((s, v, ts) for (s, v), ts in self._views.items())

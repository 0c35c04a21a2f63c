"""SQL DML/DDL statement routing for CrateSession.

The reference dispatches every statement kind from one planner
(``planner/Planner.java:273-500``: CreateTable, Insert, Update, Delete,
CopyFrom/CopyTo, DropTable; ``planner/operators/Insert.java:51``;
``docs/sql/statements/insert.rst:25-27`` for ON CONFLICT). This module
is the same dispatch for the SQL front door: conservative parsers for
the documented statement subset, each routed to the ``CrateTable``
storage layer (dml.py). ``statement.ROUTES`` sends these statements
here; a statement outside the documented grammar is an error.

Parsing philosophy matches dialect.py: string literals are masked
first, structure is found by depth-aware scanning (never by splitting
raw text), and anything outside the documented grammar raises a clear
error instead of guessing.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crate_spark.datatypes import Column, TypeSpec, crate_name, parse_column
from crate_spark.dialect import find_close, rewrite, rewrite_sys_columns, split_args, unmask
from crate_spark.dml import _WRITE_LOCK, CrateTable
from crate_spark.session import backticked, local_frame, rowcount_frame
from crate_spark.statement import Bare, Statement, typed


def _crate_decl(col: Column) -> dict:
    """A column's declared crate type in its information_schema form:
    {"type": <data_type spelling>} plus, for objects, the declared
    subcolumns as {"children": [{"name", ...decl}]} (recursive)."""
    if col.spec is None:  # a Spark spelling, named as written
        return {"type": " ".join(col.spelling.lower().split())}
    return _decl(col.spec)


def _decl(spec: TypeSpec) -> dict:
    if spec.element is not None:
        inner = _decl(spec.element)
        out = {"type": inner["type"] + "_array"}
        if inner.get("children"):
            out["children"] = inner["children"]
        return out
    out = {"type": spec.row.name}
    if spec.is_object:
        out["children"] = [{"name": c.name, **_decl(c.spec)} for c in spec.children]
        if spec.policy:
            out["policy"] = spec.policy
    elif spec.params and spec.row.spark == "string":
        # the length of a string store (varchar(n), char(n), bit(n))
        out["length"] = spec.params[0]
    return out


def _json_value(value):
    """A subcolumn DEFAULT value as JSON: unquoted numbers and booleans
    typed."""
    value = typed(value)
    return float(value) if isinstance(value, Bare) else value


def _close(s: str, open_idx: int) -> int:
    """``find_close`` for a clause that must be balanced."""
    close = find_close(s, open_idx)
    if close < 0:
        raise ValueError(f"unbalanced parentheses in: {s[:80]}...")
    return close


def _parse_returning(tail: str, literals: list[str]) -> tuple[str, list[str] | None]:
    """Strip a trailing RETURNING clause; [] means RETURNING *."""
    m = re.search(r"\bRETURNING\s+(.+)$", tail, re.IGNORECASE | re.DOTALL)
    if not m:
        return tail, None
    cols = unmask(m.group(1).strip(), literals)
    tail = tail[: m.start()].strip()
    return tail, [] if cols == "*" else [c.strip() for c in split_args(cols)]


class SqlDmlRouter:
    """Statement router bound to a CrateSession-like owner.

    The owner provides: ``spark``, ``storage_dir``, ``register(name,
    df)`` (refreshes catalog views), and ``tables`` (the view catalog).
    """

    def __init__(self, owner):
        self.owner = owner
        self.crate_tables: dict[str, CrateTable] = {}

    # -- helpers ---------------------------------------------------------
    @property
    def spark(self):
        return self.owner.spark

    def _table(self, name: str) -> CrateTable:
        name = name.split(".")[-1]  # doc.t == t (single-schema catalog)
        if name in getattr(self.owner, "subscribed_tables", ()):
            # logical-replication.rst: subscribed tables are read-only
            # until the subscription is dropped
            raise ValueError(
                f"The relation \"{name}\" doesn't allow INSERT/UPDATE/DELETE "
                "operations, because it is included in a logical replication "
                "subscription"
            )
        if name in self.crate_tables:
            return self.crate_tables[name]
        path = os.path.join(self.owner.storage_dir, name)
        if os.path.exists(os.path.join(path, "_crate_meta.json")):
            t = CrateTable.open(self.spark, path)
            self.crate_tables[name] = t
            return t
        raise ValueError(
            f"unknown DML target table '{name}' — CREATE TABLE it first "
            "(read-only driver tables are not DML targets)"
        )

    def _refresh(self, name: str) -> None:
        name = name.split(".")[-1]
        self.owner.register(name, self.crate_tables[name].relation())

    def _coerce_ts_literals(self, table: CrateTable, where: str) -> str:
        """Reference semantics: a NUMERIC literal compared to a
        timestamp column is epoch MILLIS (its timestamp storage) —
        ``WHERE day = 1396915200000`` (partitioned-tables.rst:305).
        Spark refuses TIMESTAMP = BIGINT, so wrap such literals in
        timestamp_millis() for every timestamp column of the table."""
        ts_cols = [
            f.name
            for f in table.schema.fields
            if f.dataType.simpleString() in ("timestamp", "timestamp_ntz")
        ]
        for col in ts_cols:
            where = re.sub(
                rf'("?{re.escape(col)}"?\s*(?:=|!=|<>|<=|>=|<|>)\s*)(\d{{7,}})\b',
                r"\1timestamp_millis(\2)",
                where,
            )
            where = re.sub(
                rf'(?<![\w(])(\d{{7,}})(\s*(?:=|!=|<>|<=|>=|<|>)\s*"?{re.escape(col)}"?)',
                r"timestamp_millis(\1)\2",
                where,
            )
        return where

    # -- dispatch --------------------------------------------------------
    def route(self, st: Statement) -> DataFrame:
        """Execute ``st``, a CREATE/DROP/ALTER TABLE, INSERT, UPDATE,
        DELETE or COPY statement, on the storage layer."""
        return getattr(self, "_" + st.kind)(st)

    def _record_schema(self, raw_name: str, table: str) -> None:
        """Remember the schema a SQL-created table belongs to
        (create-schema.rst: CREATE TABLE implicitly creates missing
        schemas; they are catalog metadata — storage stays one flat
        namespace)."""
        parts = [p.strip('"') for p in raw_name.strip().strip('"').split(".")]
        schema = parts[-2] if len(parts) > 1 else "doc"
        reg = getattr(self.owner, "_table_schema", None)
        if reg is not None:
            reg[table] = schema

    # -- CREATE / DROP TABLE --------------------------------------------
    def _create_table(self, st: Statement) -> DataFrame:
        masked, literals = st.masked, st.literals
        create = r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.\"]+)\s*"
        cm = st.match(create + r"\s+AS\s+(.+)$", required=False, masked=True)
        if cm:
            return self._create_table_as(cm.group(2), cm.group(3), literals)
        m = st.match(create + r"\(", masked=True)
        name = m.group(2).strip('"').split(".")[-1]
        if m.group(1) and name in self.crate_tables:
            return rowcount_frame(self.spark, 0)
        open_idx = m.end() - 1
        close_idx = _close(masked, open_idx)
        body = masked[open_idx + 1 : close_idx]
        tail = masked[close_idx + 1 :]

        # CREATE TABLE x (LIKE source [INCLUDING|EXCLUDING ...])
        # (create-table-like.rst): empty table, source's column DDL;
        # INCLUDING options are accepted (constraints/defaults copy by
        # default here, matching INCLUDING ALL)
        lm = re.match(
            r"\s*LIKE\s+([\w.\"]+)(\s+(?:INCLUDING|EXCLUDING)\s+\w+)*\s*$",
            body,
            re.IGNORECASE,
        )
        if lm:
            src = self._table(lm.group(1).strip('"'))
            path = os.path.join(self.owner.storage_dir, name)
            t = CrateTable.create(
                self.spark,
                path,
                src.schema_ddl,
                primary_key=list(src.primary_key),
                partitioned_by=list(src.partitioned_by),
                generated=dict(src.generated),
                generated_eval=dict(src.generated_eval),
                checks=list(src.checks),
                defaults=dict(src.defaults),
                settings=dict(src.settings),
                crate_columns=[dict(c) for c in src.crate_columns],
            )
            self.crate_tables[name] = t
            self._record_schema(m.group(2), name)
            self._refresh(name)
            return rowcount_frame(self.spark)

        meta = self._elements(split_args(body), st)
        partitioned: list[str] = []
        pm = re.search(r"PARTITIONED\s+BY\s*\(([^)]*)\)", tail, re.IGNORECASE)
        if pm:
            partitioned = [c.strip().strip('"') for c in pm.group(1).split(",")]
        wm = re.search(r"\bWITH\s*\(", tail, re.IGNORECASE)
        settings = st.properties(tail[wm.end() : _close(tail, wm.end() - 1)]) if wm else {}

        # CLUSTERED [BY (col)] INTO n SHARDS (create-table.rst): the
        # MODULO routing key — writes hash-repartition on it so each
        # batch lands in exactly n routed files (see CrateTable)
        clustered_by: list[str] = []
        shards = None
        clm = re.search(
            r"CLUSTERED(?:\s+BY\s*\(([^)]*)\))?(?:\s+INTO\s+(\d+)\s+SHARDS)?",
            tail,
            re.IGNORECASE,
        )
        if clm:
            if clm.group(1):
                clustered_by = [c.strip().strip('"') for c in clm.group(1).split(",")]
            if clm.group(2):
                shards = int(clm.group(2))

        path = os.path.join(self.owner.storage_dir, name)
        t = CrateTable.create(
            self.spark,
            path,
            meta.pop("schema_ddl"),
            partitioned_by=partitioned,
            settings=settings,
            clustered_by=clustered_by,
            shards=shards,
            **meta,
        )
        self.crate_tables[name] = t
        self._record_schema(m.group(2), name)
        self._refresh(name)
        return rowcount_frame(self.spark)

    def _elements(self, items: list[str], st: Statement, base_ddl: str = "") -> dict:
        """The table metadata a list of column definitions and table
        constraints declares (masked items of ``st``): ``schema_ddl``
        and the keyword arguments of ``CrateTable.create`` they set. A
        type-less generated column (generated-columns.rst: the type is
        inferred from the expression) may also read ``base_ddl``."""
        literals = st.literals
        cols: list[str] = []
        meta: dict = {
            "primary_key": [], "not_null": [], "checks": [], "generated": {},
            "defaults": {}, "ft_indexes": {}, "crate_columns": [],
        }
        for item in items:
            read = parse_column(item)
            if read is None or read[1] != len(item):
                raise ValueError(f"cannot parse column definition: {item!r}")
            col = read[0]
            meta["primary_key"] += col.key
            # a primary key column is NOT NULL
            for c in col.key + ((col.name,) if col.not_null else ()):
                if c not in meta["not_null"]:
                    meta["not_null"].append(c)
            meta["checks"] += [unmask(c, literals) for c in col.checks]
            if col.fulltext:
                # MATCH can name the index and search its columns
                # (fulltext-indices.rst)
                meta["ft_indexes"][col.fulltext[0]] = list(col.fulltext[1])
            if col.name is None:
                continue
            if col.generated is not None:
                meta["generated"][col.name] = unmask(col.generated, literals)
            if col.default is not None:
                # applied where INSERT leaves the column out (insert.rst)
                meta["defaults"][col.name] = rewrite(unmask(col.default, literals))
            elif col.spec and col.spec.children:
                # an object's subcolumn defaults make the whole object
                # when INSERT leaves it out (create-table.rst:141-156)
                obj = {
                    c.name: _json_value(st.value(c.default))
                    for c in col.spec.children
                    if c.default is not None
                }
                if obj:
                    meta["defaults"][col.name] = "'" + json.dumps(obj).replace("'", "''") + "'"
            if not col.spelling and col.generated is None:
                raise ValueError(f"column '{col.name}' needs an explicit type")
            cols.append(f"{col.name} {col.spark}" if col.spelling else col.name)
            meta["crate_columns"].append({"name": col.name, **_crate_decl(col)})
        # the evaluation form: UDF calls resolved to their Spark
        # registrations and rewritten once; `generated` keeps the
        # user's spelling for SHOW CREATE TABLE
        resolve = getattr(self.owner, "_resolve_udf_calls", None) or (lambda x: x)
        meta["generated_eval"] = {k: rewrite(resolve(v)) for k, v in meta["generated"].items()}
        for i, name in enumerate(cols):
            if " " in name:
                continue
            known = ", ".join(c for c in [base_ddl] + cols if " " in c) or "__x int"
            probe = local_frame(self.spark, [], known).selectExpr(f"({meta['generated_eval'][name]}) AS __g")
            dt = probe.schema[0].dataType.simpleString()
            cols[i] = f"{name} {dt}"
            meta["crate_columns"][i]["type"] = crate_name(dt)
        meta["schema_ddl"] = ", ".join(cols)
        return meta

    def _create_table_as(self, raw_name: str, query: str, literals: list[str]) -> DataFrame:
        """CREATE TABLE t AS <query> (reference ``CreateTableAsPlan``):
        materialize the query result as a new stored table."""
        name = raw_name.strip('"').split(".")[-1]
        src = self.spark.sql(rewrite(unmask(query.strip(), literals), user_schemas=self.owner._user_schemas()))
        schema_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in src.schema.fields
        )
        path = os.path.join(self.owner.storage_dir, name)
        t = CrateTable.create(
            self.spark,
            path,
            schema_ddl,
            crate_columns=[
                {"name": f.name, "type": crate_name(f.dataType.simpleString())}
                for f in src.schema.fields
            ],
        )
        self.crate_tables[name] = t
        self._record_schema(raw_name, name)
        n = t.insert(src)
        self._refresh(name)
        return rowcount_frame(self.spark, n)

    def _alter_table(self, st: Statement) -> DataFrame:
        """ALTER TABLE ADD/DROP/RENAME COLUMN (reference
        ``planner/Planner.java`` AlterTable dispatch; add column mirrors
        the dynamic-mapping path). Data rewrites happen read-merge-write
        like every other mutation."""
        literals = st.literals
        # ALTER TABLE t OPEN / CLOSE (alter-table.rst): a closed table
        # refuses queries — modeled by deregistering its view; OPEN
        # re-registers it. The closed flag persists in settings.
        ocm = st.match(
            r"\s*ALTER\s+TABLE\s+([\w.\"]+)(\s+PARTITION\s*\([^)]*\))?"
            r"\s+(OPEN|CLOSE)\s*$",
            required=False, masked=True,
        )
        if ocm:
            name = ocm.group(1).strip('"').split(".")[-1]
            table = self._table(ocm.group(1).strip('"'))
            if ocm.group(2):
                # partition-scoped OPEN/CLOSE (partitioned-tables.rst):
                # partition open-state isn't tracked on the flat
                # parquet store — accepted, table stays queryable
                return rowcount_frame(self.spark)
            if ocm.group(3).upper() == "CLOSE":
                table.settings["closed"] = "true"
                table._save_meta()
                self.spark.catalog.dropTempView(name)
                self.owner.tables.pop(name, None)
            else:
                table.settings.pop("closed", None)
                table._save_meta()
                self._refresh(name)
            return rowcount_frame(self.spark)

        # ALTER TABLE a RENAME TO b (alter-table.rst): directory move +
        # catalog/view swap — the table-level rename, distinct from
        # RENAME COLUMN below
        rnm = st.match(
            r"\s*ALTER\s+TABLE\s+([\w.\"]+)\s+RENAME\s+TO\s+([\w.\"]+)\s*$",
            required=False, masked=True,
        )
        if rnm:
            old = rnm.group(1).strip('"').split(".")[-1]
            new = rnm.group(2).strip('"').split(".")[-1]
            if new in self.crate_tables or new in self.owner.tables:
                raise ValueError(f"table '{new}' already exists")
            table = self._table(old)
            new_path = os.path.join(self.owner.storage_dir, new)
            os.rename(table.path, new_path)
            table.path = new_path
            del self.crate_tables[old]
            self.crate_tables[new] = table
            self.spark.catalog.dropTempView(old)
            self.owner.tables.pop(old, None)
            self._refresh(new)
            return rowcount_frame(self.spark)

        # ALTER TABLE t [PARTITION (...)] SET (k = v, ...) / RESET (...)
        # — storage settings on the table metadata (alter-table.rst;
        # partitioned-tables.rst:436 applies them to one partition —
        # storage here is table-scoped, so partition settings land on
        # the table)
        sm = st.match(
            r"\s*ALTER\s+TABLE\s+(?:ONLY\s+)?([\w.\"]+)"
            r"(?:\s+PARTITION\s*\([^)]*\))?"
            r"\s+(SET|RESET)\s*\(([^)]*)\)\s*$",
            required=False, masked=True,
        )
        if sm:
            table = self._table(sm.group(1).strip('"'))
            props = st.properties(sm.group(3))
            if sm.group(2).upper() == "SET":
                table.settings.update(props)
                if str(props.get("number_of_shards", "")).isdigit():
                    # applies to future partitions/batches
                    # (alter-table.rst:75; sys.shards reflects it)
                    table.shards = int(props["number_of_shards"])
            else:
                for k in props:
                    table.settings.pop(k, None)
            table._save_meta()
            return rowcount_frame(self.spark)

        m = st.match(
            r"\s*ALTER\s+TABLE\s+([\w.\"]+)\s+"
            r"(?:ADD\s+(?:COLUMN\s+)?(\S.*?)"
            r"|DROP\s+(?:COLUMN\s+)?(\w+)"
            r"|RENAME\s+(?:COLUMN\s+)?(\S+)\s+TO\s+(\S+))\s*$",
            masked=True,
        )
        table = self._table(m.group(1).strip('"'))
        name = m.group(1).strip('"').split(".")[-1]

        def _subref(ref: str):
            """col['a']['b'] -> (col, ['a','b']); plain col -> (col, [])."""
            sm = re.match(r'"?(\w+)"?((?:\s*\[\s*\'[\w]+\'\s*\])*)\s*$', ref)
            if not sm:
                return None
            path = re.findall(r"\[\s*'([\w]+)'\s*\]", sm.group(2) or "")
            return sm.group(1), path

        def _decl_at(path_parent: list[str]) -> list[dict]:
            """children list of the object column at path_parent."""
            level = table.crate_columns
            for part in path_parent:
                node = next((c for c in level if c["name"] == part), None)
                if node is None or not node["type"].startswith("object"):
                    raise ValueError(f"unknown object column '{part}'")
                level = node.setdefault("children", [])
            return level

        if m.group(2):  # ADD COLUMN (top-level or obj['sub'] nested)
            read = parse_column(m.group(2))
            if read is None or read[0].name is None or read[1] != len(m.group(2)):
                raise st.unsupported()
            col, path = _subref(unmask(read[0].name, literals))
            if path:
                # nested add (alter-table.rst:148): object payloads are
                # JSON strings — the new subcolumn is catalog metadata
                _decl_at([col] + path[:-1]).append({"name": path[-1], **_crate_decl(read[0])})
                table._save_meta()
            else:
                self._add_column(table, m.group(2), st)
        elif m.group(3):  # DROP COLUMN
            col = m.group(3)
            # the rewrite reads the version current under the lock, and
            # no INSERT commits between it and the new schema
            with _WRITE_LOCK:
                fields = [f for f in table.schema.fields if f.name != col]
                table._overwrite(lambda rows: rows.drop(col))
                table.schema_ddl = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}" for f in fields
                )
                table.crate_columns = [
                    c for c in table.crate_columns if c["name"] != col
                ]
                table._save_meta()
        else:  # RENAME COLUMN (top-level or nested object subcolumn)
            old_ref = unmask(m.group(4), literals)
            new_ref = unmask(m.group(5), literals)
            ocol, opath = _subref(old_ref)
            ncol, npath = _subref(new_ref)
            if opath:
                # nested rename (alter-table.rst:192): same parent path
                if ocol != ncol or opath[:-1] != npath[:-1]:
                    raise ValueError(
                        "RENAME COLUMN cannot move a column between objects"
                    )
                level = _decl_at([ocol] + opath[:-1])
                node = next(
                    (c for c in level if c["name"] == opath[-1]), None
                )
                if node is None:
                    raise ValueError(f"unknown column '{old_ref}'")
                node["name"] = npath[-1]
                table._save_meta()
                # JSON payloads key by field name — rewrite the key at
                # this nesting depth
                import json as _json

                def _rekey(v, parts=tuple(opath), new_name=npath[-1]):
                    if v is None:
                        return None
                    try:
                        obj = _json.loads(v)
                    except Exception:
                        return v
                    node_ = obj
                    for p in parts[:-1]:
                        if not isinstance(node_, dict) or p not in node_:
                            return v
                        node_ = node_[p]
                    if isinstance(node_, dict) and parts[-1] in node_:
                        node_[new_name] = node_.pop(parts[-1])
                    return _json.dumps(obj)

                rekey = F.udf(_rekey, "string")
                table._overwrite(lambda rows: rows.withColumn(ocol, rekey(F.col(ocol))))
            else:
                old, new = ocol, ncol
                # read under the old schema and commit under the new one
                # with no INSERT in between
                with _WRITE_LOCK:
                    fields = table.schema.fields
                    table._overwrite(lambda rows: rows.withColumnRenamed(old, new))
                    table.schema_ddl = ", ".join(
                        f"{new if f.name == old else f.name} {f.dataType.simpleString()}"
                        for f in fields
                    )
                    for c in table.crate_columns:
                        if c["name"] == old:
                            c["name"] = new
                    table._save_meta()
        self._refresh(name)
        return rowcount_frame(self.spark)

    def _add_column(self, table: CrateTable, item: str, st: Statement) -> None:
        """ALTER TABLE ADD COLUMN ``item``: its type and constraints as
        CREATE TABLE reads them, applied to the rows written from now
        on (no existing row is rewritten). The new type and each
        expression are analyzed before the metadata is saved, so a
        failed ALTER leaves the table as it was."""
        add = self._elements([item], st, table.schema_ddl)
        schema_ddl = f"{table.schema_ddl}, {add['schema_ddl']}"
        probe = local_frame(self.spark, [], schema_ddl)
        types = {f.name: f.dataType.simpleString() for f in probe.schema}
        exprs = [f"CAST(({d}) AS {types[c]})" for c, d in add["defaults"].items()]
        exprs += [*add["generated_eval"].values(), *add["checks"]]
        if exprs:
            probe.selectExpr(*exprs)
        table.schema_ddl = schema_ddl
        table.primary_key = list(table.primary_key) + add["primary_key"]
        table.not_null = table.not_null + add["not_null"]
        table.checks = table.checks + add["checks"]
        for key in ("generated", "generated_eval", "defaults"):
            getattr(table, key).update(add[key])
        table.crate_columns.extend(add["crate_columns"])
        table._save_meta()

    def _drop_table(self, st: Statement) -> DataFrame:
        m = st.match(r"\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.\"]+)\s*$", masked=True)
        name = m.group(2).strip('"').split(".")[-1]
        if name not in self.crate_tables:
            if m.group(1):
                return rowcount_frame(self.spark, 0)
            raise ValueError(f"unknown table '{name}'")
        t = self.crate_tables.pop(name)
        shutil.rmtree(t.path, ignore_errors=True)
        self.spark.catalog.dropTempView(name)
        self.owner.tables.pop(name, None)
        # implicit schemas vanish with their last object
        # (create-schema.rst) — schemata recomputes from this map
        getattr(self.owner, "_table_schema", {}).pop(name, None)
        return rowcount_frame(self.spark)

    # -- INSERT ----------------------------------------------------------
    def _insert(self, st: Statement) -> DataFrame:
        literals = st.literals
        m = st.match(r"\s*INSERT\s+INTO\s+([\w.\"]+)\s*(\(([^)]*)\))?\s*(.*)$", masked=True)
        name = m.group(1).strip('"').split(".")[-1]
        table = self._table(name)
        col_list = None
        body = m.group(4).strip()
        if m.group(3) is not None:
            # a paren group after the table name is a column list ONLY
            # if it isn't itself a query: `INSERT INTO t (SELECT ...)`
            if re.match(r"(?i)\s*(SELECT|VALUES|WITH)\b", m.group(3)):
                body = (m.group(2) + " " + body).strip()
            else:
                col_list = [c.strip().strip('"') for c in m.group(3).split(",")]

        body, returning = _parse_returning(body, literals)

        # ON CONFLICT clause (docs/sql/statements/insert.rst:25-27)
        conflict = None  # None | ("nothing",) | ("update", {col: expr})
        cm = re.search(
            r"\bON\s+CONFLICT\s*(\([^)]*\))?\s*DO\s+(NOTHING|UPDATE\s+SET\s+(.*))$",
            body,
            re.IGNORECASE | re.DOTALL,
        )
        declared = table.schema
        declared_types = {f.name: f.dataType.simpleString() for f in declared.fields}
        if cm:
            if cm.group(2).upper() == "NOTHING":
                conflict = ("nothing",)
            else:
                # unqualified columns in DO UPDATE SET refer to the
                # EXISTING row (PG/insert.rst: use excluded.<col> for
                # the incoming value). Qualify on the masked text so
                # literal contents can't be touched.
                colpat = re.compile(
                    r"(?<![\w.])("
                    + "|".join(re.escape(c) for c in declared_types)
                    + r")\b(?!\s*\()",
                    re.IGNORECASE,
                )
                set_exprs = {}
                for a in split_args(cm.group(3)):
                    k, _, v = a.partition("=")
                    vq = colpat.sub(r"target.\1", v.strip())
                    set_exprs[k.strip().strip('"')] = rewrite(
                        unmask(vq, literals)
                    )
                conflict = ("update", set_exprs)
            body = body[: cm.start()].strip()
        gen = set(table.generated)
        target_cols = col_list or [
            f.name for f in declared.fields if f.name not in gen
        ]

        if re.match(r"VALUES\b", body, re.IGNORECASE):
            values_sql = unmask(body[len("VALUES") :].strip(), literals)
            # rows written in the statement: one partition is exact, and
            # the PK duplicate window over it needs no exchange
            src = self.spark.sql(
                f"SELECT * FROM VALUES {rewrite(values_sql)}"
            ).coalesce(1)
        else:
            # `INSERT INTO t (SELECT ...)` — PG-style parenthesized query
            if body.startswith("(") and find_close(body, 0) == len(body) - 1:
                body = body[1:-1].strip()
            src = self.spark.sql(rewrite(unmask(body, literals), user_schemas=self.owner._user_schemas()))
        if len(src.columns) != len(target_cols):
            raise ValueError(
                f"INSERT has {len(src.columns)} expressions for "
                f"{len(target_cols)} target columns"
            )
        src = src.toDF(*target_cols)
        unknown = [c for c in target_cols if c not in declared_types]
        if unknown:
            # column-policy.rst: a dynamic table grows new top-level
            # columns on INSERT; strict (the default) rejects them
            policy = (table.settings.get("column_policy") or "strict").lower()
            if policy != "dynamic":
                raise ValueError(f"Column {unknown[0]} unknown")
            widen = {"int": "bigint", "smallint": "bigint", "tinyint": "bigint",
                     "float": "double", "void": "string"}
            src_types = {f.name: f.dataType.simpleString() for f in src.schema.fields}
            for c in unknown:
                dt = src_types[c]
                dt = widen.get(dt, dt)
                table.schema_ddl += f", {c} {dt}"
            table._save_meta()
            declared = table.schema
            declared_types = {
                f.name: f.dataType.simpleString() for f in declared.fields
            }
        # one projection of SQL items: cast to declared types (VALUES
        # literals arrive as int/decimal) and fill omitted
        # (non-generated) columns with their DEFAULT expression, else
        # NULL (insert.rst default clause); geo_point columns
        # additionally accept WKT 'POINT (x y)' text (data-types.rst
        # geo_point: "insert using the WKT syntax")
        src_types = {f.name: f.dataType.simpleString() for f in src.schema.fields}

        def _item(c: str) -> str:
            q = backticked(c)
            if declared_types[c] == "array<double>" and src_types.get(c) == "string":
                return (
                    f"CASE WHEN {q} IS NULL THEN NULL ELSE array("
                    f"CAST(regexp_extract({q}, 'POINT\\\\s*\\\\(\\\\s*(-?[0-9.]+)', 1) AS DOUBLE), "
                    f"CAST(regexp_extract({q}, '\\\\s(-?[0-9.]+)\\\\s*\\\\)', 1) AS DOUBLE)) END AS {q}"
                )
            if c in src_types:
                value = q
            elif c in table.defaults:
                value = f"({table.defaults[c]})"
            else:
                value = "NULL"
            return f"CAST({value} AS {declared_types[c]}) AS {q}"

        src = src.selectExpr(*[_item(f.name) for f in declared.fields if f.name not in gen])

        if conflict is None:
            out = table.insert(src, returning=returning)
            self._refresh(name)
            return out if returning is not None else rowcount_frame(self.spark, out)
        if conflict[0] == "nothing":
            stats = table.upsert(src, do_nothing=True)
        else:
            stats = table.upsert(src, set_exprs=conflict[1])
        self._refresh(name)
        return rowcount_frame(self.spark, stats["inserted"] + stats["updated"])

    # -- UPDATE / DELETE -------------------------------------------------
    def _update(self, st: Statement) -> DataFrame:
        literals = st.literals
        m = st.match(r"\s*UPDATE\s+([\w.\"]+)\s+SET\s+(.*)$", masked=True)
        name = m.group(1).strip('"').split(".")[-1]
        table = self._table(name)
        body, returning = _parse_returning(m.group(2), literals)
        where = None
        wm = re.search(r"\bWHERE\s+(.*)$", body, re.IGNORECASE | re.DOTALL)
        if wm:
            # OCC columns (_version/_seq_no/_primary_term, occ.rst:60)
            # in the WHERE read their row-level values
            where = self._coerce_ts_literals(
                table,
                rewrite(rewrite_sys_columns(unmask(wm.group(1).strip(), literals))),
            )
            body = body[: wm.start()].strip()
        set_exprs = {}
        for a in split_args(body):
            k, _, v = a.partition("=")
            set_exprs[k.strip().strip('"')] = rewrite(unmask(v.strip(), literals))
        # partition columns are immutable — moving documents between
        # partitions is not atomic (partitioned-tables.rst:258-273,
        # reference ColumnValidationException); columns feeding a
        # generated partition column are equally frozen
        for col in set_exprs:
            if col in table.partitioned_by:
                raise ValueError(
                    f"Validation failed for {col}: Updating a "
                    "partitioned-by column is not supported"
                )
            for gcol, gexpr in table.generated.items():
                if gcol in table.partitioned_by and re.search(
                    rf"\b{re.escape(col)}\b", gexpr
                ):
                    raise ValueError(
                        f"Validation failed for {col}: Updating a column "
                        "which is referenced in a partitioned by "
                        "generated column expression is not supported"
                    )
        out = table.update(set_exprs, where=where, returning=returning)
        self._refresh(name)
        return out if returning is not None else rowcount_frame(self.spark, out)

    def _delete(self, st: Statement) -> DataFrame:
        literals = st.literals
        m = st.match(r"\s*DELETE\s+FROM\s+([\w.\"]+)\s*(?:WHERE\s+(.*))?$", masked=True)
        name = m.group(1).strip('"').split(".")[-1]
        table = self._table(name)
        where = (
            self._coerce_ts_literals(
                table,
                rewrite(rewrite_sys_columns(unmask(m.group(2).strip(), literals))),
            )
            if m.group(2) else None
        )
        n = table.delete(where)
        self._refresh(name)
        return rowcount_frame(self.spark, n)

    # -- COPY ------------------------------------------------------------
    def _copy(self, st: Statement) -> DataFrame:
        literals = st.literals
        m = st.match(
            r"\s*COPY\s+([\w.\"]+)\s*(?:PARTITION\s*\([^)]*\)\s*)?"
            r"(\(([^)]*)\))?(?:\s+WHERE\s+(.+?))?\s+(FROM|TO)\s+(DIRECTORY\s+)?"
            r"(__LIT_\d+__)\s*(.*)$",
            masked=True,
        )
        name = m.group(1).strip('"').split(".")[-1]
        table = self._table(name)
        direction = m.group(5).upper()
        uri = st.value(m.group(7))
        tail = m.group(8) or ""
        pm = re.search(r"WITH\s*\(([^)]*)\)", tail, re.IGNORECASE)
        props = st.properties(pm.group(1)) if pm else {}
        where = None
        # copy-to.rst grammar puts WHERE before TO; accept a trailing
        # spelling too for compatibility with earlier statements
        where_src = m.group(4)
        wm = re.search(r"\bWHERE\s+(.+?)(?:WITH\s*\(|$)", tail, re.IGNORECASE | re.DOTALL)
        if where_src is None and wm:
            where_src = wm.group(1)
        if where_src:
            where = rewrite(unmask(where_src.strip(), literals))

        if direction == "FROM":
            fmt = props.get("format", "csv" if not uri.endswith(".json") else "json")
            summary = table.copy_from(
                uri,
                format=fmt,
                header=props.get("header", "true").lower() != "false",
                delimiter=props.get("delimiter", ","),
            )
            self._refresh(name)
            return local_frame(
                self.spark,
                [(summary["loaded"], summary["errors"])],
                "loaded bigint, errors bigint",
            )
        cols = (
            [c.strip().strip('"') for c in m.group(3).split(",")] if m.group(3) else None
        )
        n = table.copy_to(
            uri,
            format=props.get("format", "json"),
            columns=cols,
            where=where,
            directory=bool(m.group(6)),
            compression=props.get("compression"),
        )
        return rowcount_frame(self.spark, n)

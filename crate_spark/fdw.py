"""Foreign data wrappers — SERVER / FOREIGN TABLE / USER MAPPING DDL.

Reference parity:
- ``docs/admin/fdw.rst``: the ``jdbc`` wrapper (CREATE SERVER ...
  FOREIGN DATA WRAPPER jdbc OPTIONS (url '...')); WHERE pushes to the
  foreign system when the wrapper supports it, GROUP BY/LIMIT/ORDER
  run locally; foreign tables are DQL-only
- statements: ``create-server.rst``, ``create-foreign-table.rst``,
  ``create-user-mapping.rst`` + the DROP/ALTER forms
- engine side: ``server/src/main/java/io/crate/fdw/`` (ServersMetadata,
  JdbcForeignDataWrapper, ForeignCollect plan node)

Spark-first: a foreign table IS a ``spark.read.format("jdbc")``
DataFrame — Spark's JDBC source already does partition-parallel reads
and filter pushdown (PushedFilters in the plan), which is exactly the
reference's ForeignCollect-with-query pushdown. A ``file`` wrapper is
added as a natural Spark surplus (parquet/csv/json paths as foreign
tables).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from crate_spark.datatypes import parse_column
from crate_spark.dialect import find_close, split_args
from crate_spark.session import rowcount_frame
from crate_spark.statement import Statement


class FdwError(Exception):
    """FDW catalog failure (unknown server, duplicate, bad wrapper)."""


@dataclass
class ForeignServer:
    name: str
    fdw: str  # jdbc | file
    options: dict = field(default_factory=dict)


@dataclass
class ForeignTable:
    name: str
    server: str
    schema_ddl: str | None
    options: dict = field(default_factory=dict)


class FdwStore:
    """Catalog of servers, foreign tables and user mappings."""

    def __init__(self) -> None:
        self.servers: dict[str, ForeignServer] = {}
        self.tables: dict[str, ForeignTable] = {}
        #: (user, server) -> options
        self.user_mappings: dict[tuple[str, str], dict] = {}

    # -- servers ---------------------------------------------------------
    def create_server(self, name: str, fdw: str, options: dict, *, if_not_exists=False) -> bool:
        key = name.lower()
        if key in self.servers:
            if if_not_exists:
                return False
            raise FdwError(f"Server '{name}' already exists")
        fdw = fdw.lower()
        if fdw not in ("jdbc", "file"):
            raise FdwError(f"Unknown foreign data wrapper '{fdw}'")
        if fdw == "jdbc" and "url" not in options:
            raise FdwError("jdbc wrapper requires OPTIONS (url '...')")
        self.servers[key] = ForeignServer(key, fdw, dict(options))
        return True

    def alter_server(self, name: str, options: dict) -> None:
        srv = self._server(name)
        for k, v in options.items():
            if v is None:
                srv.options.pop(k, None)
            else:
                srv.options[k] = v

    def drop_server(self, name: str, *, if_exists=False, cascade=False) -> bool:
        key = name.lower()
        if key not in self.servers:
            if if_exists:
                return False
            raise FdwError(f"Server '{name}' does not exist")
        dependents = [t.name for t in self.tables.values() if t.server == key]
        if dependents and not cascade:
            raise FdwError(
                f"Cannot drop server '{name}': foreign tables {dependents} depend on it"
            )
        for t in dependents:
            del self.tables[t]
        del self.servers[key]
        self.user_mappings = {
            k: v for k, v in self.user_mappings.items() if k[1] != key
        }
        return True

    def _server(self, name: str) -> ForeignServer:
        key = name.lower()
        if key not in self.servers:
            raise FdwError(f"Server '{name}' does not exist")
        return self.servers[key]

    # -- user mappings ---------------------------------------------------
    def create_user_mapping(self, user: str, server: str, options: dict) -> None:
        self._server(server)
        key = (user.lower(), server.lower())
        if key in self.user_mappings:
            raise FdwError(f"User mapping for '{user}' on '{server}' already exists")
        self.user_mappings[key] = dict(options)

    def drop_user_mapping(self, user: str, server: str, *, if_exists=False) -> bool:
        key = (user.lower(), server.lower())
        if key not in self.user_mappings:
            if if_exists:
                return False
            raise FdwError(f"User mapping for '{user}' on '{server}' does not exist")
        del self.user_mappings[key]
        return True

    # -- foreign tables --------------------------------------------------
    def create_table(
        self,
        name: str,
        server: str,
        schema_ddl: str | None,
        options: dict,
        *,
        if_not_exists=False,
    ) -> bool:
        key = name.split(".")[-1].lower()
        if key in self.tables:
            if if_not_exists:
                return False
            raise FdwError(f"Foreign table '{name}' already exists")
        self._server(server)
        self.tables[key] = ForeignTable(key, server.lower(), schema_ddl, dict(options))
        return True

    def drop_table(self, name: str, *, if_exists=False) -> bool:
        key = name.split(".")[-1].lower()
        if key not in self.tables:
            if if_exists:
                return False
            raise FdwError(f"Foreign table '{name}' does not exist")
        del self.tables[key]
        return True

    def read(self, spark, name: str, current_user: str):
        """Build the foreign-scan DataFrame (ForeignCollect analog).
        JDBC: Spark's jdbc source — partitionable, filter-pushing.
        Credentials resolve through the user mapping for the session
        user (fdw.rst: 'If no user mapping exists, CrateDB will try to
        connect with the current user')."""
        t = self.tables[name.split(".")[-1].lower()]
        srv = self.servers[t.server]
        if srv.fdw == "file":
            fmt = t.options.get("format", srv.options.get("format", "parquet"))
            path = t.options.get("path") or srv.options.get("path")
            if not path:
                raise FdwError("file wrapper requires OPTIONS (path '...')")
            reader = spark.read.format(fmt)
            if fmt in ("csv", "json"):
                reader = reader.option("header", "true").option("inferSchema", "true")
            if t.schema_ddl:
                reader = reader.schema(t.schema_ddl)
            return reader.load(path)
        # jdbc
        reader = (
            spark.read.format("jdbc")
            .option("url", srv.options["url"])
        )
        schema_name = t.options.get("schema_name")
        table_name = t.options.get("table_name", t.name)
        dbtable = f"{schema_name}.{table_name}" if schema_name else table_name
        reader = reader.option("dbtable", dbtable)
        if "driver" in srv.options:
            reader = reader.option("driver", srv.options["driver"])
        mapping = self.user_mappings.get((current_user.lower(), t.server), {})
        user = mapping.get("user")
        if user:
            reader = reader.option("user", user)
        if mapping.get("password"):
            reader = reader.option("password", mapping["password"])
        return reader.load()

    # -- information_schema rows ----------------------------------------
    def foreign_servers_rows(self) -> list[tuple]:
        return [
            (s.name, s.fdw, "crate")
            for s in sorted(self.servers.values(), key=lambda x: x.name)
        ]

    def foreign_tables_rows(self) -> list[tuple]:
        return [
            (t.name, "doc", t.server)
            for t in sorted(self.tables.values(), key=lambda x: x.name)
        ]


def create_server(session, st: Statement):
    m = st.match(
        r"CREATE\s+SERVER\s+(IF\s+NOT\s+EXISTS\s+)?\"?([\w]+)\"?\s+"
        r"FOREIGN\s+DATA\s+WRAPPER\s+(\w+)"
        r"(?:\s+OPTIONS\s*\((.*)\))?\s*$",
        masked=True,
    )
    created = session.fdw.create_server(
        m.group(2), m.group(3), st.properties(m.group(4) or ""),
        if_not_exists=bool(m.group(1)),
    )
    return rowcount_frame(session.spark, 1 if created else 0)


def alter_server(session, st: Statement):
    m = st.match(r"ALTER\s+SERVER\s+\"?([\w]+)\"?\s+OPTIONS\s*\((.*)\)\s*$", masked=True)
    # ADD k 'v' and SET k 'v' set an option, DROP k removes it
    options = re.sub(r"(?i)(^|,)\s*(?:ADD|SET)\s+", r"\1", m.group(2))
    options = re.sub(r"(?i)(^|,)\s*DROP\s+([\w\"]+)\s*(?=,|$)", r"\1\2 = NULL", options)
    session.fdw.alter_server(m.group(1), st.properties(options))
    return rowcount_frame(session.spark)


def drop_server(session, st: Statement):
    m = st.match(
        r"DROP\s+SERVER\s+(IF\s+EXISTS\s+)?\"?([\w]+)\"?\s*(CASCADE|RESTRICT)?\s*$"
    )
    dropped = session.fdw.drop_server(
        m.group(2),
        if_exists=bool(m.group(1)),
        cascade=(m.group(3) or "").upper() == "CASCADE",
    )
    return rowcount_frame(session.spark, 1 if dropped else 0)


def create_foreign_table(session, st: Statement):
    spark = session.spark
    head = st.match(
        r"CREATE\s+FOREIGN\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?\"?([\w.]+)\"?\s*", masked=True
    )
    text, pos, name, schema_ddl = st.masked, head.end(), head.group(2), None
    if text.startswith("(", pos):
        close = find_close(text, pos)
        cols = [parse_column(item) for item in split_args(text[pos + 1 : close])]
        if None in cols:
            raise st.unsupported()
        schema_ddl = ", ".join(f"{c.name} {c.spark}" for c, _ in cols if c.spelling) or None
        pos = close + 1
    m = re.match(r"\s*SERVER\s+\"?(\w+)\"?(?:\s+OPTIONS\s*\((.*)\))?\s*$", text[pos:], re.I | re.S)
    if m is None:
        raise st.unsupported()
    created = session.fdw.create_table(
        name, m.group(1), schema_ddl, st.properties(m.group(2) or ""),
        if_not_exists=bool(head.group(1)),
    )
    if created:
        # materialize the foreign scan as a named relation; the
        # DataFrame is lazy — the remote is contacted per query
        key = name.split(".")[-1].lower()
        df = session.fdw.read(spark, key, session.current_user)
        df.createOrReplaceTempView(key)
    return rowcount_frame(spark, 1 if created else 0)


def drop_foreign_table(session, st: Statement):
    m = st.match(r"DROP\s+FOREIGN\s+TABLE\s+(IF\s+EXISTS\s+)?\"?([\w.]+)\"?\s*$")
    dropped = session.fdw.drop_table(m.group(2), if_exists=bool(m.group(1)))
    if dropped:
        session.spark.catalog.dropTempView(m.group(2).split(".")[-1].lower())
    return rowcount_frame(session.spark, 1 if dropped else 0)


def create_user_mapping(session, st: Statement):
    m = st.match(
        r"CREATE\s+USER\s+MAPPING\s+(?:IF\s+NOT\s+EXISTS\s+)?FOR\s+"
        r"(?:USER|CURRENT_USER|\"?([\w]+)\"?)\s+SERVER\s+\"?([\w]+)\"?"
        r"(?:\s+OPTIONS\s*\((.*)\))?\s*$",
        masked=True,
    )
    user = m.group(1) or session.current_user
    session.fdw.create_user_mapping(user, m.group(2), st.properties(m.group(3) or ""))
    return rowcount_frame(session.spark)


def drop_user_mapping(session, st: Statement):
    m = st.match(
        r"DROP\s+USER\s+MAPPING\s+(IF\s+EXISTS\s+)?FOR\s+"
        r"(?:USER|CURRENT_USER|\"?([\w]+)\"?)\s+SERVER\s+\"?([\w]+)\"?\s*$"
    )
    user = m.group(2) or session.current_user
    dropped = session.fdw.drop_user_mapping(user, m.group(3), if_exists=bool(m.group(1)))
    return rowcount_frame(session.spark, 1 if dropped else 0)

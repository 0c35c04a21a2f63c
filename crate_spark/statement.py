"""One reading of a SQL statement: what it is, who may run it, how it
is answered and what answers it.

The reference parses a statement once into an AST ``Statement``; its
``Planner`` (``Planner.java:289-304``) and ``AccessControlImpl`` then
dispatch on the node type. ``classify`` is that one reading here. It
skips leading comments and an opening parenthesis, masks literals and
blanks comments in one scan (``dialect.mask``) and looks the first
keywords up in ``ROUTES``, one row per statement shape: its kind, its
privilege class (``docs/admin/privileges.rst``), its reply (a count or
a result set) and its handler. A handler keeps only the regexes for its own clauses.
Keywords the table does not name run as a query.
"""

from __future__ import annotations

import importlib
import re
from dataclasses import dataclass
from typing import NamedTuple

from crate_spark.dialect import mask, split_args, string_value, unmask

#: reply kinds: rows affected, or a result set
COUNT, ROWS = "count", "rows"
#: privilege classes (privileges.rst); None needs no privilege
AL, DDL, DML, DQL = "AL", "DDL", "DML", "DQL"
#: schemas whose relations are not stored tables
SYSTEM_SCHEMAS = ("sys", "information_schema", "pg_catalog", "blob")


class Bare(str):
    """A property value written without quotes, kept as written."""


def typed(value):
    """A `Bare` value as the boolean or integer it spells, else as it
    is: settings that take booleans and numbers type only these."""
    if not isinstance(value, Bare):
        return value
    if value.lower() in ("true", "false"):
        return value.lower() == "true"
    return int(value) if re.fullmatch(r"-?\d+", value) else value


#: one item of a property list: a key, then its value after an
#: optional ``=`` (``OPTIONS (url 'x')`` has none)
_PROPERTY = re.compile(r'\s*("(?:[^"]|"")+"|[A-Za-z_][\w.]*)\s*(?:=\s*)?(.*)', re.DOTALL)
_LITERAL = re.compile(r"__LIT_(\d+)__")


class Route(NamedTuple):
    keys: tuple[str, ...]
    kind: str
    privilege: str | None
    reply: str
    #: ``module:Qualified.name`` under ``crate_spark``, called with
    #: the session and the ``Statement``
    handler: str


_S, _A = "engine:CrateSession.", "admin_sql:"
_F, _R = "fdw:", "streaming.replication:"
_QUERY = Route(("SELECT", "WITH", "VALUES"), "query", DQL, ROWS, _S + "_query")
_ROWS = (
    _QUERY,
    Route(("EXPLAIN",), "explain", None, ROWS, _S + "_explain"),
    Route(("INSERT",), "insert", DML, COUNT, _S + "_route_dml"),
    Route(("UPDATE",), "update", DML, COUNT, _S + "_route_dml"),
    Route(("DELETE",), "delete", DML, COUNT, _S + "_route_dml"),
    Route(("COPY",), "copy", DML, COUNT, _S + "_route_dml"),
    Route(("CREATE TABLE",), "create_table", DDL, COUNT, _S + "_route_dml"),
    Route(("DROP TABLE",), "drop_table", DDL, COUNT, _S + "_route_dml"),
    Route(("ALTER TABLE",), "alter_table", DDL, COUNT, _S + "_route_dml"),
    Route(("CREATE VIEW",), "create_view", DDL, ROWS, _S + "_create_view"),
    Route(("DROP VIEW",), "drop_view", DDL, ROWS, _S + "_drop_view"),
    Route(("CREATE BLOB",), "create_blob_table", DDL, COUNT, _S + "_create_blob_table"),
    Route(("ALTER BLOB",), "alter_blob_table", DDL, COUNT, _S + "_alter_blob_table"),
    Route(("DROP BLOB",), "drop_blob_table", DDL, COUNT, _S + "_drop_blob_table"),
    Route(("CREATE SCHEMA",), "create_schema", DDL, COUNT, _S + "_create_schema"),
    Route(("DROP SCHEMA",), "drop_schema", DDL, COUNT, _S + "_drop_schema"),
    Route(("CREATE FUNCTION",), "create_function", DDL, ROWS, _S + "_create_function"),
    Route(("DROP FUNCTION",), "drop_function", DDL, ROWS, _S + "_drop_function"),
    Route(("CREATE ANALYZER",), "create_analyzer", DDL, ROWS, _S + "_create_analyzer"),
    Route(("DROP ANALYZER",), "drop_analyzer", DDL, ROWS, _S + "_drop_analyzer"),
    Route(("OPTIMIZE",), "optimize", DDL, ROWS, _S + "_optimize"),
    Route(("REFRESH",), "refresh", DQL, COUNT, _S + "_refresh"),
    Route(("ANALYZE",), "analyze", None, COUNT, _S + "_analyze"),
    Route(("ALTER CLUSTER",), "alter_cluster", AL, ROWS, _S + "_alter_cluster"),
    Route(("SET GLOBAL",), "set_global", AL, ROWS, _S + "_set_global"),
    Route(("RESET GLOBAL",), "reset_global", AL, ROWS, _S + "_reset_global"),
    Route(("SET",), "set", None, ROWS, _S + "_set"),
    Route(("RESET",), "reset", None, ROWS, _S + "_reset"),
    Route(("SHOW",), "show", DQL, ROWS, _S + "_show"),
    Route(("SHOW CREATE",), "show_create_table", DQL, ROWS, _S + "_show_create_table"),
    Route(("SHOW TABLES",), "show_tables", DQL, ROWS, _S + "_show_catalog"),
    Route(("SHOW SCHEMAS",), "show_schemas", DQL, ROWS, _S + "_show_catalog"),
    Route(("SHOW COLUMNS",), "show_columns", DQL, ROWS, _S + "_show_catalog"),
    Route(("DECLARE",), "declare", DQL, ROWS, _S + "_declare"),
    Route(("FETCH",), "fetch", DQL, ROWS, _S + "_fetch"),
    Route(("CLOSE",), "close", None, ROWS, _S + "_close"),
    # autocommit: transaction and session-management statements are
    # accepted no-ops (Planner.java:289-304 visits them to NoopPlan)
    Route(
        ("BEGIN", "START", "COMMIT", "ROLLBACK", "END", "DEALLOCATE", "DISCARD"),
        "noop", None, ROWS, _S + "_noop",
    ),
    Route(("KILL",), "kill", AL, ROWS, _S + "_noop"),
    # users, roles, privileges, repositories and snapshots
    Route(
        ("SET SESSION AUTHORIZATION", "RESET SESSION AUTHORIZATION"),
        "session_authorization", None, ROWS, _A + "session_authorization",
    ),
    Route(("CREATE USER", "CREATE ROLE"), "create_role", AL, COUNT, _A + "create_role"),
    Route(("ALTER USER", "ALTER ROLE"), "alter_role", AL, COUNT, _A + "alter_role"),
    Route(("DROP USER", "DROP ROLE"), "drop_role", AL, COUNT, _A + "drop_role"),
    Route(("GRANT", "DENY", "REVOKE"), "grant", AL, COUNT, _A + "grant"),
    Route(("CREATE REPOSITORY",), "create_repository", DDL, COUNT, _A + "create_repository"),
    Route(("ALTER REPOSITORY",), "alter_repository", DDL, COUNT, _A + "alter_repository"),
    Route(("DROP REPOSITORY",), "drop_repository", DDL, COUNT, _A + "drop_repository"),
    Route(("CREATE SNAPSHOT",), "create_snapshot", DDL, COUNT, _A + "create_snapshot"),
    Route(("DROP SNAPSHOT",), "drop_snapshot", DDL, COUNT, _A + "drop_snapshot"),
    Route(("RESTORE SNAPSHOT",), "restore_snapshot", DDL, COUNT, _A + "restore_snapshot"),
    # foreign data wrappers (admin/fdw.rst)
    Route(("CREATE SERVER",), "create_server", AL, COUNT, _F + "create_server"),
    Route(("ALTER SERVER",), "alter_server", AL, COUNT, _F + "alter_server"),
    Route(("DROP SERVER",), "drop_server", AL, COUNT, _F + "drop_server"),
    Route(("CREATE FOREIGN",), "create_foreign_table", DDL, COUNT, _F + "create_foreign_table"),
    Route(("DROP FOREIGN",), "drop_foreign_table", DDL, COUNT, _F + "drop_foreign_table"),
    Route(("CREATE USER MAPPING",), "create_user_mapping", AL, COUNT, _F + "create_user_mapping"),
    Route(("DROP USER MAPPING",), "drop_user_mapping", AL, COUNT, _F + "drop_user_mapping"),
    # logical replication (logical-replication.rst)
    Route(("CREATE PUBLICATION",), "create_publication", AL, COUNT, _R + "create_publication"),
    Route(("ALTER PUBLICATION",), "alter_publication", AL, COUNT, _R + "alter_publication"),
    Route(("DROP PUBLICATION",), "drop_publication", AL, COUNT, _R + "drop_publication"),
    Route(("CREATE SUBSCRIPTION",), "create_subscription", AL, COUNT, _R + "create_subscription"),
    Route(("DROP SUBSCRIPTION",), "drop_subscription", AL, COUNT, _R + "drop_subscription"),
)
#: first keywords (``CREATE OR REPLACE`` read as ``CREATE``) -> route;
#: the longest key that matches wins
ROUTES = {key: route for route in _ROWS for key in route.keys}
#: UPDATE of the one writable system column (SysNodeChecksTableInfo)
_ACK_NODE_CHECKS = Route((), "ack_node_checks", None, COUNT, _S + "_ack_node_checks")
#: the kinds whose first relation is the one they write
_TARGETED = {"insert", "update", "delete", "copy", "create_table", "drop_table",
             "alter_table", "create_view", "drop_view"}


@dataclass(frozen=True)
class Statement:
    #: the statement after its leading comments
    sql: str
    #: ``sql`` with literals masked, comments blanked and quoted names
    #: as written
    masked: str
    literals: list[str]
    kind: str
    #: the first keyword, upper-case
    verb: str
    privilege: str | None
    #: ``schema.name`` of every relation named, lower-case, in order
    relations: tuple[str, ...]
    #: the relation a DDL or DML statement writes
    target: str | None
    reply: str
    handler: str

    def match(self, pattern: str, required: bool = True, masked: bool = False, pos: int = 0):
        """``pattern`` matched case-blind at ``pos`` of the statement, or
        of its ``masked`` text; a statement whose clauses its handler
        cannot read is an error."""
        text = self.masked if masked else self.sql
        m = re.compile(pattern, re.IGNORECASE | re.DOTALL).match(text, pos)
        if m is None and required:
            raise self.unsupported()
        return m

    def properties(self, text: str) -> dict:
        """The ``k = v, …`` list ``text`` (masked, inside its
        parentheses) as key -> `value`. An unquoted key folds to lower
        case; a quoted key stays as written. A key without a value
        (``RESET (k)``) maps to None."""
        out = {}
        for item in split_args(text):
            m = _PROPERTY.fullmatch(item)
            if m is None:
                raise self.unsupported()
            key = m.group(1)
            key = key[1:-1].replace('""', '"') if key[0] == '"' else key.lower()
            out[key] = self.value(m.group(2)) if m.group(2).strip() else None
        return out

    def value(self, text: str):
        """One masked value: a string literal's value (``''``, ``E'…'``
        and ``$$…$$`` decoded), None for NULL, a ``{…}`` property list
        as a dict, anything else `Bare` as written."""
        text = text.strip()
        if lit := _LITERAL.fullmatch(text):
            return string_value(self.literals[int(lit.group(1))])
        if text.upper() == "NULL":
            return None
        if text[:1] == "{" and text[-1:] == "}":
            return self.properties(text[1:-1])
        return Bare(unmask(text, self.literals))

    def unsupported(self) -> ValueError:
        """The error for a statement whose clauses its handler cannot read."""
        return ValueError(f"unsupported {self.verb} statement: {self.sql[:80]}")

    def run(self, session):
        """Answer the statement with its handler."""
        module, _, path = self.handler.partition(":")
        fn = importlib.import_module("crate_spark." + module)
        for name in path.split("."):
            fn = getattr(fn, name)
        return fn(session, self)


_LEAD = re.compile(r"(?:\s+|--[^\n]*|/\*.*?\*/)*", re.DOTALL)
#: EXPLAIN and its options, ahead of the statement it explains
EXPLAIN = re.compile(r"[\s(]*EXPLAIN\b\s*(?:\([^)]*\)\s*|ANALYZE\s+|VERBOSE\s+)*", re.I)
#: the keywords a list of relations follows, in the masked text
#: upper-cased (that it is a word of its own is checked apart: a plain
#: alternation scans fast); the list may open with a parenthesis or a
#: quoted name (``FROM(t)``, ``FROM"t"``); in a FROM or JOIN list a name
#: followed by ``(`` is a table function
_AT = re.compile(r"(FROM|JOIN|BLOB\s+TABLE|TABLE|VIEW|INTO|COLUMNS\s+IN)(?=[\s(\"`])")
_HEAD = re.compile(r"[\s(]*(?:UPDATE|COPY)(?=[\s\"`])")
#: what a list scan stops at: nesting, its commas, and the clauses
#: that end it
_STOP = re.compile(
    r"[(),]|(?<![.\w\"`])(?<!\.\s)(?:WHERE|GROUP|HAVING|WINDOW|QUALIFY|ORDER|SORT"
    r"|CLUSTER|DISTRIBUTE|LIMIT|OFFSET|UNION|INTERSECT|EXCEPT|MINUS|FETCH|FOR|WITH"
    r"|RETURNING|SET|SELECT|VALUES|TO)\b(?!\s*\.)"
)
_QUERY_HEAD = re.compile(r"\s*(?:SELECT|WITH|VALUES|TABLE|FROM)\b|\s*$")
#: a list item's name: words or quoted identifiers as written
_PART = r'("(?:[^"]|"")+"|`(?:[^`]|``)+`|[A-Z_]\w*)'
_NAME = re.compile(
    rf"\s*(?:(?:IF\s+(?:NOT\s+)?EXISTS|ONLY|LATERAL)\s+)?{_PART}(?:\s*\.\s*{_PART})?(\s*\()?"
)


def _ident(part: str) -> str:
    if part[0] in '"`':
        return part[1:-1].replace(part[0] * 2, part[0]).lower()
    return part.lower()


def _names(text: str, at: int, schema: str, call: bool, out: list) -> None:
    """Append the name each top-level item of the list at ``at`` starts
    with; a parenthesised item that is no query is a list itself."""
    depth, starts, end = 0, [at], len(text)
    for m in _STOP.finditer(text, at):
        if m.group() == "(":
            depth += 1
        elif m.group() == ")" and depth:
            depth -= 1
        elif m.group() == "," and not depth:
            starts.append(m.end())
        elif not depth:
            end = m.start()
            break
    for start in starts:
        item = text[start:end].lstrip()
        if item.startswith("("):
            if not _QUERY_HEAD.match(item[1:]):
                _names(text, end - len(item) + 1, schema, call, out)
            continue
        m = _NAME.match(text, start, end)
        if m and not m.group(1).startswith("__LIT_") and not (call and m.group(3)):
            name = f"{_ident(m.group(1))}.{_ident(m.group(2))}" if m.group(2) else (
                f"{schema}.{_ident(m.group(1))}"
            )
            out.append((start, name))


def _relations(text: str) -> tuple[str, ...]:
    found: list = []
    head = _HEAD.match(text)
    if head:
        _names(text, head.end(), "doc", False, found)
    for m in _AT.finditer(text):
        at, kw = m.start(), m.group(1)
        if at and (text[at - 1].isalnum() or text[at - 1] in '_."`') or text.endswith(
            "DISTINCT ", 0, at
        ):
            continue
        if kw == "FROM":
            # FROM inside a call (extract, substring, trim) names none
            paren = max(text.rfind("(", 0, at), text.rfind(")", 0, at))
            if text[paren:paren + 1] == "(" and not _QUERY_HEAD.match(text, paren + 1, at):
                continue
        schema = "blob" if kw.startswith("BLOB") else "doc"
        _names(text, m.end(), schema, kw in ("FROM", "JOIN"), found)
    return tuple(dict.fromkeys(name for _, name in sorted(found)))


def read_of(answer) -> Statement | None:
    """The ``Statement`` ``CrateSession.execute`` read, kept on what it
    answered: the frame it returned or the exception it raised (None
    when the statement could not be read)."""
    return getattr(answer, "_crate_statement", None)


def classify(sql: str) -> Statement:
    """Read ``sql`` once into a ``Statement``."""
    sql = sql[_LEAD.match(sql).end():]
    masked, literals = mask(sql, ident=str, comments=True)
    words = [w.upper() for w in re.findall(r"\w+", masked[:200])[:5]]
    if words[1:3] == ["OR", "REPLACE"]:
        del words[1:3]
    route = next(
        (ROUTES[k] for k in (" ".join(words[:n]) for n in (3, 2, 1)) if k in ROUTES),
        _QUERY,
    )
    upper = masked.upper()
    relations = _relations(upper)
    privilege, reply = route.privilege, route.reply
    if route.kind == "copy":
        # COPY FROM answers its summary rows, COPY TO a count
        privilege, reply = (DML, ROWS) if re.search(r"\bFROM\s+__LIT_", upper) else (DQL, COUNT)
    elif route.kind == "analyze" and words[1:]:
        reply = ROWS  # ANALYZE t answers its (table, status) rows
    elif route.kind == "update" and relations[:1] == ("sys.node_checks",):
        route, privilege = _ACK_NODE_CHECKS, None
    if reply == COUNT and "RETURNING" in upper and re.search(r"\bRETURNING\b", upper):
        reply = ROWS
    target = relations[0] if relations and route.kind in _TARGETED else None
    if route.kind == "explain":
        body = classify(sql[EXPLAIN.match(sql).end():])
        privilege, relations, target = body.privilege, body.relations, body.target
    return Statement(
        sql, masked, literals, route.kind, words[0] if words else "",
        privilege, relations, target, reply, route.handler,
    )

"""The type table: one row per crate type, read by every front-end layer.

The reference resolves every type name and alias in one place
(``types/DataTypes.java:68-112``) and gives each type one PostgreSQL
OID (``protocols/postgres/types/PGTypes.java``). ``TYPES`` is that place
here, and `parse_type` is the one reader of a type spelling: a
multi-word name (``double precision``, ``timestamp with time zone``),
its ``(p[, s])``, ``array(T)``, a repeated ``T[]``, PG's ``"char"`` and
``object[(policy)] [AS (name T, …)]``, in any case and spacing.

- inbound, the `TypeSpec` it answers: `spark_type` (UDF signatures)
  and `cast_type` (CAST, ``::`` and typed literals); ``sql_dml`` walks
  it for ``information_schema``;
- `parse_column`, the one reader of a column definition (CREATE TABLE
  and its object columns, ALTER TABLE ADD COLUMN, CREATE FOREIGN
  TABLE): the name, the type and the constraints in any order;
- outbound, a Spark type's ``simpleString``: `crate_name`
  (``information_schema``, ``pg_typeof``), `show_type` (SHOW CREATE
  TABLE), `pg_oid` (pg-wire RowDescription and ``pg_attribute``) and
  `http_type` (HTTP ``col_types``); `format_type_names` names PG OIDs.

A spelling the parser does not read goes to Spark as written, so every
Spark DDL type (``map<string,int>``, ``struct<a:int>``) is accepted.
"""

from __future__ import annotations

import re
from typing import NamedTuple


class CrateType(NamedTuple):
    #: the crate name: information_schema, pg_typeof and format_type
    name: str
    #: the Spark type a column of this type stores
    spark: str
    #: lower-case, single-spaced spellings that name this type
    spellings: tuple[str, ...] = ()
    #: PostgreSQL OID; format_type names the first row holding it
    oid: int | None = None
    #: HTTP col_types id (interfaces/http.rst data-type table)
    http: int | None = None
    #: how many arguments its spellings take: a length (advisory for a
    #: string store, a float_vector's dimension), numeric's ``(p, s)``
    sized: int = 0


#: The first row of each Spark type names that type outbound, and its
#: OID and HTTP id are what a value of it is sent with; a later row of
#: the same Spark type is an alias store (ip, json, … are text). Arrays,
#: maps and structs are not rows: arrays nest their element type, and
#: a map or struct reads as ``object``.
TYPES = (
    CrateType("text", "string", ("text", "string", "varchar", "character varying"), 25, 4, 1),
    CrateType("integer", "int", ("integer", "int", "int4"), 23, 9),
    CrateType("bigint", "bigint", ("bigint", "long", "int8"), 20, 10),
    CrateType("smallint", "smallint", ("smallint", "short", "int2"), 21, 8),
    # no one-byte integer on the wire here: values are sent as text
    CrateType("byte", "tinyint", ("byte", "tinyint"), 25, 8),
    CrateType("real", "float", ("real", "float", "float4"), 700, 7),
    CrateType("double precision", "double", ("double precision", "double", "float8"), 701, 6),
    CrateType("boolean", "boolean", ("boolean",), 16, 3),
    CrateType("date", "date", ("date",), 1082, 24),
    CrateType(
        "timestamp without time zone", "timestamp_ntz",
        ("timestamp without time zone", "timestamp_ntz"), 1114, 15,
    ),
    # values are sent without their zone, in PG's timestamp text form
    CrateType(
        "timestamp with time zone", "timestamp",
        ("timestamp with time zone", "timestamptz", "timestamp"), 1114, 11,
    ),
    # a bare numeric column keeps 18 fractional digits; `cast_type`
    # gives a bare numeric cast its own scale
    CrateType("numeric", "decimal(38,18)", ("numeric", "decimal"), 1700, 22, 2),
    CrateType("bytea", "binary", ("bytea", "binary"), 17, 4),
    CrateType("undefined", "void", (), 25, 0),
    # objects are stored as JSON text (SURVEY.md §7 hard part (a))
    CrateType("object", "string", ("object",), 25, 12),
    CrateType("character", "string", ("character", "char", '"char"'), 1042, None, 1),
    CrateType("ip", "string", ("ip",)),
    CrateType("uuid", "string", ("uuid",), 2950),
    CrateType("json", "string", ("json",), 114),
    # bit strings render as '010…' text
    CrateType("bit", "string", ("bit",), 1560, None, 1),
    # shapes are WKT text; the geo scalars parse WKT
    CrateType("geo_shape", "string", ("geo_shape",)),
    CrateType("geo_point", "array<double>", ("geo_point",), 600),
    CrateType("float_vector", "array<float>", ("float_vector",), None, None, 1),
    CrateType("time with time zone", "string", ("time with time zone", "timetz")),
    # not Spark's TIME: a cast of it has always answered text
    CrateType("time without time zone", "string", ("time without time zone", "time")),
    CrateType("regproc", "string", ("regproc",)),
    CrateType("regclass", "string", ("regclass",)),
    CrateType("regtype", "string", ("regtype",)),
    CrateType("oidvector", "array<int>", ("oidvector",)),
    CrateType("interval", "struct<months:bigint,days:int,micros:bigint>", ("interval",), 1186),
    # PG types no spelling declares; format_type names their OIDs
    CrateType('"char"', "tinyint", (), 18),
    CrateType("name", "string", (), 19),
    CrateType("oid", "int", (), 26),
    CrateType("text", "string", (), 1043),
    CrateType("timestamp with time zone", "timestamp", (), 1184),
)

_BY_SPELLING = {sp: t for t in TYPES for sp in t.spellings}
_BY_SPARK: dict[str, CrateType] = {}
for _t in TYPES:
    _BY_SPARK.setdefault(_t.spark, _t)
_OBJECT = _BY_SPELLING["object"]
_NUMERIC = _BY_SPELLING["numeric"]
#: the leading words of the multi-word spellings
_PREFIXES = frozenset(
    sp.rsplit(" ", n)[0] for sp in _BY_SPELLING for n in range(1, sp.count(" ") + 1)
)


class TypeSpec(NamedTuple):
    """One spelling as `parse_type` read it: the row a scalar or an
    object names (None for an array), the text as written, ``(p[, s])``,
    an array's element, and an object's policy and declared columns."""

    row: CrateType | None
    text: str
    params: tuple[int, ...] = ()
    element: TypeSpec | None = None
    policy: str | None = None
    children: tuple[Column, ...] = ()

    @property
    def is_object(self) -> bool:
        return self.row is _OBJECT


_WORD = re.compile(r'\s*("char"|[A-Za-z_]\w*)', re.IGNORECASE)
_ARGS = re.compile(r"\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)")
_OPEN = re.compile(r"\s*\(")
_CLOSE = re.compile(r"\s*\)")
_BRACKETS = re.compile(r"\s*\[\s*\]")
_POLICY = re.compile(r"\s*\(\s*(strict|dynamic|ignored)\s*\)", re.IGNORECASE)
_AS = re.compile(r"\s*as\s*\(", re.IGNORECASE)


def parse_type(text: str, pos: int = 0) -> tuple[TypeSpec, int] | None:
    """Read the type spelling at ``text[pos:]`` (leading space skipped):
    its `TypeSpec` and the index just after its last character, or None
    when no spelling the table knows starts there."""
    m = _WORD.match(text, pos)
    if m is None:
        return None
    start, name, end = m.start(1), m.group(1).lower(), m.end()
    if name == "array":
        o = _OPEN.match(text, end)
        inner = o and parse_type(text, o.end())
        c = inner and _CLOSE.match(text, inner[1])
        if not c:
            return None
        spec, end = TypeSpec(None, text[start:c.end()], element=inner[0]), c.end()
    elif name == "object":
        spec, end = _object(text, start, end)
    else:
        # the longest spelling, then the arguments its row takes
        read = (name, end) if name in _BY_SPELLING else None
        while name in _PREFIXES and (m := _WORD.match(text, end)):
            name, end = f"{name} {m.group(1).lower()}", m.end()
            read = (name, end) if name in _BY_SPELLING else read
        if read is None:
            return None
        name, end = read
        row, params = _BY_SPELLING[name], ()
        if _OPEN.match(text, end):
            a = _ARGS.match(text, end)
            params = a and tuple(int(g) for g in a.groups() if g)
            if not params or len(params) > row.sized:
                return None
            end = a.end()
        spec = TypeSpec(row, text[start:end], params)
    while b := _BRACKETS.match(text, end):
        spec, end = TypeSpec(None, text[start:b.end()], element=spec), b.end()
    return spec, end


def read_type(spelling: str) -> TypeSpec | None:
    """The `TypeSpec` of a whole spelling, or None."""
    read = parse_type(spelling)
    return read[0] if read and not spelling[read[1]:].strip() else None


def _object(text: str, start: int, end: int) -> tuple[TypeSpec, int]:
    """``object[(policy)] [AS (name T [clauses], …)]``; without a
    column list after AS the object ends before it."""
    policy, children = None, []
    if p := _POLICY.match(text, end):
        policy, end = p.group(1).lower(), p.end()
    pos = (a := _AS.match(text, end)) and a.end()
    while pos:
        read = parse_column(text, pos)
        if read is None or read[0].spec is None:
            break
        children.append(read[0])
        pos = read[1]
        if text.startswith(")", pos):
            end, pos = pos + 1, None
        elif not text.startswith(",", pos):
            break
        else:
            pos += 1
    if pos:
        children = []
    return TypeSpec(_OBJECT, text[start:end], policy=policy, children=tuple(children)), end


class Column(NamedTuple):
    """One item of a table's element list as `parse_column` read it.

    A column has a name (with an ``['key']`` subscript path as written),
    its type as written (empty for a type-less generated column), the
    `TypeSpec` of that spelling (None for one the table does not know,
    which goes to Spark as written) and its constraints. A table
    constraint has no name: PRIMARY KEY (…) sets ``key``, CHECK (…)
    ``checks`` and INDEX n USING FULLTEXT (…) ``fulltext``. Expressions
    are text as written; a generated or check expression loses the
    parentheses around it."""

    name: str | None
    spec: TypeSpec | None = None
    spelling: str = ""
    key: tuple[str, ...] = ()
    not_null: bool = False
    default: str | None = None
    generated: str | None = None
    checks: tuple[str, ...] = ()
    fulltext: tuple[str, tuple[str, ...]] | None = None

    @property
    def spark(self) -> str:
        """The Spark type a column of this spelling stores."""
        return _spark(self.spec) if self.spec else self.spelling


#: what a column definition is scanned for: quoted text (passed over
#: whole), brackets, commas and the words that open a constraint
_CLAUSE = re.compile(
    r"""'(?:[^']|'')*'|"(?:[^"]|"")*"|(?P<open>[(\[{])|(?P<close>[)\]}])|(?P<comma>,)"""
    r"|\b(?P<kw>PRIMARY\s+KEY|NOT\s+NULL|NULL|DEFAULT|GENERATED\s+ALWAYS\s+AS|AS"
    r"|CHECK(?=\s*\()|CONSTRAINT|INDEX(?=\s+(?:OFF|USING)\b)|STORAGE(?=\s+WITH\b))\b",
    re.IGNORECASE,
)
#: an expression ending here wants an operand, so a NULL or NOT NULL
#: after it belongs to it (``x IS NOT NULL``, ``THEN NULL``)
_WANTS_OPERAND = re.compile(
    r"(?:^|[-+*/%=<>|&^~!:(,]|\b(?:IS|NOT|AND|OR|WHEN|THEN|ELSE))\s*$", re.IGNORECASE
)
_EXPRESSIONS = ("DEFAULT", "GENERATED ALWAYS AS", "AS")
_QUOTED = r'"(?:[^"]|"")+"'
#: a column's name, with a subscript path, ends before a space
_COLUMN = re.compile(rf"\s*({_QUOTED}|[A-Za-z_]\w*)((?:\s*\[[^\]]*\])*)(?![^\s,)])")
#: a table constraint up to its parenthesis
_ELEMENT = re.compile(
    rf"\s*(?:CONSTRAINT\s+(?:{_QUOTED}|\w+)\s+)?(?:(?P<pk>PRIMARY\s+KEY)|(?P<check>CHECK)"
    rf"|INDEX\s+(?P<index>{_QUOTED}|\w+)\s+USING\s+(?P<method>\w+))\s*\(",
    re.IGNORECASE,
)


def _top(text: str, pos: int):
    """The depth-0 keywords and commas from ``pos`` on, then the first
    closing bracket without an opening one."""
    depth = 0
    for m in _CLAUSE.finditer(text, pos):
        if m["open"]:
            depth += 1
        elif m["close"]:
            if not depth:
                yield m
                return
            depth -= 1
        elif not depth and (m["kw"] or m["comma"]):
            yield m


def _group_end(text: str, open_idx: int) -> int:
    """Index of the bracket that closes the one at ``open_idx``."""
    return next((m.start() for m in _top(text, open_idx + 1) if m["close"]), -1)


def _unwrap(expr: str) -> str:
    """``expr`` without the parentheses around all of it."""
    return expr[1:-1] if expr[:1] == "(" and _group_end(expr, 0) == len(expr) - 1 else expr


def _constraints(text: str, pos: int) -> list[tuple[str | None, int, int]]:
    """(keyword, start, end) of each constraint from ``pos``, ending
    with (None, i, i) at the depth-0 ``,`` or ``)`` or the end of the
    text that ends the column."""
    out = []
    for m in _top(text, pos):
        if not m["kw"]:
            return out + [(None, m.start(), m.start())]
        out.append((" ".join(m["kw"].upper().split()), m.start(), m.end()))
    return out + [(None, len(text), len(text))]


def parse_column(text: str, pos: int = 0) -> tuple[Column, int] | None:
    """Read the column definition or table constraint at ``text[pos:]``:
    its `Column` and the index of the ``,`` or ``)`` that ends it (the
    length of the text at its end), or None when neither starts there.
    A constraint expression (DEFAULT, GENERATED ALWAYS AS or AS) ends
    at the next constraint at its depth."""
    if e := _ELEMENT.match(text, pos):
        close = _group_end(text, e.end() - 1)
        body = text[e.end():close]
        names = tuple(n.strip().strip('"') for n in body.split(","))
        end = _constraints(text, close + 1)[-1][1]
        if e["pk"]:
            return Column(None, key=names), end
        if e["check"]:
            return Column(None, checks=(body,)), end
        fulltext = e["method"].lower() == "fulltext"
        return Column(None, fulltext=(e["index"].strip('"'), names) if fulltext else None), end
    f = _COLUMN.match(text, pos)
    if f is None:
        return None
    name = f.group(1).strip('"') + f.group(2)
    read = parse_type(text, f.end())
    clauses = read and _constraints(text, read[1])
    if clauses and not text[read[1]:clauses[0][1]].strip():
        spec, spelling = read[0], read[0].text
    else:
        clauses = _constraints(text, f.end())
        spec, spelling = None, text[f.end():clauses[0][1]].strip()
    col = Column(name, spec, spelling)
    i = 0
    while clauses[i][0]:
        kw, _, start = clauses[i]
        i += 1
        while (
            kw in _EXPRESSIONS
            and clauses[i][0] in ("NULL", "NOT NULL")
            and _WANTS_OPERAND.search(text[start:clauses[i][1]])
        ):
            i += 1
        body = text[start:clauses[i][1]].strip()
        if kw == "PRIMARY KEY":
            col = col._replace(key=(name,))
        elif kw == "NOT NULL":
            col = col._replace(not_null=True)
        elif kw == "DEFAULT":
            col = col._replace(default=body)
        elif kw in _EXPRESSIONS:
            col = col._replace(generated=_unwrap(body))
        elif kw == "CHECK":
            col = col._replace(checks=col.checks + (_unwrap(body),))
        # NULL, CONSTRAINT name, INDEX … and STORAGE WITH (…) name
        # nothing a table keeps
    return col, clauses[i][1]


def _spark(spec: TypeSpec) -> str:
    if spec.element is not None:
        return f"array<{_spark(spec.element)}>"
    if spec.row is _NUMERIC and spec.params:
        return f"decimal({','.join(map(str, spec.params))})"
    return spec.row.spark


def spark_type(spelling: str) -> str:
    """Spark type of a column declared as ``spelling``; a spelling the
    parser does not read goes as written."""
    spec = read_type(spelling)
    return _spark(spec) if spec else spelling.strip()


def cast_type(spec: TypeSpec) -> str:
    """Target of ``CAST(x AS T)``, ``x::T`` and ``T '…'``: the column
    type in Spark's upper-case spelling. A spelling Spark reads as that
    type already (``int``, ``decimal(10,2)``) is left as written, and so
    is interval (an expression's interval is Spark's, not the stored
    struct); a sized string casts to Spark's VARCHAR(n) or CHAR(n)."""
    if spec.element is not None:
        return f"ARRAY<{cast_type(spec.element)}>"
    row = spec.row
    if row is _NUMERIC and not spec.params:
        # bare numeric: enough scale for display parity, enough headroom
        # that sum/avg over bigint-range values don't overflow
        return "DECIMAL(38,6)"
    if row.name == "interval":
        return spec.text
    if spec.params and row.name in ("text", "character"):
        return f"{'VARCHAR' if row.name == 'text' else 'CHAR'}({spec.params[0]})"
    spark = _spark(spec)
    return spec.text if "".join(spec.text.lower().split()) == spark else spark.upper()


def _outbound(simple: str) -> CrateType:
    """The row that names a non-array Spark type."""
    if simple.startswith(("struct<", "map<")):
        return _OBJECT
    if simple.startswith("decimal"):
        return _NUMERIC
    return _BY_SPARK.get(simple) or CrateType(simple, simple, (), 25, 0)


def _element_type(simple: str) -> str | None:
    return simple[6:-1] if simple.startswith("array<") else None


def crate_name(simple: str) -> str:
    """Crate name of a Spark type (``array<int>`` -> integer_array)."""
    elem = _element_type(simple)
    if elem is not None:
        return crate_name(elem) + "_array"
    return _outbound(simple).name


def show_type(simple: str) -> str:
    """SHOW CREATE TABLE spelling of a Spark type."""
    elem = _element_type(simple)
    if elem is not None:
        return f"ARRAY({show_type(elem)})"
    if simple.startswith("decimal"):
        return "NUMERIC" + simple[len("decimal"):]
    return _outbound(simple).name.upper()


_SENT_OIDS: dict[str, int] = {}


def pg_oid(simple: str) -> int:
    """PG OID a value of this Spark type is sent with. Arrays, maps and
    structs are sent as text (25). Memoized: RowDescription asks once
    per column of every pg-wire read."""
    try:
        return _SENT_OIDS[simple]
    except KeyError:
        oid = 25 if simple.startswith("array<") else _outbound(simple).oid
        _SENT_OIDS[simple] = oid
        return oid


def http_type(simple: str):
    """HTTP ``col_types`` id of a Spark type; arrays nest as [100, id]."""
    elem = _element_type(simple)
    if elem is not None:
        return [100, http_type(elem)]
    return _outbound(simple).http


def crate_name_sql(typeof: str) -> str:
    """SQL over ``typeof(x)`` that answers `crate_name` at run time: the
    element under the leading ``array<`` prefixes is named, and
    ``_array`` is appended once per prefix (only a struct or a map
    element ends in ``>``, and both name ``object``)."""
    elem = f"regexp_replace({typeof}, '^(array<)+|>+$', '')"
    depth = f"length(regexp_extract({typeof}, '^(array<)*', 0)) div 6"
    arms = "".join(
        f"WHEN '{spark}' THEN '{row.name}' "
        for spark, row in _BY_SPARK.items()
        if spark != row.name and row is not _NUMERIC and "<" not in spark
    )
    return (
        f"concat(CASE {elem} {arms}"
        f"ELSE (CASE WHEN {elem} LIKE 'decimal%' THEN '{_NUMERIC.name}' "
        f"WHEN {elem} RLIKE '^(struct|map)<' THEN '{_OBJECT.name}' "
        f"ELSE {elem} END) END, repeat('_array', {depth}))"
    )


#: pg_type: the reference's full 54-row catalog inventory (PGTypes.java;
#: listed verbatim in interfaces/postgres.rst) — standard PostgreSQL
#: catalog facts: oid, typname, typarray (oid of the array type),
#: typelem (element oid for arrays), typlen (-1 varlena, -2 cstring),
#: typtype (b base/p pseudo), typcategory (N numeric, S string, A
#: array, D datetime, ...)
PG_TYPES = [
    (16, "bool", 1000, 0, 1, "b", "N"),
    (18, "char", 1002, 0, 1, "b", "S"),
    (19, "name", -1, 0, 64, "b", "S"),
    (20, "int8", 1016, 0, 8, "b", "N"),
    (21, "int2", 1005, 0, 2, "b", "N"),
    (23, "int4", 1007, 0, 4, "b", "N"),
    (24, "regproc", 1008, 0, 4, "b", "N"),
    (25, "text", 1009, 0, -1, "b", "S"),
    (26, "oid", 1028, 0, 4, "b", "N"),
    (30, "oidvector", 1013, 26, -1, "b", "A"),
    (114, "json", 199, 0, -1, "b", "U"),
    (199, "_json", 0, 114, -1, "b", "A"),
    (600, "point", 1017, 0, 16, "b", "G"),
    (700, "float4", 1021, 0, 4, "b", "N"),
    (701, "float8", 1022, 0, 8, "b", "N"),
    (705, "unknown", 0, 0, -2, "p", "X"),
    (1000, "_bool", 0, 16, -1, "b", "A"),
    (1002, "_char", 0, 18, -1, "b", "A"),
    (1005, "_int2", 0, 21, -1, "b", "A"),
    (1007, "_int4", 0, 23, -1, "b", "A"),
    (1008, "_regproc", 0, 24, -1, "b", "A"),
    (1009, "_text", 0, 25, -1, "b", "A"),
    (1014, "_bpchar", 0, 1042, -1, "b", "A"),
    (1015, "_varchar", 0, 1043, -1, "b", "A"),
    (1016, "_int8", 0, 20, -1, "b", "A"),
    (1017, "_point", 0, 600, -1, "b", "A"),
    (1021, "_float4", 0, 700, -1, "b", "A"),
    (1022, "_float8", 0, 701, -1, "b", "A"),
    (1042, "bpchar", 1014, 0, -1, "b", "S"),
    (1043, "varchar", 1015, 0, -1, "b", "S"),
    (1082, "date", 1182, 0, 4, "b", "D"),
    (1114, "timestamp", 1115, 0, 8, "b", "D"),
    (1115, "_timestamp", 0, 1114, -1, "b", "A"),
    (1182, "_date", 0, 1082, -1, "b", "A"),
    (1184, "timestamptz", 1185, 0, 8, "b", "D"),
    (1185, "_timestamptz", 0, 1184, -1, "b", "A"),
    (1186, "interval", 1187, 0, 16, "b", "T"),
    (1187, "_interval", 0, 1186, -1, "b", "A"),
    (1231, "_numeric", 0, 1700, -1, "b", "A"),
    (1266, "timetz", 1270, 0, 12, "b", "D"),
    (1270, "_timetz", 0, 1266, -1, "b", "A"),
    (1560, "bit", 1561, 0, -1, "b", "V"),
    (1561, "_bit", 0, 1560, -1, "b", "A"),
    (1700, "numeric", 1231, 0, -1, "b", "N"),
    (2205, "regclass", 2210, 0, 4, "b", "N"),
    (2206, "regtype", 2211, 0, 4, "b", "N"),
    (2210, "_regclass", 0, 2205, -1, "b", "A"),
    (2211, "_regtype", 0, 2206, -1, "b", "A"),
    (2249, "record", 2287, 0, -1, "p", "P"),
    (2276, "any", 0, 0, 4, "p", "P"),
    (2277, "anyarray", 0, 2276, -1, "p", "P"),
    (2287, "_record", 0, 2249, -1, "p", "A"),
    (2950, "uuid", 2951, 0, 16, "b", "U"),
    (2951, "_uuid", 0, 2950, -1, "b", "A"),
]


def format_type_names() -> dict[int, str]:
    """PG OID -> format_type name (FormatTypeFunction): the first row
    holding the OID, and ``<element>[]`` for a pg_type array row."""
    names: dict[int, str] = {}
    for t in TYPES:
        if t.oid is not None:
            names.setdefault(t.oid, t.name)
    for oid, typname, _arr, elem, _len, _kind, category in PG_TYPES:
        if category == "A" and typname.startswith("_") and elem in names:
            names[oid] = names[elem] + "[]"
    return names

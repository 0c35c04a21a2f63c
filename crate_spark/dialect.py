"""CrateDB -> Spark SQL dialect shim.

A thin, regex-based pre-rewrite of crate-isms before ``spark.sql``
(SURVEY.md §4.3 item 1). Standard SQL passes through untouched;
sqlglot is not available in this environment, so the shim is
deliberately conservative: it rewrites the documented constructs and
leaves everything else alone.

The module also holds the front end's one SQL lexer: ``mask`` scans a
statement once, left to right, for the five quoted token kinds —
``'…'`` (``''`` escapes), ``E'…'`` (backslash escapes), ``$tag$…$tag$``,
``"…"`` (``""`` escapes) and backticked names — and replaces each with
a ``__LIT_n__`` placeholder; ``unmask`` restores them all in one pass.
Every text pass that runs before Spark and must skip quoted text
(parameter binding, the DML router, UDF resolution, the system-column
and system-view scans, ``rewrite``) goes through this pair.

Brackets are matched by the recursive patterns ``_paren`` (a balanced
group at any depth) and ``_body`` (text whose groups balance), by
``find_close`` (the close of one group), ``split_args`` (top-level
commas; parentheses, brackets and braces nest) and ``blank_groups``
(depth-0 text, for searches that must skip nested clauses). No other
code in the front end counts depth or matches one nesting level.

A call that maps to a Spark expression, or that answers a plan-time
constant (``version()``, ``current_database()``,
``has_table_privilege(…)``, …), is a row of ``_FN_TEMPLATES``: one
scan (``_rewrite_crate_fns``) finds each call with its arguments at
any depth, with or without a ``pg_catalog.`` prefix.

Rewrites:
- ``"name"``                -> one backticked Spark identifier
- ``expr::type``            -> ``CAST(expr AS type)`` (identifier,
                               literal, or parenthesized expr)
- ``arr[n]`` (numeric)      -> ``element_at(arr, n)`` (CrateDB arrays
                               are 1-based — AstBuilder subscripts;
                               element_at is 1-based too)
- ``o['k']`` / ``o['a']['b']`` -> ``get_json_object(o, '$.a.b')`` for
                               columns the caller declares as
                               JSON-string OBJECT columns
                               (``SubscriptObjectFunction.java``;
                               AstBuilder subscript grammar). Map- and
                               struct-typed columns need no rewrite —
                               Spark's native ``col['k']`` handles them
                               — so unknown bases are left alone.
- ``a ~ 'p'`` / ``!~`` / ``~*`` -> RLIKE forms
                               (``RegexpMatchOperator``)
- ``x = ANY(expr)``         -> ``array_contains(expr, x)``
                               (``AnyEqOperator``); subquery form -> IN
- ``x <op> ANY/ALL(arr)``   -> ``exists/forall(arr, __x -> x <op> __x)``
                               for <,>,<=,>=,!=,[NOT] [I]LIKE
                               (``AnyRangeOperator``, ``AnyLikeOperator``,
                               ``AllOperator``)
- ``information_schema.X`` / ``sys.X`` -> flat view names registered
                               by the session (Spark temp views are
                               not schema-qualified)
- ORDER BY items without an explicit NULLS direction get the PG
  default (ASC -> NULLS LAST, DESC -> NULLS FIRST) — Spark's default
  is the opposite (SURVEY.md §2.6).

Deliberately NOT handled here: ON CONFLICT (DML layer), CREATE
ANALYZER (out of scope).
"""

from __future__ import annotations

import itertools
import re
import time
from datetime import datetime

import regex as _RE  # recursive patterns: unbounded paren nesting in operands

from crate_spark.datatypes import cast_type, crate_name_sql, format_type_names, parse_type, read_type

#: process-start wall time — pg_postmaster_start_time's analog (the
#: "postmaster" here is this Spark driver process)
_PROCESS_START = time.strftime("%Y-%m-%d %H:%M:%S")

_IDENT = r"[A-Za-z_][A-Za-z0-9_.]*"
#: a column reference whose dotted parts may be backticked names (the
#: lexer backticks every quoted identifier): a subscript base
_NAME = r"(?:[A-Za-z_][A-Za-z0-9_]*|`(?:[^`]|``)+`)(?:\.(?:[A-Za-z_][A-Za-z0-9_]*|`(?:[^`]|``)+`))*"
#: reserved words that must never be parsed as a function name — else
#: ``SELECT (a+b)::int`` would match ``SELECT (...)`` as a call and the
#: cast rewrite would swallow the keyword (``CAST(SELECT (a+b) AS int)``)
_KW = (
    r"(?i:SELECT|WHERE|AND|OR|NOT|WHEN|THEN|ELSE|CASE|END|ON|FROM|JOIN"
    r"|GROUP|ORDER|BY|HAVING|LIMIT|OFFSET|UNION|INTERSECT|EXCEPT|ALL"
    r"|DISTINCT|VALUES|BETWEEN|IN|IS|LIKE|ILIKE|EXISTS|OVER|PARTITION"
    r"|RETURNING|SET|AS)"
)
_PAREN_IDS = itertools.count()


# ---------------------------------------------------------------------------
# the lexer: which parts of a statement are quoted text
# ---------------------------------------------------------------------------
#: the five quoted token kinds (SqlBaseLexer.g4, lexical-structure.rst),
#: tried in one left-to-right scan so no kind is looked for inside
#: another: an escape string ``E'…'`` (backslash escapes; the E must
#: start a token — after a quote it ends the previous string), a
#: string ``'…'`` (``''`` escapes), a dollar quote ``$tag$…$tag$`` (no
#: escapes, no nesting), a quoted identifier ``"…"`` (``""`` escapes)
#: and a backticked identifier.
_TOKEN_RE = re.compile(
    r"(?<![\w'])[Ee]'(?:[^'\\]|''|\\.)*'"
    r"|'(?:[^']|'')*'"
    r"|\$(?P<tag>(?:[A-Za-z_]\w*)?)\$.*?\$(?P=tag)\$"
    r'|"(?:[^"]|"")*"'
    r"|`(?:[^`]|``)*`",
    re.DOTALL,
)
#: the same scan that also reads ``--`` and ``/* */`` comments, so a
#: quote inside a comment opens no token and a comment marker inside a
#: quote is text
_TOKEN_OR_COMMENT_RE = re.compile(
    _TOKEN_RE.pattern + r"|--[^\n]*|/\*.*?\*/", re.DOTALL
)
_MASK_RE = re.compile(r"__LIT_(\d+)__")


def add_token(tokens: list[str], text: str) -> str:
    """Append ``text`` as one more token and return its placeholder.
    Rewrite templates emit their (already Spark-escaped) string
    literals this way: a later pass can't tell raw quoted text from
    operators."""
    tokens.append(text)
    return f"__LIT_{len(tokens) - 1}__"


def mask(sql: str, ident=None, comments: bool = False) -> tuple[str, list[str]]:
    """Lex ``sql`` and replace each quoted token by ``__LIT_n__``,
    where n indexes the returned list of the tokens' source text. With
    ``ident``, a quoted identifier is written in place as
    ``ident(token)`` instead, for passes that must read names
    (``ident=str`` keeps it as written). With ``comments``, each
    comment becomes one space, as the parser reads it."""
    tokens: list[str] = []

    def _sub(m: re.Match) -> str:
        tok = m.group(0)
        if tok[0] in "-/":
            return " "
        if ident is not None and tok[0] in '"`':
            return ident(tok)
        return add_token(tokens, tok)

    return (_TOKEN_OR_COMMENT_RE if comments else _TOKEN_RE).sub(_sub, sql), tokens


def unmask(masked: str, tokens: list[str]) -> str:
    """Restore every ``__LIT_n__`` in one pass: restored text is never
    scanned again, so data shaped like a placeholder stays data."""
    return _MASK_RE.sub(lambda m: tokens[int(m.group(1))], masked)


def spark_ident(tok: str) -> str:
    """A quoted identifier token as one Spark backticked identifier."""
    if tok[0] == "`":
        return tok
    return "`" + tok[1:-1].replace('""', '"').replace("`", "``") + "`"


def string_value(tok: str) -> str:
    """The value of a string token of any of the three kinds."""
    if tok[0] == "'":
        return tok[1:-1].replace("''", "'")
    if tok[0] == "$":
        end = tok.index("$", 1) + 1
        return tok[end:-end]
    return _e_value(tok[2:-1])


def _e_value(body: str) -> str:
    """Decode the body of an escape string ``E'…'`` per
    Literals.replaceEscapedChars (libs/sql-parser Literals.java:44-140):
    an UNRECOGNIZED escape drops the backslash and keeps the char
    (E'Te\\%tch' is 'Te%tch', so LIKE sees the % wildcard —
    LikeOperatorTest test_wildcard_escaped_in_c_style_string); octal
    starts 0-3 (\\4x falls to the drop rule); \\x without hex digits
    emits 'x'; malformed \\u/\\U rejects like the reference lexer."""
    out, i = [], 0
    esc = {"b": "\b", "f": "\f", "n": "\n", "r": "\r", "t": "\t"}
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            n = body[i + 1]
            if n in esc:
                out.append(esc[n])
                i += 2
                continue
            if n in ("\\", "'"):
                out.append(n)
                i += 2
                continue
            if n in ("u", "U"):
                width = 4 if n == "u" else 8
                u = re.match(r"[0-9A-Fa-f]{%d}" % width, body[i + 2 :])
                if not u:
                    raise ValueError(
                        "Invalid Unicode escape in escaped string "
                        "literal (Literals.java ESCAPED_UNICODE)"
                    )
                out.append(chr(int(u.group(0), 16)))
                i += 2 + width
                continue
            if n == "x":
                x = re.match(r"[0-9A-Fa-f]{1,2}", body[i + 2 :])
                if x:
                    out.append(chr(int(x.group(0), 16)))
                    i += 2 + len(x.group(0))
                else:
                    # hex sequence unmatched: original char
                    out.append("x")
                    i += 2
                continue
            o = re.match(r"[0-3][0-7]{0,2}", body[i + 1 :])
            if o:
                out.append(chr(int(o.group(0), 8)))
                i += 1 + len(o.group(0))
                continue
            # unrecognized escape: IGNORE the backslash (drop it),
            # next char re-processes normally
            i += 1
            continue
        if c == "'" and i + 1 < len(body) and body[i + 1] == "'":
            # doubled quote inside the raw body is ONE quote char
            out.append("'")
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _paren() -> str:
    """Balanced paren group at ANY nesting depth: a recursive pattern
    under a fresh group name (fresh so one compiled pattern can embed
    several operands without name collisions); possessive quantifiers
    keep failure on unbalanced input linear.
    """
    name = f"_p{next(_PAREN_IDS)}"
    return rf"(?P<{name}>\((?:[^()]++|(?&{name}))*+\))"


#: operand for :: and [] rewrites: quoted literal, function call
#: (name must not be a reserved keyword), identifier, or (expr)
#: the leading lookbehind stops a match from starting mid-identifier
#: (without it, the keyword guard on ``SELECT (...)`` just shifts the
#: match to ``ELECT (...)``)
def _operand() -> str:
    """One :: / [] / binary-operator operand (fresh pattern instance).

    Embedded patterns capture with NAMED groups only — `_paren()`
    introduces anonymous-numbered inner groups, so callers must not
    rely on numbered captures after an operand.
    """
    return (
        rf"(?<![A-Za-z0-9_.])(?:'[^']*'|\d+(?:\.\d+)?D?|(?!{_KW}\s*\()"
        rf"{_IDENT}\s*{_paren()}"
        rf"|{_IDENT}|{_paren()})"
    )


def _sub_base() -> str:
    """Subscript base: function call (keyword-guarded, like
    ``_operand``), identifier, or parenthesized expression."""
    return (
        rf"(?<![A-Za-z0-9_.`])(?:(?!{_KW}\s*\(){_IDENT}\s*{_paren()}"
        rf"|{_NAME}|{_paren()})"
    )


#: balanced body inside a wrapping call's parens: any text whose
#: paren groups are balanced (never eats the wrapper's closing paren)
def _body() -> str:
    return rf"(?:[^()]|{_paren()})"


#: ``operand ::``, or a bare ``::`` whose operand shape the operand
#: grammar does not cover (``named_struct(...).k::varchar``); the type
#: after it is read by ``datatypes.parse_type``
_CAST_RE = _RE.compile(rf"(?:(?P<expr>{_operand()})\s*)?::\s*")
_SUBSCRIPT_RE = _RE.compile(rf"(?P<base>{_sub_base()})\s*\[\s*(?P<idx>\d+)\s*\]")
#: 1-based inclusive slice subscript arr[from:to] with optional open
#: ends (AstBuilder subscript grammar -> ArraySliceFunction)
_SUBSCRIPT_SLICE_RE = _RE.compile(
    rf"(?P<base>{_sub_base()})\s*\[\s*(?P<frm>(?i:null)|\d*)\s*"
    rf":\s*(?P<to>(?i:null)|\d*)\s*\]"
)


def _subscript_slice_sub(m: re.Match) -> str:
    base, frm, to = m.group("base"), m.group("frm"), m.group("to")
    # NULL bounds read as open ends (ArraySliceFunctionTest.java:97:
    # [null:3] slices from 1, [3:null] to the end)
    if frm.lower() == "null":
        frm = ""
    if to.lower() == "null":
        to = ""
    if not frm and not to:
        return base
    if not frm:
        return f"slice({base}, 1, {to})"
    if not to:
        return f"slice({base}, {frm}, greatest(size({base}) - ({frm}) + 1, 0))"
    return f"slice({base}, {frm}, greatest(({to}) - ({frm}) + 1, 0))"
#: identifier followed by one or more string-literal subscripts
#: (literals are masked at this point, so the key shows as __LIT_n__)
_OBJ_SUBSCRIPT_RE = re.compile(
    rf"({_NAME})((?:\s*\[\s*__LIT_\d+__\s*\])"
    rf"(?:\s*\[\s*(?:__LIT_\d+__|\d+)\s*\])*|(?:\s*\[\s*\d+\s*\])+\s*\[\s*__LIT_\d+__\s*\]"
    rf"(?:\s*\[\s*(?:__LIT_\d+__|\d+)\s*\])*)"
)
_REGEX_CI_RE = _RE.compile(rf"(?P<lhs>{_operand()})\s*~\*\s*(?P<rhs>{_operand()})")
_REGEX_NOT_RE = _RE.compile(rf"(?P<lhs>{_operand()})\s*!~\s*(?P<rhs>{_operand()})")
_REGEX_RE = _RE.compile(rf"(?P<lhs>{_operand()})\s*~\s*(?P<rhs>{_operand()})")
_ANY_EQ_RE = _RE.compile(
    rf"(?P<lhs>{_operand()})\s*=\s*ANY\s*\(\s*(?P<inner>{_body()}+)\s*\)",
    re.IGNORECASE,
)
#: LIKE/ILIKE [NOT] ANY/ALL over an array expression
#: (``expression/operator/any/AnyLikeOperator.java``, ``all/AllOperator``)
_ANY_ALL_LIKE_RE = _RE.compile(
    rf"(?P<lhs>{_operand()})\s+(?P<neg>NOT\s+)?(?P<likeop>I?LIKE)\s+"
    rf"(?P<quant>ANY|ALL)\s*\(\s*(?P<inner>{_body()}+)\s*\)",
    re.IGNORECASE,
)
#: comparison ANY/ALL (``any/AnyRangeOperator``, ``AnyNeqOperator``;
#: = ANY is handled separately above with the array_contains fast path)
_ANY_ALL_CMP_RE = _RE.compile(
    rf"(?P<lhs>{_operand()})\s*(?P<op><>|!=|<=|>=|<|>|=)\s*"
    rf"(?P<quant>ANY|ALL)\s*\(\s*(?P<inner>{_body()}+)\s*\)",
    re.IGNORECASE,
)
#: the binary-operator rewrites (`||` concat, `^` power, `#` xor) —
#: module-level so the recursive operand compiles once
_CONCAT_OP_RE = _RE.compile(rf"(?P<lhs>{_operand()})\s*\|\|\s*(?P<rhs>{_operand()})")
_POW_OP_RE = _RE.compile(rf"(?P<lhs>{_operand()})\s*\^\s*(?P<rhs>{_operand()})")
_XOR_OP_RE = _RE.compile(rf"(?P<lhs>{_operand()})\s*#\s*(?P<rhs>{_operand()})")
_OVERLAP_OP_RE = _RE.compile(rf"(?P<lhs>{_operand()})\s*&&\s*(?P<rhs>{_operand()})")
#: a named WINDOW clause (``WINDOW w AS (…)[, v AS (…)]``), one of its
#: definitions, and an ``OVER (w …)`` that names (and may extend) one
_WINDOW_CLAUSE_RE = _RE.compile(
    rf"\bWINDOW\s+\w+\s+AS\s*{_paren()}(?:\s*,\s*\w+\s+AS\s*{_paren()})*", re.IGNORECASE
)
_WINDOW_DEF_RE = _RE.compile(rf"(?P<name>\w+)\s+AS\s*\((?P<spec>{_body()}*)\)", re.IGNORECASE)
_OVER_EXTEND_RE = _RE.compile(
    rf"\bOVER\s*\(\s*(?P<name>\w+)\s*(?P<extra>{_body()}*)\)", re.IGNORECASE
)
#: ``(_pg_expandarray(arr)).field``
_EXPAND_FIELD_RE = _RE.compile(
    rf"\(\s*_pg_expandarray\s*\((?P<arr>{_body()}*)\)\s*\)\s*\.\s*(?P<field>\w+)", re.IGNORECASE
)
#: ``MATCH(col | concat_ws(…), 'terms') [USING mode [WITH (options)]]``
_MATCH_RE = _RE.compile(
    rf"\bMATCH\s*\(\s*(?P<col>{_IDENT}|concat_ws\s*{_paren()})\s*,\s*(?P<query>__LIT_\d+__)\s*\)"
    rf"(?:\s+USING\s+(?P<mode>\w+))?(?:\s+WITH\s*\((?P<opts>[^)]*)\))?",
    re.IGNORECASE,
)
#: ``agg(arg) FILTER (WHERE cond) OVER``: an aggregate used as a window
#: function with a filter
_WINDOW_FILTER_RE = _RE.compile(
    rf"\b(?P<fn>{_IDENT})\s*\(\s*(?P<arg>\*|{_body()}*?)\s*\)"
    rf"\s*FILTER\s*\(\s*WHERE\s+(?P<cond>{_body()}+?)\s*\)(?P<over>\s*OVER\b)",
    re.IGNORECASE,
)
#: a ranking or offset window function over a window with a PARTITION
#: BY and no ORDER BY, up to its frame or its closing paren
_UNORDERED_WINDOW_RE = _RE.compile(
    rf"(?P<head>\b(?:lag|lead|row_number|rank|dense_rank|ntile)\s*{_paren()}\s*"
    rf"OVER\s*\(\s*PARTITION\s+BY\s+(?:(?!\b(?:ORDER|ROWS|RANGE|GROUPS)\b)[^()]|{_paren()})*)"
    rf"(?P<frame>\b(?:ROWS|RANGE|GROUPS)\b(?:[^()]|{_paren()})*)?\)",
    re.IGNORECASE,
)
#: ``pattern ESCAPE 'c'``: the pattern is a literal, a call, a name or a
#: parenthesised group
_ESCAPE_RE = _RE.compile(
    rf"(?P<pat>__LIT_\d+__|(?<![\w.`\]])(?!{_KW}\s*\()[\w.`\]]+\s*{_paren()}|[\w.`\]]+|{_paren()})"
    r"\s+ESCAPE\s+__LIT_(?P<esc>\d+)__",
    re.IGNORECASE,
)
#: ``schema.name`` of a system relation; either part may be
#: backticked (double-quoted identifiers are backticked by then), but
#: not the whole: `sys.jobs` is one name
_SCHEMA_RE = re.compile(
    r"(?<![\w`])(`?)(information_schema|sys|pg_catalog|blob)\1\s*\.\s*"
    r"(`?)([A-Za-z_][A-Za-z0-9_]*)\3(?![\w`])"
)


# ---------------------------------------------------------------------------
# the bracket readers: the only code in the front end that matches
# brackets (with the recursive ``_paren``/``_body`` patterns above)
# ---------------------------------------------------------------------------
def split_args(s: str) -> list[str]:
    """Split at top-level commas: parentheses, brackets and braces nest,
    so an array or object literal's commas stay inside its item
    (literals are masked)."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        parts.append(tail)
    return parts


def find_close(s: str, open_idx: int) -> int:
    """Index of the ')' matching s[open_idx] == '('; -1 if unbalanced."""
    depth = 0
    for i in range(open_idx, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    return -1


_GROUP_RE = _RE.compile(_paren())


def blank_groups(s: str) -> str:
    """``s`` with every balanced parenthesised group blanked to spaces,
    at the same length: a search of it finds only depth-0 text, at the
    positions it has in ``s``."""
    return _GROUP_RE.sub(lambda m: " " * len(m.group(0)), s)


# ---------------------------------------------------------------------------
# crate-only scalar function names -> Spark SQL expression templates
# ---------------------------------------------------------------------------
def _str_token(lits: list[str], value: str) -> str:
    """``value`` as one more string-literal token."""
    return add_token(lits, "'" + value.replace("'", "''") + "'")


def _current_schemas_sql(a: list[str], lits: list[str]) -> str | None:
    """CurrentSchemasFunction: the search path, led by pg_catalog when
    the argument is true."""
    if len(a) != 1 or a[0].lower() not in ("true", "false"):
        return None
    names = ["pg_catalog", "doc"] if a[0].lower() == "true" else ["doc"]
    return "array(" + ", ".join(_str_token(lits, n) for n in names) + ")"


def _not_null(a: str) -> str:
    return f"filter({a}, __e -> __e IS NOT NULL)"


def _arr_sum(a: str) -> str:
    return f"aggregate({a}, CAST(0.0 AS DOUBLE), (__acc, __e) -> __acc + CAST(__e AS DOUBLE))"


#: name -> fn(args, literals) -> Spark SQL text (or None: leave call as
#: written — an unsupported arity surfaces as a Spark analysis error).
#: Semantics mirror the DataFrame helpers in functions/scalar.py (each
#: cites its reference class); templates are pure Spark builtins so the
#: SQL front door stays whole-stage-codegen.
_FN_TEMPLATES: dict = {
    "array_sum": lambda a, lits: _arr_sum(a[0]) if len(a) == 1 else None,
    "array_avg": lambda a, lits: (
        f"({_arr_sum(_not_null(a[0]))} / nullif(size({_not_null(a[0])}), 0))"
        if len(a) == 1
        else None
    ),
    "array_unique": lambda a, lits: (
        f"array_distinct({a[0]})"
        if len(a) == 1
        else f"array_distinct(concat({a[0]}, {a[1]}))" if len(a) == 2 else None
    ),
    # null-safe element compare so LEFT null elements survive when
    # absent from the right (ArrayDifferenceFunctionTest: [1,null,2,
    # null] - [2] keeps both nulls); a NULL right side removes
    # nothing ([1] - null_array = [1]) while a NULL left stays NULL
    "array_difference": lambda a, lits: (
        f"filter({a[0]}, __x -> NOT exists(coalesce({a[1]}, array()), "
        f"__y -> __x <=> __y))"
        if len(a) == 2
        else None
    ),
    # a NULL side concatenates as empty (ArrayCatFunctionTest:
    # array_cat([1,2,3], null) = [1,2,3]; Spark's concat returns NULL)
    "array_cat": lambda a, lits: (
        f"concat(coalesce({a[0]}, array()), coalesce({a[1]}, array()))"
        if len(a) == 2
        else None
    ),
    # a NULL array grows from empty (ArrayAppendFunctionTest:
    # array_append(null, 1) = [1]; Spark returns NULL)
    "array_append": lambda a, lits: (
        f"array_append(coalesce({a[0]}, array()), {a[1]})"
        if len(a) == 2
        else None
    ),
    "array_overlap": lambda a, lits: (
        f"arrays_overlap({a[0]}, {a[1]})" if len(a) == 2 else None
    ),
    # PG dimension semantics (ArrayUpper/LowerFunction.java): empty
    # array / dim <= 0 / dim beyond the nesting depth -> NULL; upper
    # at dim d is the MAX sub-array size (ragged arrays), lower is 1
    # only when no null/empty sub-array exists on the path
    "array_length": lambda a, lits: (
        f"nullif(size({a[0]}), 0)"
        if len(a) == 1
        else _array_dim_sql(a, "upper") if len(a) == 2 else None
    ),
    "array_upper": lambda a, lits: (
        _array_dim_sql(a, "upper") if len(a) == 2 else None
    ),
    "array_lower": lambda a, lits: (
        _array_dim_sql(a, "lower") if len(a) == 2 else None
    ),
    # ArraySliceFunction: 1-based INCLUSIVE [from, to]
    "array_slice": lambda a, lits: (
        f"slice({a[0]}, {a[1]}, greatest(({a[2]}) - ({a[1]}) + 1, 0))"
        if len(a) == 3
        else None
    ),
    # ArraySetFunction: single-index splice, or the (arr, positions[],
    # values[]) multi-index form (docs array_set 3-arg array variant)
    "array_set": lambda a, lits: _array_set_sql(a),
    "array_position": lambda a, lits: (
        # reference returns NULL when absent; Spark returns 0. 3-arg
        # form searches FROM a 1-based start position. A NULL needle
        # finds the first null ELEMENT (ArrayPositionFunctionTest:45 —
        # Spark's builtin would just return NULL).
        f"nullif(coalesce(array_position(transform({a[0]}, "
        f"__x -> __x IS NULL), true), 0), 0)"
        if len(a) == 2 and a[1].strip().upper() == "NULL"
        else f"nullif(array_position({a[0]}, {a[1]}), 0)"
        if len(a) == 2
        else (
            f"(CASE WHEN array_position(slice({a[0]}, {a[2]}, size({a[0]})), "
            f"{a[1]}) > 0 THEN array_position(slice({a[0]}, {a[2]}, "
            f"size({a[0]})), {a[1]}) + ({a[2]}) - 1 END)"
            if len(a) == 3
            else None
        )
    ),
    "string_to_array": lambda a, lits: _string_to_array_sql(a, lits),
    # array_to_string (PG-compat, reference 4.6.0+): Spark's array_join
    # has identical null handling (omit, or replace when 3rd arg given)
    "array_to_string": lambda a, lits: (
        (
            f"array_join({a[0]}, {a[1]})"
            if len(a) == 3 and a[2].strip().upper() == "NULL"
            else f"array_join({', '.join(a)})"
        )
        if len(a) in (2, 3)
        else None
    ),
    "gen_random_text_uuid": lambda a, lits: "uuid()" if len(a) == 0 else None,
    # reference arg order is (value, array) — Spark's is (array,
    # value); a NULL array grows from empty (array_prepend(1, null)
    # = [1], ArrayPrependFunctionTest)
    "array_prepend": lambda a, lits: (
        f"array_prepend(coalesce({a[1]}, array()), {a[0]})"
        if len(a) == 2
        else None
    ),
    # modulus = mod alias (arithmetic.rst); sign follows the dividend
    # in both engines (Java %)
    "modulus": lambda a, lits: f"mod({a[0]}, {a[1]})" if len(a) == 2 else None,
    "null_or_empty": lambda a, lits: _null_or_empty_sql(a, lits),
    # PG trim-with-characters arg order is (string, chars); Spark's
    # 2-arg ltrim/rtrim is the REVERSE (trimStr, str)
    "ltrim": lambda a, lits: f"ltrim({a[1]}, {a[0]})" if len(a) == 2 else None,
    "rtrim": lambda a, lits: f"rtrim({a[1]}, {a[0]})" if len(a) == 2 else None,
    # LeftFunction/RightFunction: negative n keeps all-but-|n| from
    # the other end (PG semantics; Spark returns '')
    "left": lambda a, lits: (
        f"(CASE WHEN ({a[1]}) >= 0 THEN left({a[0]}, {a[1]}) "
        f"ELSE substring({a[0]}, 1, greatest(length({a[0]}) + ({a[1]}), 0)) END)"
        if len(a) == 2
        else None
    ),
    "right": lambda a, lits: (
        f"(CASE WHEN ({a[1]}) >= 0 THEN right({a[0]}, {a[1]}) "
        f"ELSE substring({a[0]}, 1 - ({a[1]})) END)"
        if len(a) == 2
        else None
    ),
    # ConcatFunction: string concat SKIPS NULL arguments (PG concat);
    # object-literal concat merges top-level keys right-wins
    # (ConcatFunction object overload); array concat passes through
    "concat": lambda a, lits: _concat_sql(a, lits),
    # ArrayAgg KEEPS NULL elements (reference array_agg; Spark's
    # collect_list drops them) — struct-wrap preserves them
    "array_agg": lambda a, lits: (
        f"transform(array_agg(struct({a[0]} AS __v)), __s -> __s.__v)"
        if len(a) == 1
        else None
    ),
    # PG substring(string FROM pattern): 2-arg with a non-numeric
    # literal pattern is the REGEX form — first match (group 1 if the
    # pattern has groups), NULL when no match
    "substring": lambda a, lits: _substring_regex_sql(a, lits),
    "substr": lambda a, lits: _substring_regex_sql(a, lits),
    # ArrayUnnestFunction: NULL sub-arrays are skipped (Spark's
    # flatten returns NULL for the whole result instead)
    "array_unnest": lambda a, lits: (
        f"flatten(filter({a[0]}, __x -> __x IS NOT NULL))" if len(a) == 1 else None
    ),
    # numeric trunc (TruncFunction): toward zero. Spark's builtin trunc
    # is date-only, so the 1-arg form and the numeric-scale 2-arg form
    # are expanded; trunc(date, 'fmt') (literal 2nd arg) passes through.
    "trunc": lambda a, lits: _trunc_sql(a),
    # timezone(zone, ts) (TimezoneFunction): the without-tz variant
    # treats the wall-clock value as located in the zone -> UTC
    # instant; the WITH-tz variant converts the instant to the zone's
    # wall clock. Numeric operands are epoch millis (crate storage).
    # WITH-tz detection is textual (the rewrite has no schema): an
    # explicit cast spelling, or an operand whose name marks it as a
    # tz column (ts_tz / *_timestamptz — the docs' convention)
    "timezone": lambda a, lits: (
        (
            f"from_utc_timestamp(CAST({a[1]} AS TIMESTAMP), {a[0]})"
            if _zoned(a[1])
            else f"convert_timezone({a[0]}, 'UTC', "
            f"CAST({_ts_coerce(a[1])} AS TIMESTAMP_NTZ))"
        )
        if len(a) == 2
        else None
    ),
    # age(ts[, ts2]) (AgeFunction.java): PG symbolic interval — whole
    # months truncated toward zero, then day/time remainder
    "age": lambda a, lits: _age_sql(a),
    "_map": lambda a, lits: _map_fn_sql(a, lits),
    # geo scalars (expression/scalar/geo/, dql/geo.rst): geo_point =
    # [lon, lat] array (the reference's own literal form); shape
    # literals as WKT strings
    "latitude": lambda a, lits: (
        (lambda p: f"CAST({p[1]} AS DOUBLE)" if p else None)(_geo_lonlat(a[0], lits))
        if len(a) == 1
        else None
    ),
    "longitude": lambda a, lits: (
        (lambda p: f"CAST({p[0]} AS DOUBLE)" if p else None)(_geo_lonlat(a[0], lits))
        if len(a) == 1
        else None
    ),
    "distance": lambda a, lits: _geo_distance_sql(a, lits),
    # literal shapes unroll to JVM ray-casts; COLUMN-typed shapes fall
    # back to the declared Arrow UDF (runtime WKT parsing)
    "within": lambda a, lits: (
        _geo_within_sql(a, lits)
        or (
            f"__geo_within(CAST({a[0]} AS STRING), CAST({a[1]} AS STRING))"
            if len(a) == 2
            else None
        )
    ),
    "area": lambda a, lits: _geo_area_sql(a, lits),
    "intersects": lambda a, lits: (
        _geo_intersects_sql(a, lits)
        or (
            f"__geo_intersects(CAST({a[0]} AS STRING), CAST({a[1]} AS STRING))"
            if len(a) == 2
            else None
        )
    ),
    "geohash": lambda a, lits: _geohash_sql(a, lits),
    # StrposFunction / PG strpos(string, substring) == instr
    "strpos": lambda a, lits: f"instr({a[0]}, {a[1]})" if len(a) == 2 else None,
    "starts_with": lambda a, lits: (
        f"startswith({a[0]}, {a[1]})" if len(a) == 2 else None
    ),
    # FormatFunction (PG format): %s positional — format_string's %s
    "format": lambda a, lits: (
        f"format_string({', '.join(a)})" if len(a) >= 1 else None
    ),
    # Ignore3vlFunction: NULL -> FALSE so 3vl NOT doesn't leak UNKNOWN
    "ignore3vl": lambda a, lits: f"coalesce({a[0]}, FALSE)" if len(a) == 1 else None,
    "encode": lambda a, lits: _encode_sql(a, lits),
    "decode": lambda a, lits: _decode_sql(a, lits),
    # VectorSimilarityFunction: 1 / (1 + squared_l2) — Lucene
    # squareDistance semantics, matching functions/vector.py. The
    # reference RETURNS float (FloatVectorType.java:56 / Lucene
    # EUCLIDEAN.compare is float), so the result casts to FLOAT; the
    # accumulation stays double (Lucene's own float accumulation
    # order varies with SIMD lane width, so float-exact accumulation
    # parity is unattainable anyway — double-then-round is within
    # half-ulp of every lane order).
    # the ARRAY<FLOAT> operand casts type bare NULL args (STRICTNULL:
    # null in -> null out) and mirror float_vector's own element type
    "vector_similarity": lambda a, lits: (
        f"CAST(1.0 / (1.0 + aggregate(zip_with("
        f"CAST({a[0]} AS ARRAY<FLOAT>), CAST({a[1]} AS ARRAY<FLOAT>), "
        f"(__x, __y) -> (CAST(__x AS DOUBLE) - __y) * (CAST(__x AS DOUBLE) - __y)), "
        f"CAST(0.0 AS DOUBLE), (__acc, __v) -> __acc + __v)) AS FLOAT)"
        if len(a) == 2
        else None
    ),
    "date_bin": lambda a, lits: _date_bin_sql(a, lits),
    "date_format": lambda a, lits: _date_format_sql(a, lits),
    "to_char": lambda a, lits: _to_char_fn_sql(a, lits),
    # ObjectKeysFunction — dynamic objects are JSON strings here
    "object_keys": lambda a, lits: (
        f"json_object_keys({a[0]})" if len(a) == 1 else None
    ),
    "parse_uri": lambda a, lits: _parse_uri_sql(a, lits) if len(a) == 1 else None,
    # 1-arg CrateDB parse_url; 2/3-arg falls through to Spark's builtin
    "parse_url": lambda a, lits: (
        _parse_uri_sql(a, lits, with_params=True) if len(a) == 1 else None
    ),
    "regexp_matches": lambda a, lits: _regexp_matches_sql(a, lits),
    "regexp_replace": lambda a, lits: _regexp_replace_sql(a, lits),
    "regexp_count": lambda a, lits: _regexp_count_sql(a, lits),
    "regexp_instr": lambda a, lits: _regexp_instr_sql(a, lits),
    # crate-only aggregates (aggregation.rst) as SQL text
    "arbitrary": lambda a, lits: (
        f"any_value({a[0]}, true)" if len(a) == 1 else None
    ),
    "geometric_mean": lambda a, lits: (
        f"exp(avg(ln(CAST({a[0]} AS DOUBLE))))" if len(a) == 1 else None
    ),
    # HyperLogLogDistinctAggregation -> Spark's HLL++; the optional
    # precision arg maps to relative-error tuning (default accepted)
    "hyperloglog_distinct": lambda a, lits: (
        f"approx_count_distinct({a[0]})" if len(a) in (1, 2) else None
    ),
    "topk": lambda a, lits: _topk_sql(a),
    # crate's variance/stddev are POPULATION forms
    # (VarianceAggregation/StandardDeviationAggregation; Spark's bare
    # names are the sample forms)
    "variance": lambda a, lits: f"var_pop({a[0]})" if len(a) == 1 else None,
    "stddev": lambda a, lits: f"stddev_pop({a[0]})" if len(a) == 1 else None,
    # LogFunction.java:93-126,174 — crate log(x) is log BASE 10 (Spark's
    # 1-arg log is ln), and log(x, b) is ln(x)/ln(b) with the VALUE
    # first (Spark's 2-arg log takes the base first): swap the args.
    "log": lambda a, lits: (
        f"log10({a[0]})"
        if len(a) == 1
        else (f"log({a[1]}, {a[0]})" if len(a) == 2 else None)
    ),
    # RoundFunction.java:62-69 — 1-arg round on float/double is
    # Math.round: floor(x + 0.5) returned as a LONG, so round(-2.5)
    # is -2 where Spark/DuckDB HALF_UP gives -3. (Integral inputs
    # above 2^52 lose the double round-trip — the reference has the
    # same double path.) 2-arg round keeps Spark's HALF_UP (:126) —
    # except an INTEGER-literal operand with negative digits, which
    # the reference promotes to NUMERIC (RoundFunctionTest:
    # round(2147483647, -1) = 2147483650) where Spark's int-typed
    # round overflows under ANSI (r10).
    "round": lambda a, lits: (
        f"CAST(floor(CAST({a[0]} AS DOUBLE) + 0.5D) AS BIGINT)"
        if len(a) == 1
        else (
            f"round(CAST({a[0]} AS DECIMAL(38,0)), {a[1]})"
            if len(a) == 2
            and re.fullmatch(r"[+-]?\d+", a[0].strip())
            and re.fullmatch(r"-\d+", a[1].strip())
            else None
        )
    ),
    # DateTruncFunction 3-arg form: date_trunc(interval, timezone, ts)
    # truncates in that zone, result back as the UTC instant
    "date_trunc": lambda a, lits: (
        f"to_utc_timestamp(date_trunc({a[0]}, "
        f"from_utc_timestamp(CAST({a[2]} AS TIMESTAMP), {a[1]})), {a[1]})"
        if len(a) == 3
        else None
    ),
    # ConditionalFunctions: the reference's variadic greatest/least
    # accept ONE argument (ConditionalFunctionTest: greatest(10) is
    # 10) where Spark requires two (r10)
    "greatest": lambda a, lits: f"({a[0]})" if len(a) == 1 else None,
    "least": lambda a, lits: f"({a[0]})" if len(a) == 1 else None,
    # QuoteIdentFunction (PG quote_ident): quote unless the name is
    # already a plain lower-case identifier (keyword check omitted —
    # documented divergence)
    "quote_ident": lambda a, lits: _quote_ident_sql(a, lits),
    # ParseIdentFunction: split a qualified identifier into parts;
    # quoted parts keep case and unescape "" -> " (dots INSIDE quoted
    # parts are not supported by this text shim — documented)
    "parse_ident": lambda a, lits: _parse_ident_sql(a, lits),
    # format_type(oid, typemod) (FormatTypeFunction.java:61-84):
    # PG type oid -> CrateDB type name, '[]'-suffixed per array
    # dimension, '???' for unknown oids, NULL for NULL
    "format_type": lambda a, lits: _format_type_sql(a),
    # pg_get_userbyid (PgGetUserByIdFunction.java:36-47): resolves an
    # oid against the role store; unknown oids render
    # "unknown (OID=<n>)". The crate superuser's oid is
    # OidHash.userOid("crate") = murmurhash3_x86_32("USERcrate") =
    # -450373579 (computed with the verified murmur3 reference
    # implementation, r11)
    "pg_get_userbyid": lambda a, lits: (
        f"(CASE WHEN {a[0]} IS NULL THEN NULL "
        f"WHEN CAST({a[0]} AS INT) = -450373579 THEN 'crate' "
        f"ELSE concat('unknown (OID=', CAST(CAST({a[0]} AS INT) AS STRING), "
        f"')') END)"
        if len(a) == 1
        else None
    ),
    # pg_encoding_to_char (PgEncodingToCharFunction.java): index into
    # the PG encoding-identifier enum; out-of-range -> NULL
    "pg_encoding_to_char": lambda a, lits: (
        f"(CASE WHEN CAST({a[0]} AS INT) >= 0 AND CAST({a[0]} AS INT) < 42 "
        f"THEN element_at(array({_PG_ENCODINGS}), CAST({a[0]} AS INT) + 1) "
        f"END)"
        if len(a) == 1
        else None
    ),
    # CollectionAverage/CollectionCountFunction.java (collection_avg /
    # collection_mean aliases): plain element average / array size
    "collection_avg": lambda a, lits: (
        f"(CASE WHEN size({a[0]}) > 0 THEN "
        f"aggregate(transform({a[0]}, __x -> CAST(__x AS DOUBLE)), 0.0D, "
        f"(__a, __x) -> __a + __x) / size({a[0]}) END)"
        if len(a) == 1
        else None
    ),
    "collection_mean": lambda a, lits: (
        f"(CASE WHEN size({a[0]}) > 0 THEN "
        f"aggregate(transform({a[0]}, __x -> CAST(__x AS DOUBLE)), 0.0D, "
        f"(__a, __x) -> __a + __x) / size({a[0]}) END)"
        if len(a) == 1
        else None
    ),
    "collection_count": lambda a, lits: (
        f"CAST(size({a[0]}) AS BIGINT)" if len(a) == 1 else None
    ),
    # PG introspection stubs the reference answers NULL for
    # (PgGetExpr.java:46, PgGetPartkeydefFunction.java,
    # PgGetSerialSequenceFunction.java, PgGetFunctionResultFunction /
    # PgGetConstraintDefFunction: oid never resolves here)
    "pg_get_expr": lambda a, lits: "CAST(NULL AS STRING)" if len(a) in (2, 3) else None,
    "pg_get_partkeydef": lambda a, lits: (
        "CAST(NULL AS STRING)" if len(a) == 1 else None
    ),
    "pg_get_serial_sequence": lambda a, lits: (
        "CAST(NULL AS STRING)" if len(a) == 2 else None
    ),
    "pg_get_function_result": lambda a, lits: (
        "CAST(NULL AS STRING)" if len(a) == 1 else None
    ),
    "pg_get_constraintdef": lambda a, lits: (
        "CAST(NULL AS STRING)" if len(a) in (1, 2) else None
    ),
    # pg_sleep (PgSleepFunction.java): plan-time no-op here — a driver
    # sleep inside a distributed expression would stall every task;
    # PG's void return renders as ''
    "pg_sleep": lambda a, lits: "''" if len(a) == 1 else None,
    # session-information and pg-compat tooling scalars
    # (systeminformation/*.java): a single-user, single-catalog engine
    # answers them with plan-time constants, as the reference resolves
    # them for the default 'crate' superuser
    "current_schemas": lambda a, lits: _current_schemas_sql(a, lits),
    "current_database": lambda a, lits: _str_token(lits, "crate") if not a else None,
    # the reference's shape "CrateDB <v> (built ..., <os>, <vm>)"
    # (VersionFunction.java formatVersion; the engine's table-version
    # stamp is 6.5.0): Spark's own version() answers "<spark> <sha>"
    "version": lambda a, lits: _str_token(lits, _engine_version_string()) if not a else None,
    "pg_backend_pid": lambda a, lits: "0" if not a else None,
    # PgPostmasterStartTime.java: the node's start instant, here the
    # process start, constant for the session's lifetime
    "pg_postmaster_start_time": lambda a, lits: (
        f"TIMESTAMP {_str_token(lits, _PROCESS_START)}" if not a else None
    ),
    **dict.fromkeys(
        [f"has_{o}_privilege" for o in ("table", "schema", "database", "function", "column")]
        + ["pg_table_is_visible", "pg_function_is_visible"],
        lambda a, lits: "TRUE",
    ),
    **dict.fromkeys(["col_description", "obj_description"], lambda a, lits: "CAST(NULL AS STRING)"),
}


def _null_or_empty_sql(a: list[str], lits: list[str]) -> str | None:
    """NullOrEmptyFunction (null-or-empty-array / -object): arrays use
    size(); OBJECT operands — literals (already rewritten to
    ``to_json(named_struct(...))`` or the masked ``'{}'``) — compare
    against the empty-JSON string, matching the engine's JSON-string
    object representation. Object COLUMNS still need the array form's
    caller to pass an array (text shim can't see column types)."""
    if len(a) != 1:
        return None
    arg = a[0].strip()
    # a bare/cast NULL operand folds to true whatever the declared
    # type (NullOrEmptyFunctionTest: null_or_empty(null::object) —
    # the object cast reaches here as CAST(NULL AS STRING), which
    # size() rejects at analysis)
    if re.match(
        r"(?:NULL\s*(?:::|$)|CAST\s*\(\s*NULL\s+AS\b)", arg, re.IGNORECASE
    ):
        return "true"
    lit = _lit_value(arg, lits)
    if (lit is not None and lit.strip().startswith("{")) or arg.startswith(
        "to_json("
    ) or arg.startswith("__OBJSTRUCT__"):
        empty = add_token(lits, "'{}'")
        return f"({arg} IS NULL OR trim({arg}) = {empty})"
    return f"({arg} IS NULL OR size({arg}) = 0)"


def _quote_ident_sql(a: list[str], lits: list[str]) -> str | None:
    """QuoteIdentFunction (QuoteIdentFunction.java
    maybeQuoteExpression): quote unless already a plain lower-case
    identifier; RESERVED KEYWORDS quote too (Identifiers.isKeyWord —
    r10, closes the documented keyword-check omission). Literal
    operands fold in Python; column operands get the keyword check as
    an IN list over the grammar's reserved words."""
    if len(a) != 1:
        return None
    raw = _lit_value(a[0], lits)
    if raw is not None:
        if re.fullmatch(r"[a-z_][a-z0-9_]*", raw) and not any(
            w == raw and c == "R" for w, c in PG_KEYWORDS
        ):
            out = raw
        else:
            out = '"' + raw.replace('"', '""') + '"'
        return add_token(
            lits, "'" + out.replace("\\", "\\\\").replace("'", "''") + "'"
        )
    pat = add_token(lits, "'^[a-z_][a-z0-9_]*$'")
    dq, esc = "'\"'", "'\"\"'"
    kws = ", ".join(
        add_token(lits, f"'{w}'") for w, c in PG_KEYWORDS if c == "R"
    )
    return (
        f"(CASE WHEN {a[0]} RLIKE {pat} "
        f"AND NOT {a[0]} IN ({kws}) THEN {a[0]} "
        f"ELSE concat({dq}, replace({a[0]}, {dq}, {esc}), {dq}) END)"
    )


def _parse_ident_value(text: str, strict: bool) -> list[str]:
    """ParseIdentFunction.parseIdent: split a qualified identifier on
    quote-aware dots — unquoted parts lowercase, quoted parts keep
    case and may contain dots/doubled quotes; strict=false returns
    the LEADING qualified name and ignores trailing junk
    (parse_ident('foo()', false) is ['foo'])."""
    s, i, n = text, 0, len(text)
    parts: list[str] = []

    def skip_ws():
        nonlocal i
        while i < n and s[i] in " \t\r\n":
            i += 1

    invalid = ValueError(
        f'String is not a valid identifier: "{text}"'
    )
    while True:
        skip_ws()
        if i < n and s[i] == '"':
            i += 1
            buf: list[str] = []
            closed = False
            while i < n:
                if s[i] == '"':
                    if i + 1 < n and s[i + 1] == '"':
                        buf.append('"')
                        i += 2
                        continue
                    i += 1
                    closed = True
                    break
                buf.append(s[i])
                i += 1
            if not closed or not buf:
                raise invalid
            parts.append("".join(buf))
        else:
            m = re.match(r"[A-Za-z_][A-Za-z0-9_$]*", s[i:])
            if not m:
                raise invalid
            parts.append(m.group(0).lower())
            i += m.end()
        skip_ws()
        if i < n and s[i] == ".":
            i += 1
            continue
        break
    if i < n and strict:
        raise invalid
    return parts


def _parse_ident_sql(a: list[str], lits: list[str]) -> str | None:
    """ParseIdentFunction: literal operands constant-fold through the
    reference's quote-aware tokenizer (incl. the 2-arg non-strict
    form); a 1-arg COLUMN operand keeps the simple dot-split (quoted
    parts containing dots in column data are a documented gap)."""
    if len(a) not in (1, 2):
        return None
    raw = _lit_value(a[0], lits)
    if raw is not None:
        strict = True
        if len(a) == 2:
            flag = a[1].strip().lower()
            if flag not in ("true", "false"):
                return None
            strict = flag == "true"
        parts = _parse_ident_value(raw, strict)
        # new literals go through the mask so later passes keep their
        # all-literals-masked invariant
        body = ", ".join(
            add_token(
                lits,
                "'" + p.replace("\\", "\\\\").replace("'", "''") + "'",
            )
            for p in parts
        )
        return f"array({body})"
    if len(a) != 1:
        return None
    dot = add_token(lits, r"'\\.'")
    dq = "'\"'"
    return (
        f"transform(split({a[0]}, {dot}), __p -> "
        f"CASE WHEN startswith(__p, {dq}) AND endswith(__p, {dq}) "
        f"THEN replace(substring(__p, 2, length(__p) - 2), '\"\"', {dq}) "
        f"ELSE lower(trim(__p)) END)"
    )


def _format_type_sql(a: list[str]) -> str | None:
    if len(a) != 2:
        return None
    arms = "".join(
        f"WHEN {oid} THEN '{name}' " for oid, name in format_type_names().items()
    )
    return (
        f"(CASE WHEN {a[0]} IS NULL THEN CAST(NULL AS STRING) "
        f"ELSE (CASE CAST({a[0]} AS INT) {arms}ELSE '???' END) END)"
    )


def _topk_sql(a: list[str]) -> str | None:
    """TopKAggregation as SQL text with the reference's OUTPUT SHAPE
    (TopKAggregation.java:77 ItemsSketch render, aggregation.rst topk
    example): {frequencies: [{estimate, item, lower_bound,
    upper_bound}...], maximum_error} — counts are EXACT here, so
    estimate == lower == upper and maximum_error = 0. Built from one
    collect_list via higher-order functions (Catalyst dedupes the
    repeated aggregate); O(distinct x n) per group — the DataFrame
    operator (operators/timeseries.topk) is the scale path, this is
    the SQL-front-door convenience."""
    if len(a) not in (1, 2):
        return None
    k = a[1] if len(a) == 2 else "8"
    l = f"collect_list({a[0]})"
    pairs = (
        f"transform(slice(array_sort(transform(array_distinct({l}), "
        f"__d -> struct(CAST(-size(filter({l}, __v -> __v <=> __d)) AS BIGINT) AS __nc, "
        f"__d AS item))), 1, {k}), "
        f"__s -> struct(__s.item AS item, -__s.__nc AS frequency))"
    )
    return (
        f"named_struct('frequencies', transform({pairs}, "
        f"__f -> named_struct('estimate', __f.frequency, 'item', __f.item, "
        f"'lower_bound', __f.frequency, 'upper_bound', __f.frequency)), "
        f"'maximum_error', 0)"
    )


def _regex_inline_flags(flags: str, pattern_sql: str) -> str:
    """Embed CrateDB regexp flags (i/u/U/s/m/x/d — Java Pattern inline
    flags) into the pattern expression."""
    inline = "".join(ch for ch in flags if ch in "iuUsmxd")
    if not inline:
        return pattern_sql
    return f"concat('(?{inline})', {pattern_sql})"


def _regexp_replace_sql(a: list[str], literals: list[str]) -> str | None:
    """ReplaceFunction (regexp_replace): CrateDB (and PG/DuckDB)
    replace only the FIRST match unless the ``g`` flag is given —
    Spark's builtin replaces all, so the first-only form is emulated
    with regexp_instr/extract splice (whole-stage codegen; Catalyst
    CSE dedupes the repeated match probes). ``$N`` group refs pass
    through — both engines use Java Matcher replacement syntax."""
    if len(a) == 3:
        s, p, r = a
        flags = ""
    elif len(a) == 4:
        s, p, r = a[0], a[1], a[2]
        flags = _lit_value(a[3], literals)
        if flags is None:
            return None
    else:
        return None
    p = _regex_inline_flags(flags, p)
    if "g" in flags:
        return f"regexp_replace({s}, {p}, {r})"
    pos = f"regexp_instr({s}, {p})"
    endpos = f"({pos} + length(regexp_extract({s}, {p}, 0)))"
    return (
        f"(CASE WHEN {pos} > 0 THEN concat("
        f"regexp_replace(substring({s}, 1, {endpos} - 1), {p}, {r}), "
        f"substring({s}, {endpos})) ELSE {s} END)"
    )


def _regexp_instr_sql(a: list[str], literals: list[str]) -> str | None:
    """RegexpPositionFunction.java (regexp_instr(string, pattern
    [, start [, N [, endoption [, flags [, subexpr]]]]]) — up to 7
    args, where Spark's builtin stops at (string, pattern) with a
    GROUP third arg). Composed from built-ins at rewrite time for
    literal option args: k-th match position = the length of the
    split() prefix + earlier match lengths (both JVM array HOFs, no
    UDF). Group (subexpr) positions locate the group's text inside
    the match via instr — exact whenever the group's first occurrence
    in the match IS the group (all reference test shapes); a group
    whose text repeats earlier in its match may diverge."""
    if len(a) < 2 or len(a) > 7:
        return None
    if len(a) == 2:
        return None  # Spark's builtin already matches the reference
    pat = _lit_value(a[1], literals)
    if pat is None:
        return None

    def _int_arg(i: int, default: int) -> int | None:
        if len(a) <= i:
            return default
        v = a[i].strip()
        return int(v) if re.fullmatch(r"[+-]?\d+", v) else None

    start = _int_arg(2, 1)
    n = _int_arg(3, 1)
    endopt = _int_arg(4, 0)
    flags = _lit_value(a[5], literals) if len(a) >= 6 else ""
    subexpr = _int_arg(6, 0)
    if None in (start, n, endopt, subexpr) or flags is None:
        return None
    if start < 1 or n < 1 or endopt not in (0, 1) or subexpr < 0:
        return None
    inline = "".join(c for c in flags if c in "imsxu")
    if inline:
        pat = f"(?{inline}){pat}"
    # reference: subexpr beyond the pattern's group count -> 0
    n_groups = len(re.findall(r"(?<!\\)\((?!\?)", pat))
    if subexpr > n_groups:
        return "0"
    # template-appended literals emit VERBATIM at unmask (no
    # backslash doubling — see the unmask loop), so Spark-escape the
    # user pattern here or '\d' reaches Spark's parser as escape-'d'
    p = add_token(
        literals, "'" + pat.replace("\\", "\\\\").replace("'", "''") + "'"
    )
    sub = f"substring({a[0]}, {start})" if start > 1 else a[0]
    ms = f"regexp_extract_all({sub}, {p}, 0)"
    parts = f"split({sub}, {p}, -1)"
    prefix = (
        f"(length(concat_ws('', slice({parts}, 1, {n}))) "
        f"+ length(concat_ws('', slice({ms}, 1, {n - 1}))))"
    )
    match = f"element_at({ms}, {n})"
    abs_start = f"({prefix} + {start})"
    if subexpr == 0:
        res = f"({abs_start} + length({match}))" if endopt else abs_start
    else:
        # A non-participating optional group: matcher.start(group) is
        # -1 in the reference (RegexpPositionFunction -> 0), while
        # regexp_extract returns '' and instr(match, '') is 1 — so
        # guard the empty extract to 0. (A group that PARTICIPATED
        # with a zero-width match also extracts '' and thus returns 0
        # here; documented divergence, no reference test exercises it.)
        grp = f"regexp_extract({match}, {p}, {subexpr})"
        pos = f"({abs_start} + instr({match}, {grp}) - 1"
        if endopt:
            pos += f" + length({grp})"
        pos += ")"
        res = f"(CASE WHEN {grp} = '' THEN 0 ELSE {pos} END)"
    return (
        f"(CASE WHEN size({ms}) >= {n} THEN CAST({res} AS INT) "
        f"ELSE 0 END)"
    )


def _regexp_count_sql(a: list[str], literals: list[str]) -> str | None:
    """CountFunction (regexp_count(source, pattern[, start[, flags]])):
    start offset via substr; flags inline."""
    if len(a) == 2:
        return None  # Spark builtin has identical semantics
    if len(a) == 3:
        return f"regexp_count(substr({a[0]}, {a[2]}), {a[1]})"
    if len(a) == 4:
        flags = _lit_value(a[3], literals)
        if flags is None:
            return None
        p = _regex_inline_flags(flags, a[1])
        return f"regexp_count(substr({a[0]}, {a[2]}), {p})"
    return None


def _bytea_parse(text: str) -> bytes:
    """PG bytea INPUT text -> bytes (EncodeDecodeFunction.java input
    handling): a leading ``\\x`` means hex; anything else is the
    escape format (``\\\\`` one backslash, ``\\nnn`` octal, other
    chars raw). Error spellings follow the reference's exceptions."""
    if text.startswith("\\x"):
        hx = text[2:]
        for i, c in enumerate(hx):
            if c not in "0123456789abcdefABCDEF":
                raise ValueError(
                    f"Illegal hexadecimal character {c} at index {i + 2}"
                )
        if len(hx) % 2:
            raise ValueError("Odd number of characters")
        return bytes.fromhex(hx)
    out = bytearray()
    i = 0
    while i < len(text):
        c = text[i]
        if c == "\\":
            if text[i + 1 : i + 2] == "\\":
                out.append(0x5C)
                i += 2
                continue
            oct3 = text[i + 1 : i + 4]
            if len(oct3) == 3 and all(ch in "01234567" for ch in oct3):
                out.append(int(oct3, 8))
                i += 4
                continue
            nxt = text[i + 1 : i + 2] or "?"
            raise ValueError(
                f"Illegal octal character {nxt} at index {i + 1}"
            )
        out.append(ord(c) & 0xFF if ord(c) < 256 else 0x3F)
        i += 1
    return bytes(out)


def _bytea_escape(data: bytes) -> str:
    """bytes -> PG escape output: backslash doubles, non-printable
    bytes render as ``\\nnn`` octal."""
    out = []
    for b in data:
        if b == 0x5C:
            out.append("\\\\")
        elif 0x20 <= b <= 0x7E:
            out.append(chr(b))
        else:
            out.append(f"\\{b:03o}")
    return "".join(out)


def _encode_sql(a: list[str], literals: list[str]) -> str | None:
    """EncodeFunction (encode(data, format) — base64/hex/escape):
    the DATA operand is PG bytea INPUT text ('\\x..' hex or the
    octal-escape format), not plain text (r10 —
    EncodeDecodeFunctionTest: encode('123\\000\\001','base64') is
    'MTIzAAE='). Literal operands constant-fold with full escape
    parsing + reference error spellings; column operands handle the
    '\\x' hex form and raw text (octal escapes in COLUMN data stay a
    documented gap)."""
    import base64 as _b64

    if len(a) != 2:
        return None
    fmt = _lit_value(a[1], literals)
    if fmt is None:
        return None
    fmt = fmt.lower()
    raw = _lit_value(a[0], literals)
    if raw is not None:
        if fmt not in ("base64", "hex", "escape"):
            raise ValueError(
                f"Encoding format '{fmt}' is not supported"
            )
        data = _bytea_parse(raw)
        if fmt == "base64":
            text = _b64.b64encode(data).decode()
        elif fmt == "hex":
            text = data.hex()
        else:
            text = _bytea_escape(data)
        return add_token(
            literals,
            "'" + text.replace("\\", "\\\\").replace("'", "''") + "'",
        )
    hexpfx = add_token(literals, "'\\\\x'")
    src = (
        f"CASE WHEN startswith({a[0]}, {hexpfx}) "
        f"THEN unhex(substring({a[0]}, 3)) "
        f"ELSE CAST({a[0]} AS BINARY) END"
    )
    if fmt == "base64":
        return f"base64({src})"
    if fmt == "hex":
        return f"lower(hex({src}))"
    return None


def _decode_sql(a: list[str], literals: list[str]) -> str | None:
    """DecodeFunction: base64/hex/escape text -> bytea, RENDERED as
    the reference renders bytea results — a '\\x..' hex string
    (EncodeDecodeFunctionTest: decode('MTIzAAE=','base64') is
    '\\x3132330001')."""
    import base64 as _b64

    if len(a) != 2:
        return None
    fmt = _lit_value(a[1], literals)
    if fmt is None:
        return None
    fmt = fmt.lower()
    raw = _lit_value(a[0], literals)
    if raw is not None:
        if fmt not in ("base64", "hex", "escape"):
            raise ValueError(
                f"Encoding format '{fmt}' is not supported"
            )
        if fmt == "base64":
            try:
                data = _b64.b64decode(raw, validate=True)
            except Exception:
                bad = next(
                    (c for c in raw
                     if not (c.isalnum() or c in "+/=")), "?",
                )
                raise ValueError(
                    f"Illegal base64 character {ord(bad):x}"
                ) from None
        elif fmt == "hex":
            for i, c in enumerate(raw):
                if c not in "0123456789abcdefABCDEF":
                    raise ValueError(
                        f"Illegal hexadecimal character {c} at index {i}"
                    )
            if len(raw) % 2:
                raise ValueError("Odd number of characters")
            data = bytes.fromhex(raw)
        else:
            data = _bytea_parse(raw)
        return add_token(
            literals, "'" + "\\\\x" + data.hex() + "'"
        )
    pfx = add_token(literals, "'\\\\x'")
    if fmt == "base64":
        return f"concat({pfx}, lower(hex(unbase64({a[0]}))))"
    if fmt == "hex":
        return f"concat({pfx}, lower({a[0]}))"
    return None


def _lit_value(arg: str, literals: list[str]) -> str | None:
    """The raw text of a masked string literal, or None. A no-op
    ``CAST(__LIT__ AS STRING)`` wrapper (produced by ::text/::geo_shape
    casts and the interval-fold marker) unwraps to the literal."""
    m = re.fullmatch(
        r"__LIT_(\d+)__(?:\s*::(.+))?|CAST\s*\(\s*__LIT_(\d+)__\s+AS\s+STRING\s*\)",
        arg.strip(),
        re.IGNORECASE | re.DOTALL,
    )
    # fn rewrites run before the :: cast pass, so a string-typed
    # cast suffix may still be attached (within('...'::geo_shape))
    if not m or m.group(2) and not (
        (spec := read_type(m.group(2))) and cast_type(spec).upper() == "STRING"
    ):
        return None
    return literals[int(m.group(1) or m.group(3))][1:-1].replace("''", "'")


def _date_bin_sql(a: list[str], literals: list[str]) -> str | None:
    """DateBinFunction.java:41 — floor((ts - origin) / stride) * stride
    + origin, floor division so negative offsets round toward
    -infinity. Stride must be an interval literal (resolved at rewrite
    time); pure epoch arithmetic, stays in whole-stage codegen."""
    if len(a) != 3:
        return None
    # stride arg shapes: __LIT__ / __LIT__::interval / CAST(__LIT__ AS
    # ...), and the CAST(__LIT__ AS STRING) an interval fold leaves
    m = re.fullmatch(
        r"(?:CAST\s*\(\s*|INTERVAL\s+)?__LIT_(\d+)__"
        r"(?:\s*AS\s+(?:INTERVAL[\w\s]*|STRING\s*)\))?(?:\s*::\s*interval)?",
        a[0].strip(),
        re.IGNORECASE,
    )
    parsed = m and _parse_interval_literal(literals[int(m.group(1))][1:-1])
    # a stride of months or years has no fixed length
    if not parsed or parsed[0] or parsed[1]:
        return None
    _, _, d, h, mi, s = parsed
    stride_us = ((d * 24 + h) * 60 + mi) * 60_000_000 + round(s * 1_000_000)
    if not stride_us:
        return None
    # DateBinFunction ignores the interval's sign ('-3 days' bins
    # exactly like '3 days')
    stride_us = abs(stride_us)

    def _us_operand(arg: str) -> tuple[str, bool]:
        # NUMERIC timestamps are epoch MILLIS in the reference (its
        # storage type) and stay numeric in the result (the bigint
        # signature); anything else coerces to a real timestamp
        if re.fullmatch(r"[-+*/()\d\s]+", arg.strip()):
            return f"(CAST({arg} AS BIGINT) * 1000)", True
        return f"unix_micros({_ts_coerce(arg)})", False

    ts, ts_numeric = _us_operand(a[1])
    origin, _ = _us_operand(a[2])
    binned = (
        f"CAST(floor(({ts} - {origin}) / {stride_us}) "
        f"* {stride_us} + {origin} AS BIGINT)"
    )
    if ts_numeric:
        return f"CAST({binned} / 1000 AS BIGINT)"
    return f"timestamp_micros({binned})"


#: MySQL %-codes java.time patterns cannot express (reference
#: TimestampFormatter.java Calendar week grids, unpadded 12-hour,
#: the %D ordinal day)
_MYSQL_SQL_CODES = set("lUuVvwXxD")


def _mysql_fmt_to_sql(ts: str, fmt: str) -> str:
    """date_format with the week/dow codes compiled piecewise: plain
    runs keep the java-pattern fast path, %l/%U/%u/%V/%v/%w/%X/%x
    become SQL expressions mirroring TimestampFormatter.java:162-369 —
    %u/%v/%x on the ISO grid (Calendar Monday/minDays=4), %U/%V/%X on
    the Sunday/minDays=7 grid where week 1 starts at the year's first
    Sunday and earlier days read week 0 (%U) or the previous grid
    year's last week (%V)."""
    from crate_spark.functions.scalar import _mysql_template_to_java

    d = f"CAST({ts} AS DATE)"
    iso_year = f"year(date_add({d}, 3 - weekday({d})))"
    jan1 = f"make_date(year({d}), 1, 1)"
    fs = f"date_add({jan1}, (7 - (dayofweek({jan1}) - 1)) % 7)"
    jan1p = f"make_date(year({d}) - 1, 1, 1)"
    fsp = f"date_add({jan1p}, (7 - (dayofweek({jan1p}) - 1)) % 7)"
    sun_week = f"(datediff({d}, {fs}) DIV 7 + 1)"
    pieces: list[str] = []
    run: list[str] = []

    def flush() -> None:
        if run:
            java = _mysql_template_to_java("".join(run)).replace("'", "\\'")
            pieces.append(f"date_format({ts}, '{java}')")
            run.clear()

    i = 0
    while i < len(fmt):
        if (
            fmt[i] == "%"
            and i + 1 < len(fmt)
            and fmt[i + 1] in _MYSQL_SQL_CODES
        ):
            flush()
            c = fmt[i + 1]
            if c == "D":
                pieces.append(_ordinal_day_sql(ts))
            elif c == "l":
                pieces.append(
                    f"CAST(CASE WHEN hour({ts}) % 12 = 0 THEN 12 "
                    f"ELSE hour({ts}) % 12 END AS STRING)"
                )
            elif c == "w":
                pieces.append(f"CAST(dayofweek({d}) - 1 AS STRING)")
            elif c == "v":
                pieces.append(
                    f"lpad(CAST(weekofyear({d}) AS STRING), 2, '0')"
                )
            elif c == "x":
                pieces.append(f"lpad(CAST({iso_year} AS STRING), 4, '0')")
            elif c == "u":
                wk = (
                    f"(CASE WHEN {iso_year} < year({d}) THEN 0 "
                    f"WHEN {iso_year} > year({d}) "
                    f"THEN weekofyear(make_date({iso_year}, 12, 28)) "
                    f"ELSE weekofyear({d}) END)"
                )
                pieces.append(f"lpad(CAST({wk} AS STRING), 2, '0')")
            elif c == "U":
                wk = f"(CASE WHEN {d} < {fs} THEN 0 ELSE {sun_week} END)"
                pieces.append(f"lpad(CAST({wk} AS STRING), 2, '0')")
            elif c == "V":
                wk = (
                    f"(CASE WHEN {d} < {fs} "
                    f"THEN datediff({fs}, {fsp}) DIV 7 "
                    f"ELSE {sun_week} END)"
                )
                pieces.append(f"lpad(CAST({wk} AS STRING), 2, '0')")
            else:  # X
                y = (
                    f"(CASE WHEN {d} < {fs} THEN year({d}) - 1 "
                    f"ELSE year({d}) END)"
                )
                pieces.append(f"lpad(CAST({y} AS STRING), 4, '0')")
            i += 2
            continue
        if fmt[i] == "%" and i + 1 < len(fmt):
            run.append(fmt[i : i + 2])
            i += 2
        else:
            run.append(fmt[i])
            i += 1
    flush()
    return pieces[0] if len(pieces) == 1 else f"concat({', '.join(pieces)})"


def _date_format_sql(a: list[str], literals: list[str]) -> str | None:
    """DateFormatFunction.java: date_format([fmt], [tz], ts) with MySQL
    %-codes (TimestampFormatter.java), translated at rewrite time."""
    if len(a) == 1:
        fmt, tz, ts = "%Y-%m-%dT%H:%i:%s.%fZ", None, a[0]
    elif len(a) == 2:
        raw = _lit_value(a[0], literals)
        if raw is None:
            return None
        fmt, tz, ts = raw, None, a[1]
    elif len(a) == 3:
        raw, tzraw = _lit_value(a[0], literals), _lit_value(a[1], literals)
        if raw is None or tzraw is None:
            return None
        fmt, tz, ts = raw, tzraw, a[2]
    else:
        return None
    expr = _ts_coerce(ts)
    if tz:
        expr = f"convert_timezone('{tz}', {expr})"
    return _mysql_fmt_to_sql(expr, fmt)


def _ts_coerce(ts: str) -> str:
    """Timestamp operand coercion: the reference treats NUMERIC
    timestamp values as epoch MILLIS (its timestamp storage), where
    Spark's CAST(bigint AS TIMESTAMP) reads seconds."""
    if re.fullmatch(r"-?\d+", ts.strip()):
        return f"timestamp_millis({ts})"
    return f"CAST({ts} AS TIMESTAMP)"


def _ordinal_day_sql(expr: str) -> str:
    d = f"day({expr})"
    return (
        f"concat(CAST({d} AS STRING), CASE "
        f"WHEN {d} IN (11, 12, 13) THEN 'th' "
        f"WHEN {d} % 10 = 1 THEN 'st' "
        f"WHEN {d} % 10 = 2 THEN 'nd' "
        f"WHEN {d} % 10 = 3 THEN 'rd' ELSE 'th' END)"
    )


def _to_char_fn_sql(a: list[str], literals: list[str]) -> str | None:
    """ToCharFunction.java: the full PG template inventory
    (PGDateTimeTemplates.java — case-sensitive token spellings,
    padding rules, th/TH ordinal suffixes, quoted literals) compiled
    at rewrite time. Timestamp operands become one concat() of Spark
    built-ins (functions/pgformat.compile_to_sql — codegen, no UDF);
    interval-LITERAL operands constant-fold entirely (the reference
    formats ``0000-01-01T00:00 + period``, a year Spark timestamps
    cannot hold)."""
    from crate_spark.functions.pgformat import compile_to_sql, format_interval

    if len(a) != 2:
        return None
    fmt = _lit_value(a[1], literals)
    if fmt is None:
        return None
    # interval-literal first arg: INTERVAL __LIT__, __LIT__::interval,
    # or CAST(__LIT__ AS interval)
    im = re.fullmatch(
        r"(?:INTERVAL\s+__LIT_(\d+)__"
        r"|__LIT_(\d+)__\s*::\s*interval"
        r"|CAST\s*\(\s*__LIT_(\d+)__\s+AS\s+interval\s*\))",
        a[0].strip(),
        re.IGNORECASE,
    )
    if im:
        idx = int(next(g for g in im.groups() if g is not None))
        parsed = _parse_interval_literal(literals[idx][1:-1])
        if parsed is None:
            return None
        text = format_interval(_normalize_interval_fields(parsed), fmt)
        if text is None:
            return None
        return add_token(literals, "'" + text.replace("'", "''") + "'")
    # a MIXED interval literal was already text-folded to a plain
    # string by _fold_interval_literals, which wraps its output in a
    # no-op CAST(__LIT__ AS STRING) marker precisely so this fallback
    # fires ONLY on fold-produced renders — a user-written string that
    # merely LOOKS like an interval ('15:30:10') stays on the
    # timestamp path, matching the reference's signature resolution
    # (timestamp registered first, ToCharFunction.java:54) (ADVICE r9)
    fm = re.fullmatch(
        r"CAST\s*\(\s*__LIT_(\d+)__\s+AS\s+STRING\s*\)",
        a[0].strip(),
        re.IGNORECASE,
    )
    if fm:
        raw = literals[int(fm.group(1))][1:-1]
        parsed = _parse_interval_literal(raw)
        if parsed is not None:
            text = format_interval(_normalize_interval_fields(parsed), fmt)
            if text is not None:
                return add_token(literals, "'" + text.replace("'", "''") + "'")
    return compile_to_sql(_ts_coerce(a[0]), fmt)


def _parse_uri_sql(
    a: list[str], lits: list[str], with_params: bool = False
) -> str:
    """ParseURIFunction.java / ParseURLFunction.java object shape via
    Spark's parse_url parts, with the reference's DECODING semantics
    (r10 constant sweep): parse_uri uses java.net.URI getters — %XX
    decodes, '+' stays literal — while parse_url runs URLDecoder over
    userinfo/path/query/fragment ('+' becomes a space too). Typed INT
    port off the authority. parse_url additionally decomposes the RAW
    query into a ``parameters`` map of value ARRAYS: split on
    ``&(?!amp)`` (ParseURLFunction.parseQuery's html-escape quirk),
    keys AND values URL-decoded, repeated keys accumulate, valueless
    keys and empty ``k=`` values yield NULL (idx/length guards at
    ParseURLFunction.java:126-128)."""
    u = a[0]

    if with_params:
        # URLDecoder.decode: '+' -> space, %XX decodes
        def dec(s: str) -> str:
            return f"url_decode({s})"

    else:
        # java.net.URI getters: %XX decodes, '+' stays '+'
        plus = add_token(lits, "'+'")
        plus_enc = add_token(lits, "'%2B'")

        def dec(s: str) -> str:
            return f"url_decode(replace({s}, {plus}, {plus_enc}))"

    q = f"parse_url({u}, 'QUERY')"
    params = ""
    if with_params:
        eq = add_token(lits, "'='")
        amp_re = add_token(lits, "'&(?!amp)'")
        key = (
            f"CASE WHEN instr(__e, {eq}) > 1 THEN url_decode("
            f"substring(__e, 1, instr(__e, {eq}) - 1)) "
            f"ELSE url_decode(__e) END"
        )
        key_k = key.replace("__e", "__kv")
        val = (
            f"CASE WHEN instr(__e, {eq}) > 1 "
            f"AND length(__e) > instr(__e, {eq}) "
            f"THEN url_decode(substring(__e, instr(__e, {eq}) + 1)) END"
        )
        parts = f"split({q}, {amp_re})"
        params = (
            f"'parameters', CASE WHEN {q} IS NULL OR {q} = '' THEN NULL "
            f"ELSE map_from_entries(transform(array_distinct("
            f"transform({parts}, __kv -> {key_k})), "
            f"__k -> struct(__k, transform(filter({parts}, "
            f"__e -> ({key}) = __k), "
            f"__e -> {val})))) END, "
        )
    return (
        f"named_struct('scheme', parse_url({u}, 'PROTOCOL'), "
        f"'userinfo', {dec(f'parse_url({u}, %r)' % 'USERINFO')}, "
        f"'hostname', parse_url({u}, 'HOST'), "
        # Spark's parse_url has no PORT part; take it off AUTHORITY
        f"'port', CAST(nullif(regexp_extract(parse_url({u}, 'AUTHORITY'), "
        f"':(\\\\d+)$', 1), '') AS INT), "
        f"'path', {dec(f'parse_url({u}, %r)' % 'PATH')}, "
        f"'query', {dec(q)}, "
        f"{params}"
        f"'fragment', {dec(f'parse_url({u}, %r)' % 'REF')})"
    )


def _regexp_matches_sql(a: list[str], literals: list[str]) -> str | None:
    """MatchesFunction (scalar regexp_matches): array of the capture
    groups of the FIRST match, or [whole match] for group-free
    patterns; NULL when no match. Literal patterns only — the group
    count must be known at rewrite time."""
    if len(a) != 2:
        return None
    pat = _lit_value(a[1], literals)
    if pat is None:
        return None
    # count capturing groups: unescaped '(' not followed by '?'
    groups = len(re.findall(r"(?<!\\)\((?!\?)", pat))
    idxs = list(range(1, groups + 1)) if groups else [0]
    parts = ", ".join(f"regexp_extract({a[0]}, {a[1]}, {i})" for i in idxs)
    return f"(CASE WHEN {a[0]} RLIKE {a[1]} THEN array({parts}) END)"


def _geo_area_sql(a: list[str], literals: list[str]) -> str | None:
    """AreaFunction: spherical polygon area (m^2) of a WKT literal,
    unrolled at rewrite time like within()."""
    if len(a) != 1:
        return None
    verts = _wkt_polygon_vertices(a[0], literals)
    if verts is None:
        return None
    from crate_spark.functions.geo import spherical_area_sql

    return "(" + spherical_area_sql([(str(x), str(y)) for x, y in verts]) + ")"


def _geo_intersects_sql(a: list[str], literals: list[str]) -> str | None:
    """IntersectsFunction for the point-vs-polygon case (either order):
    containment via the same ray-cast as within(). Polygon-polygon
    needs a real geometry kernel — DataFrame API covers it
    (queries/geo.py); unsupported shapes pass through unchanged."""
    if len(a) != 2:
        return None
    for pt_arg, poly_arg in ((a[0], a[1]), (a[1], a[0])):
        pt = _geo_lonlat_checked(pt_arg, literals)
        verts = _wkt_polygon_vertices(poly_arg, literals)
        if pt is not None and verts is not None:
            from crate_spark.functions.geo import polygon_ray_cast_sql

            return "(" + polygon_ray_cast_sql(pt[0], pt[1], verts) + ")"
    return None


def _geo_lonlat_checked(arg: str, literals: list[str]) -> tuple[str, str] | None:
    """Like _geo_lonlat but only accepts a POINT literal or a plain
    column/array expression (not a non-POINT WKT literal)."""
    if re.fullmatch(r"__LIT_\d+__", arg.strip()):
        wkt = _lit_value(arg, literals) or ""
        if not re.match(r"\s*POINT\b", wkt, re.IGNORECASE):
            return None
    return _geo_lonlat(arg.strip(), literals)


def _wkt_polygon_vertices(arg: str, literals: list[str]) -> list[tuple] | None:
    wkt = _lit_value(arg, literals)
    if wkt is None:
        return None
    pm = re.fullmatch(r"\s*POLYGON\s*\(\s*\(([^()]*)\)\s*\)\s*", wkt, re.IGNORECASE)
    if not pm:
        return None
    try:
        vertices = [
            (float(x), float(y))
            for x, y in (pair.split() for pair in pm.group(1).split(","))
        ]
    except ValueError:
        return None
    if len(vertices) >= 2 and vertices[0] == vertices[-1]:
        vertices = vertices[:-1]
    return vertices if len(vertices) >= 3 else None


def _geohash_sql(a: list[str], literals: list[str]) -> str | None:
    """GeoHashFunction -> the registered ``__geohash`` pandas UDF
    (functions/geo.py bit-interleave; Arrow-batched — geohash has no
    Spark builtin). POINT literals resolve to plain doubles."""
    if len(a) != 1:
        return None
    pt = _geo_lonlat_checked(a[0], literals)
    if pt is None:
        return None
    return f"__geohash(CAST({pt[0]} AS DOUBLE), CAST({pt[1]} AS DOUBLE))"


def _geo_lonlat(arg: str, literals: list[str]) -> tuple[str, str] | None:
    """(lon, lat) SQL for a geo_point operand: a WKT 'POINT (x y)'
    literal or any [lon, lat] array expression."""
    m = re.fullmatch(r"__LIT_(\d+)__", arg)
    if m:
        wkt = literals[int(m.group(1))][1:-1]
        pm = re.fullmatch(
            r"\s*POINT\s*\(\s*(-?[\d.]+)\s+(-?[\d.]+)\s*\)\s*", wkt, re.IGNORECASE
        )
        if not pm:
            return None
        return pm.group(1), pm.group(2)
    return (
        f"CAST(element_at({arg}, 1) AS DOUBLE)",
        f"CAST(element_at({arg}, 2) AS DOUBLE)",
    )


def _geo_distance_sql(a: list[str], literals: list[str]) -> str | None:
    """Haversine great-circle metres — the same mean-radius constant
    and formula as functions.geo.geo_distance (GeoUtils haversine)."""
    if len(a) != 2:
        return None
    pa, pb = _geo_lonlat(a[0], literals), _geo_lonlat(a[1], literals)
    if pa is None or pb is None:
        return None
    (lon1, lat1), (lon2, lat2) = pa, pb
    return (
        f"(2.0 * 6371008.7714 * ASIN(LEAST(1.0, SQRT("
        f"POWER(SIN(RADIANS(({lat2}) - ({lat1})) / 2), 2)"
        f" + COS(RADIANS({lat1})) * COS(RADIANS({lat2}))"
        f" * POWER(SIN(RADIANS(({lon2}) - ({lon1})) / 2), 2)))))"
    )


def _geo_within_sql(a: list[str], literals: list[str]) -> str | None:
    """within(point, 'POLYGON ((...))') — the ray-cast containment of
    functions.geo.point_in_polygon unrolled at plan time
    (WithinFunction.java). Shape-literal × polygon-literal operands
    (LINESTRING/POLYGON within POLYGON, WithinFunctionTest
    testEvaluateShapeWithinShape) constant-fold entirely via the
    planar relate in functions.geo.shape_within_polygon (r10)."""
    if len(a) != 2:
        return None
    va, vb = _lit_value(a[0], literals), _lit_value(a[1], literals)
    if va is not None and vb is not None:
        from crate_spark.functions.geo import shape_within_polygon

        r = shape_within_polygon(va, vb)
        if r is not None:
            return "TRUE" if r else "FALSE"
    pt = _geo_lonlat(a[0], literals)
    m = re.fullmatch(r"__LIT_(\d+)__", a[1])
    if pt is None or not m:
        return None
    wkt = literals[int(m.group(1))][1:-1]
    pm = re.fullmatch(
        r"\s*POLYGON\s*\(\s*\(([^()]*)\)\s*\)\s*", wkt, re.IGNORECASE
    )
    if not pm:
        return None
    try:
        vertices = []
        for pair in pm.group(1).split(","):
            x, y = pair.split()
            vertices.append((float(x), float(y)))
    except ValueError:
        return None
    if len(vertices) >= 2 and vertices[0] == vertices[-1]:
        vertices = vertices[:-1]  # WKT rings repeat the first vertex
    if len(vertices) < 3:
        return None
    from crate_spark.functions.geo import polygon_ray_cast_sql

    return "(" + polygon_ray_cast_sql(pt[0], pt[1], vertices) + ")"


def _trunc_sql(a: list[str]) -> str | None:
    if len(a) == 1:
        return f"(CAST(CAST({a[0]} AS BIGINT) AS DOUBLE))"
    if len(a) == 2 and re.fullmatch(r"-?\d+", a[1].strip()):
        # negative digit counts truncate whole-number places toward
        # zero, like the reference (TruncFunctionTest.java:81
        # trunc(29.1947, -1) = 20.0)
        pow10 = f"1e{int(a[1])}"
        return f"(CAST(CAST(({a[0]}) * {pow10} AS BIGINT) AS DOUBLE) / {pow10})"
    return None  # trunc(date, 'MM') etc.: Spark's own trunc


def _engine_version_string() -> str:
    """The reference's version() render (VersionFunction.java
    formatVersion): ``CrateDB <v> (built <hash>/<ts>, <os>, <vm>)``.
    The engine substitutes its Spark runtime for the build/vm slots;
    computed once per process."""
    global _VERSION_STRING
    if _VERSION_STRING is None:
        import platform

        try:
            import pyspark

            built = f"built spark/{pyspark.__version__}"
        except Exception:  # pragma: no cover
            built = "built spark/unknown"
        _VERSION_STRING = (
            f"CrateDB 6.5.0 ({built}, "
            f"{platform.system()} {platform.release()} {platform.machine()}, "
            f"PySpark {platform.python_implementation()} "
            f"{platform.python_version()})"
        )
    return _VERSION_STRING


_VERSION_STRING: str | None = None

#: PG encoding identifiers by oid index
#: (PgEncodingToCharFunction.java private enum, pg_wchar.h order)
_PG_ENCODINGS = "'SQL_ASCII', 'EUC_JP', 'EUC_CN', 'EUC_KR', 'EUC_TW', 'EUC_JIS_2004', 'UTF8', 'MULE_INTERNAL', 'LATIN1', 'LATIN2', 'LATIN3', 'LATIN4', 'LATIN5', 'LATIN6', 'LATIN7', 'LATIN8', 'LATIN9', 'LATIN10', 'WIN1256', 'WIN1258', 'WIN866', 'WIN874', 'KOI8R', 'WIN1251', 'WIN1252', 'ISO_8859_5', 'ISO_8859_6', 'ISO_8859_7', 'ISO_8859_8', 'WIN1250', 'WIN1253', 'WIN1254', 'WIN1255', 'WIN1257', 'KOI8U', 'SJIS', 'BIG5', 'GBK', 'UHC', 'GB18030', 'JOHAB', 'SHIFT_JIS_2004'"


def _map_fn_sql(a: list[str], lits: list[str]) -> str | None:
    """MapFunction.java (``_map(k1, v1, ...)``): even key/value args
    build an OBJECT; keys stringify (``_map(10, 2)`` = {"10": 2}).
    Emitted as the engine's object representation
    (to_json(named_struct(...))). Non-literal keys stay unresolved —
    the reference accepts them but a text shim cannot name struct
    fields dynamically (declared divergence, fails loudly)."""
    if len(a) < 2 or len(a) % 2:
        return None
    parts = []
    for i in range(0, len(a), 2):
        k = a[i].strip()
        raw = _lit_value(k, lits)
        if raw is None:
            if re.fullmatch(r"[+-]?\d+(?:\.\d+)?", k):
                raw = k
            else:
                return None
        parts.append(f"{_str_token(lits, raw)}, {a[i + 1]}")
    return "to_json(named_struct(" + ", ".join(parts) + "))"


def _age_sql(a: list[str]) -> str | None:
    """Text expansion of functions.scalar.age (AgeFunction.java): the
    month count by field arithmetic with a borrow when the shifted
    anchor overshoots, then exact day/microsecond remainder. Catalyst's
    common-subexpression elimination dedupes the repeated operands."""
    if len(a) not in (1, 2):
        return None
    A = f"CAST({a[0]} AS TIMESTAMP)"
    B = f"CAST({a[1]} AS TIMESTAMP)" if len(a) == 2 else "current_timestamp()"

    def shift(m: str) -> str:
        return f"({B} + make_interval(0, {m}, 0, 0, 0, 0, 0))"

    raw = f"CAST((year({A}) - year({B})) * 12 + (month({A}) - month({B})) AS INT)"
    months = (
        f"({raw} - CAST(({raw} > 0 AND {shift(raw)} > {A}) AS INT)"
        f" + CAST(({raw} < 0 AND {shift(raw)} < {A}) AS INT))"
    )
    micros = f"(unix_micros({A}) - unix_micros({shift(months)}))"
    days = f"CAST({micros} / 86400000000 AS BIGINT)"
    rem = f"({micros} - {days} * 86400000000)"
    # the engine's IntervalType representation is the (months, days,
    # micros) struct of functions.scalar.interval_make — collectable
    # over Arrow, unlike a raw CalendarInterval
    # a NULL operand nulls the WHOLE interval, not a struct of nulls
    # (AgeFunctionTest: age(null) IS NULL)
    return (
        f"IF({A} IS NULL OR {B} IS NULL, "
        f"CAST(NULL AS STRUCT<months: BIGINT, days: BIGINT, "
        f"micros: BIGINT>), "
        f"named_struct('months', CAST({months} AS BIGINT), "
        f"'days', {days}, 'micros', {rem}))"
    )

#: a call, with an optional schema qualifier, plain or quoted — the
#: reference registers the `_FN_TEMPLATES` functions under
#: pg_catalog/information_schema and the docs spell them qualified
_FN_CALL_RE = re.compile(
    r"(?:`?\b(?:pg_catalog|information_schema)`?\s*\.\s*)?\b([A-Za-z_]\w*)\s*\(",
    re.IGNORECASE,
)


def _string_to_array_sql(a: list[str], literals: list[str]) -> str | None:
    """StringToArrayFunction: literal separators are regex-escaped for
    Spark's split; NULL-string elements become NULL. PG edge cases:
    NULL separator splits into characters, empty separator returns the
    whole string as a one-element array."""
    if len(a) not in (2, 3):
        return None
    sep = a[1]
    if sep.strip().upper() == "NULL":
        parts = f"split({a[0]}, {add_token(literals, chr(39) + '(?!$)' + chr(39))})"
    else:
        m = re.fullmatch(r"__LIT_(\d+)__", sep.strip())
        if m:
            raw = literals[int(m.group(1))][1:-1].replace("''", "'")
            if raw == "":
                parts = f"array({a[0]})"
            else:
                escaped = re.escape(raw).replace("'", "''").replace("\\", "\\\\")
                tok = add_token(literals, f"'{escaped}'")
                parts = f"split({a[0]}, {tok})"
        else:
            parts = f"split({a[0]}, {sep})"
    # PG: an EMPTY source string yields an EMPTY array, whatever the
    # separator (StringToArrayFunctionTest: string_to_array('', 'x')
    # is []; Spark's split('') gives ['']) — r10
    parts = f"(CASE WHEN {a[0]} = '' THEN array() ELSE {parts} END)"
    if len(a) == 2:
        return parts
    return f"transform({parts}, __x -> CASE WHEN __x <> {a[2]} THEN __x END)"


def _concat_sql(a: list[str], lits: list[str]) -> str | None:
    """ConcatFunction overloads, dispatched on argument shape:
    object literals (already ``to_json(named_struct(...))`` here)
    merge top-level keys right-wins; array operands keep Spark's
    concat; anything else is PG string concat, which SKIPS NULLs
    (Spark's concat returns NULL)."""
    if len(a) < 2:
        return None
    objs = [_named_struct_entries(x) for x in a]
    if all(o is not None for o in objs):
        merged: dict[str, str] = {}
        for entries in objs:
            merged.update(entries)
        body = ", ".join(f"{k}, {v}" for k, v in merged.items())
        return f"to_json(named_struct({body}))"
    _arrayish = re.compile(
        r"(array\w*|slice|split|sequence|transform|filter|flatten|collect_\w+|"
        r"sort_array|string_to_array)\s*\(",
        re.IGNORECASE,
    )
    if any(_arrayish.match(x.strip()) for x in a):
        return None  # array concat: Spark-native
    wrapped = ", ".join(f"coalesce(CAST({x} AS STRING), '')" for x in a)
    return f"concat({wrapped})"


def _named_struct_entries(text: str) -> dict[str, str] | None:
    """('key literal' -> value-expr text) of a to_json(named_struct(...))
    or named_struct(...) span; None if the text isn't one."""
    t = text.strip()
    if t.startswith("to_json(") and t.endswith(")"):
        t = t[len("to_json(") : -1].strip()
    if not (t.startswith("named_struct(") and t.endswith(")")):
        return None
    args = split_args(t[len("named_struct(") : -1])
    if len(args) % 2:
        return None
    return {args[i]: args[i + 1] for i in range(0, len(args), 2)}


def _substring_from_for_commas(sql: str) -> str:
    """``substring(x FROM a [FOR b])`` -> ``substring(x, a[, b])``:
    the SQL-standard keyword spelling normalized to the comma form, so
    the PG REGEX variant (non-numeric second arg,
    SubstrFunctionTest.java:106 ``substring('foobar' FROM 'o.b')``)
    reaches ``_substring_regex_sql`` and positional forms reach
    Spark's builtin unchanged. Top-level keywords only — a FROM inside
    a nested call is someone else's clause."""
    pat = re.compile(r"\bsubstr(?:ing)?\s*\(", re.IGNORECASE)
    kw = re.compile(r"\s+(FROM|FOR)\s+", re.IGNORECASE)
    out, i = [], 0
    while True:
        m = pat.search(sql, i)
        if not m:
            out.append(sql[i:])
            return "".join(out)
        close = find_close(sql, m.end() - 1)
        if close < 0:
            out.append(sql[i:])
            return "".join(out)
        inner = _substring_from_for_commas(sql[m.end() : close])
        # replace top-level FROM/FOR keywords with commas
        top = blank_groups(inner)
        out.append(sql[i : m.end()])
        out.append(kw.sub(lambda k: ", " if top[k.start(1)] != " " else k.group(0), inner))
        i = close


def _substring_regex_sql(a: list[str], lits: list[str]) -> str | None:
    """PG substring(string, pattern): when the 2nd arg is a STRING
    literal the call is the regex form — first match, group 1 if the
    pattern declares groups, NULL when no match. Numeric positions
    fall through to Spark's substring."""
    if len(a) != 2:
        return None
    pat = _lit_value(a[1], lits)
    if pat is None:
        return None
    groups = len(re.findall(r"(?<!\\)\((?!\?)", pat))
    idx = 1 if groups else 0
    return (
        f"(CASE WHEN {a[0]} RLIKE {a[1]} "
        f"THEN regexp_extract({a[0]}, {a[1]}, {idx}) END)"
    )


def _array_set_sql(a: list[str]) -> str | None:
    """ArraySetFunction: (arr, idx, val) single splice, or
    (arr, indexes[], values[]) multi-update that appends past the end
    and null-fills gaps (scalar-functions.rst array_set overloads).
    Repeated indexes resolve LAST-write-wins (ArraySetFunctionTest:
    array_set([1,2,3], [1,1,1], [1,2,3]) = [3,2,3]) and NULL
    index/value ARRAYS are a no-op (the scalar form's NULL index
    still nulls the result)."""
    if len(a) != 3:
        return None
    idx_s, val_s = a[1].strip(), a[2].strip()
    if idx_s.upper() == "NULL" and val_s.upper() == "NULL":
        return f"({a[0]})"
    if idx_s.startswith("array("):
        arr, idx, val = a
        rpos = f"array_position(reverse({idx}), CAST(__i AS INT))"
        pos = f"(size({idx}) + 1 - {rpos})"
        hi = f"greatest(size({arr}), coalesce(array_max({idx}), 0))"
        # sequence(1, 0) would run DESCENDING — an empty array with no
        # updates must stay empty
        return (
            f"(CASE WHEN {hi} < 1 THEN ({arr}) ELSE "
            f"transform(sequence(1, {hi}), "
            f"__i -> CASE WHEN {rpos} > 0 "
            f"THEN element_at({val}, CAST({pos} AS INT)) "
            f"WHEN __i <= size({arr}) THEN element_at({arr}, CAST(__i AS INT)) "
            f"END) END)"
        )
    return (
        f"concat(slice({a[0]}, 1, ({a[1]}) - 1), array({a[2]}), "
        f"slice({a[0]}, ({a[1]}) + 1, greatest(size({a[0]}) - ({a[1]}), 0)))"
    )


def _lit_array_depth(s: str) -> int:
    """Nesting depth of a rewritten array-literal expression (0 =
    not a recognizable literal, so the caller must trust the user's
    dimension argument)."""
    s = s.strip()
    if s.startswith("array(") and s.endswith(")"):
        inner = s[6:-1].strip()
        if not inner:
            return 1
        depths = [_lit_array_depth(x) for x in split_args(inner)]
        return 1 + max(depths)
    m = re.match(r"CAST\s*\(\s*array\s*\(\s*\)\s*AS\s+(.+)\)$", s,
                 re.IGNORECASE | re.DOTALL)
    if m:
        return m.group(1).upper().count("ARRAY<")
    return 0


def _array_dim_sql(a: list[str], kind: str) -> str | None:
    """array_upper/array_length/array_lower with an explicit
    dimension (ArrayUpperFunction.java upperBound /
    ArrayLowerFunction.java lowerBound): dim <= 0 or beyond a
    literal operand's nesting depth -> NULL; upper = MAX sub-array
    size at the dimension (ragged, null sub-arrays skipped), lower =
    1 unless any path hits a null/empty sub-array. Non-literal
    dimension args fall back to dim-1 semantics (Spark cannot
    introspect depth in a text shim)."""
    arr, dim_s = a[0], a[1].strip()
    if not re.fullmatch(r"[+-]?\d+", dim_s):
        return f"nullif(size({arr}), 0)"  # pre-r11 behavior
    dim = int(dim_s)
    if dim <= 0:
        return "CAST(NULL AS INT)"
    depth = _lit_array_depth(arr)
    if depth > 0 and dim > depth:
        return "CAST(NULL AS INT)"
    if kind == "upper":
        if dim == 1:
            return f"nullif(size({arr}), 0)"
        inner = arr
        for _ in range(dim - 2):  # flatten down to the target level
            inner = f"flatten({inner})"
        return (
            f"(CASE WHEN size({arr}) > 0 THEN "
            f"array_max(transform({inner}, __x -> size(__x))) END)"
        )
    # lower: every path down to `dim` must be non-null and non-empty
    def cond(expr: str, d: int) -> str:
        if d == 1:
            return f"size({expr}) > 0"
        return (
            f"size({expr}) > 0 AND forall({expr}, "
            f"__x{d} -> __x{d} IS NOT NULL AND {cond('__x' + str(d), d - 1)})"
        )

    return f"(CASE WHEN {cond(arr, dim)} THEN 1 END)"


def _rewrite_crate_fns(sql: str, literals: list[str]) -> str:
    """Expand crate-only function calls into Spark builtin expressions.
    Balanced-paren scan (regex alone can't find a call's closing paren);
    args are rewritten recursively BEFORE templating and emitted text is
    never re-scanned, so a template may safely reference the original
    name (array_position -> nullif(array_position(...), 0))."""
    m = next((m for m in _FN_CALL_RE.finditer(sql) if m.group(1).lower() in _FN_TEMPLATES), None)
    if not m:
        return sql
    close = find_close(sql, m.end() - 1)
    if close < 0:
        return sql  # unbalanced parens: bail untouched
    inner = _rewrite_crate_fns(sql[m.end() : close], literals)
    out = _FN_TEMPLATES[m.group(1).lower()](split_args(inner), literals)
    if out is None:  # unsupported arity: keep the call, args rewritten
        out = sql[m.start() : m.end()] + inner + ")"
    return sql[: m.start()] + out + _rewrite_crate_fns(sql[close + 1 :], literals)
#: pg_typeof(expr) -> Spark's typeof(expr) (type-name spellings differ:
#: Spark says 'bigint' where PG says 'int8' — documented divergence)
#: the schema-qualified spelling arrives as pg_catalog_pg_typeof
#: after the qualified-function flattening pass
_PG_TYPEOF_RE = re.compile(
    r"\b(?:pg_catalog_)?pg_typeof\s*\(", re.IGNORECASE
)


#: where an ORDER BY clause ends at depth 0: the close of its group, a
#: later clause, or a window frame (ROWS/RANGE/GROUPS)
_ORDER_BY_END = re.compile(
    r"\)|\b(?:LIMIT|OFFSET|FETCH|UNION|INTERSECT|EXCEPT|WINDOW|ROWS|RANGE|GROUPS)\b",
    re.IGNORECASE,
)


def _with_nulls_order(item: str) -> str:
    """An ORDER BY item with PG's default null order made explicit."""
    if not item or re.search(r"\bNULLS\s+(FIRST|LAST)\b", item, re.IGNORECASE):
        return item
    if re.search(r"\bDESC\b\s*$", item, re.IGNORECASE):
        return item + " NULLS FIRST"
    return item + " NULLS LAST"


def _rewrite_order_by(sql: str) -> str:
    """Inject PG default null ordering into ORDER BY items that don't
    specify one. Commas inside function calls don't split items; the
    clause stops at LIMIT/OFFSET/a window frame/its closing paren."""
    out = []
    i = 0
    while m := re.search(r"\bORDER\s+BY\b", sql[i:], re.IGNORECASE):
        start = i + m.end()
        out.append(sql[i:start])
        end = _ORDER_BY_END.search(blank_groups(sql[start:]))
        j = start + end.start() if end else len(sql)
        out.append(" " + ", ".join(_with_nulls_order(x) for x in split_args(sql[start:j])))
        if j < len(sql):
            out.append(" " if sql[j] not in ") " else "")
        i = j
    out.append(sql[i:])
    return "".join(out)


#: innermost object literal ``{k = v, ...}`` (AstBuilder objectLiteral;
#: docs/general/ddl/data-types: OBJECT literals). Keys are identifiers;
#: values are arbitrary expressions without nested braces (nesting is
#: handled by the inner-out loop in rewrite()).
_OBJ_LIT_RE = re.compile(r"\{\s*([A-Za-z_\"`]\w*`?\s*=\s*[^{}]*)\}")


def _obj_lit_sub(m: re.Match) -> str:
    """One object literal -> __OBJSTRUCT__('k1', v1, ...) marker; the
    marker becomes named_struct, with to_json() wrapped around only the
    OUTERMOST struct so nested objects stay nested (the engine's
    object representation is a JSON string — one encoding, at the top)."""
    parts = []
    for e in split_args(m.group(1)):
        km = re.match(r'\s*["`]?([A-Za-z_]\w*)["`]?\s*=\s*(.*)$', e, re.DOTALL)
        if not km:
            return m.group(0)  # not an object literal — leave alone
        parts.append(f"'{km.group(1)}'")
        parts.append(km.group(2).strip())
    return f"__OBJSTRUCT__({', '.join(parts)})"


def _finalize_obj_structs(sql: str) -> str:
    """Replace __OBJSTRUCT__ markers with named_struct, wrapping each
    OUTERMOST occurrence in to_json()."""
    tok = "__OBJSTRUCT__"
    out, i = [], 0
    while True:
        j = sql.find(tok, i)
        if j < 0:
            out.append(sql[i:])
            return "".join(out)
        k = find_close(sql, j + len(tok))
        if k < 0:
            k = len(sql)
        span = sql[j : k + 1].replace(tok, "named_struct")
        out.append(sql[i:j])
        out.append(f"to_json({span})")
        i = k + 1


def _struct_literal_subscripts(sql: str, literals: list[str]) -> str:
    """``to_json(named_struct(...))['k']['l']`` (an object LITERAL
    being subscripted — SubscriptObjectFunction on a literal) ->
    ``named_struct(...).k.l``: drop the JSON encoding and use typed
    struct field access. Handles the parenthesized literal form
    ``({k=v})['k']`` too. Word-shaped keys only (identifier grammar —
    matches the objectLiteral key rule the literal itself obeys)."""
    out, i = [], 0
    while True:
        j = sql.find("to_json(named_struct", i)
        if j < 0:
            out.append(sql[i:])
            return "".join(out)
        close = find_close(sql, j + len("to_json"))
        if close < 0:
            out.append(sql[i:])
            return "".join(out)
        k = close + 1
        while k < len(sql) and sql[k].isspace():
            k += 1
        # the literal may sit inside one pair of user parens — but a
        # '(' directly preceded by an identifier is usually a function
        # call's paren (coalesce({a=1})['a']), not a wrapper: splicing
        # it out would weld the call name onto named_struct. SQL
        # KEYWORDS before '(' (WHEN(, NOT(, AND(...) ARE wrappers.
        paren_open = -1
        lead = sql[:j].rstrip()
        lead_word = re.search(r"([A-Za-z_]\w*)\s*\($", lead)
        is_call = bool(lead_word) and lead_word.group(1).lower() not in {
            "when", "then", "else", "and", "or", "not", "in", "on",
            "where", "select", "having", "case", "by", "values",
            "from", "as", "set", "returning", "union", "all",
            "distinct", "if", "elseif", "end",
        }
        if (
            k < len(sql)
            and sql[k] == ")"
            and lead.endswith("(")
            and not is_call
        ):
            paren_open = len(lead) - 1
            k += 1
            while k < len(sql) and sql[k].isspace():
                k += 1
        if k >= len(sql) or sql[k] != "[":
            out.append(sql[i : close + 1])
            i = close + 1
            continue
        expr = sql[j + len("to_json(") : close]
        pos, ok, acc = k, True, expr
        while pos < len(sql) and sql[pos] == "[":
            end = sql.find("]", pos)
            if end < 0:
                ok = False
                break
            sub = sql[pos + 1 : end].strip()
            lm = re.fullmatch(r"__LIT_(\d+)__", sub)
            if lm:
                key = literals[int(lm.group(1))][1:-1]
                if not re.fullmatch(r"\w+", key):
                    ok = False
                    break
                acc = f"{acc}.{key}"
            elif sub.isdigit():
                # 1-based array index on a struct field's array value
                acc = f"element_at({acc}, {int(sub)})"
            else:
                ok = False
                break
            pos = end + 1
        if not ok:
            out.append(sql[i : close + 1])
            i = close + 1
            continue
        start = paren_open if paren_open >= 0 else j
        out.append(sql[i:start])
        if paren_open >= 0:
            # the spliced-out '(' may have glued a keyword to the
            # struct expression (WHEN( -> WHEN named_struct...)
            out.append(" ")
        out.append(acc)
        i = pos
    return "".join(out)


def _extract_field_pat(fields: str) -> "re.Pattern":
    """``EXTRACT(<field> FROM <operand>)`` with the operand matched at
    ANY paren nesting depth (named group ``x``)."""
    return _RE.compile(
        rf"\bEXTRACT\s*\(\s*(?:{fields})\s+FROM\s+"
        rf"(?P<x>{_body()}+)\)",
        re.IGNORECASE,
    )


#: EXTRACT fields whose reference semantics differ from Spark's
#: native extract (see the block comment at the use site):
#: EPOCH (PG fractional seconds), DOW/ISODOW/DAY_OF_WEEK (the
#: reference's DOW aliases DAY_OF_WEEK = ISO Monday=1..Sunday=7,
#: ExtractFunctions.java:178 — NOT PG's Sunday=0), CENTURY (Joda
#: centuryOfEra = year/100 truncation), SECOND (INTEGER
#: secondOfMinute, fraction dropped), DAY_OF_MONTH/DAY_OF_YEAR
#: (spellings Spark lacks). Spark's weekday() is Monday=0.
_EXTRACT_FIELD_REWRITES = [
    (_extract_field_pat("EPOCH"),
     r"(unix_micros(CAST(\g<x> AS TIMESTAMP)) / 1e6)"),
    (_extract_field_pat("ISODOW|DOW|DAY_OF_WEEK"),
     r"(weekday(CAST(\g<x> AS TIMESTAMP)) + 1)"),
    (_extract_field_pat("CENTURY"),
     r"CAST(floor(year(CAST(\g<x> AS TIMESTAMP)) / 100) AS INT)"),
    (_extract_field_pat("SECOND"),
     r"CAST(floor(EXTRACT(SECOND FROM \g<x>)) AS INT)"),
    (_extract_field_pat("DAY_OF_MONTH"),
     r"day(CAST(\g<x> AS TIMESTAMP))"),
    (_extract_field_pat("DAY_OF_YEAR"),
     r"dayofyear(CAST(\g<x> AS TIMESTAMP))"),
]


#: unit spellings Spark's own interval-string parser accepts — a
#: pass-through literal must stay inside this set (anything else is
#: rebuilt from the parsed fields; see _fold_interval_literals)
_SPARK_IV_UNITS = {
    "interval", "year", "years", "month", "months", "week", "weeks",
    "day", "days", "hour", "hours", "minute", "minutes", "second",
    "seconds", "millisecond", "milliseconds", "microsecond",
    "microseconds",
}

#: interval literal unit spellings -> canonical slot (PG/crate parser:
#: sql-parser IntervalLiteral; millennium/century/decade omitted like
#: the reference's Period mapping)
_IV_UNIT_SLOTS = {
    "y": "years", "yr": "years", "yrs": "years", "year": "years",
    "years": "years",
    "mon": "months", "mons": "months", "month": "months",
    "months": "months",
    "w": "weeks", "week": "weeks", "weeks": "weeks",
    "d": "days", "day": "days", "days": "days",
    "h": "hours", "hr": "hours", "hrs": "hours", "hour": "hours",
    "hours": "hours",
    "m": "minutes", "min": "minutes", "mins": "minutes",
    "minute": "minutes", "minutes": "minutes",
    "s": "seconds", "sec": "seconds", "secs": "seconds",
    "second": "seconds", "seconds": "seconds",
    "ms": "millis", "msec": "millis", "msecs": "millis",
    "millisecond": "millis", "milliseconds": "millis",
    "microsecond": "micros", "microseconds": "micros",
}


def _trunc_divmod(a: int, b: int) -> tuple[int, int]:
    """divmod with truncation toward zero (Java/Joda field-split
    semantics): the remainder carries the dividend's sign, so
    -90 s -> (-1 min, -30 s), not Python's floor (-2 min, +30 s)."""
    q = int(a / b) if b else 0
    return q, a - q * b


def _sec_ms_parts(txt: str) -> tuple[int, int]:
    """'-3.30' -> (-3, -300): integer seconds plus milliseconds
    truncated at ms precision, exact decimal-string math like the
    reference's BigDecimal split (IntervalParser.parseMilliSeconds)."""
    neg = txt.strip().startswith("-")
    whole, _, frac = txt.strip().lstrip("+-").partition(".")
    s = int(whole or "0")
    ms = int((frac + "000")[:3]) if frac else 0
    return (-s, -ms) if neg else (s, ms)


def _parse_interval_literal_ex(text: str):
    """Interval text -> ((years, months, days, hours, minutes,
    seconds-float), used_shorthand) with the reference parsers'
    ACCEPTANCE rules, or None for anything they reject
    (IntervalParser.java parser chain; semantics pinned by
    IntervalParserTest.java):

    - SQL-standard shorthand ``[Y-M] [D] [H:M[:S]]`` — a leading sign
      on a segment negates the whole segment ('-120-1 -1 -15:30' is
      -120y -1mo -1d -15h -30m; SQLStandardIntervalParser.java:111);
      unit words may not mix with it; a lone bare number is seconds.
    - PG unit-word lists ('1 year 2 mons ...'), optionally ending in
      an ``H:M[:S[.fff]]`` tail. Values for units other than seconds
      must be integers (Integer.parseInt — '1.5 hours' is an invalid
      interval, NOT 1 hour); fractional milliseconds truncate toward
      zero (IntervalParser.parseInteger).
    - Repeated units are invalid ('1 hour 2 hours'), with the
      reference's literal ``> 0`` guard quirk: a zero or negative
      first value may be silently overwritten (PGIntervalParser.java
      switch cases); days/weeks use strict seen-flags.

    Raw field values are returned (normalization is the caller's
    job via ``_normalize_interval_fields``)."""
    t = text.strip().lower()
    if not t:
        return None
    # PG verbose form: '@ 1 year 2 mons ... [ago]' — '@' strips, a
    # trailing 'ago' negates the whole period
    # (PGIntervalParser.java:46-57, IntervalParserTest.java:190-218)
    negate = False
    if t.startswith("@"):
        t = t[1:].strip()
        if t.endswith("ago"):
            t = t[: -len("ago")].strip()
            negate = True
        if not t:
            return None
        parsed = _parse_interval_literal_ex(t)
        if parsed is None:
            return None
        (y, mo, d, h, mi, s), shorthand = parsed
        if negate:
            y, mo, d, h, mi, s = -y, -mo, -d, -h, -mi, -s
        # the verbose spelling itself is un-Spark-parseable: fold
        return (y, mo, d, h, mi, s), True
    # ISO-8601 period form (IntervalParser.java:87 tries Joda's
    # ISOPeriodFormat.standard() second in the chain): P[nY][nM][nW]
    # [nD][T[nH][nM][n[.f]S]], leading '-' negates the whole period
    iso = re.fullmatch(
        r"(-?)p(?:(\d+)y)?(?:(\d+)m)?(?:(\d+)w)?(?:(\d+)d)?"
        r"(?:t(?:(\d+)h)?(?:(\d+)m)?(?:(\d+(?:\.\d+)?)s)?)?",
        t,
    )
    if iso and any(iso.group(g) for g in range(2, 9)):
        sign = -1 if iso.group(1) else 1
        g = lambda i: int(iso.group(i) or 0)  # noqa: E731
        sec_i, ms_i = _sec_ms_parts(iso.group(8) or "0")
        return (
            (
                sign * g(2),
                sign * g(3),
                sign * (g(5) + 7 * g(4)),
                sign * g(6),
                sign * g(7),
                sign * (sec_i + ms_i / 1000.0),
            ),
            True,  # Spark cannot parse ISO periods: always fold
        )
    y = mo = d = h = mi = 0
    # one shared milliseconds slot, like the reference's milliSeconds
    # variable: a fractional seconds value fills it (truncated at ms
    # precision, parseMilliSeconds), making a later ms unit a repeat
    sec_i = ms_i = us = 0
    days_parsed = weeks_parsed = time_parsed = False
    used_words = used_shorthand = False
    ym = re.match(r"^([+-]?)(\d+)-(\d+)(?!\S)", t)
    if ym:
        sign = -1 if ym.group(1) == "-" else 1
        y, mo = sign * int(ym.group(2)), sign * int(ym.group(3))
        used_shorthand = True
        t = t[ym.end():].strip()
    while t:
        m = re.match(r"^([+-]?\d+(?:\.\d+)?)\s*([a-z]+)\b", t)
        if m:
            if used_shorthand:
                # unit words never mix with the Y-M/D/H:M:S shorthand
                # (both reference parsers reject the combination)
                return None
            unit = _IV_UNIT_SLOTS.get(m.group(2))
            if unit is None:
                return None
            frac = "." in m.group(1)
            v = float(m.group(1))
            if unit == "years":
                if frac or y > 0:
                    return None
                y = int(v)
            elif unit == "months":
                if frac or mo > 0:
                    return None
                mo = int(v)
            elif unit == "weeks":
                if frac or weeks_parsed:
                    return None
                d += 7 * int(v)
                weeks_parsed = True
            elif unit == "days":
                if frac or days_parsed:
                    return None
                d += int(v)
                days_parsed = True
            elif unit == "hours":
                if frac or h > 0:
                    return None
                h = int(v)
                time_parsed = True
            elif unit == "minutes":
                if frac or mi > 0:
                    return None
                mi = int(v)
                time_parsed = True
            elif unit == "seconds":
                if sec_i > 0 or ms_i > 0:
                    return None
                sec_i, ms_i = _sec_ms_parts(m.group(1))
                time_parsed = True
            elif unit == "millis":  # a fraction truncates toward zero
                if ms_i > 0:
                    return None
                ms_i = int(v)
                time_parsed = True
            else:  # micros, likewise
                if us > 0:
                    return None
                us = int(v)
                time_parsed = True
            used_words = True
            t = t[m.end():].strip()
            continue
        m = re.match(
            r"^([+-]?)(\d+):([+-]?)(\d+)(?::([+-]?)(\d+(?:\.\d+)?))?$", t
        )
        if m:
            if time_parsed:
                return None
            sign = -1 if m.group(1) == "-" else 1

            def _fsig(sgn: str) -> int:
                # a per-field sign (the Joda PERIOD_FORMATTER render
                # prints '00:-01:-30') wins; else the leading sign
                # propagates (SQLStandardIntervalParser semantics)
                return -1 if sgn == "-" else 1 if sgn == "+" else sign

            h = sign * int(m.group(2))
            mi = _fsig(m.group(3)) * int(m.group(4))
            if m.group(6):
                sec_i, ms_i = _sec_ms_parts(m.group(6))
                ssig = _fsig(m.group(5))
                sec_i, ms_i = ssig * sec_i, ssig * ms_i
            if not used_words:
                used_shorthand = True
            t = ""
            continue
        m = re.match(r"^([+-]?)(\d+)(?!\S)", t)
        if m and not used_words and not days_parsed:
            sign = -1 if m.group(1) == "-" else 1
            rest = t[m.end():].strip()
            if not rest and not used_shorthand:
                # a lone bare number is seconds (PG)
                sec_i = sign * int(m.group(2))
                used_shorthand = True
                t = ""
                continue
            if used_shorthand or re.match(r"^[+-]?\d+:\d+", rest):
                # day count: after Y-M, or ahead of an H:M[:S] tail
                d = sign * int(m.group(2))
                days_parsed = used_shorthand = True
                t = rest
                continue
            return None
        return None
    s = sec_i + ms_i / 1000.0 + us / 1_000_000
    return (y, mo, d, h, mi, s), used_shorthand


def _parse_interval_literal(text: str):
    """``_parse_interval_literal_ex`` without the shorthand flag."""
    parsed = _parse_interval_literal_ex(text)
    return parsed[0] if parsed is not None else None


def _normalize_interval_fields(parts):
    """Joda ``Period.normalizedStandard(yearMonthDayTime)``, applied by
    the reference at interval parse time (IntervalParser.java:96): the
    day-time fields (days included) collapse to total milliseconds and
    re-split with truncation toward zero — every field keeps the
    total's sign, so '-90 seconds' is -1 min -30 s (not -2 min +30 s)
    — and months overflow into years with truncating division
    ('25 months' -> 2 years 1 mon). The doc NOTE's example holds:
    14 years / 1250 days / 49 hours -> day = 1252."""
    y, mo, d, h, mi, s = parts
    total_months = y * 12 + mo
    y, mo = _trunc_divmod(total_months, 12)
    total_ms = round(((d * 24 + h) * 60 + mi) * 60_000 + s * 1000)
    d, rest = _trunc_divmod(total_ms, 86_400_000)
    h, rest = _trunc_divmod(rest, 3_600_000)
    mi, rest = _trunc_divmod(rest, 60_000)
    return y, mo, d, h, mi, rest / 1000.0


def _struct_array_literal_subscripts(sql: str, literals: list[str]) -> str:
    """``[{k=v}, {k=w}][i]['k']`` — an ARRAY of object literals
    subscripted then key-accessed (SubscriptFunction on
    array(object)). By this point each element is
    ``to_json(named_struct(...))`` (a JSON string), so a ['k'] on the
    element_at result would fail in Spark; strip the JSON encoding
    from EVERY element and use typed struct access:
    ``element_at(array(named_struct(...), ...), i).k``. Only fires
    when a string-key subscript follows the index — a bare ``[i]``
    correctly returns the object's JSON encoding."""
    out, i = [], 0
    while True:
        j = sql.find("array(", i)
        if j < 0:
            out.append(sql[i:])
            return "".join(out)
        close = find_close(sql, j + len("array"))
        if close < 0:
            out.append(sql[i:])
            return "".join(out)
        args = split_args(sql[j + len("array(") : close])
        entries = [_named_struct_entries(x) for x in args]
        k = close + 1
        while k < len(sql) and sql[k].isspace():
            k += 1
        if any(e is None for e in entries) or k >= len(sql) or sql[k] != "[":
            out.append(sql[i : j + len("array(")])
            i = j + len("array(")
            continue
        stripped = ", ".join(
            x.strip()[len("to_json(") : -1]
            if x.strip().startswith("to_json(")
            else x.strip()
            for x in args
        )
        # subscript chain: index first, then at least one word key
        pos, ok, acc, saw_key = k, True, f"array({stripped})", False
        while pos < len(sql) and sql[pos] == "[":
            end = sql.find("]", pos)
            if end < 0:
                ok = False
                break
            sub = sql[pos + 1 : end].strip()
            lm = re.fullmatch(r"__LIT_(\d+)__", sub)
            if lm:
                key = literals[int(lm.group(1))][1:-1]
                if not re.fullmatch(r"\w+", key):
                    ok = False
                    break
                acc = f"{acc}.{key}"
                saw_key = True
            elif sub.isdigit():
                acc = f"element_at({acc}, {int(sub)})"
            else:
                ok = False
                break
            pos = end + 1
        if not ok or not saw_key:
            out.append(sql[i : j + len("array(")])
            i = j + len("array(")
            continue
        out.append(sql[i:j])
        out.append(acc)
        i = pos
    return "".join(out)


def _map_cast_as_types(sql: str) -> str:
    """Map the target of each ``[TRY_]CAST(x AS <type>)`` span through
    ``cast_type`` (bare varchar -> STRING, int8 -> BIGINT, ...). Anchored
    to CAST spans so an alias that happens to be named like a type is
    never rewritten; a target the parser does not read
    (``STRUCT<a:INT>``) stays as written."""
    pos = 0
    while True:
        m = re.search(r"\b(?:TRY_)?CAST\s*\(", sql[pos:], re.IGNORECASE)
        if not m:
            return sql
        open_idx = pos + m.end() - 1
        close = find_close(sql, open_idx)
        if close < 0:
            return sql
        inner = sql[open_idx + 1 : close]
        # the first top-level `AS` (any whitespace around it — ADVICE
        # r7: `CAST(x AS\n varchar)` maps too) from which one spelling
        # runs to the closing paren separates operand from target
        for am in re.finditer(r"(?<=\s)AS(?=\s)", inner, re.IGNORECASE):
            if inner.count("(", 0, am.start()) != inner.count(")", 0, am.start()):
                continue
            read = parse_type(inner, am.end())
            if read is not None and not inner[read[1] :].strip():
                target = cast_type(read[0])
                if target != read[0].text:
                    sql = sql[: open_idx + 1] + inner[: am.start()] + "AS " + target + sql[close:]
                break
        # continue INSIDE the span so nested CASTs are visited too
        pos = open_idx + 1


#: a literal after a word or a closing bracket: where a typed literal's
#: spelling ends (``double precision '1'``, ``numeric(5) '1'``)
_LIT_AFTER_WORD = re.compile(r"[\w)\]]\s+(__LIT_\d+__)")
_WORD_START = re.compile(r"(?<![\w.`$])[A-Za-z_]")
#: the typed literals Spark reads itself
_SPARK_LITERALS = ("date", "timestamp", "timestamp_ntz", "interval")


def _typed_literals(sql: str) -> str:
    """``<type> 'value'`` -> ``CAST('value' AS <type>)`` for every scalar
    spelling (data-types.rst); DATE, TIMESTAMP, TIMESTAMP_NTZ and
    INTERVAL literals are Spark-native and stay."""
    out, last = [], 0
    for m in _LIT_AFTER_WORD.finditer(sql):
        typed = _literal_type(sql, m.start(1), last)
        if typed is None:
            continue
        start, spec = typed
        if spec.element is None and spec.text.lower() not in _SPARK_LITERALS:
            out += [sql[last:start], f"CAST({m.group(1)} AS {cast_type(spec).upper()})"]
            last = m.end()
    return "".join(out) + sql[last:]


def _literal_type(sql: str, lit: int, lo: int = 0):
    """``(start, TypeSpec)`` of the type spelling that runs up to the
    literal at ``lit`` (a typed literal's type), read from the leftmost
    word after ``lo`` that reads one; None when no spelling does."""
    for w in _WORD_START.finditer(sql, max(lo, lit - 64), lit):
        read = parse_type(sql, w.start())
        if read is not None and not sql[read[1]:lit].strip():
            return w.start(), read[0]
    return None


#: a name that marks a tz column (ts_tz / *_timestamptz — the docs' convention)
_TZ_NAME = re.compile(r"(?:^|\W)\w*_(?:timestamp)?tz\b", re.I)


def _zoned(operand: str) -> bool:
    """Whether an operand reads as WITH time zone, textually (the rewrite
    has no schema): a tz column name, or a zoned spelling other than a
    bare ``timestamp``, which PG reads without a zone."""
    return bool(_TZ_NAME.search(operand)) or any(
        (read := parse_type(operand, w.start())) is not None
        and read[0].row is not None
        and read[0].row.name.endswith("with time zone")
        and read[0].text.lower() != "timestamp"
        for w in _WORD_START.finditer(operand)
    )


_AT_TIME_ZONE = re.compile(r"\s+AT\s+TIME\s+ZONE\s+(__LIT_\d+__)", re.I)
#: a subscript base or a number, with any subscripts after it
_AT_TIME_ZONE_OPERAND = _RE.compile(
    rf"(?:{_sub_base()}|(?<![\w.`])\d+(?:\.\d+)?)(?:\s*\[[^\[\]]*\])*"
)
_CAST_ARROW = re.compile(r"\s*::\s*")


def _at_time_zone(sql: str) -> str:
    """``expr AT TIME ZONE 'z'`` (PG; data-types.rst): a WITH-tz operand
    renders as z-local wall time; a WITHOUT-tz operand is a wall clock
    INTERPRETED in z -> UTC instant (direction split like timezone();
    tz-ness detected textually by the *_tz naming or an explicit cast
    spelling). The operand is a name, call, parenthesised group, number,
    typed literal or ``CASE … END`` block with its subscripts and the
    ``::type`` chain after it, which binds tighter than AT TIME ZONE;
    the chain stays for the ``::`` pass to rewrite."""
    if not _AT_TIME_ZONE.search(sql):
        return sql
    pos = 0
    while m := _AT_TIME_ZONE_OPERAND.search(sql, pos):
        start, end = m.start(), m.end()
        while (c := _CAST_ARROW.match(sql, end)) and (read := parse_type(sql, c.end())):
            end = read[1]
        z = _AT_TIME_ZONE.match(sql, end)
        if z is None:
            pos = start + 1
            continue
        if re.fullmatch(r"__LIT_\d+__", m.group(0)) and (typed := _literal_type(sql, start)):
            start = typed[0]
        elif m.group(0).upper() == "END" and (case := _open_case(sql, start)) is not None:
            start = case
        operand = sql[start:end]
        fn = "from_utc_timestamp" if _zoned(operand) else "to_utc_timestamp"
        # a chained AT TIME ZONE takes this call as its operand
        sql = f"{sql[:start]}{fn}(CAST({operand} AS TIMESTAMP), {z.group(1)}){sql[z.end():]}"
        pos = start
    return sql


_LIT_CAST = re.compile(r"__LIT_(\d+)__\s*::\s*|\bCAST\s*\(\s*__LIT_(\d+)__\s+AS\s+", re.I)


def _array_literal_casts(sql: str, literals: list[str]) -> str:
    """PG array-input literals cast to arrays (``'{a, b}'::ARRAY(TEXT)``,
    ``'{a,abc}'::text[]``, ``CAST('{..}' AS array(<t>))``): the string
    parses as PG array-input syntax and the element type applies on top
    (CastFunctionTest test_str_value_to_text_array)."""
    out, last = [], 0
    for m in _LIT_CAST.finditer(sql):
        body = literals[int(m.group(1) or m.group(2))][1:-1].replace("''", "'").strip()
        read = parse_type(sql, m.end())
        if not (body.startswith("{") and body.endswith("}")) or read is None:
            continue
        spec, end = read
        close = re.compile(r"\s*\)").match(sql, end) if m.group(2) else None
        if spec.element is None or m.group(2) and close is None:
            continue
        arr = _pg_array_literal_to_sql(body)
        elem = cast_type(spec.element)
        out += [sql[last:m.start()], arr if elem.upper() == "STRING" else f"CAST({arr} AS ARRAY<{elem}>)"]
        last = close.end() if close else end
    return "".join(out) + sql[last:]


def _rewrite_array_subquery(sql: str) -> str:
    """``ARRAY(SELECT expr FROM ... [ORDER BY o [DESC]] [LIMIT n])``
    (reference ``expression/scalar/arithmetic/ArrayFunction`` subquery
    form / PG array constructor) -> a scalar subquery collecting into
    an array. Ordered form keeps order via array_sort over
    (order-key, value) structs — collect_list alone has no ordering
    guarantee after shuffles. NULL elements survive (struct-wrapped)."""
    m = re.search(r"\bARRAY\s*\(\s*SELECT\b", sql, re.IGNORECASE)
    if not m:
        return sql
    open_idx = sql.index("(", m.start())
    close = find_close(sql, open_idx)
    if close < 0:
        return sql
    inner = _rewrite_array_subquery(sql[open_idx + 1 : close])
    top = blank_groups(inner)
    # single select expression up to the depth-0 FROM
    fm = re.search(r"\bFROM\b", top, re.IGNORECASE)
    if not fm:
        return sql
    expr = re.sub(r"^\s*SELECT\s+", "", inner[: fm.start()], flags=re.IGNORECASE).strip()
    rest = inner[fm.start() :]
    # depth-0 ORDER BY / LIMIT tail
    ob = re.search(r"\bORDER\s+BY\b", top[fm.start() :], re.IGNORECASE)
    if ob:
        tail = rest[ob.end() :].strip()
        base = rest[: ob.start()]
        lm = re.search(r"\bLIMIT\s+(\d+)\s*$", tail, re.IGNORECASE)
        limit = None
        if lm:
            limit = lm.group(1)
            tail = tail[: lm.start()].strip()
        desc = bool(re.search(r"\bDESC\s*$", tail, re.IGNORECASE))
        ordexpr = re.sub(r"\b(ASC|DESC)\s*$", "", tail, flags=re.IGNORECASE).strip()
        sub = f"SELECT ({ordexpr}) AS __o, ({expr}) AS __v {base}"
        if limit:
            sub += f" ORDER BY __o {'DESC' if desc else 'ASC'} LIMIT {limit}"
        arr = "transform(array_sort(collect_list(struct(__o, __v))), __s -> __s.__v)"
        if desc:
            arr = f"reverse({arr})"
        out = f"(SELECT {arr} FROM ({sub}) __arr_sub)"
    else:
        sub = f"SELECT ({expr}) AS __v {rest}"
        out = (
            "(SELECT transform(collect_list(struct(__v)), __s -> __s.__v) "
            f"FROM ({sub}) __arr_sub)"
        )
    return sql[: m.start()] + out + _rewrite_array_subquery(sql[close + 1 :])


def _rewrite_unnest_tvf(sql: str) -> str:
    """``FROM unnest(a[, b...])`` (UnnestFunction.java) -> Spark's
    explode/inline TVFs. Single array -> explode; multiple arrays zip
    with NULL padding -> inline(arrays_zip(...))."""
    out = []
    i = 0
    while True:
        m = re.search(r"\b(FROM\s+|JOIN\s+|,\s*)unnest\s*\(", sql[i:], re.IGNORECASE)
        if not m:
            out.append(sql[i:])
            return "".join(out)
        start = i + m.start()
        open_idx = i + m.end() - 1
        close = find_close(sql, open_idx)
        if close < 0:  # unbalanced: bail
            out.append(sql[i:])
            return "".join(out)
        inner = sql[open_idx + 1 : close]
        # several arrays => multi-arg zip form
        multi = len(split_args(inner)) > 1
        fn = f"inline(arrays_zip({inner}))" if multi else f"explode({inner})"
        out.append(sql[i:start] + m.group(1) + fn)
        i = close + 1
    return "".join(out)


#: keywords that must never be mistaken for a TVF alias
_TVF_KW = {
    "where", "group", "order", "limit", "offset", "fetch", "having",
    "join", "inner", "left", "right", "full", "cross", "on", "union",
    "intersect", "except", "as",
}

_SERIES_TVF_RE = re.compile(
    r"\b(FROM\s+|JOIN\s+|,\s*)(?:pg_catalog\.)?"
    r"(generate_series|generate_subscripts|regexp_matches)\s*\(",
    re.IGNORECASE,
)


def _step_sign(step: str, literals: list[str]) -> int | None:
    """Sign of a series step when decidable at rewrite time: a signed
    numeric literal, or an interval literal (masked text)."""
    s = step.strip()
    m = re.fullmatch(r"([+-]?)\s*\d+(\.\d+)?D?", s)
    if m:
        return -1 if m.group(1) == "-" else 1
    if re.search(r"\binterval\b", s, re.IGNORECASE) or "__LIT_" in s:
        lit = re.search(r"__LIT_(\d+)__", s)
        if lit:
            return -1 if "-" in literals[int(lit.group(1))] else 1
    return None


def _srf_body(fn: str, a: list[str], literals: list[str]) -> str | None:
    """The explode(...) generator expression for one set-returning
    function call — shared by the FROM-position relation rewrite and
    the SELECT-position (ProjectSet) rewrite."""
    if fn == "generate_series":
        if len(a) == 2:
            guard = f"CASE WHEN {a[0]} <= {a[1]} THEN sequence({a[0]}, {a[1]}) END"
        elif len(a) == 3:
            seq = f"sequence({a[0]}, {a[1]}, {a[2]})"
            sign = _step_sign(a[2], literals)
            if sign == 1:
                guard = f"CASE WHEN {a[0]} <= {a[1]} THEN {seq} END"
            elif sign == -1:
                guard = f"CASE WHEN {a[0]} >= {a[1]} THEN {seq} END"
            else:
                guard = (
                    f"CASE WHEN ({a[2]}) > 0 AND {a[0]} <= {a[1]} THEN {seq} "
                    f"WHEN ({a[2]}) < 0 AND {a[0]} >= {a[1]} THEN {seq} END"
                )
        else:
            return None
        return f"explode({guard})"
    if fn == "generate_subscripts":
        if len(a) not in (2, 3):
            return None
        dim = a[1].strip()
        if not dim.isdigit() or not 1 <= int(dim) <= 3:
            return None
        arr = a[0]
        for _ in range(int(dim) - 1):
            arr = f"element_at({arr}, 1)"
        rev = len(a) == 3 and a[2].strip().lower() == "true"
        seq = (
            f"sequence(size({arr}), 1, -1)" if rev else f"sequence(1, size({arr}))"
        )
        return f"explode(CASE WHEN size({arr}) >= 1 THEN {seq} END)"
    # regexp_matches
    if len(a) not in (2, 3):
        return None
    flags = _lit_value(a[2], literals) if len(a) == 3 else ""
    if flags is None:
        return None
    pat = _lit_value(a[1], literals)
    if pat is None:
        return None
    p = _regex_inline_flags(flags, a[1])
    groups = len(re.findall(r"(?<!\\)\((?!\?)", pat))
    idxs = list(range(1, groups + 1)) if groups else [0]
    if "g" in flags:
        # one row per match: re-extract groups from each whole match
        parts = ", ".join(f"regexp_extract(__m, {p}, {i})" for i in idxs)
        return (
            f"explode(transform(regexp_extract_all({a[0]}, {p}, 0), "
            f"__m -> array({parts})))"
        )
    parts = ", ".join(f"regexp_extract({a[0]}, {p}, {i})" for i in idxs)
    return (
        f"explode(CASE WHEN {a[0]} RLIKE {p} THEN array(array({parts})) END)"
    )


def _is_select_item(sql: str, pos: int) -> bool:
    """True when the expression starting at ``pos`` begins a
    SELECT-list item (directly after SELECT/DISTINCT or a comma) —
    the only place a projection SRF may expand to a generator."""
    before = sql[:pos].rstrip()
    return bool(
        re.search(r"(?i)(\bSELECT|\bDISTINCT|,)$", before)
    ) or not before


def _inside_call(sql: str, pos: int) -> bool:
    """True when sql[pos] sits inside a FUNCTION-CALL argument list
    (its enclosing '(' is preceded by an identifier). Subquery /
    grouping parens don't count — an SRF there is still a projection
    generator; one nested in a function call must stay scalar."""
    depth = 0
    for i in range(pos - 1, -1, -1):
        c = sql[i]
        if c == ")":
            depth += 1
        elif c == "(":
            if depth == 0:
                j = i - 1
                while j >= 0 and sql[j].isspace():
                    j -= 1
                k = j
                while k >= 0 and (sql[k].isalnum() or sql[k] == "_"):
                    k -= 1
                word = sql[k + 1 : j + 1]
                return bool(word) and word.upper() not in (
                    "SELECT", "WHERE", "VALUES", "IN", "ON", "AND", "OR",
                    "NOT", "THEN", "ELSE", "WHEN", "FROM", "AS", "JOIN",
                    "LATERAL", "UNION", "ALL", "BY", "HAVING", "EXISTS",
                )
            depth -= 1
    return False


_SELECT_SRF_RE = re.compile(
    r"(?:\b(?:pg_catalog|information_schema)\s*\.\s*)?"
    r"\b(generate_series|generate_subscripts|regexp_matches|_pg_expandarray)"
    r"\s*\(",
    re.IGNORECASE,
)


def _rewrite_select_srfs(sql: str, literals: list[str]) -> str:
    """Set-returning functions in the SELECT list (reference
    ProjectSet/table-functions-scalar): after the FROM-position pass
    consumed relation usages, any remaining generate_series /
    generate_subscripts / regexp_matches / _pg_expandarray call is a
    projection SRF -> the same explode() generator inline. A
    SUBSCRIPTED regexp_matches keeps the scalar form (the template
    path) — explode(...)[i] doesn't parse. Multiple unnest() items in
    one SELECT list zip with NULL padding (PG multi-SRF semantics) via
    inline(arrays_zip(...))."""
    # multi-unnest zip: unnest(A) [AS x], unnest(B) [AS y], ...
    done = []
    while True:
        m = re.search(r"\bunnest\s*\(", sql, re.IGNORECASE)
        if not m:
            done.append(sql)
            sql = "".join(done)
            break
        args, ends, scan = [], [], m.start()
        while True:
            mm = re.match(
                r"\s*unnest\s*\(" if not args else r"\s*,\s*unnest\s*\(",
                sql[scan:],
                re.IGNORECASE,
            )
            if not mm:
                break
            open_idx = scan + mm.end() - 1
            close = find_close(sql, open_idx)
            if close < 0:
                break
            args.append(sql[open_idx + 1 : close])
            ends.append(close + 1)
            scan = close + 1
            am = re.match(r"\s+AS\s+\w+", sql[scan:], re.IGNORECASE)
            if am:
                scan += am.end()
        if _inside_call(sql, m.start()) or not _is_select_item(sql, m.start()):
            done.append(sql[: m.end()])
            sql = sql[m.end() :]
            continue
        done.append(sql[: m.start()])
        if len(args) >= 2:
            done.append(f"inline(arrays_zip({', '.join(args)}))")
            sql = sql[scan:]
        elif len(args) == 1:
            done.append(f"explode({args[0]})")
            sql = sql[ends[0] :]
        else:
            done.append(sql[m.start() : m.end()])
            sql = sql[m.end() :]
    # other SRFs in projection position
    out = []
    while True:
        m = _SELECT_SRF_RE.search(sql)
        if not m:
            out.append(sql)
            return "".join(out)
        fn = m.group(1).lower()
        close = find_close(sql, m.end() - 1)
        if close < 0:
            out.append(sql)
            return "".join(out)
        if _inside_call(sql, m.start()) or not _is_select_item(sql, m.start()):
            out.append(sql[: close + 1])
            sql = sql[close + 1 :]
            continue
        after = sql[close + 1 :].lstrip()
        a = split_args(sql[m.end() : close])
        if fn == "_pg_expandarray":
            # projection form yields ONE record column (x, n) per row
            body = (
                f"explode(zip_with({a[0]}, sequence(1, size({a[0]})), "
                f"(__x, __i) -> struct(__x AS x, __i AS n)))"
                if len(a) == 1
                else None
            )
        elif fn == "regexp_matches" and after.startswith("["):
            body = None  # subscripted: scalar template path
        else:
            body = _srf_body(fn, a, literals)
        if body is None:
            out.append(sql[: close + 1])
            sql = sql[close + 1 :]
            continue
        out.append(sql[: m.start()])
        out.append(body)
        sql = sql[close + 1 :]
    return "".join(out)


def _rewrite_series_tvf(sql: str, literals: list[str]) -> str:
    """Set-returning functions in FROM position (TableFunctions.java /
    table-functions.rst): ``generate_series`` -> explode(sequence(...))
    with PG's empty-set semantics when the range and step disagree
    (Spark's ``sequence(1, 0)`` auto-negates the step — wrong here);
    ``generate_subscripts`` -> explode over 1..size; ``regexp_matches``
    -> zero-or-one row of capture groups, or one row per match with
    the ``g`` flag. Output column names follow the reference
    (``generate_series`` / ``generate_subscripts`` / ``groups``)."""
    m = _SERIES_TVF_RE.search(sql)
    if not m:
        return sql
    fn = m.group(2).lower()
    open_idx = m.end() - 1
    close = find_close(sql, open_idx)
    if close < 0:
        return sql
    a = split_args(sql[open_idx + 1 : close])
    # optional alias (with optional column list) after the call
    tail = sql[close + 1 :]
    am = re.match(
        r"\s+(?:AS\s+)?([A-Za-z_]\w*)\s*(?:\(\s*([A-Za-z_]\w*)\s*\))?",
        tail,
        re.IGNORECASE,
    )
    alias, col, consumed = None, None, 0
    if am and am.group(1).lower() not in _TVF_KW:
        alias, col, consumed = am.group(1), am.group(2), am.end()

    srf = _srf_body(fn, a, literals)
    if srf is None:
        return sql
    col = col or ("groups" if fn == "regexp_matches" else fn)
    body = f"{srf} AS {col}"
    alias = alias or f"__{fn}"
    # joined TVFs may reference left-side columns (regexp_matches over
    # a doc column) — LATERAL makes the correlation explicit for Spark.
    # The leading FROM relation can't be LATERAL (nothing to its left).
    lateral = "" if m.group(1).upper().startswith("FROM") else "LATERAL "
    # trailing space: the alias regex may have eaten the separator
    # before the next clause (its \s* runs up to an optional col list)
    repl = f"{m.group(1)}{lateral}(SELECT {body}) AS {alias} "
    return (
        sql[: m.start()]
        + repl
        + _rewrite_series_tvf(sql[close + 1 + consumed :], literals)
    )


#: pg_get_keywords(): the reference grammar's 96 reserved words
#: (PgGetKeywordsFunction; list as published in
#: lexical-structure.rst:134-233) plus representative unreserved
#: entries; catcode R=reserved, U=unreserved. Shared with the SQL
#: front door's FROM-position rewrite (dialect.PG_KEYWORDS re-export).
PG_KEYWORDS = [
    ("add", "R"), ("all", "R"), ("alter", "R"), ("and", "R"),
    ("any", "R"), ("array", "R"), ("as", "R"), ("asc", "R"),
    ("between", "R"), ("by", "R"), ("called", "R"), ("case", "R"),
    ("cast", "R"), ("column", "R"), ("constraint", "R"), ("costs", "R"),
    ("create", "R"), ("cross", "R"), ("current_catalog", "R"),
    ("current_date", "R"), ("current_role", "R"), ("current_time", "R"),
    ("current_timestamp", "R"), ("current_user", "R"), ("default", "R"),
    ("delete", "R"), ("deny", "R"), ("desc", "R"), ("describe", "R"),
    ("directory", "R"), ("distinct", "R"), ("drop", "R"), ("else", "R"),
    ("end", "R"), ("escape", "R"), ("except", "R"), ("exists", "R"),
    ("extract", "R"), ("false", "R"), ("first", "R"), ("for", "R"),
    ("from", "R"), ("full", "R"), ("function", "R"), ("grant", "R"),
    ("group", "R"), ("having", "R"), ("if", "R"), ("in", "R"),
    ("index", "R"), ("inner", "R"), ("input", "R"), ("insert", "R"),
    ("intersect", "R"), ("into", "R"), ("is", "R"), ("join", "R"),
    ("last", "R"), ("left", "R"), ("like", "R"), ("limit", "R"),
    ("match", "R"), ("natural", "R"), ("not", "R"), ("null", "R"),
    ("nulls", "R"), ("object", "R"), ("offset", "R"), ("on", "R"),
    ("or", "R"), ("order", "R"), ("outer", "R"), ("persistent", "R"),
    ("recursive", "R"), ("reset", "R"), ("returns", "R"),
    ("revoke", "R"), ("right", "R"), ("select", "R"),
    ("session_user", "R"), ("set", "R"), ("some", "R"),
    ("stratify", "R"), ("table", "R"), ("then", "R"), ("transient", "R"),
    ("true", "R"), ("try_cast", "R"), ("unbounded", "R"), ("union", "R"),
    ("update", "R"), ("user", "R"), ("using", "R"), ("when", "R"),
    ("where", "R"), ("with", "R"),
    ("values", "U"), ("analyzer", "U"), ("blob", "U"), ("copy", "U"),
    ("format", "U"), ("fulltext", "U"), ("ignored", "U"),
    ("optimize", "U"), ("refresh", "U"), ("restore", "U"),
    ("snapshot", "U"), ("strict", "U"), ("summary", "U"),
]


def _truncate_interval_fields(parts, start, end):
    """``INTERVAL '<lit>' <u> [TO <u>]`` precision restriction on the
    RAW parsed fields, BEFORE normalization — the reference's
    IntervalParser.roundToPrecision runs on the as-written period
    ('14 years 58 months ...' restricted to YEAR keeps 14 years, not
    the normalized 18): YEAR alone keeps only the years field; YEAR TO
    MONTH / MONTH keep the raw year-month pair; a day-time start keeps
    ALL higher fields and zeroes the fields strictly below the end
    precision (SECOND drops sub-second millis). Combinations the
    reference rejects return None."""
    y, mo, d, h, mi, s = parts
    if start == "YEAR" and end == "YEAR":
        return (y, 0, 0, 0, 0, 0.0)
    if (start, end) in {("YEAR", "MONTH"), ("MONTH", "MONTH")}:
        return (y, mo, 0, 0, 0, 0.0)
    order = ("DAY", "HOUR", "MINUTE", "SECOND")
    if start not in order or end not in order:
        return None
    if order.index(end) < order.index(start):
        return None
    if end == "DAY":
        return (y, mo, d, 0, 0, 0.0)
    if end == "HOUR":
        return (y, mo, d, h, 0, 0.0)
    if end == "MINUTE":
        return (y, mo, d, h, mi, 0.0)
    return (y, mo, d, h, mi, float(int(s)))


def _crate_interval_str(months, days, micros) -> str:
    """Render like the reference ('1 year 2 mons 3 days 04:05:06' —
    y/mons/days parts when nonzero, time always). The reference prints
    the Joda normalizedStandard period (IntervalType.PERIOD_FORMATTER),
    so day-time fields re-split from the combined total with truncation
    toward zero — hour overflow rolls into days, every field carries
    the total's sign — and a negative field pads after its sign
    ('-90 seconds' -> '00:-01:-30', Joda FormatUtils)."""
    y, mo = _trunc_divmod(months, 12)
    total = days * 86_400_000_000 + micros
    d, rest = _trunc_divmod(total, 86_400_000_000)
    h, rest = _trunc_divmod(rest, 3_600_000_000)
    mi, rest = _trunc_divmod(rest, 60_000_000)
    s, us = _trunc_divmod(rest, 1_000_000)

    def f2(v: int) -> str:
        return f"-{-v:02d}" if v < 0 else f"{v:02d}"

    parts = []
    if y:
        parts.append(f"{y} year" + ("s" if abs(y) != 1 else ""))
    if mo:
        parts.append(f"{mo} mon" + ("s" if abs(mo) != 1 else ""))
    if d:
        parts.append(f"{d} day" + ("s" if abs(d) != 1 else ""))
    sec = "-00" if s == 0 and us < 0 else f2(s)
    t = f"{f2(h)}:{f2(mi)}:{sec}"
    if us:
        frac = f"{abs(us):06d}"
        # millisecond precision minimum, micros digits only if set
        t += "." + frac[:3] + frac[3:].rstrip("0")
    parts.append(t)
    return " ".join(parts)


def _fold_interval_literals(sql: str, literals: list[str]) -> str:
    """Constant-fold INTERVAL literals Spark cannot evaluate — the
    sql-standard shorthand, mixed year-month+day-time strings, <u> TO
    <u> truncation over them, and integer multiplication — into the
    reference's interval TEXT render. Spark-parseable simple interval
    literals (INTERVAL '1' DAY, INTERVAL '2 years') pass through so
    timestamp arithmetic keeps its native types."""

    def repl(m: re.Match) -> str:
        mult = int(m.group(1)) if m.group(1) else None
        lit = literals[int(m.group(2))]
        parsed = _parse_interval_literal_ex(lit[1:-1])
        if parsed is None:
            return m.group(0)
        (y, mo, d, h, mi, s), shorthand = parsed
        qual_start, qual_end = m.group(3), m.group(4) or m.group(3)
        if qual_start and re.fullmatch(r"\s*[+-]?\d+\s*", lit[1:-1]):
            # INTERVAL '1' DAY — Spark-native qualified literal
            return m.group(0)
        # Fold only literals Spark itself cannot parse (sql-standard
        # shorthand, mixed ym+dt).  A plain `N * INTERVAL '1 day'`
        # must pass through untouched: Spark natively evaluates
        # integer*interval, and folding it to a TEXT literal broke
        # `now() - 3 * INTERVAL '1 day'` with DATATYPE_MISMATCH
        # (ADVICE r5).
        has_ym = y != 0 or mo != 0
        has_dt = bool(d or h or mi or s)
        needs_fold = shorthand or (has_ym and has_dt)
        if not needs_fold:
            # crate accepts unit spellings Spark's interval parser
            # does not (mins/secs/mons/ms/w — _IV_UNIT_SLOTS); when
            # the literal uses one, REBUILD it from the parsed fields
            # in Spark's spelling (fuzz r10: INTERVAL '-15 mins' was
            # passed through verbatim and failed at parse). Literals
            # already in Spark spelling pass through untouched so
            # their native single-unit types are preserved.
            words = set(re.findall(r"[a-z]+", lit[1:-1].lower()))
            if words <= _SPARK_IV_UNITS:
                return m.group(0)
            if qual_start:
                # apply the <u> TO <u> restriction before rebuilding
                # (the qualifier text is consumed by the rebuild)
                t = _truncate_interval_fields(
                    (y, mo, d, h, mi, s),
                    qual_start.upper(),
                    qual_end.upper(),
                )
                if t is None:
                    return m.group(0)
                y, mo, d, h, mi, s = t
                has_ym = y != 0 or mo != 0
            if has_ym:
                canon = f"{y} years {mo} months"
            else:
                # fixed-point seconds: repr() renders 1e-06 in
                # scientific notation, which Spark's interval-string
                # parser rejects (ADVICE r10)
                sec = (
                    f"{s:.6f}".rstrip("0").rstrip(".")
                    if isinstance(s, float) and not float(s).is_integer()
                    else str(int(s))
                )
                canon = f"{d} days {h} hours {mi} minutes {sec} seconds"
            prefix = f"{mult} * " if mult is not None else ""
            # keep the rebuilt render MASKED: a raw INTERVAL '...'
            # string would miss _to_char_fn_sql's `INTERVAL __LIT__`
            # matcher and get corrupted by later text passes (the
            # decimal D-suffix pass turned '1.5 seconds' into a parse
            # error) (ADVICE r10)
            return f"{prefix}INTERVAL " + add_token(literals, "'" + canon + "'")
        if qual_start:
            # precision restriction applies to the RAW fields, before
            # the render's normalization (roundToPrecision order)
            t = _truncate_interval_fields(
                (y, mo, d, h, mi, s), qual_start.upper(), qual_end.upper()
            )
            if t is None:
                return m.group(0)
            y, mo, d, h, mi, s = t
        if mult is not None:
            # Period.multipliedBy scales each field; the render's
            # normalizedStandard re-splits the result
            y, mo, d, h, mi, s = (
                y * mult, mo * mult, d * mult, h * mult, mi * mult, s * mult
            )
        months = y * 12 + mo
        micros = round(((h * 60 + mi) * 60 + s) * 1_000_000)
        literals.append("'" + _crate_interval_str(months, d, micros) + "'")
        # the no-op CAST marks this literal as a FOLDED interval render
        # (vs a user string): _to_char_fn_sql's interval fallback keys
        # on exactly this shape, so to_char('15:30:10', f) — a plain
        # user string that HAPPENS to parse as an interval — stays on
        # the timestamp path (ADVICE r9)
        return f"CAST(__LIT_{len(literals) - 1}__ AS STRING)"

    return re.sub(
        r"(?:(\d+)\s*\*\s*)?\bINTERVAL\s+__LIT_(\d+)__"
        r"(?:\s+(YEAR|MONTH|DAY|HOUR|MINUTE|SECOND)"
        r"(?:\s+TO\s+(YEAR|MONTH|DAY|HOUR|MINUTE|SECOND))?(?!\w))?",
        repl,
        sql,
        flags=re.IGNORECASE,
    )


def _extract_over_age(sql: str) -> str:
    """``EXTRACT(field FROM age(...))`` — age() evaluates to the
    engine's (months, days, micros) interval struct (AgeFunction.java
    returns a Joda Period in yearMonthDayTime), so EXTRACT compiles
    to field arithmetic with Java truncation-toward-zero on every
    split, matching _normalize_interval_fields."""
    pat = re.compile(
        r"\bEXTRACT\s*\(\s*(\w+)\s+FROM\s+(\(\s*)?(?=age\s*\()",
        re.IGNORECASE,
    )
    pos = 0
    while True:
        m = pat.search(sql, pos)
        if not m:
            return sql
        call_start = m.end()
        close = find_close(sql, sql.index("(", call_start))
        if close < 0:
            return sql
        S = "(" + sql[call_start : close + 1] + ")"
        j = close + 1
        closers = (2 if m.group(2) else 1)
        ok = True
        for _ in range(closers):
            m2 = re.match(r"\s*\)", sql[j:])
            if not m2:
                ok = False
                break
            j += m2.end()
        f = m.group(1).upper()
        months, days, us = f"{S}.months", f"{S}.days", f"{S}.micros"
        exprs = {
            "YEAR": f"CAST({months} / 12 AS INT)",
            "MONTH": f"CAST({months} % 12 AS INT)",
            "QUARTER": f"CAST(({months} % 12) / 4 AS INT)",
            "DAY": f"CAST({days} AS INT)",
            "HOUR": f"CAST({us} / 3600000000 AS INT)",
            "MINUTE": f"CAST(({us} % 3600000000) / 60000000 AS INT)",
            "SECOND": f"CAST(({us} % 60000000) / 1000000 AS INT)",
            # ExtractFunctions.toMillis: 365d6h years, 30d months
            "EPOCH": (
                f"CAST(CAST({months} / 12 AS BIGINT) * 31557600 + "
                f"({months} % 12) * 2592000 + {days} * 86400 + "
                f"{us} / 1e6 AS DOUBLE)"
            ),
        }
        if not ok or f not in exprs:
            pos = m.end()
            continue
        sql = sql[: m.start()] + exprs[f] + sql[j:]
        pos = m.start()


_CASE_OR_END = re.compile(r"\bCASE\b|\bEND\b", re.IGNORECASE)


def _open_case(sql: str, pos: int) -> int | None:
    """Start of the innermost CASE still open at ``pos`` (the CASE/END
    balance read backwards from ``pos``); None outside every CASE."""
    depth = 0
    for m in reversed(list(_CASE_OR_END.finditer(sql, 0, pos))):
        if m.group(0).upper() == "END":
            depth += 1
        elif depth == 0:
            return m.start()
        else:
            depth -= 1
    return None


def _typed_null_case_conditions(sql: str) -> str:
    """Type bare ``WHEN NULL THEN`` conditions in searched CASEs (any
    arm, not just the first) as ``CAST(NULL AS BOOLEAN)``. The
    governing CASE of each occurrence is found by scanning backwards
    over CASE/END tokens; simple CASEs (head not followed by WHEN)
    are left alone because their comparand types the NULL."""
    spans = []
    for m in re.finditer(r"\bWHEN\s+NULL\s+THEN\b", sql, re.IGNORECASE):
        case_pos = _open_case(sql, m.start())
        if case_pos is None:
            continue
        if re.match(r"\s+WHEN\b", sql[case_pos + 4 :], re.IGNORECASE):
            spans.append((m.start(), m.end()))
    for s_, e_ in reversed(spans):
        sql = sql[:s_] + "WHEN CAST(NULL AS BOOLEAN) THEN" + sql[e_:]
    return sql


def _fold_extract_over_interval_literal(sql: str, literals: list[str]) -> str:
    """``EXTRACT(field FROM INTERVAL '<literal>')`` constant-folds at
    rewrite time with the reference's parse normalization ("up to
    days": seconds->minutes->hours->days carry; months/years stay —
    scalar-functions.rst extract-from-interval NOTE: 14 years /
    1250 days / 49 hours -> day = 1252). Spark can neither parse a
    mixed-unit interval literal nor extract from one."""

    def repl(m: re.Match) -> str:
        paren_open, mult_s, paren_close = m.group(2), m.group(3), m.group(7)
        if bool(paren_open) != bool(paren_close):
            return m.group(0)
        parts = _parse_interval_literal(literals[int(m.group(4))][1:-1])
        if parts is None:
            return m.group(0)
        if m.group(5):
            # INTERVAL '...' <u> [TO <u>]: precision restriction on
            # the raw fields first (roundToPrecision order)
            parts = _truncate_interval_fields(
                parts, m.group(5).upper(), (m.group(6) or m.group(5)).upper()
            )
            if parts is None:
                return m.group(0)
        if mult_s:
            # N * interval scales each RAW field (Period.multipliedBy,
            # IntervalFunctionTest: 2 * '2 years 1 month 10 days' ->
            # 4y 2mo 20d), then normalizedStandard re-splits
            parts = tuple(f * int(mult_s) for f in parts)
        y, mo, d, h, mi, s = _normalize_interval_fields(parts)
        field = m.group(1).upper()
        vals = {
            "YEAR": y, "MONTH": mo, "DAY": d, "HOUR": h,
            "MINUTE": mi, "SECOND": int(s),
            # reference quirk: QUARTER on intervals is months/4 with
            # Java's truncating int division
            # (ExtractFunctions.java intervalFieldsMapWithIntReturn)
            "QUARTER": int(mo / 4),
        }
        if field == "EPOCH":
            # ExtractFunctions.toMillis: 365d + 6h per year, 30d per
            # month, then the day-time seconds
            total = (
                y * (365 * 86400 + 6 * 3600)
                + mo * 30 * 86400
                + d * 86400.0
                + h * 3600
                + mi * 60
                + s
            )
            return f"CAST({total!r} AS DOUBLE)"
        if field not in vals:
            return m.group(0)
        return f"{vals[field]}"

    return re.sub(
        r"\bEXTRACT\s*\(\s*(\w+)\s+FROM\s+"
        r"(\(\s*)?"
        r"(?:(\d+)\s*\*\s*)?"
        r"INTERVAL\s+__LIT_(\d+)__"
        r"(?:\s+(YEAR|MONTH|DAY|HOUR|MINUTE|SECOND)"
        r"(?:\s+TO\s+(YEAR|MONTH|DAY|HOUR|MINUTE|SECOND))?)?"
        r"(\s*\))?\s*\)",
        repl,
        sql,
        flags=re.IGNORECASE,
    )


def _mixed_interval_arith(sql: str, literals: list[str]) -> str:
    """Mixed year-month + day-time interval literals ADJACENT to a
    ``+``/``-`` (timestamp or interval arithmetic) become
    ``make_interval(...)`` — a CalendarInterval Spark composes in
    arithmetic but cannot collect standalone. Non-adjacent mixed
    literals are left for the text-render fold (the reference's
    console prints the Period text, pinned in tests)."""
    out, i = [], 0
    pat = re.compile(r"\bINTERVAL\s+__LIT_(\d+)__", re.IGNORECASE)
    while True:
        m = pat.search(sql, i)
        if not m:
            out.append(sql[i:])
            return "".join(out)
        before = sql[: m.start()].rstrip()
        after = sql[m.end():].lstrip()
        adjacent = (before.endswith(("+", "-"))
                    or after.startswith(("+", "-")))
        raw = literals[int(m.group(1))][1:-1]
        parsed = _parse_interval_literal_ex(raw)
        parts = parsed[0] if parsed is not None else None
        replaced = False
        # a trailing unit qualifier (INTERVAL '1' DAY, ... DAY TO
        # HOUR) belongs to the literal — leave the whole form for
        # _fold_interval_literals, which knows the precision rules
        # (r10: the shorthand branch once swallowed the literal out
        # from under its qualifier, stranding a bare `DAY`)
        if re.match(
            r"(?:YEAR|MONTH|DAY|HOUR|MINUTE|SECOND)\b", after, re.IGNORECASE
        ):
            parts = None
        if adjacent and parts is not None:
            y, mo, d, h, mi, s = parts
            shorthand = parsed[1]
            words = set(re.findall(r"[a-z]+", raw.lower()))
            if (y or mo) and (d or h or mi or s):
                out.append(sql[i : m.start()])
                out.append(
                    f"make_interval({y}, {mo}, 0, {d}, {h}, {mi}, "
                    f"CAST({s!r} AS DECIMAL(18,6)))"
                )
                replaced = True
            elif re.match(r"\s*[+-]?\d+-\d+", raw):
                # pure-ym SQL-standard shorthand in arithmetic: the
                # native qualified literal composes and collects
                out.append(sql[i : m.start()])
                out.append(f"INTERVAL '{y}-{mo}' YEAR TO MONTH")
                replaced = True
            elif shorthand or not words <= _SPARK_IV_UNITS:
                # any other shape Spark's parser rejects — ISO-8601,
                # day-time shorthand, bare-number seconds, crate unit
                # aliases (mins/secs/mons) — composes as
                # make_interval when it sits in arithmetic (fuzz r10:
                # ts + INTERVAL 'P...DT...S' text-folded and failed
                # with BINARY_OP_WRONG_TYPE)
                out.append(sql[i : m.start()])
                out.append(
                    f"make_interval({y}, {mo}, 0, {d}, {h}, {mi}, "
                    f"CAST({s!r} AS DECIMAL(18,6)))"
                )
                replaced = True
        if not replaced:
            out.append(sql[i : m.end()])
        i = m.end()


def _interval_literal_passes(sql: str, literals: list[str]) -> str:
    """The three interval-literal rewrites, in dependency order:
    EXTRACT constant-fold first (needs the raw literal), then
    arithmetic-adjacent mixed literals to make_interval, then the
    text-render fold for whatever Spark still can't parse."""
    # multiplier normalization first: a postfix numeric multiplier
    # commutes to the prefix position (interval '...' * 2 -> 2 *
    # INTERVAL ...) so the EXTRACT fold and the text-render fold see
    # ONE shape, and a DECIMAL multiplier truncates to int like
    # Period.multipliedBy (IntervalFunctionTest: interval '1 hour' *
    # 3.5 = 3 hours, where Spark would scale fractionally)
    sql = re.sub(
        r"\bINTERVAL\s+(__LIT_\d+__)\s*\*\s*(\d+(?:\.\d+)?)(?![\w.])",
        lambda m: f"{int(float(m.group(2)))} * INTERVAL {m.group(1)}",
        sql,
        flags=re.IGNORECASE,
    )
    sql = re.sub(
        r"(?<![\w.])(\d+\.\d+)\s*\*\s*(?=INTERVAL\s+__LIT_)",
        lambda m: f"{int(float(m.group(1)))} * ",
        sql,
        flags=re.IGNORECASE,
    )
    sql = _fold_extract_over_interval_literal(sql, literals)
    sql = _mixed_interval_arith(sql, literals)
    return _fold_interval_literals(sql, literals)


def _pg_array_literal_to_sql(body: str) -> str:
    """'{a, b, "c d", null}' -> array('a', 'b', 'c d', NULL) (PG array
    input syntax; quoted "null" stays a string, bare null is NULL)."""
    inner = body.strip()[1:-1]
    items, buf, inq = [], "", False
    for ch in inner:
        if ch == '"':
            inq = not inq
            buf += ch
            continue
        if ch == "," and not inq:
            items.append(buf)
            buf = ""
        else:
            buf += ch
    if buf.strip() or items:
        items.append(buf)
    parts = []
    for it in items:
        it = it.strip()
        if it.startswith('"') and it.endswith('"'):
            parts.append("'" + it[1:-1].replace("'", "''") + "'")
        elif it.lower() == "null":
            parts.append("NULL")
        else:
            parts.append("'" + it.replace("'", "''") + "'")
    return f"array({', '.join(parts)})"


def rewrite(
    sql: str,
    string_object_columns: set[str] | None = None,
    session_user: str = "crate",
    user_schemas: set[str] | None = None,
) -> str:
    """Apply all crate-ism rewrites to one statement.

    The statement is lexed first (``mask``): string literals become
    identifier-shaped placeholders so the operator regexes can never
    match text INSIDE a literal (e.g. ``'a::b'`` must survive
    untouched), while a literal can still BE an operand
    (``'5'::int``); quoted identifiers become backticked names.

    ``string_object_columns`` names columns whose OBJECT content is
    stored as a JSON string (the engine's dynamic-object
    representation): ``col['k']`` / chained ``col['a']['b']`` on those
    rewrite to ``get_json_object(col, '$.a.b')``. Subscripts on any
    other base are left to Spark's native map/struct extraction.
    """
    # one lex: every string literal becomes a __LIT_n__ placeholder
    # holding its standard '...' spelling (E'...' decoded, $$...$$
    # re-quoted), and every quoted identifier one backticked name
    sql, tokens = mask(sql, ident=spark_ident)
    literals = ["'" + string_value(t).replace("'", "''") + "'" for t in tokens]
    n_input_lits = len(literals)

    # LIKE/ILIKE ... ESCAPE '' — the reference DISABLES escaping
    # (LikeOperators.java; LikeOperatorTest
    # test_like_with_empty_escape_disables_escaping), while Spark's
    # parser rejects an empty escape string outright. Doubling every
    # backslash in the pattern makes each one self-escaped — a
    # literal — which is exactly "no escape character".
    def _esc_empty(m: re.Match) -> str:
        pat, idx = m.group("pat"), int(m.group("esc"))
        if literals[idx] != "''":
            return m.group(0)
        pm = re.fullmatch(r"__LIT_(\d+)__", pat)
        if pm:
            j = int(pm.group(1))
            literals[j] = literals[j].replace("\\", "\\\\")
            return pat
        bs1 = add_token(literals, "'\\\\'")  # one backslash to Spark
        bs2 = add_token(literals, "'\\\\\\\\'")  # two backslashes
        return f"replace({pat}, {bs1}, {bs2})"

    sql = _ESCAPE_RE.sub(_esc_empty, sql)

    # LIKE patterns where the escape precedes an ORDINARY character:
    # the reference drops the escape and keeps the char
    # (LikeOperators.patternToRegex default branch — '\a' matches
    # 'a'), while Spark raises INVALID_FORMAT.ESC_IN_THE_MIDDLE.
    # Normalize literal patterns so the escape only precedes
    # wildcards or itself (fuzz family #11, r10). A TRAILING escape
    # char stays — both engines reject it.
    def _like_pat_normalize(raw: str, esc: str) -> str:
        out, i = [], 0
        while i < len(raw):
            c = raw[i]
            if c == esc and i + 1 < len(raw):
                n = raw[i + 1]
                if n in ("%", "_", esc):
                    out.append(c)
                    out.append(n)
                else:
                    out.append(n)
                i += 2
                continue
            out.append(c)
            i += 1
        return "".join(out)

    def _like_esc_mid(m: re.Match) -> str:
        esc = "\\"
        if m.group("esc") is not None:
            ev = literals[int(m.group("esc"))][1:-1].replace("''", "'")
            if len(ev) != 1:
                return m.group(0)
            esc = ev
        idx = int(m.group("pat"))
        raw = literals[idx][1:-1]
        norm = _like_pat_normalize(raw, esc)
        if norm != raw:
            literals[idx] = "'" + norm + "'"
        return m.group(0)

    sql = re.sub(
        r"\bI?LIKE\s+__LIT_(?P<pat>\d+)__"
        r"(?:\s+ESCAPE\s+__LIT_(?P<esc>\d+)__)?",
        _like_esc_mid,
        sql,
        flags=re.IGNORECASE,
    )

    # bit-string literals B'0110' (data-types.rst bit strings): stored
    # as bare bit text (declared divergence — no BIT runtime type)
    _bit_idx: set[int] = set()

    def _bit_lit(m: re.Match) -> str:
        _bit_idx.add(int(m.group(1)))
        return f"__LIT_{m.group(1)}__"

    sql = re.sub(r"(?<![\w'])B__LIT_(\d+)__", _bit_lit, sql)

    # bitwise ops on bit-string literals fold elementwise
    # (BitwiseFunctions.java BitStringType overloads); unequal
    # lengths raise the reference's error. Must precede the `#`->`^`
    # xor rewrite, which would coerce the text literals numerically.
    def _bit_op(m: re.Match) -> str:
        i, op, j = int(m.group(1)), m.group(2), int(m.group(3))
        if i not in _bit_idx or j not in _bit_idx:
            return m.group(0)
        x, y = literals[i][1:-1], literals[j][1:-1]
        if len(x) != len(y):
            name = {"&": "AND", "|": "OR", "#": "XOR"}[op]
            raise ValueError(
                f"Cannot {name} bit strings of different sizes"
            )
        f = {"&": min, "|": max, "#": lambda p, q: p != q}[op]
        bits = "".join(str(int(f(int(p), int(q)))) for p, q in zip(x, y))
        literals.append(f"'{bits}'")
        _bit_idx.add(len(literals) - 1)
        return f"__LIT_{len(literals) - 1}__"

    prev_bits = None
    while prev_bits != sql:
        prev_bits = sql
        sql = re.sub(
            r"__LIT_(\d+)__\s*([&#]|\|(?!\|))\s*__LIT_(\d+)__",
            _bit_op,
            sql,
        )

    # before the typed literals, whose CAST drops a literal's zone
    sql = _at_time_zone(sql)

    sql = _typed_literals(sql)

    sql = _array_literal_casts(sql, literals)

    # interval literals Spark can't evaluate: EXTRACT over them
    # constant-folds, arithmetic-adjacent mixed literals become
    # make_interval, the rest (sql-standard shorthand, standalone
    # mixed, <u> TO <u>, n * INTERVAL) fold to the reference's text
    # render at plan time
    sql = _interval_literal_passes(sql, literals)

    # schema-qualified table-function spellings resolve to the bare
    # registered names (lexical-structure.rst pg_catalog.pg_get_keywords)
    sql = re.sub(
        r"\b(?:pg_catalog|information_schema)\.(pg_get_keywords|"
        r"generate_series|generate_subscripts|_pg_expandarray|unnest)\b",
        r"\1",
        sql,
        flags=re.IGNORECASE,
    )

    # FROM pg_get_keywords() (PgGetKeywordsFunction): inline the
    # keyword relation. New literals go through the mask so the later
    # passes keep their all-literals-masked invariant.
    if re.search(r"(?i)\bpg_get_keywords\s*\(\s*\)", sql):
        _kw_vals = ", ".join(
            f"({_str_token(literals, w)}, {_str_token(literals, c)})" for w, c in PG_KEYWORDS
        )
        sql = re.sub(
            r"(?i)\bpg_get_keywords\s*\(\s*\)",
            f"(VALUES {_kw_vals}) AS pg_get_keywords(word, catcode)",
            sql,
        )

    # named WINDOW clause (window-functions.rst:300-365): the
    # reference allows extending a named window — `OVER (w ORDER BY
    # x)` and window defs referencing earlier windows (`w AS (p ORDER
    # BY x)`). Spark accepts only bare `OVER w` refs, so resolve the
    # definitions transitively, inline every reference, and drop the
    # WINDOW clause. Clause overrides error like the reference.
    _win_defs: dict[str, str] = {}
    _wcm = _WINDOW_CLAUSE_RE.search(sql)
    if _wcm:
        for wm in _WINDOW_DEF_RE.finditer(_wcm.group(0)):
            _win_defs[wm.group("name").lower()] = wm.group("spec").strip()

        def _win_extend(name: str, base: str, extra: str) -> str:
            for clause in ("ORDER BY", "PARTITION BY"):
                pat = clause.replace(" ", r"\s+")
                if re.search(rf"\b{pat}\b", extra, re.IGNORECASE) and re.search(
                    rf"\b{pat}\b", base, re.IGNORECASE
                ):
                    raise ValueError(
                        f"Cannot override {clause} clause of window {name}"
                    )
            return (base + " " + extra).strip()

        # expand defs that start with a reference to an earlier window
        for nm in list(_win_defs):
            d = _win_defs[nm]
            rm = re.match(r"(\w+)\b\s*(.*)$", d, re.DOTALL)
            if rm and rm.group(1).lower() in _win_defs and rm.group(
                1
            ).lower() != nm:
                _win_defs[nm] = _win_extend(
                    rm.group(1), _win_defs[rm.group(1).lower()], rm.group(2)
                )

        def _over_ref(m: re.Match) -> str:
            name = m.group("name")
            extra = (m.groupdict().get("extra") or "").strip()
            d = _win_defs.get(name.lower())
            if d is None:
                return m.group(0)
            return f"OVER ({_win_extend(name, d, extra)})"

        sql = _OVER_EXTEND_RE.sub(_over_ref, sql)
        sql = re.sub(r"\bOVER\s+(?P<name>\w+)\b", _over_ref, sql, flags=re.IGNORECASE)
        sql = _WINDOW_CLAUSE_RE.sub("", sql).rstrip()

    # exponent literals just past DBL_MAX: the reference rounds to the
    # nearest double (data-types.rst:1380-1395), Spark's parser
    # range-errors — fold only the out-of-range ones
    def _fold_big_float(m: re.Match) -> str:
        import sys as _sys
        from decimal import Decimal, InvalidOperation

        tok = m.group(0)
        try:
            if abs(Decimal(tok)) <= Decimal(repr(_sys.float_info.max)):
                return tok
        except InvalidOperation:
            return tok
        v = float(tok)
        if v in (float("inf"), float("-inf")):
            return tok
        return repr(v)

    sql = re.sub(r"\b\d+(?:\.\d+)?[eE][+-]?\d+\b", _fold_big_float, sql)

    # Integer / integer is Java integer division in the reference
    # (ArithmeticFunctions.java:78-85 integerFunction arg0/arg1:
    # 1/2 = 0, -7/2 = -3), where Spark's / always yields double.
    # Operand types aren't resolvable in a text shim, so rewrite the
    # syntactically-certain case — both operands integer literals
    # (or a nested div(...) chain, left-assoc: 8/2/2 = 2) — to
    # Spark's div. Column-typed integer division keeps Spark's
    # double semantics (documented divergence).
    def _int_div_chain(s: str) -> str:
        out, last = [], 0
        # the chain includes same-precedence '*' and '%' so
        # left-associativity survives: 2 * 6/4 is (2*6)/4 = 3, not
        # 2 * div(6,4) = 2 (ADVICE r10)
        for m in re.finditer(r"(?<![\w.])(\d+(?:\s*[*%/]\s*\d+)+)(?![\w.])", s):
            # a non-literal LEFT operand ("x / 2/3", "x * 2/3") means
            # the chain's first literal is really a right operand of a
            # same-precedence operator — leave it to Spark
            before = s[: m.start()].rstrip()
            if before.endswith(("/", "*", "%")):
                continue
            parts = re.findall(r"\d+|[*%/]", m.group(1))
            if "/" not in parts:
                continue
            expr = parts[0]
            for op, t in zip(parts[1::2], parts[2::2]):
                expr = f"div({expr}, {t})" if op == "/" else f"({expr} {op} {t})"
            out.append(s[last : m.start()])
            out.append(expr)
            last = m.end()
        out.append(s[last:])
        return "".join(out)

    sql = _int_div_chain(sql)

    # ...and the parenthesized flavor: (1+3)/2 is integer division in
    # the reference too (CastFunctionTest `((1+3)/2)::string` = '2').
    # Operands are flat integer arithmetic groups (digits and + - *
    # only — no dots, no nesting) or bare integers; anything else
    # keeps Spark's double `/`.
    _PAREN_INT = r"\(\s*\d+(?:\s*[+*-]\s*\d+)*\s*\)"
    _INT_OPND = rf"(?:{_PAREN_INT}|\d+)"

    def _paren_div_sub(m: re.Match) -> str:
        before = sql_holder[0][: m.start()].rstrip()
        # same-precedence left context: the chain head is really a
        # right operand — skip, 3 * (1+1)/4 must stay (3*2)/4 unless
        # the '3 *' is folded INTO the chain below (ADVICE r10)
        if before.endswith(("/", "*", "%")):
            return m.group(0)
        # split the chain on top-level same-precedence operators
        s = m.group(1)
        cuts = [k for k, ch in enumerate(blank_groups(s)) if ch in "/*%"]
        ops = [s[k] for k in cuts]
        terms = [s[a + 1 : b].strip() for a, b in zip([-1] + cuts, cuts + [len(s)])]
        if "/" not in ops:
            return m.group(0)
        expr = terms[0]
        for op, t in zip(ops, terms[1:]):
            expr = f"div({expr}, {t})" if op == "/" else f"({expr} {op} {t})"
        return expr

    sql_holder = [sql]
    sql = re.sub(
        rf"(?<![\w.])({_INT_OPND}(?:\s*[*%/]\s*{_INT_OPND})+)(?![\w.(])",
        _paren_div_sub,
        sql,
    )

    # Numeric literals with a decimal point are DOUBLE in the
    # reference (AstBuilder.java:2453 DoubleLiteral) and in PG's
    # float8-literal behavior crate mirrors; Spark types them
    # DECIMAL(p,s), which changes division/display semantics
    # (1 / 3.0 -> 0.333333 instead of 0.3333333333333333). Suffix
    # them with D. Already-suffixed (0.5D) and exponent forms are
    # double in Spark anyway; identifier-adjacent digits are excluded.
    sql = re.sub(r"(?<![\w.])(\d+\.\d+)(?![\w.])", r"\1D", sql)

    # OBJECT subscripts first: the result is a function call, which the
    # cast rewrite below can then treat as an operand (props['k']::long)
    if string_object_columns:
        lowered = {c.lower() for c in string_object_columns}

        def _obj_sub(m: re.Match) -> str:
            base, chain = m.group(1), m.group(2)
            name = base.split(".")[-1]
            # a quoted base keeps its case and names only that column
            names = string_object_columns if name.startswith("`") else lowered
            name = name.strip("`") if name.startswith("`") else name.lower()
            is_arr = "[]" + name in names
            if name not in names and not is_arr:
                return m.group(0)
            parts = re.findall(r"\[\s*(__LIT_\d+__|\d+)\s*\]", chain)
            base_expr = base
            if is_arr:
                # array(object ...) columns: leading indexes pick the
                # element (1-based); remaining keys read its JSON
                while parts and parts[0].isdigit():
                    base_expr = f"element_at({base_expr}, {int(parts[0])})"
                    parts.pop(0)
                if not parts:
                    return base_expr
            else:
                # crate quirk (sql_dql_objects CAUTION note): on an
                # OBJECT column an array index BEFORE a key addresses
                # the CHILD array — obj[1]['k'] means obj['k'][1]
                i2 = 0
                while i2 + 1 < len(parts):
                    if parts[i2].isdigit() and not parts[i2 + 1].isdigit():
                        parts[i2], parts[i2 + 1] = parts[i2 + 1], parts[i2]
                        i2 += 2
                    else:
                        i2 += 1
            path = "$"
            for p in parts:
                lm = re.fullmatch(r"__LIT_(\d+)__", p)
                if lm:
                    k = literals[int(lm.group(1))][1:-1].replace("''", "'")
                    path += f".{k}" if re.fullmatch(r"\w+", k) else f"['{k}']"
                else:  # 1-based array index -> 0-based JSON path
                    path += f"[{int(p) - 1}]"
            tok = add_token(literals, "'" + path.replace("'", "''") + "'")
            if is_arr and base_expr == base:
                # arr['k'] with no element index: per-element projection
                return f"transform({base}, __o -> get_json_object(__o, {tok}))"
            return f"get_json_object({base_expr}, {tok})"

        sql = _OBJ_SUBSCRIPT_RE.sub(_obj_sub, sql)

    # Array constructors (AstBuilder arrayLiteral): ARRAY[...] and the
    # bare bracket form [...]. Inner-out loop handles nesting; the
    # lookbehind on the bare form excludes subscripts (base ends in an
    # identifier char, ']' or ')'), which earlier rewrites have
    # already consumed anyway.
    # empty object literal {} (objectLiteral with no entries) -> the
    # engine's JSON-string empty object, masked so no later pass can
    # touch the braces
    def _empty_obj(_m: re.Match) -> str:
        return add_token(literals, "'{}'")

    sql = re.sub(r"\{\s*\}", _empty_obj, sql)

    # subscript_obj(obj, 'k1', 'k2', ...) — the function the grammar
    # lowers obj['k'] chains to (SubscriptObjectFunction.java); users
    # may spell it directly. Rewritten to the subscript chain HERE,
    # before the object-literal/struct-subscript passes, so both
    # literal and dynamic-column objects resolve through the same
    # machinery.
    while True:
        mso = re.search(r"\bsubscript_obj\s*\(", sql, re.IGNORECASE)
        if not mso:
            break
        close = find_close(sql, mso.end() - 1)
        if close < 0:
            break
        args = split_args(sql[mso.end() : close])
        if len(args) < 2:
            break
        chain = "(" + args[0] + ")" + "".join(f"[{k}]" for k in args[1:])
        sql = sql[: mso.start()] + chain + sql[close + 1 :]

    prev_arr = None
    while prev_arr != sql:
        prev_arr = sql
        sql = re.sub(r"\bARRAY\s*\[([^\[\]]*)\]", r"array(\1)", sql, flags=re.IGNORECASE)
        # the lookbehind also excludes '}': an object LITERAL's
        # subscript ({v=1}['v']) must stay a subscript for the
        # struct-literal pass below, not become array('v'); and '`',
        # the end of a quoted name ("o"['b'])
        sql = re.sub(r"(?<![\w\]\)\}`])\[([^\[\]]*)\]", r"array(\1)", sql)
        sql = _OBJ_LIT_RE.sub(_obj_lit_sub, sql)
    sql = _finalize_obj_structs(sql)
    # a directly-subscripted object literal reads through the struct,
    # not the JSON encoding: to_json(named_struct(...))['k'] (and the
    # parenthesized form) -> named_struct(...).k — typed field access
    sql = _struct_literal_subscripts(sql, literals)
    # ...and through an array-of-object-literals element
    # ([{k=v},{k=w}][i]['k'] -> element_at(array(named_struct..), i).k)
    sql = _struct_array_literal_subscripts(sql, literals)

    # searched CASE with a bare NULL condition in ANY arm: the
    # reference treats the null condition as not-matched
    # (ConditionalFunctionTest `CASE WHEN NULL THEN false WHEN a > 5
    # THEN true END`) where Spark's analyzer rejects the untyped NULL
    # (r10; non-first arms ADVICE r10). Each `WHEN NULL THEN` is
    # resolved to its governing CASE by a backward CASE/END balance
    # scan; only searched CASEs (head immediately followed by WHEN)
    # rewrite — a SIMPLE case's `WHEN NULL` comparand, typed by its
    # operand, stays untouched.
    sql = _typed_null_case_conditions(sql)

    # EXTRACT over age() compiles to interval-struct field arithmetic
    # BEFORE the generic field rewrites (SECOND/EPOCH would otherwise
    # wrap the struct in a timestamp cast)
    sql = _extract_over_age(sql)
    # EXTRACT field rewrites over a FULLY-nested operand (fuzz r10:
    # the old 1-level pattern missed `ts + make_interval(.., CAST(..))`
    # operands, so EXTRACT(dow) fell through to Spark's native
    # Sunday=1 numbering on compound expressions).
    for fld_pat, repl in _EXTRACT_FIELD_REWRITES:
        sql = fld_pat.sub(repl, sql)

    # table functions in FROM (TableFunctions.java): empty_row() is a
    # one-row zero-column anchor (Spark needs >=1 column — documented
    # divergence on SELECT *); unnest(arr) -> explode TVF, multi-arg
    # unnest zips (column names diverge: Spark's col/field names)
    sql = re.sub(
        r"\bFROM\s+empty_row\s*\(\s*\)",
        "FROM (SELECT 1 AS __er) AS __empty_row",
        sql,
        flags=re.IGNORECASE,
    )
    sql = _rewrite_unnest_tvf(sql)
    # interval-typed literals as sequence steps parse as INTERVAL
    # literals, not casts (Spark has no CAST(x AS INTERVAL))
    sql = re.sub(
        r"(__LIT_\d+__)\s*::\s*interval\b", r"INTERVAL \1", sql, flags=re.IGNORECASE
    )
    # parenthesized literal form ('2 days')::interval — same rewrite
    # (fuzz probe r8: the bare-literal pattern missed it and the cast
    # fell through to CAST(x AS interval), which Spark can't collect)
    sql = re.sub(
        r"\(\s*(__LIT_\d+__)\s*\)\s*::\s*interval\b",
        r"INTERVAL \1",
        sql,
        flags=re.IGNORECASE,
    )
    # interval literal handling for the `'...'::interval` spellings
    # that only now became INTERVAL __LIT__ (the direct INTERVAL '...'
    # spellings went through the same passes earlier in the cascade)
    sql = _interval_literal_passes(sql, literals)
    sql = _rewrite_series_tvf(sql, literals)
    sql = _rewrite_select_srfs(sql, literals)
    sql = _rewrite_array_subquery(sql)

    # `||` overloads the reference resolves by type (ConcatOperator):
    # object-literal || object-literal merges (rewrite to concat(), the
    # template below merges); array-literal || element appends, element
    # || array-literal prepends (ArrayCatFunction/append/prepend).
    # Column-typed operands keep Spark's native || (string/array
    # concat). Literal shapes only — a text shim can't see types.
    def _concat_op_sub(m: re.Match) -> str:
        lhs, rhs = m.group("lhs"), m.group("rhs")
        # a chain's left side may already be a merged concat(...) call
        l_obj = lhs.lstrip().startswith(("to_json(named_struct", "concat(to_json("))
        r_obj = rhs.lstrip().startswith("to_json(named_struct")
        if l_obj and r_obj:
            return f"concat({lhs}, {rhs})"
        l_arr = lhs.lstrip().startswith("array(")
        r_arr = rhs.lstrip().startswith("array(")
        if l_arr and not r_arr and not rhs.lstrip().startswith("'"):
            return f"array_append({lhs}, {rhs})"
        if r_arr and not l_arr:
            # crate arg order (value, array) — the array_prepend
            # template below swaps into Spark's (array, value)
            return f"array_prepend({lhs}, {rhs})"
        return m.group(0)

    prev_cat = None
    while prev_cat != sql:
        prev_cat = sql
        sql = _CONCAT_OP_RE.sub(_concat_op_sub, sql)

    # crate-only scalar function names (ArraySliceFunction,
    # StringToArrayFunction, ArrayDifferenceFunction, ...) -> Spark
    # builtin expression templates, before the cast/subscript passes so
    # template output participates in them
    # (information_schema._pg_expandarray(arr)).field — record field
    # access over the SRF (value-expressions.rst:180): project the
    # requested field directly (.x = values, .n = 1-based indices)
    def _expand_field(m: re.Match) -> str:
        arr, field = m.group("arr"), m.group("field").lower()
        if field == "n":
            return f"explode(sequence(1, size({arr})))"
        if field == "x":
            return f"explode({arr})"
        return m.group(0)

    sql = _EXPAND_FIELD_RE.sub(_expand_field, sql)

    # SQL-standard keyword spellings normalized before templating:
    # substring(x FROM a [FOR b]) -> comma form (routes the PG regex
    # variant to _substring_regex_sql); bare `trim(from x)` -> the
    # `trim(both from x)` spelling Spark parses
    sql = _substring_from_for_commas(sql)
    sql = re.sub(r"\btrim\s*\(\s*from\b", "trim(both from", sql,
                 flags=re.IGNORECASE)

    sql = _rewrite_crate_fns(sql, literals)

    # x::type -> CAST(x AS type), chains (a::text::int) included;
    # reference type spellings (data-types.rst) map to Spark DDL types
    def _cast_sub(expr: str, spec) -> str:
        lit = re.fullmatch(r"__LIT_(\d+)__", expr.strip())
        # length-parameterized character casts TRUNCATE
        # (data-types.rst: 'Alice Smith'::VARCHAR(5) -> 'Alice')
        if spec.params and spec.row.name in ("text", "character"):
            return f"substring(CAST({expr} AS STRING), 1, {spec.params[0]})"
        # TIME [WITH TIME ZONE] literals render as [micros_since_
        # midnight, offset_seconds] (data-types.rst TIMETZ examples)
        if lit and spec.row is not None and spec.row.name == "time with time zone":
            tm = re.fullmatch(
                r"(\d+):(\d+)(?::(\d+(?:\.\d+)?))?"
                r"([+-])?(\d{2})?:?(\d{2})?",
                literals[int(lit.group(1))][1:-1],
            )
            if tm:
                us = (int(tm.group(1)) * 3600 + int(tm.group(2)) * 60) * 1_000_000
                if tm.group(3):
                    us += int(round(float(tm.group(3)) * 1_000_000))
                off = 0
                if tm.group(4) and tm.group(5):
                    off = int(tm.group(5)) * 3600 + int(tm.group(6) or 0) * 60
                    if tm.group(4) == "-":
                        off = -off
                return f"array(CAST({us} AS BIGINT), CAST({off} AS BIGINT))"
        target = cast_type(spec)
        # string-literal -> timestamp casts: the reference's parser is
        # laxer than Spark's ('1852-05-04T00:00Z' — minutes precision
        # with zone); normalize via fromisoformat at rewrite time
        if lit and target.upper().startswith("TIMESTAMP"):
            raw = literals[int(lit.group(1))][1:-1]
            try:
                norm = datetime.fromisoformat(raw.replace("Z", "+00:00"))
                literals[int(lit.group(1))] = f"'{norm.isoformat(sep=' ')}'"
            except ValueError:
                pass
        # numeric -> timestamp casts read epoch MILLIS (crate storage;
        # data-types.rst 1000::TIMESTAMP = 1970-01-01T00:00:01)
        if target.upper().startswith("TIMESTAMP") and re.fullmatch(
            r"-?\d+", expr.strip()
        ):
            inner = f"timestamp_millis({expr})"
            if target.upper() == "TIMESTAMP":
                return inner
            return f"CAST({inner} AS {target})"
        return f"CAST({expr} AS {target})"

    pos = 0
    while "::" in sql and (m := _CAST_RE.search(sql, pos)):
        read = parse_type(sql, m.end())
        if read is None:  # a spelling the parser does not read: Spark's
            pos = m.end()
            continue
        spec, end = read
        expr = m.group("expr")
        # a parenthesized operand right after OVER is a window spec,
        # not a castable expression (`... OVER (w)::t` casts the whole
        # window result — not expressible textually): Spark parses
        # `expr::type` natively, so only the type is mapped there
        if expr is None or expr.startswith("(") and re.search(
            r"(?i)\bOVER\s*$", sql[: m.start()]
        ):
            pos = m.end()
            sql = sql[:pos] + cast_type(spec) + sql[end:]
        else:
            pos = m.start()
            # a typed literal is one operand: TIMESTAMP '…'::text
            if re.fullmatch(r"__LIT_\d+__", expr) and (typed := _literal_type(sql, pos)):
                pos, expr = typed[0], sql[typed[0] : m.end("expr")]
            sql = sql[:pos] + _cast_sub(expr, spec) + sql[end:]
    # explicit CAST(x AS <type>) spellings go through the same type
    # map as `::` (the reference accepts bare varchar/text/int8/...;
    # Spark's VARCHAR demands a length). Anchored to real CAST spans —
    # an unrelated alias named like a type (`1 AS text`) is untouched.
    sql = _map_cast_as_types(sql)
    sql = _SUBSCRIPT_SLICE_RE.sub(_subscript_slice_sub, sql)
    sql = _SUBSCRIPT_RE.sub(r"element_at(\g<base>, \g<idx>)", sql)
    # `^` is EXPONENTIATION in the reference (arithmetic.rst operator
    # precedence: parens > exponentiation > mul/div; PG semantics),
    # where Spark's `^` is bitwise XOR. Rewrite operand pairs to
    # power() first — left-associative via the iteration — and only
    # then map the reference's XOR spelling `#` onto Spark's `^`.
    prev_pow = None
    while prev_pow != sql:
        prev_pow = sql
        sql = _POW_OP_RE.sub(r"power(\g<lhs>, \g<rhs>)", sql)
    # PG array-overlap operator `&&` (array-comparisons.rst) — must
    # run before any single-& handling
    sql = _OVERLAP_OP_RE.sub(r"arrays_overlap(\g<lhs>, \g<rhs>)", sql)
    # PG/crate bitwise XOR spelling `#` -> Spark's `^` (bit-operators.rst)
    sql = _XOR_OP_RE.sub(r"\g<lhs> ^ \g<rhs>", sql)
    # the reference's regexp operators match the WHOLE string
    # (RegexpMatchOperator.java:82 String.matches / Lucene automaton
    # run over the full byte range), unlike PG's partial ~ — anchor
    sql = _REGEX_CI_RE.sub(r"\g<lhs> RLIKE concat('^(?i)(?:', \g<rhs>, ')$')", sql)
    sql = _REGEX_NOT_RE.sub(r"NOT (\g<lhs> RLIKE concat('^(?:', \g<rhs>, ')$'))", sql)
    sql = _REGEX_RE.sub(r"\g<lhs> RLIKE concat('^(?:', \g<rhs>, ')$')", sql)
    def _any_eq_sub(m: re.Match) -> str:
        lhs, inner = m.group("lhs"), m.group("inner")
        # subquery form `x = ANY(SELECT ...)` is IN-equivalent
        # (AnyEqOperator over a relation); array_contains would be
        # unparseable there
        if re.match(r"(?i)\s*(SELECT|VALUES)\b", inner):
            return f"{lhs} IN ({inner})"
        # a dynamic-object field subscript is a JSON string — decode
        # it to an array before the containment test
        if inner.strip().startswith("get_json_object("):
            return (
                f"array_contains(from_json({inner}, 'array<string>'), "
                f"CAST({lhs} AS STRING))"
            )
        # nested-array ANY (array-comparisons.rst): a SCALAR operand
        # against array-of-arrays compares at any depth — flatten one
        # level; an ARRAY operand compares against the elements as-is
        if re.match(r"\s*array\s*\(\s*array\s*\(", inner) and not re.match(
            r"\s*array\s*\(", lhs
        ):
            return f"array_contains(flatten({inner}), {lhs})"
        return f"array_contains({inner}, {lhs})"

    sql = _ANY_EQ_RE.sub(_any_eq_sub, sql)

    def _any_all_like_sub(m: re.Match) -> str:
        operand, neg, likeop, quant, inner = (
            m.group("lhs"), m.group("neg"), m.group("likeop"),
            m.group("quant"), m.group("inner"),
        )
        if re.match(r"(?i)\s*(SELECT|VALUES)\b", inner):
            return m.group(0)  # subquery quantifiers: leave to Spark
        hof = "exists" if quant.upper() == "ANY" else "forall"
        if inner.strip().startswith("get_json_object("):
            inner = f"from_json({inner}, 'array<string>')"
        body = f"{operand} {likeop.upper()} __x"
        if neg:
            body = f"NOT ({body})"
        return f"{hof}({inner}, __x -> {body})"

    sql = _ANY_ALL_LIKE_RE.sub(_any_all_like_sub, sql)

    def _any_all_cmp_sub(m: re.Match) -> str:
        operand, op, quant, inner = (
            m.group("lhs"), m.group("op"), m.group("quant"), m.group("inner"),
        )
        quant = quant.upper()
        if re.match(r"(?i)\s*(SELECT|VALUES)\b", inner):
            # Quantified subquery comparisons (reference
            # any/AnyOperator.java:56): Spark only supports IN/EXISTS
            # subqueries, so rewrite to scalar min/max subqueries.
            # `x > ANY(S)` holds iff x > min(S); `x > ALL(S)` iff
            # x > max(S), and symmetrically for < / <= / >=. Edge
            # divergence (documented): when S mixes NULLs with a value
            # that decides the predicate, 3VL ANY/ALL may yield UNKNOWN
            # where min/max yields TRUE/FALSE — identical under WHERE,
            # where UNKNOWN filters like FALSE.
            def scalar(agg: str) -> str:
                return f"(SELECT {agg}(__v) FROM ({inner}) AS __q(__v))"

            if op in ("<>", "!="):
                if quant == "ALL":  # exactly NOT IN semantics
                    return f"{operand} NOT IN ({inner})"
                return (
                    f"({operand} <> {scalar('MIN')}"
                    f" OR {operand} <> {scalar('MAX')})"
                )
            if op == "=":
                if quant == "ANY":  # IN (also handled by _ANY_EQ_RE)
                    return f"{operand} IN ({inner})"
                return (
                    f"({operand} = {scalar('MIN')}"
                    f" AND {operand} = {scalar('MAX')})"
                )
            use_min = (op[0] == ">") == (quant == "ANY")
            return f"{operand} {op} {scalar('MIN' if use_min else 'MAX')}"
        hof = "exists" if quant == "ANY" else "forall"
        if inner.strip().startswith("get_json_object("):
            inner = f"from_json({inner}, 'array<string>')"
        return f"{hof}({inner}, __x -> {operand} {op} __x)"

    sql = _ANY_ALL_CMP_RE.sub(_any_all_cmp_sub, sql)
    sql = _SCHEMA_RE.sub(r"\2_\4", sql)
    # the default schema prefix is transparent: doc.t (and the
    # column-qualifying doc.t.c) resolve to the bare table name
    sql = re.sub(r"(?<![\w.])doc\s*\.\s*(?=[A-Za-z_])", "", sql)
    # user schemas are catalog metadata over one flat storage
    # namespace (create-schema.rst): rx.metrics (and `rx`.`metrics` —
    # double quotes became backticks earlier in rewrite() — and the
    # column-qualifying rx.t.c) resolve to the bare name.  The strip
    # is positional, NOT a blind substitution (ADVICE r5): a table
    # alias that happens to equal a schema name (FROM t AS rx ...
    # rx.col) must keep its qualifier, so we only strip (a) directly
    # after a relation-introducing keyword and (b) three-part
    # schema.table.column qualifiers, which an alias.column reference
    # can never be.
    for _sch in sorted(user_schemas or (), key=len, reverse=True):
        if _sch and re.fullmatch(r"[A-Za-z_]\w*", _sch):
            sch_pat = rf"(?:`{_sch}`|{_sch}\b)"
            # relation position, including later items of a
            # comma-separated FROM list (`FROM rx.a, rx.b`): the
            # prefix alternation eats `relation [AS alias], ` pairs;
            # loop to a fixpoint since each pass strips one
            # occurrence per list
            # each list item is strictly `relation [AS alias],` — a
            # dotted/backticked name plus at most one alias word — so
            # the repetition can never walk across ORDER BY/GROUP BY
            # into expression commas where a schema-named ALIAS
            # qualifier must survive
            _rel_re = re.compile(
                rf"(\b(?:FROM|JOIN|INTO|UPDATE|TABLE|EXISTS)\s+"
                rf"(?:(?:[A-Za-z_][\w.]*|`[^`]+`(?:\s*\.\s*`[^`]+`)*)"
                rf"(?:\s+(?:AS\s+)?(?:[A-Za-z_]\w*|`[^`]+`))?\s*,\s*)*){sch_pat}"
                rf"\s*\.\s*(?=[A-Za-z_`])",
                re.IGNORECASE,
            )
            while True:
                new_sql = _rel_re.sub(r"\1", sql)
                if new_sql == sql:
                    break
                sql = new_sql
            # an alias that EQUALS the schema name shadows it (PG
            # resolution order), and alias.struct.field IS three-part
            # (`FROM t AS rx ... rx.obj.field` — ADVICE r6): when the
            # statement declares the name as a RELATION alias, skip the
            # three-part strip so the qualifier keeps resolving to the
            # alias. Only relation-alias positions count — a COLUMN
            # alias (`expr AS rx,`) must not disable the strip, so the
            # match is anchored to `FROM|JOIN <relation> [AS] rx`, or —
            # for a subquery's `) [AS] rx` — to the closing paren of a
            # paren group that itself OPENS at FROM/JOIN (scan via
            # find_close; ADVICE r7: a trailing-context guess misses
            # the comma-join position and a bare `,` lookahead would
            # re-admit SELECT-list column aliases).
            # Relation positions were already stripped above.
            alias_decl = re.search(
                rf"\b(?:FROM|JOIN)\s+(?:[A-Za-z_][\w.]*|`[^`]+`)"
                rf"\s+(?:AS\s+)?{sch_pat}(?![\w.(])",
                sql,
                re.IGNORECASE,
            )
            if not alias_decl:
                for fm in re.finditer(r"\b(?:FROM|JOIN)\s*\(", sql, re.IGNORECASE):
                    close = find_close(sql, fm.end() - 1)
                    if close >= 0 and re.match(
                        rf"\s*(?:AS\s+)?{sch_pat}(?![\w.(])",
                        sql[close + 1 :],
                        re.IGNORECASE,
                    ):
                        alias_decl = True
                        break
            if alias_decl:
                continue
            sql = re.sub(
                rf"(?<![\w.`\"]){sch_pat}\s*\.\s*"
                rf"(?=(?:[A-Za-z_]\w*|`[^`]+`)\s*\.\s*[A-Za-z_`])",
                "",
                sql,
                flags=re.IGNORECASE,
            )
    # pg_typeof returns crate type NAMES (PgTypeofFunction), not
    # Spark's: integer / text / double precision / integer_array ...
    while True:
        m = _PG_TYPEOF_RE.search(sql)
        if not m:
            break
        close = find_close(sql, m.end() - 1)
        if close < 0:
            break
        mapped = crate_name_sql(f"typeof({sql[m.end():close]})")
        sql = sql[: m.start()] + mapped + sql[close + 1 :]
    # CurrentSchemaFunction: single-schema catalog -> a plan-time
    # literal (the session-information calls are _FN_TEMPLATES rows)
    sql = re.sub(r"\b(?:pg_catalog\s*[._]\s*)?current_schema\b(\s*\(\s*\))?", "'doc'", sql, flags=re.IGNORECASE)
    # session-info scalars resolve to the AUTHENTICATED session user
    # (SessionSettings; SET SESSION AUTHORIZATION switches it). The
    # bare USER keyword is PG's current_user alias.
    sql = re.sub(
        r"\b(session_user|current_user|current_role|current_catalog)\b(\s*\(\s*\))?",
        f"'{session_user}'", sql, flags=re.IGNORECASE,
    )
    sql = re.sub(
        r"(?<![\w.\"'])USER(?![\w(.])",
        f"'{session_user}'", sql, flags=re.IGNORECASE,
    )

    def _match_sub(m: re.Match) -> str:
        col, lit_ref, mode, opts = m.group("col", "query", "mode", "opts")
        idx = int(re.match(r"__LIT_(\d+)__", lit_ref).group(1))
        terms = [t for t in literals[idx].strip("'").lower().split() if t]
        toks = (
            f"split(trim(regexp_replace(lower({col}), '[^a-z0-9]+', ' ')), ' ')"
        )
        mode = (mode or "best_fields").lower()
        if mode == "phrase":
            # consecutive-token containment (MatchPredicate phrase mode)
            phrase = " " + " ".join(terms) + " "
            return f"concat(' ', array_join({toks}, ' '), ' ') LIKE '%{phrase}%'"
        want_all = bool(
            opts and re.search(r"operator\s*=\s*__LIT_(\d+)__", opts)
            and literals[
                int(re.search(r"operator\s*=\s*__LIT_(\d+)__", opts).group(1))
            ].strip("'").lower() == "and"
        )
        per_term = [f"array_contains({toks}, '{t}')" for t in terms]
        joiner = " AND " if want_all else " OR "
        return "(" + joiner.join(per_term) + ")" if per_term else "FALSE"

    # MATCH(col, 'terms') [USING best_fields|phrase [WITH (...)]] ->
    # token predicate (MatchPredicate.java:85: best_fields-OR default,
    # operator='and' option, phrase mode; _score ranking needs
    # operators/fulltext.bm25_scores — handled by the engine, not here)
    sql = _MATCH_RE.sub(_match_sub, sql)

    # (to_char is handled by the _FN_TEMPLATES balanced-paren path)

    # PG result-limiting spellings (select.rst: FETCH FIRST n ROWS
    # ONLY, OFFSET n ROWS) -> Spark's LIMIT/OFFSET. The combined form
    # is reordered because Spark's grammar wants LIMIT before OFFSET.
    sql = re.sub(
        r"\bOFFSET\s+(\d+)\s+ROWS?\s+FETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+ROWS?\s+ONLY",
        r"LIMIT \2 OFFSET \1",
        sql,
        flags=re.IGNORECASE,
    )
    sql = re.sub(
        r"\bFETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+ROWS?\s+ONLY",
        r"LIMIT \1",
        sql,
        flags=re.IGNORECASE,
    )
    sql = re.sub(r"\bOFFSET\s+(\d+)\s+ROWS?\b", r"OFFSET \1", sql, flags=re.IGNORECASE)

    # aggregate-as-window with FILTER (window-functions.rst: FILTER is
    # allowed on aggregates used as window functions; Spark rejects
    # "window aggregate with filter predicate") -> CASE-guarded
    # argument, identical semantics since aggregates skip NULLs.
    # Plain aggregate FILTER (no OVER) is Spark-native — the lookahead
    # leaves it alone.
    def _win_filter_sub(m: re.Match) -> str:
        fn, arg, cond, over = m.group("fn", "arg", "cond", "over")
        arg = "1" if arg.strip() == "*" else arg
        return f"{fn}(CASE WHEN {cond} THEN {arg} END){over}"

    sql = _WINDOW_FILTER_RE.sub(_win_filter_sub, sql)

    # lag/lead over an unordered window: the reference evaluates them
    # in partition insertion order (WindowFunction docs examples);
    # Spark demands ORDER BY — a constant key keeps arrival order
    sql = _UNORDERED_WINDOW_RE.sub(
        lambda m: f"{m['head']} ORDER BY 1{' ' + m['frame'] if m['frame'] else ''})", sql
    )

    sql = _rewrite_order_by(sql)
    # PG/CrateDB string literals are standard-conforming: backslash is
    # a literal character ('\d' stays '\d'). Spark's parser treats it
    # as an escape, so the input literals double it. Literals appended
    # by rewrite templates are already Spark-escaped and emit verbatim.
    return unmask(sql, [
        lit.replace("\\", "\\\\") if i < n_input_lits else lit
        for i, lit in enumerate(literals)
    ])


#: system doc columns every table exposes in the reference
#: (``metadata/doc/SysColumns.java:49-63``): _id is a deterministic
#: per-row id, _doc the row as an object, _raw the row as JSON.
#: (_score is handled separately — it needs the MATCH bm25 join,
#: see engine.CrateSession._execute_match_score.)
_SYS_COL_EXPRS = {
    "_id": "md5(to_json(struct(*)))",
    "_doc": "struct(*)",
    "_raw": "to_json(struct(*))",
    # OCC columns (SysColumns.java:50-56; occ.rst): every live row is
    # at version 1 / seq 0 / term 1 here — each mutation REWRITES the
    # parquet content rather than versioning documents in place, so
    # the optimistic-concurrency handshake degenerates to these
    # constants (conflicts can't occur within one driver session)
    "_version": "CAST(1 AS BIGINT)",
    "_seq_no": "CAST(0 AS BIGINT)",
    "_primary_term": "CAST(1 AS BIGINT)",
    # _score outside a MATCH/knn_match context: 1.0 on every row
    # (SysColumns.java `_score`, REAL; the scoring paths intercept
    # BEFORE this rewrite in engine.execute)
    "_score": "CAST(1.0 AS FLOAT)",
    # _docid: the internal Lucene segment doc id (system-columns.rst:
    # "unique within a segment ... can change when segments merge") —
    # the Spark analog is the partition-encoded monotonic row id,
    # which carries the same caveats (unique per output, unstable
    # across rewrites)
    "_docid": "monotonically_increasing_id()",
}
_SYS_COL_RE = re.compile(
    r"(?<![\w.'])(_id|_docid|_doc|_raw|_version|_seq_no|_primary_term|_score)\b"
)


def rewrite_sys_columns(sql: str) -> str:
    """Expand ``_id`` / ``_doc`` / ``_raw`` references into their
    row-level expressions. A bare select-list occurrence (preceded by
    SELECT or a comma, followed by a comma or FROM) keeps its name via
    an injected alias, matching the reference's output column naming;
    occurrences inside expressions expand in place.

    Single-relation statements only — ``struct(*)`` expands the whole
    input row, so in a join it would span both sides.

    Quoted text is masked first so a ``_score`` or ``_id`` INSIDE a
    literal or a quoted name is never rewritten; a quoted name that is
    exactly a system column (``"_id"``) reads that column.
    """
    sql, tokens = mask(sql)

    def _sys_name(m: re.Match) -> str:
        tok = tokens[int(m.group(1))]
        bare = tok[0] in '"`' and tok[1:-1] in _SYS_COL_EXPRS
        return tok[1:-1] if bare else m.group(0)

    sql = _MASK_RE.sub(_sys_name, sql)
    # qualified references (t._score, nation._id) read the same system
    # column — the reference resolves alias-qualified sys columns like
    # any column; storage is single-relation here so the qualifier
    # carries no information. Strip it so the expansion below fires.
    sql = re.sub(
        r"\b\w+\s*\.\s*"
        r"(_id|_docid|_doc|_raw|_version|_seq_no|_primary_term|_score)\b",
        r"\1",
        sql,
    )
    out, last = [], 0
    for m in _SYS_COL_RE.finditer(sql):
        expr = _SYS_COL_EXPRS[m.group(1)]
        before = sql[: m.start()].rstrip()
        after = sql[m.end() :].lstrip()
        bare_item = (
            before.endswith(",") or re.search(r"(?i)\bSELECT\s*(DISTINCT\s*)?$", before + " ")
        ) and (after.startswith(",") or re.match(r"(?i)(FROM\b|$)", after))
        out.append(sql[last : m.start()])
        out.append(f"{expr} AS {m.group(1)}" if bare_item else expr)
        last = m.end()
    out.append(sql[last:])
    return unmask("".join(out), tokens)

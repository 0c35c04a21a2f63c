"""The front end's one SQL lexer (``dialect.mask`` / ``dialect.unmask``).

Every text pass that runs before Spark asks the same lexer which part
of a statement is quoted text: parameter binding, the DML router, UDF
call resolution, the system-column and ``_score`` passes, the
system-view name scan, the FROM-less planner and ``rewrite`` itself.
These cases pin what the lexer decides and the client-visible answers
that follow from it: quoted text is data, a parameter is never taken
from inside it, a placeholder-shaped value is never restored twice,
and a quoted identifier is one name.
"""

from __future__ import annotations

import pytest

from crate_spark.dialect import mask, rewrite, string_value, unmask
from crate_spark.engine import CrateSession


@pytest.fixture(scope="module")
def crate(spark, tmp_path_factory):
    s = CrateSession(spark, None, storage_dir=str(tmp_path_factory.mktemp("lexer")))
    s.execute(
        "CREATE TABLE lx (id INT PRIMARY KEY, s TEXT, o OBJECT AS (b INT), "
        "tags ARRAY(TEXT))"
    )
    s.execute("INSERT INTO lx (id, s, o, tags) VALUES (1, 'a', {b = 5}, ['x', 'y'])")
    s.execute(
        "CREATE FUNCTION twice(integer) RETURNS integer LANGUAGE JAVASCRIPT "
        "AS 'function twice(a) { return a * 2; }'"
    )
    return s


def _rows(df):
    return [tuple(r) for r in df.collect()]


# -- the lexer ---------------------------------------------------------------
@pytest.mark.parametrize(
    "sql,masked,tokens",
    [
        ("SELECT 'a''b', x", "SELECT __LIT_0__, x", ["'a''b'"]),
        ("SELECT E'it\\'s', 1", "SELECT __LIT_0__, 1", ["E'it\\'s'"]),
        ("SELECT $q$it's$q$, $$x$$", "SELECT __LIT_0__, __LIT_1__", ["$q$it's$q$", "$$x$$"]),
        ('SELECT "a""b" FROM t', "SELECT __LIT_0__ FROM t", ['"a""b"']),
        ("SELECT `a b` FROM t", "SELECT __LIT_0__ FROM t", ["`a b`"]),
        # one scan: no kind is looked for inside another
        ("SELECT 'x E' || 'y'", "SELECT __LIT_0__ || __LIT_1__", ["'x E'", "'y'"]),
        ("SELECT '$$', \"'\", $$'$$", "SELECT __LIT_0__, __LIT_1__, __LIT_2__",
         ["'$$'", "\"'\"", "$$'$$"]),
        # a positional parameter is not a dollar quote
        ("SELECT $1, $2", "SELECT $1, $2", []),
        # the E of a name or of a previous string is no escape prefix
        ("SELECT typE'x'", "SELECT typE__LIT_0__", ["'x'"]),
    ],
)
def test_mask_token_kinds(sql, masked, tokens):
    assert mask(sql) == (masked, tokens)
    assert unmask(masked, tokens) == sql


def test_mask_can_keep_quoted_names():
    assert mask("SELECT \"x\", 'y' FROM `t`", ident=str) == (
        "SELECT \"x\", __LIT_0__ FROM `t`", ["'y'"]
    )


def test_unmask_restores_in_one_pass():
    assert unmask("__LIT_0__ __LIT_1__", ["'__LIT_1__'", "'b'"]) == "'__LIT_1__' 'b'"


@pytest.mark.parametrize(
    "tok,value",
    [("'a''b'", "a'b"), ("E'a\\'b\\n'", "a'b\n"), ("$t$a'$b$t$", "a'$b"), ("$$$$", "")],
)
def test_string_value(tok, value):
    assert string_value(tok) == value


@pytest.mark.parametrize(
    "sql,out",
    [
        ('SELECT "o"[\'b\'] FROM t', "SELECT `o`['b'] FROM t"),
        ('SELECT "a""b", "x`y" FROM t', "SELECT `a\"b`, `x``y` FROM t"),
        # a quoted name with a dot is one name, not a schema path
        ('SELECT "sys.jobs" FROM t', "SELECT `sys.jobs` FROM t"),
        ('SELECT * FROM sys."jobs"', "SELECT * FROM sys_jobs"),
    ],
)
def test_rewrite_backticks_each_quoted_name(sql, out):
    assert rewrite(sql) == out


@pytest.mark.parametrize(
    "sql,columns,out",
    [
        # a quoted subscript base keeps its case: "O" is not column o
        ('SELECT "O"[\'b\'] FROM t', {"o"}, "SELECT `O`['b'] FROM t"),
        ('SELECT "O"[\'b\'] FROM t', {"O"}, "SELECT get_json_object(`O`, '$.b') FROM t"),
        ('SELECT "o"[\'b\'] FROM t', {"o"}, "SELECT get_json_object(`o`, '$.b') FROM t"),
        ("SELECT O['b'] FROM t", {"o"}, "SELECT get_json_object(O, '$.b') FROM t"),
    ],
)
def test_quoted_subscript_base_matches_its_exact_name(sql, columns, out):
    assert rewrite(sql, columns) == out


# -- quoted text takes no parameter ------------------------------------------
@pytest.mark.parametrize(
    "sql,params,rows",
    [
        ("SELECT $$what?$$ AS q, ? AS p", [7], [("what?", 7)]),
        ("SELECT E'it\\'s?' AS q, ? AS p", [7], [("it's?", 7)]),
        ('SELECT s AS "what?" FROM lx WHERE id = ?', [1], [("a",)]),
        ("SELECT $$cost $1$$ AS q, $1 AS p", [7], [("cost $1", 7)]),
        ("SELECT 'x' AS a, ? AS b", ["__PLIT_0__"], [("x", "__PLIT_0__")]),
        ("SELECT 'x' AS a, $1 AS b", ["__LIT_0__"], [("x", "__LIT_0__")]),
    ],
)
def test_bound_parameters_skip_quoted_text(crate, sql, params, rows):
    assert _rows(crate.execute(sql, params)) == rows


# -- placeholder-shaped data stays data --------------------------------------
def test_placeholder_shaped_literal_is_data(crate):
    assert _rows(crate.execute("SELECT '__LIT_1__' AS a, 'x' AS b")) == [("__LIT_1__", "x")]


def test_placeholder_shaped_insert_value_is_data(crate):
    crate.execute("CREATE TABLE lx_ins (id INT PRIMARY KEY, s TEXT)")
    crate.execute("INSERT INTO lx_ins (id, s) VALUES (1, '__LIT_1__'), (2, 'b')")
    assert _rows(crate.execute("SELECT id, s FROM lx_ins ORDER BY id")) == [
        (1, "__LIT_1__"), (2, "b"),
    ]


# -- quoted text is never read as a name -------------------------------------
def test_system_column_name_in_dollar_quote_is_data(crate):
    assert _rows(crate.execute("SELECT $$_id$$ AS q FROM lx")) == [("_id",)]


def test_udf_name_in_dollar_quote_is_data(crate):
    assert _rows(crate.execute("SELECT $$twice(2)$$ AS q")) == [("twice(2)",)]
    assert _rows(crate.execute("SELECT twice(2) AS q")) == [(4,)]


def test_score_in_dollar_quote_is_data(crate):
    assert _rows(crate.execute("SELECT id FROM lx WHERE s = $$_score$$")) == []


# -- a quoted identifier is one name (ROADMAP 3j) ----------------------------
@pytest.mark.parametrize(
    "quoted,bare",
    [
        ("SELECT \"o\"['b'] AS v FROM lx", "SELECT o['b'] AS v FROM lx"),
        ('SELECT "tags"[1] AS v FROM lx', "SELECT tags[1] AS v FROM lx"),
        ("SELECT lx.\"o\"['b'] AS v FROM lx", "SELECT lx.o['b'] AS v FROM lx"),
        ('SELECT "lx"."s" AS v FROM "lx"', "SELECT lx.s AS v FROM lx"),
        ('SELECT "_raw" FROM lx WHERE "_version" = 1', "SELECT _raw FROM lx WHERE _version = 1"),
    ],
)
def test_quoted_name_answers_like_bare_name(crate, quoted, bare):
    expect = _rows(crate.execute(bare))
    assert expect and _rows(crate.execute(quoted)) == expect


def test_quoted_system_column_reads_the_column(crate):
    bare, quoted = crate.execute("SELECT _id FROM lx"), crate.execute('SELECT "_id" FROM lx')
    assert quoted.columns == bare.columns == ["_id"]
    assert _rows(quoted) == _rows(bare)


@pytest.mark.parametrize("name", ['"o.b"', '"my-col"'])
def test_unknown_quoted_name_is_an_unknown_column(crate, name):
    with pytest.raises(Exception, match="UNRESOLVED_COLUMN"):
        crate.execute(f"SELECT {name} FROM lx").collect()


def test_quoted_alias_keeps_quotes_and_backticks(crate):
    assert crate.execute('SELECT 1 AS "a""b", 2 AS "x`y"').columns == ['a"b', "x`y"]

"""Property-based tests for the dialect shim (hypothesis).

The rewrite layer is pure text transformation guarded by literal
masking; these properties pin its invariants against the regex-edge
bugs unit examples can miss:

- string literals survive BYTE-EXACT end-to-end (mask -> rewrites ->
  unmask -> Spark parse -> value), whatever crate-ism syntax they
  contain;
- no internal mask token ever leaks into the emitted SQL;
- integer-literal division chains match Python // (Java semantics,
  ArithmeticFunctions.java);
- parentheses stay balanced through every rewrite.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from crate_spark.dialect import rewrite
from crate_spark.engine import CrateSession


@pytest.fixture(scope="module")
def crate(spark):
    return CrateSession(spark)


# text that exercises the masking: quotes doubled per SQL, the
# operator characters every rewrite pass matches on, and fragments
# shaped like mask placeholders, dollar quotes, parameters and escapes
_TRICKY = st.lists(
    st.sampled_from(
        list("abcZ09 _%\\~*#[]{}():=<>/.-+$'\"|^?!")
        + ["__LIT_0__", "__LIT_1__", "__PLIT_0__", "__SYSLIT0__", "$$", "$1", "?", "\\'", '"']
    ),
    max_size=24,
).map("".join)


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


@settings(max_examples=200, deadline=None)
@given(_TRICKY)
def test_no_mask_token_leaks(s):
    out = rewrite(f"SELECT {_sql_quote(s)} AS v, 1 + 1 AS w FROM t")
    # the literal comes out whole (backslashes Spark-escaped); outside
    # it, no placeholder is left
    lit = _sql_quote(s).replace("\\", "\\\\")
    assert lit in out
    outside = out.replace(lit, "", 1)
    assert not re.search(r"__LIT_\d+__", outside)
    assert "__OBJSTRUCT__" not in outside


@settings(max_examples=200, deadline=None)
@given(_TRICKY, _TRICKY)
def test_parens_stay_balanced(a, b):
    sql = (
        f"SELECT x::int AS c, {_sql_quote(a)} AS v FROM t "
        f"WHERE y LIKE {_sql_quote(b)} AND arr[1] = 2"
    )
    out = rewrite(sql)
    outside = re.sub(r"'(?:[^']|'')*'", "", out)  # parens in literals don't count
    assert outside.count("(") == outside.count(")")


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=999), min_size=2, max_size=4))
def test_int_division_chain_matches_java(terms):
    """1-literal division chains rewrite to Java integer division
    (left-assoc truncation), per ArithmeticFunctions.java:78-85."""
    sql = rewrite("SELECT " + "/".join(map(str, terms)) + " AS v")
    m = re.fullmatch(r"SELECT (div\(.*\)) AS v", sql)
    assert m, sql
    expect = terms[0]
    for t in terms[1:]:
        expect = int(expect / t)  # Java truncates toward zero
    py = m.group(1).replace("div(", "int.__floordiv__(")
    # evaluate the emitted div() tree with Python ints (positive
    # operands: floordiv == Java truncation)
    assert eval(py) == expect  # noqa: S307 - test-local arithmetic


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_TRICKY)
def test_literals_roundtrip_through_spark(spark, crate, s):
    """The masked literal reaches Spark byte-exact: whatever operator
    soup it contains, the VALUE comes back unchanged — spelled as a
    string, an escape string or a dollar quote, or bound as ``?`` or
    ``$1`` through the session."""
    df = spark.sql(rewrite(f"SELECT {_sql_quote(s)} AS v"))
    assert df.collect()[0][0] == s
    e_quoted = "E'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    spellings = [e_quoted] + ([f"$q${s}$q$"] if "$q" not in s else [])
    for lit in spellings:
        assert crate.execute(f"SELECT {lit} AS v").collect()[0][0] == s, lit
    for marker in ("?", "$1"):
        assert crate.execute(f"SELECT {marker} AS v", [s]).collect()[0][0] == s, marker


# ---------------------------------------------------------------------------
# r8: unbounded operand nesting (VERDICT r7 #3 — the 4/5-level paren
# bound is gone; recursive-pattern operands via the `regex` module)
# ---------------------------------------------------------------------------
@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=12),
    st.sampled_from([
        "cast", "subscript", "slice", "power", "regexop", "any_eq", "any_cmp", "concat_arr",
        "lag_unordered", "window_filter", "window_def", "has_privilege", "expandarray",
        "escape_empty", "match_concat_ws",
    ]),
)
def test_operand_nesting_depth_unbounded(depth, form):
    """An operand nested to ANY paren depth participates in the
    ::-cast / subscript / binary-operator rewrites — the r7 fuzz found
    a 2-level cliff, r7 raised the bound to 4-5, r8 removes the class
    (dialect._paren recursive pattern) — and in the window, constant
    call, ESCAPE and MATCH rewrites."""
    wrapped = "(" * depth + "a + b" + ")" * depth
    if form == "cast":
        out = rewrite(f"SELECT {wrapped}::bigint AS v FROM t")
        assert "CAST" in out and "::" not in out, out
    elif form == "subscript":
        out = rewrite(f"SELECT {wrapped}[2] AS v FROM t")
        assert "element_at" in out and "[2]" not in out, out
    elif form == "slice":
        out = rewrite(f"SELECT {wrapped}[1:3] AS v FROM t")
        assert "slice(" in out, out
    elif form == "power":
        out = rewrite(f"SELECT {wrapped} ^ 2 AS v FROM t")
        assert "power(" in out and "^" not in out, out
    elif form == "regexop":
        out = rewrite(f"SELECT x FROM t WHERE {wrapped} ~ 'p.*'")
        assert "RLIKE" in out and "~" not in out, out
    elif form == "any_eq":
        out = rewrite(f"SELECT x FROM t WHERE {wrapped} = ANY(tags)")
        assert "array_contains" in out, out
    elif form == "any_cmp":
        out = rewrite(f"SELECT x FROM t WHERE {wrapped} > ANY(vals)")
        assert "exists(" in out, out
    elif form == "lag_unordered":
        out = rewrite(f"SELECT lag({wrapped}) OVER (PARTITION BY g) AS l FROM t")
        assert out.endswith("OVER (PARTITION BY g ORDER BY 1 NULLS LAST) AS l FROM t"), out
    elif form == "window_filter":
        out = rewrite(f"SELECT sum(x) FILTER (WHERE {wrapped} > 10) OVER (PARTITION BY g) AS s FROM t")
        assert f"sum(CASE WHEN {wrapped} > 10 THEN x END) OVER" in out, out
    elif form == "window_def":
        out = rewrite(
            f"SELECT row_number() OVER (w ORDER BY id) AS r FROM t WINDOW w AS (PARTITION BY {wrapped})"
        )
        assert f"OVER (PARTITION BY {wrapped} ORDER BY id NULLS LAST) AS r" in out and "WINDOW" not in out, out
    elif form == "has_privilege":
        out = rewrite(f"SELECT has_table_privilege({wrapped}, 'SELECT') AS v")
        assert out == "SELECT TRUE AS v", out
    elif form == "expandarray":
        out = rewrite(f"SELECT (_pg_expandarray({wrapped})).x AS v FROM t")
        assert out == f"SELECT explode({wrapped}) AS v FROM t", out
    elif form == "escape_empty":
        out = rewrite(f"SELECT x LIKE {wrapped} ESCAPE '' AS v FROM t")
        assert out == rf"SELECT x LIKE replace({wrapped}, '\\', '\\\\') AS v FROM t", out
    elif form == "match_concat_ws":
        out = rewrite(f"SELECT x FROM t WHERE MATCH(concat_ws(' ', {wrapped}, c), 'q')")
        assert "array_contains(" in out and "MATCH" not in out, out
    else:
        out = rewrite(f"SELECT array(1,2) || {wrapped} AS v FROM t")
        assert "array_append" in out, out


def test_deep_function_call_operand_cast():
    """A function-call operand whose ARGUMENTS nest arbitrarily deep
    still casts (the keyword-guarded call form of the operand)."""
    out = rewrite("SELECT f(g(h(i(j(k(x + (y)))))))::int AS v FROM t")
    assert out == "SELECT CAST(f(g(h(i(j(k(x + (y))))))) AS int) AS v FROM t", out


def test_cast_as_separator_whitespace_tolerant():
    """ADVICE r7: CAST(x AS\\n varchar) — any whitespace around the AS
    keyword — maps the target type like the single-space spelling."""
    assert "AS STRING" in rewrite("SELECT CAST(x AS\n varchar) AS v FROM t")
    assert "AS BIGINT" in rewrite("SELECT CAST(x\tAS\tint8) AS v FROM t")
    out = rewrite("SELECT CAST(CAST(y AS\nint8) AS text) AS v FROM t")
    assert "AS BIGINT" in out and "AS STRING" in out, out
    # an alias merely NAMED like a type is still untouched
    assert rewrite("SELECT 1 AS text FROM t") == "SELECT 1 AS text FROM t"


def test_schema_alias_shadowing_comma_join():
    """ADVICE r7: a subquery alias that equals a user schema name keeps
    its qualifier in a COMMA join (`FROM (SELECT 1) rx, t2`), while a
    COLUMN alias of the same name still lets the three-part strip run."""
    out = rewrite(
        "SELECT rx.obj.field FROM (SELECT 1) rx, t2 WHERE 1=1",
        user_schemas={"rx"},
    )
    assert "rx.obj.field" in out, out
    out = rewrite("SELECT (a+b) rx, rx.t.c FROM rx.t", user_schemas={"rx"})
    assert "rx.t.c" not in out and "t.c" in out, out


def test_extract_fields_reference_semantics(spark):
    """EXTRACT follows the REFERENCE's ExtractFunctions, not PG:
    DOW is an alias of DAY_OF_WEEK (ISO Monday=1..Sunday=7,
    ExtractFunctions.java:178), CENTURY is Joda centuryOfEra — a
    straight year/100 split (2000 and 2001 are both century 20),
    and SECOND returns INTEGER secondOfMinute (fraction dropped).
    2001-02-18 is a Sunday."""
    from crate_spark.engine import CrateSession

    s = CrateSession(spark)
    ts = "TIMESTAMP '2001-02-18 21:05:09.5'"

    def one(expr):
        return s.execute(f"SELECT {expr} AS v").collect()[0][0]

    assert one(f"EXTRACT(DOW FROM {ts})") == 7
    assert one(f"EXTRACT(DAY_OF_WEEK FROM {ts})") == 7
    assert one("EXTRACT(DOW FROM TIMESTAMP '2001-02-19 00:00:00')") == 1
    assert one(f"EXTRACT(CENTURY FROM {ts})") == 20
    assert one("EXTRACT(CENTURY FROM TIMESTAMP '2000-06-01 00:00:00')") == 20
    assert one("EXTRACT(CENTURY FROM TIMESTAMP '1999-06-01 00:00:00')") == 19
    assert one(f"EXTRACT(SECOND FROM {ts})") == 9
    # the doc's interval examples: hour field, second stays integral
    assert one(
        "extract(hour from INTERVAL '5 days 12 hours 45 minutes')"
    ) == 12
    assert one("extract(second from INTERVAL '90 seconds')") == 30
    # epoch keeps its double-with-fraction contract
    assert one(f"EXTRACT(EPOCH FROM {ts})") == 982530309.5


def test_mixed_interval_literals(spark):
    """Mixed year-month + day-time interval literals — Spark's ANSI
    interval split can't hold them in one literal, the reference's
    Joda Period can. Arithmetic-adjacent literals ride
    make_interval(...); EXTRACT over interval literals constant-folds
    with the reference's up-to-days normalization (the doc's
    14 years / 1250 days / 49 hours example); standalone mixed
    literals keep the reference's text render (pinned elsewhere)."""
    import datetime

    from crate_spark.engine import CrateSession
    from crate_spark.session import load_tables

    s = CrateSession(spark)
    load_tables(spark, "/root/testdata/sf0.001")

    def one(q):
        return s.execute(q).collect()[0][0]

    base = "CAST(TIMESTAMP '1997-01-15 00:00:00' AS TIMESTAMP)"
    assert one(f"SELECT {base} + INTERVAL '1 year 2 days' AS t") == (
        datetime.datetime(1998, 1, 17)
    )
    assert one(f"SELECT {base} + '1 year 2 days'::interval AS t") == (
        datetime.datetime(1998, 1, 17)
    )
    assert one(f"SELECT {base} - INTERVAL '2 years 3 hours' AS t") == (
        datetime.datetime(1995, 1, 14, 21)
    )
    # SQL-standard Y-M shorthand in arithmetic
    assert one(f"SELECT {base} + '1-2'::interval AS t") == (
        datetime.datetime(1998, 3, 15)
    )
    # the doc NOTE's normalization example and friends
    assert one(
        "SELECT extract(day from INTERVAL '14 years 1250 days 49 hours') AS v"
    ) == 1252
    assert one(
        "SELECT extract(hour from INTERVAL '5 days 12 hours 45 minutes') AS v"
    ) == 12
    assert one("SELECT extract(second from INTERVAL '90 seconds') AS v") == 30
    assert one("SELECT extract(epoch from INTERVAL '2 days') AS v") == 172800.0


def test_dollar_brace_literal_reaches_row(spark):
    """Spark's ${var} substitution is disabled — a data value spelled
    '${0}' must reach the row byte-exact (the reference has no
    variable substitution; hypothesis literal-roundtrip regression)."""
    from crate_spark.engine import CrateSession

    s = CrateSession(spark)
    assert s.execute("SELECT '${0}' AS v").collect()[0][0] == "${0}"


@given(
    months=st.integers(min_value=-3000, max_value=3000),
    days=st.integers(min_value=-100000, max_value=100000),
    micros=st.integers(
        min_value=-10**15, max_value=10**15
    ).map(lambda v: (v // 1000) * 1000),  # reference precision is ms
)
@settings(max_examples=300, deadline=None)
def test_interval_render_parse_roundtrip(months, days, micros):
    """The crate text render is itself an accepted interval input
    ('1 year 2 mons 3 days 04:05:06'), so render -> parse -> normalize
    must reproduce the normalized fields of the original value. This
    pins the renderer and the parser against EACH OTHER across the
    whole value space (sign handling, field carry, ms fractions) —
    the r9 rewrite made both Joda-normalizedStandard-faithful and this
    keeps them from drifting apart."""
    from crate_spark.dialect import (
        _crate_interval_str,
        _normalize_interval_fields,
        _parse_interval_literal,
    )

    text = _crate_interval_str(months, days, micros)
    parsed = _parse_interval_literal(text)
    assert parsed is not None, text
    got = _normalize_interval_fields(parsed)
    want = _normalize_interval_fields(
        (0, months, days, 0, 0, micros / 1_000_000)
    )
    assert got[:5] == want[:5], (text, got, want)
    assert abs(got[5] - want[5]) < 1e-6, (text, got, want)


def test_extract_over_interval_arithmetic_property(spark):
    """r10 (VERDICT r9 next-round #8): literals, arithmetic and
    EXTRACT folds now share ONE interval parser — pin the three paths
    agreeing on COMPOSITION: ``EXTRACT(f FROM ts + INTERVAL 'iv')``
    over 200 seeded (timestamp, interval, field) cases against a
    Python-computed expected (total-months add with end-of-month
    clamp, then days+time — java.time Period.addTo order, which both
    the reference's arithmetic and Spark's make_interval follow).
    Interval spellings cycle through the rewrite paths: Spark-native
    unit words, mixed ym+dt (make_interval), SQL-standard shorthand,
    and ISO-8601."""
    import calendar
    import datetime
    import random

    from crate_spark.engine import CrateSession

    rng = random.Random(0x1E10AC)
    sess = CrateSession(spark)

    def add_iv(dt, y, mo, d, h, mi, s):
        m0 = dt.month - 1 + y * 12 + mo
        yr = dt.year + m0 // 12
        mn = m0 % 12 + 1
        dy = min(dt.day, calendar.monthrange(yr, mn)[1])
        base = dt.replace(year=yr, month=mn, day=dy)
        return base + datetime.timedelta(
            days=d, hours=h, minutes=mi, seconds=s
        )

    FIELDS = {
        "year": lambda t: t.year,
        "month": lambda t: t.month,
        "day": lambda t: t.day,
        "hour": lambda t: t.hour,
        "minute": lambda t: t.minute,
        "second": lambda t: t.second,
        "quarter": lambda t: (t.month - 1) // 3 + 1,
        "doy": lambda t: t.timetuple().tm_yday,
        # reference DOW = ISO Mon=1..Sun=7 (ExtractFunctions.java:178)
        "dow": lambda t: t.isoweekday(),
    }

    exprs, expected = [], []
    for i in range(200):
        ts = datetime.datetime(
            rng.randint(1960, 2090), rng.randint(1, 12),
            rng.randint(1, 28), rng.randint(0, 23),
            rng.randint(0, 59), rng.randint(0, 59),
        )
        y = rng.choice([0, 0, rng.randint(-3, 3)])
        mo = rng.choice([0, rng.randint(-26, 26)])
        d = rng.choice([0, rng.randint(-400, 400)])
        h = rng.choice([0, rng.randint(-50, 50)])
        mi = rng.choice([0, rng.randint(-120, 120)])
        s = rng.choice([0, rng.randint(-7000, 7000)])
        form = i % 4
        if form == 0:
            # unit-word list (Spark-native for pure ym or pure dt,
            # make_interval when mixed)
            parts = []
            for v, u in ((y, "years"), (mo, "mons"), (d, "days"),
                         (h, "hours"), (mi, "mins"), (s, "secs")):
                if v:
                    parts.append(f"{v} {u}")
            iv = " ".join(parts) or "0 secs"
        elif form == 1:
            # pure day-time, possibly large fields
            y = mo = 0
            iv = " ".join(
                f"{v} {u}" for v, u in
                ((d, "days"), (h, "hours"), (mi, "mins"), (s, "secs"))
                if v
            ) or "1 hour"
            if iv == "1 hour":
                h, d, mi, s = 1, 0, 0, 0
        elif form == 2:
            # SQL-standard shorthand [D] [H:M:S] (signs propagate)
            d, h, mi, s = abs(d), abs(h) % 24, abs(mi) % 60, abs(s) % 60
            y = mo = 0
            iv = f"{d} {h}:{mi:02d}:{s:02d}"
        else:
            # ISO-8601 period (always the fold path)
            y, mo, d = abs(y), abs(mo), abs(d)
            h, mi, s = abs(h), abs(mi), abs(s)
            iv = f"P{y}Y{mo}M{d}DT{h}H{mi}M{s}S"
        fname, fget = rng.choice(list(FIELDS.items()))
        lit = ts.strftime("%Y-%m-%d %H:%M:%S")
        exprs.append(
            f"CAST(EXTRACT({fname} FROM TIMESTAMP '{lit}' "
            f"+ INTERVAL '{iv}') AS BIGINT) AS f{i}"
        )
        expected.append((i, fname, iv, lit,
                         fget(add_iv(ts, y, mo, d, h, mi, s))))

    # one wide SELECT: 200 round-trips through the full shim at once
    row = sess.execute("SELECT " + ", ".join(exprs)).collect()[0]
    for i, fname, iv, lit, want in expected:
        assert row[f"f{i}"] == want, (
            f"EXTRACT({fname} FROM '{lit}' + '{iv}') = "
            f"{row[f'f{i}']}, want {want}"
        )

"""Seeded differential fuzzing: random ANSI SELECTs through
``CrateSession.execute`` (shim + engine dispatch, the user's SQL
front door) AND DuckDB over the same parquet, compared as canonical
multisets.

The registry's 160 oracle queries pin KNOWN shapes; this fuzz sweeps
the combinatorial space BETWEEN them — arbitrary nesting of
arithmetic, string ops, CASE, predicates, GROUP BY/HAVING and
aggregates — with a fixed seed so failures reproduce exactly.

Generation rules avoid the handful of declared engine divergences so
every mismatch is a real bug:

- integer `/` (crate/Spark truncate, DuckDB promotes to double):
  division is always through CAST(x AS DOUBLE)
- ORDER BY is never asserted: results compare as sorted multisets
  (LIMIT appears only under a total order on the unique key)
- float aggregates round to 6 decimals in BOTH engines before compare
"""

from __future__ import annotations

import random
import re

import pytest

from crate_spark.dialect import mask, unmask
from crate_spark.engine import CrateSession
from tests.conftest import SF_DIR, canonical_rows

N_QUERIES = 160
SEED = 0xC0FFEE

#: (name, type) columns of the two tables the grammar draws from.
NATION_COLS = [("n_nationkey", "i"), ("n_regionkey", "i"), ("n_name", "s")]
ORDERS_COLS = [
    ("o_orderkey", "i"),
    ("o_custkey", "i"),
    ("o_totalprice", "f"),
    ("o_orderstatus", "s"),
    ("o_orderpriority", "s"),
]


class Gen:
    def __init__(self, rng: random.Random, cols):
        self.rng = rng
        self.cols = cols

    def col(self, kind=None):
        opts = [c for c, k in self.cols if kind is None or k == kind]
        return self.rng.choice(opts) if opts else None

    def int_expr(self, depth=0):
        r = self.rng.random()
        c = self.col("i")
        if depth > 1 or r < 0.35:
            return c if self.rng.random() < 0.7 else str(self.rng.randint(1, 50))
        if r < 0.55:
            return f"({self.int_expr(depth + 1)} + {self.int_expr(depth + 1)})"
        if r < 0.7:
            return f"({self.int_expr(depth + 1)} * {self.rng.randint(2, 9)})"
        if r < 0.85:
            return f"({self.int_expr(depth + 1)} % {self.rng.randint(2, 13)})"
        return f"abs({self.int_expr(depth + 1)} - {self.rng.randint(1, 40)})"

    def dbl_expr(self):
        c = self.col("f") or self.col("i")
        r = self.rng.random()
        if r < 0.4:
            return f"round(CAST({c} AS DOUBLE) / {self.rng.randint(2, 9)}, 6)"
        if r < 0.7:
            return f"round(CAST({self.int_expr()} AS DOUBLE) / 7.0, 6)"
        return f"round(CAST({c} AS DOUBLE) * 0.25, 6)"

    def str_expr(self, depth=0):
        c = self.col("s")
        r = self.rng.random()
        if depth > 1 or r < 0.4:
            return c
        if r < 0.55:
            return f"upper({self.str_expr(depth + 1)})"
        if r < 0.7:
            return f"lower({self.str_expr(depth + 1)})"
        if r < 0.85:
            return f"substr({self.str_expr(depth + 1)}, 1, {self.rng.randint(1, 6)})"
        return f"({self.str_expr(depth + 1)} || '_' || {self.str_expr(depth + 1)})"

    def case_expr(self):
        return (
            f"CASE WHEN {self.pred(1)} THEN {self.rng.randint(0, 5)} "
            f"ELSE {self.rng.randint(6, 9)} END"
        )

    def misc_expr(self):
        r = self.rng.random()
        if r < 0.18:
            return f"length({self.str_expr()})"
        if r < 0.34:
            return f"trim(replace({self.str_expr()}, 'A', ' '))"
        if r < 0.48:
            return (
                f"coalesce(nullif({self.col('s')}, "
                f"'{self.rng.choice('AEK')}'), 'dflt')"
            )
        if r < 0.6:
            return f"CASE WHEN {self.col('s')} IN ('A', 'B', 'UNITED STATES') THEN 1 ELSE 0 END"
        if r < 0.7:
            return f"greatest({self.int_expr()}, {self.int_expr()})"
        if r < 0.78:
            return f"split_part({self.col('s')}, 'A', {self.rng.randint(1, 3)})"
        if r < 0.86:
            side = self.rng.choice(["left", "right"])
            return f"{side}({self.col('s')}, {self.rng.randint(1, 5)})"
        if r < 0.93:
            return f"reverse(lpad({self.col('s')}, {self.rng.randint(3, 12)}, '.'))"
        return f"ascii(substr({self.col('s')}, {self.rng.randint(1, 4)}, 1))"

    def pred(self, depth=0):
        r = self.rng.random()
        if depth < 1 and r < 0.25:
            return f"({self.pred(depth + 1)} AND {self.pred(depth + 1)})"
        if depth < 1 and r < 0.4:
            return f"({self.pred(depth + 1)} OR {self.pred(depth + 1)})"
        if depth < 1 and r < 0.47:
            return f"(NOT {self.pred(depth + 1)})"
        r = self.rng.random()
        if r < 0.3:
            op = self.rng.choice(["<", "<=", ">", ">=", "=", "<>"])
            return f"{self.int_expr()} {op} {self.rng.randint(1, 60)}"
        if r < 0.45:
            lo = self.rng.randint(0, 20)
            return f"{self.int_expr()} BETWEEN {lo} AND {lo + self.rng.randint(1, 30)}"
        if r < 0.6:
            vals = ", ".join(str(self.rng.randint(0, 30)) for _ in range(3))
            return f"{self.int_expr()} IN ({vals})"
        if r < 0.75:
            c = self.col("s")
            ch = self.rng.choice("ABCDEFGHIJKLMNOP")
            return f"{c} LIKE '%{ch}%'"
        if r < 0.85:
            return f"{self.col('s')} IS NOT NULL"
        return (
            f"{self.str_expr()} "
            f"{self.rng.choice(['<', '>', '>=', '<='])} "
            f"'{self.rng.choice('AEKNRSTZ')}'"
        )


def gen_query(rng: random.Random) -> str:
    table = rng.choice(["nation", "orders"])
    cols = NATION_COLS if table == "nation" else ORDERS_COLS
    g = Gen(rng, cols)
    shape = rng.random()
    if shape < 0.45:
        # plain select with computed columns
        items = []
        for i in range(rng.randint(1, 4)):
            kind = rng.random()
            if kind < 0.3:
                e = g.int_expr()
            elif kind < 0.5:
                e = g.str_expr()
            elif kind < 0.65:
                e = g.dbl_expr()
            elif kind < 0.82:
                e = g.case_expr()
            else:
                e = g.misc_expr()
            items.append(f"{e} AS c{i}")
        sql = f"SELECT {', '.join(items)} FROM {table}"
        if rng.random() < 0.8:
            sql += f" WHERE {g.pred()}"
        return sql
    if shape < 0.85:
        # group-by aggregate
        gcol = g.col("s") if rng.random() < 0.6 else g.int_expr()
        aggs = []
        for i, _ in enumerate(range(rng.randint(1, 3))):
            a = rng.random()
            if a < 0.3:
                aggs.append(f"count(*) AS a{i}")
            elif a < 0.55:
                aggs.append(f"CAST(sum({g.int_expr()}) AS BIGINT) AS a{i}")
            elif a < 0.7:
                aggs.append(f"CAST(min({g.int_expr()}) AS BIGINT) AS a{i}")
            elif a < 0.85:
                aggs.append(f"CAST(max({g.int_expr()}) AS BIGINT) AS a{i}")
            else:
                aggs.append(
                    f"round(avg(CAST({g.col('i')} AS DOUBLE)), 6) AS a{i}"
                )
        sql = (
            f"SELECT {gcol} AS g, {', '.join(aggs)} FROM {table}"
        )
        if rng.random() < 0.6:
            sql += f" WHERE {g.pred()}"
        sql += " GROUP BY g"
        if rng.random() < 0.4:
            sql += " HAVING count(*) > 1"
        return sql
    if shape < 0.92:
        # top-k under a total order on the unique key
        key = "n_nationkey" if table == "nation" else "o_orderkey"
        sql = f"SELECT {key}, {g.str_expr()} AS s FROM {table}"
        if rng.random() < 0.7:
            sql += f" WHERE {g.pred()}"
        sql += f" ORDER BY {key} LIMIT {rng.randint(1, 20)}"
        return sql
    if shape < 0.97:
        # window function over a deterministic (total) partition order
        key = "n_nationkey" if table == "nation" else "o_orderkey"
        part = g.col("s")
        w = f"PARTITION BY {part} ORDER BY {key}"
        wf = rng.choice(
            [
                f"row_number() OVER ({w})",
                f"rank() OVER (PARTITION BY {part} ORDER BY {g.col('i')}, {key})",
                f"CAST(sum({g.col('i')}) OVER ({w}) AS BIGINT)",
                f"CAST(count(*) OVER ({w} ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)",
                f"lag({g.col('i')}, 1) OVER ({w})",
                f"CAST(min({g.col('i')}) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 FOLLOWING) AS BIGINT)",
            ]
        )
        sql = f"SELECT {key}, {wf} AS w FROM {table}"
        if rng.random() < 0.5:
            sql += f" WHERE {g.pred()}"
        return sql
    # equi-join nation x orders (customer keys overlap nation keys at
    # small SF: the join is on key mod 25 buckets)
    g2 = Gen(rng, NATION_COLS)
    sql = (
        "SELECT n.n_name AS nm, CAST(count(*) AS BIGINT) AS cnt, "
        "CAST(sum(o.o_custkey) AS BIGINT) AS sk "
        "FROM orders o JOIN nation n ON (o.o_custkey % 25) = n.n_nationkey"
    )
    if rng.random() < 0.7:
        sql += f" WHERE {Gen(rng, [('o.o_custkey', 'i'), ('o.o_totalprice', 'f'), ('o.o_orderstatus', 's')]).pred()}"
    sql += " GROUP BY nm"
    return sql


def _queries():
    rng = random.Random(SEED)
    return [gen_query(rng) for _ in range(N_QUERIES)]


@pytest.fixture(scope="module")
def crate(spark):
    return CrateSession(spark, SF_DIR)


@pytest.mark.parametrize(
    "i,sql", list(enumerate(_queries())), ids=[f"q{i:03d}" for i in range(N_QUERIES)]
)
def test_differential(crate, duck, i, sql):
    sdf = crate.execute(sql)
    srows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(sql)
    ocols = [c[0] for c in cur.description]
    orows = cur.fetchall()
    assert len(srows) == len(orows), f"row count differs for: {sql}"
    a = canonical_rows([c.lower() for c in sdf.columns], srows)
    b = canonical_rows([c.lower() for c in ocols], orows)
    assert a == b, f"values differ for: {sql}"


# ---- temporal differential sweep -----------------------------------------
# Dates/timestamps are the classic shim-divergence area: EXTRACT
# fields, date_trunc granularity, timestamp comparisons against
# literals, and CAST-to-date arithmetic all flow through dialect
# rewrites. Deterministic functions only; results compare as
# canonical multisets like the main sweep.

def gen_temporal_query(rng: random.Random) -> str:
    table, col, key = rng.choice(
        [("orders", "o_orderdate", "o_orderkey"),
         ("lineitem", "l_shipdate", "l_orderkey")]
    )
    shape = rng.random()
    year = rng.randint(1992, 1998)
    if shape < 0.3:
        # isodow, not dow: DuckDB's dow is PG 0-6/Sunday=0 while the
        # engine follows the REFERENCE's dow (= day_of_week, ISO
        # Monday=1..Sunday=7, ExtractFunctions.java:178); isodow spells
        # the same ISO numbering in both engines
        part = rng.choice(["year", "month", "day", "quarter", "isodow"])
        return (
            f"SELECT CAST(EXTRACT({part} FROM {col}) AS BIGINT) AS p, "
            f"count(*) AS n FROM {table} GROUP BY p"
        )
    if shape < 0.55:
        g = rng.choice(["year", "quarter", "month", "week", "day"])
        return (
            f"SELECT CAST(date_trunc('{g}', {col}) AS DATE) AS b, "
            f"count(*) AS n FROM {table} "
            f"WHERE {col} >= TIMESTAMP '{year}-01-01 00:00:00' GROUP BY b"
        )
    if shape < 0.75:
        mo = rng.randint(1, 12)
        return (
            f"SELECT count(*) AS n, CAST(min(EXTRACT(year FROM {col})) AS BIGINT) AS y0, "
            f"CAST(max(EXTRACT(year FROM {col})) AS BIGINT) AS y1 FROM {table} "
            f"WHERE {col} BETWEEN TIMESTAMP '{year}-{mo:02d}-01 00:00:00' "
            f"AND TIMESTAMP '{year + 1}-{mo:02d}-01 00:00:00'"
        )
    if shape < 0.9:
        # ORDER BY covers BOTH selected columns: the key alone is not
        # unique in lineitem, and a tied LIMIT cut is only
        # deterministic up to full-row identity
        return (
            f"SELECT {key}, CAST({col} AS DATE) AS d FROM {table} "
            f"WHERE EXTRACT(year FROM {col}) = {year} "
            f"ORDER BY {key}, d LIMIT {rng.randint(5, 25)}"
        )
    return (
        f"SELECT CAST(EXTRACT(year FROM {col}) AS BIGINT) AS y, "
        f"CAST(EXTRACT(month FROM {col}) AS BIGINT) AS m, count(*) AS n "
        f"FROM {table} GROUP BY y, m HAVING count(*) > 2"
    )


N_TEMPORAL = 40


def _temporal_queries():
    rng = random.Random(SEED ^ 0xDA7E)
    return [gen_temporal_query(rng) for _ in range(N_TEMPORAL)]


@pytest.mark.parametrize(
    "i,sql",
    list(enumerate(_temporal_queries())),
    ids=[f"t{i:03d}" for i in range(N_TEMPORAL)],
)
def test_temporal_differential(crate, duck, i, sql):
    sdf = crate.execute(sql)
    srows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(sql)
    ocols = [c[0] for c in cur.description]
    orows = cur.fetchall()
    assert len(srows) == len(orows), f"row count differs for: {sql}"
    a = canonical_rows([c.lower() for c in sdf.columns], srows)
    b = canonical_rows([c.lower() for c in ocols], orows)
    assert a == b, f"values differ for: {sql}"


# ---- relational-shape sweep: subqueries, set ops, CTEs -------------------

def gen_relational_query(rng: random.Random) -> str:
    g = Gen(rng, ORDERS_COLS)
    gn = Gen(rng, NATION_COLS)
    shape = rng.random()
    if shape < 0.2:
        # scalar subquery in SELECT
        return (
            f"SELECT o_orderkey, o_custkey, "
            f"(SELECT CAST(max(n_nationkey) AS BIGINT) FROM nation "
            f" WHERE n_nationkey = o_custkey % 25) AS nk "
            f"FROM orders WHERE {g.pred()} ORDER BY o_orderkey LIMIT 20"
        )
    if shape < 0.4:
        # IN (subquery)
        return (
            f"SELECT count(*) AS n FROM orders "
            f"WHERE o_custkey % 25 IN "
            f"(SELECT n_nationkey FROM nation WHERE {gn.pred()})"
        )
    if shape < 0.55:
        # EXISTS correlated
        return (
            f"SELECT n_nationkey, n_name FROM nation n "
            f"WHERE EXISTS (SELECT 1 FROM orders o "
            f"WHERE o.o_custkey % 25 = n.n_nationkey AND {g.pred()})"
        )
    if shape < 0.7:
        # UNION ALL / UNION of two filtered branches
        op = rng.choice(["UNION ALL", "UNION"])
        return (
            f"SELECT o_orderkey AS k FROM orders WHERE {g.pred()} "
            f"{op} SELECT o_orderkey AS k FROM orders WHERE {g.pred()}"
        )
    if shape < 0.85:
        # CTE feeding an aggregate
        return (
            f"WITH base AS (SELECT o_custkey % 25 AS b, o_totalprice "
            f"FROM orders WHERE {g.pred()}) "
            f"SELECT b, count(*) AS n, "
            f"round(CAST(sum(o_totalprice) AS DOUBLE) / 100.0, 4) AS s "
            f"FROM base GROUP BY b"
        )
    # nested aggregation: aggregate over a grouped subquery
    return (
        "SELECT CAST(max(n) AS BIGINT) AS mx, CAST(min(n) AS BIGINT) AS mn, "
        "count(*) AS grps FROM ("
        f"SELECT o_custkey, count(*) AS n FROM orders WHERE {g.pred()} "
        "GROUP BY o_custkey) t"
    )


N_RELATIONAL = 40


def _relational_queries():
    rng = random.Random(SEED ^ 0x5E7)
    return [gen_relational_query(rng) for _ in range(N_RELATIONAL)]


@pytest.mark.parametrize(
    "i,sql",
    list(enumerate(_relational_queries())),
    ids=[f"r{i:03d}" for i in range(N_RELATIONAL)],
)
def test_relational_differential(crate, duck, i, sql):
    sdf = crate.execute(sql)
    srows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(sql)
    ocols = [c[0] for c in cur.description]
    orows = cur.fetchall()
    assert len(srows) == len(orows), f"row count differs for: {sql}"
    a = canonical_rows([c.lower() for c in sdf.columns], srows)
    b = canonical_rows([c.lower() for c in ocols], orows)
    assert a == b, f"values differ for: {sql}"


# ---- crate-dialect spelling sweep -----------------------------------------
# The sweeps above generate ANSI SQL, so crate-isms (`::` casts,
# 1-based subscripts, `= ANY(array)`, object-literal subscripts,
# ILIKE, whole-anchored `~`, interval casts) only flow through
# hand-written queries. This family generates PAIRS — one
# crate-dialect spelling, one equivalent ANSI spelling — and runs BOTH
# through the same engine (CrateSession.execute), asserting identical
# canonical multisets. A divergence means the dialect shim rewrote the
# crate spelling to something semantically different (VERDICT r6 #7).

def gen_dialect_pair(rng: random.Random) -> tuple[str, str]:
    table = rng.choice(["nation", "orders"])
    cols = NATION_COLS if table == "nation" else ORDERS_COLS
    g = Gen(rng, cols)
    key = "n_nationkey" if table == "nation" else "o_orderkey"
    fam = rng.randrange(8)
    if fam == 0:
        # `expr::type` cast vs CAST(expr AS type)
        e = g.int_expr()
        t = rng.choice(["BIGINT", "DOUBLE", "VARCHAR", "INTEGER"])
        p = g.pred()
        return (
            f"SELECT {key}, ({e})::{t} AS v FROM {table} WHERE {p}",
            f"SELECT {key}, CAST({e} AS {t}) AS v FROM {table} WHERE {p}",
        )
    if fam == 1:
        # x = ANY([..]) vs IN (..)
        vals = [str(rng.randint(0, 30)) for _ in range(rng.randint(2, 4))]
        e = g.int_expr()
        return (
            f"SELECT count(*) AS n FROM {table} WHERE {e} = ANY([{', '.join(vals)}])",
            f"SELECT count(*) AS n FROM {table} WHERE {e} IN ({', '.join(vals)})",
        )
    if fam == 2:
        # LIKE ANY (array) vs OR chain
        pats = [f"'%{rng.choice('ABCDEFGHI')}%'" for _ in range(rng.randint(2, 3))]
        c = g.col("s")
        return (
            f"SELECT count(*) AS n FROM {table} WHERE {c} LIKE ANY ([{', '.join(pats)}])",
            f"SELECT count(*) AS n FROM {table} WHERE ("
            + " OR ".join(f"{c} LIKE {p}" for p in pats)
            + ")",
        )
    if fam == 3:
        # 1-based array-literal subscript vs CASE
        e1, e2, e3 = g.int_expr(), g.int_expr(), str(rng.randint(0, 9))
        k = rng.randint(1, 3)
        return (
            f"SELECT {key}, [{e1}, {e2}, {e3}][{k}] AS v FROM {table}",
            f"SELECT {key}, CASE {k} WHEN 1 THEN {e1} WHEN 2 THEN {e2} "
            f"ELSE {e3} END AS v FROM {table}",
        )
    if fam == 4:
        # ILIKE vs lower() LIKE
        frag = rng.choice(["uni", "ra", "an", "e", "ke"])
        c = g.col("s")
        return (
            f"SELECT count(*) AS n FROM {table} WHERE {c} ILIKE '%{frag}%'",
            f"SELECT count(*) AS n FROM {table} WHERE lower({c}) LIKE '%{frag}%'",
        )
    if fam == 5:
        # whole-anchored `~` contains vs LIKE
        ch = rng.choice("ABCDEFGHIKLMNOPRSTU")
        c = g.col("s")
        return (
            f"SELECT count(*) AS n FROM {table} WHERE {c} ~ '.*{ch}.*'",
            f"SELECT count(*) AS n FROM {table} WHERE {c} LIKE '%{ch}%'",
        )
    if fam == 6:
        # object-literal subscript vs the direct expression
        e = g.int_expr()
        kname = rng.choice(["v", "val", "x"])
        p = g.pred()
        return (
            f"SELECT {key}, {{{kname} = {e}}}['{kname}'] AS v "
            f"FROM {table} WHERE {p}",
            f"SELECT {key}, {e} AS v FROM {table} WHERE {p}",
        )
    # interval cast form vs INTERVAL literal form
    n = rng.randint(1, 30)
    unit = rng.choice(["days", "hours", "minutes"])
    dcol = "o_orderdate" if table == "orders" else None
    if dcol is None:
        table, dcol, key = "orders", "o_orderdate", "o_orderkey"
    return (
        f"SELECT {key}, CAST({dcol} AS TIMESTAMP) + '{n} {unit}'::interval AS t "
        f"FROM {table} WHERE {key} < 200",
        f"SELECT {key}, CAST({dcol} AS TIMESTAMP) + INTERVAL '{n} {unit}' AS t "
        f"FROM {table} WHERE {key} < 200",
    )


N_DIALECT = 110


def _dialect_pairs():
    rng = random.Random(SEED ^ 0xD1A1)
    pairs = []
    while len(pairs) < N_DIALECT:
        # the WHERE predicates of the two spellings must be IDENTICAL:
        # re-seed a child rng per pair so both renderings draw the
        # same random choices
        child = random.Random(rng.getrandbits(64))
        a, b = gen_dialect_pair(child)
        pairs.append((a, b))
    return pairs


@pytest.mark.parametrize(
    "i,pair",
    list(enumerate(_dialect_pairs())),
    ids=[f"d{i:03d}" for i in range(N_DIALECT)],
)
def test_dialect_spelling_differential(crate, i, pair):
    crate_sql, ansi_sql = pair
    sdf_a = crate.execute(crate_sql)
    sdf_b = crate.execute(ansi_sql)
    ra = [tuple(r) for r in sdf_a.collect()]
    rb = [tuple(r) for r in sdf_b.collect()]
    assert len(ra) == len(rb), f"row count differs: {crate_sql} vs {ansi_sql}"
    a = canonical_rows([c.lower() for c in sdf_a.columns], ra)
    b = canonical_rows([c.lower() for c in sdf_b.columns], rb)
    assert a == b, f"values differ: {crate_sql} vs {ansi_sql}"


# ---- object-literal subscript family (VERDICT r7 #8) -----------------------
# The mixed dialect sweep above holds ONE shallow object-literal shape
# ({k = e}['k']); crate's object literals nest, hold mixed value
# types, ride arrays, and chain subscripts with casts. 100 seeded
# pairs sweep those shapes against plain-expression spellings.

def gen_object_pair(rng: random.Random) -> tuple[str, str]:
    table = rng.choice(["nation", "orders"])
    cols = NATION_COLS if table == "nation" else ORDERS_COLS
    g = Gen(rng, cols)
    key = "n_nationkey" if table == "nation" else "o_orderkey"
    kname = rng.choice(["v", "val", "x", "k9"])
    fam = rng.randrange(6)
    if fam == 0:
        # nested literal, two-key path
        inner, outer = rng.choice([("b", "a"), ("y", "x")])
        e = g.int_expr()
        p = g.pred()
        return (
            f"SELECT {key}, {{{outer} = {{{inner} = {e}}}}}"
            f"['{outer}']['{inner}'] AS v FROM {table} WHERE {p}",
            f"SELECT {key}, {e} AS v FROM {table} WHERE {p}",
        )
    if fam == 1:
        # multi-key literal, subscript picks one (order shuffled)
        e1, e2 = g.int_expr(), g.str_expr()
        pick = rng.choice([1, 2])
        body = f"k1 = {e1}, k2 = {e2}" if rng.random() < 0.5 else f"k2 = {e2}, k1 = {e1}"
        direct = e1 if pick == 1 else e2
        return (
            f"SELECT {key}, {{{body}}}['k{pick}'] AS v FROM {table}",
            f"SELECT {key}, {direct} AS v FROM {table}",
        )
    if fam == 2:
        # array of object literals -> index -> key
        e1, e2 = g.int_expr(), g.int_expr()
        idx = rng.choice([1, 2])
        direct = e1 if idx == 1 else e2
        return (
            f"SELECT {key}, [{{{kname} = {e1}}}, {{{kname} = {e2}}}][{idx}]"
            f"['{kname}'] AS v FROM {table}",
            f"SELECT {key}, {direct} AS v FROM {table}",
        )
    if fam == 3:
        # subscript then :: cast chain
        e = g.int_expr()
        t = rng.choice(["BIGINT", "DOUBLE", "VARCHAR"])
        return (
            f"SELECT {key}, {{{kname} = {e}}}['{kname}']::{t} AS v FROM {table}",
            f"SELECT {key}, CAST({e} AS {t}) AS v FROM {table}",
        )
    if fam == 4:
        # object subscript inside WHERE
        e = g.int_expr()
        n = rng.randint(0, 30)
        op = rng.choice([">", "<", ">=", "<="])
        return (
            f"SELECT count(*) AS n FROM {table} "
            f"WHERE {{{kname} = {e}}}['{kname}'] {op} {n}",
            f"SELECT count(*) AS n FROM {table} WHERE ({e}) {op} {n}",
        )
    # key holding an array value, element subscript after the key
    e1, e2 = g.int_expr(), g.int_expr()
    idx = rng.choice([1, 2])
    direct = e1 if idx == 1 else e2
    return (
        f"SELECT {key}, {{{kname} = [{e1}, {e2}]}}['{kname}'][{idx}] AS v "
        f"FROM {table}",
        f"SELECT {key}, {direct} AS v FROM {table}",
    )


N_OBJECT = 100


def _object_pairs():
    rng = random.Random(SEED ^ 0x0B1EC7)
    pairs = []
    while len(pairs) < N_OBJECT:
        child = random.Random(rng.getrandbits(64))
        pairs.append(gen_object_pair(child))
    return pairs


@pytest.mark.parametrize(
    "i,pair",
    list(enumerate(_object_pairs())),
    ids=[f"o{i:03d}" for i in range(N_OBJECT)],
)
def test_object_literal_differential(crate, i, pair):
    crate_sql, ansi_sql = pair
    sdf_a = crate.execute(crate_sql)
    sdf_b = crate.execute(ansi_sql)
    ra = [tuple(r) for r in sdf_a.collect()]
    rb = [tuple(r) for r in sdf_b.collect()]
    assert len(ra) == len(rb), f"row count differs: {crate_sql} vs {ansi_sql}"
    a = canonical_rows([c.lower() for c in sdf_a.columns], ra)
    b = canonical_rows([c.lower() for c in sdf_b.columns], rb)
    assert a == b, f"values differ: {crate_sql} vs {ansi_sql}"


# ---- interval-arithmetic family (VERDICT r7 #8) ----------------------------
# The mixed sweep pins one interval shape (ts + '<n> <unit>'::interval
# vs the INTERVAL literal). Crate interval arithmetic also chains
# +/- terms, multiplies by integers, adds intervals to intervals,
# compares shifted timestamps in WHERE, and spells multi-unit
# literals. 100 seeded pairs.

_IV_UNITS = ["days", "hours", "minutes", "seconds", "weeks"]


def gen_interval_pair(rng: random.Random) -> tuple[str, str]:
    key, dcol, table = "o_orderkey", "o_orderdate", "orders"
    ts = f"CAST({dcol} AS TIMESTAMP)"
    fam = rng.randrange(5)
    if fam == 0:
        # chained +/- of two cast-spelled intervals vs INTERVAL literals
        n1, n2 = rng.randint(1, 30), rng.randint(1, 23)
        u1, u2 = rng.sample(_IV_UNITS, 2)
        op = rng.choice(["+", "-"])
        return (
            f"SELECT {key}, {ts} + '{n1} {u1}'::interval {op} "
            f"'{n2} {u2}'::interval AS t FROM {table} WHERE {key} < 300",
            f"SELECT {key}, {ts} + INTERVAL '{n1} {u1}' {op} "
            f"INTERVAL '{n2} {u2}' AS t FROM {table} WHERE {key} < 300",
        )
    if fam == 1:
        # interval * integer vs the multiplied-out literal
        n, k = rng.randint(1, 9), rng.randint(2, 4)
        u = rng.choice(["days", "hours", "minutes"])
        return (
            f"SELECT {key}, {ts} + ('{n} {u}'::interval) * {k} AS t "
            f"FROM {table} WHERE {key} < 300",
            f"SELECT {key}, {ts} + INTERVAL '{n * k} {u}' AS t "
            f"FROM {table} WHERE {key} < 300",
        )
    if fam == 2:
        # interval + interval, multi-unit literal equivalent
        nd, nh = rng.randint(1, 20), rng.randint(1, 23)
        return (
            f"SELECT {key}, {ts} + ('{nd} days'::interval + "
            f"'{nh} hours'::interval) AS t FROM {table} WHERE {key} < 300",
            f"SELECT {key}, {ts} + INTERVAL '{nd} days {nh} hours' AS t "
            f"FROM {table} WHERE {key} < 300",
        )
    if fam == 3:
        # shifted-timestamp comparison in WHERE
        n = rng.randint(1, 400)
        cmp_ts = rng.choice(
            ["1995-06-01 00:00:00", "1996-01-01 00:00:00", "1997-03-15 12:00:00"]
        )
        op = rng.choice(["<", ">="])
        return (
            f"SELECT count(*) AS n FROM {table} "
            f"WHERE {ts} + '{n} days'::interval {op} TIMESTAMP '{cmp_ts}'",
            f"SELECT count(*) AS n FROM {table} "
            f"WHERE {ts} {op} TIMESTAMP '{cmp_ts}' - INTERVAL '{n} days'",
        )
    # subtraction both spellings; parenthesized-literal cast form on
    # the crate side half the time (('n u')::interval — r8 fix)
    n = rng.randint(1, 48)
    u = rng.choice(["hours", "days"])
    lhs_iv = (
        f"('{n} {u}')::interval" if rng.random() < 0.5
        else f"'{n} {u}'::interval"
    )
    return (
        f"SELECT {key}, {ts} - {lhs_iv} AS t "
        f"FROM {table} WHERE {key} < 300",
        f"SELECT {key}, {ts} - INTERVAL '{n} {u}' AS t "
        f"FROM {table} WHERE {key} < 300",
    )


N_INTERVAL = 100


def _interval_pairs():
    rng = random.Random(SEED ^ 0x17E4A1)
    pairs = []
    while len(pairs) < N_INTERVAL:
        child = random.Random(rng.getrandbits(64))
        pairs.append(gen_interval_pair(child))
    return pairs


@pytest.mark.parametrize(
    "i,pair",
    list(enumerate(_interval_pairs())),
    ids=[f"iv{i:03d}" for i in range(N_INTERVAL)],
)
def test_interval_arithmetic_differential(crate, i, pair):
    crate_sql, ansi_sql = pair
    sdf_a = crate.execute(crate_sql)
    sdf_b = crate.execute(ansi_sql)
    ra = [tuple(r) for r in sdf_a.collect()]
    rb = [tuple(r) for r in sdf_b.collect()]
    assert len(ra) == len(rb), f"row count differs: {crate_sql} vs {ansi_sql}"
    a = canonical_rows([c.lower() for c in sdf_a.columns], ra)
    b = canonical_rows([c.lower() for c in sdf_b.columns], rb)
    assert a == b, f"values differ: {crate_sql} vs {ansi_sql}"


# ---- concat / array-slice family (r8 #3) -----------------------------------
# `||` is string concat AND array concat in the reference
# (ConcatOperator dispatches on type); slices spell [from:to] with
# either bound optional. 100 seeded pairs sweep both against their
# function-call spellings.

def gen_concat_pair(rng: random.Random) -> tuple[str, str]:
    table = rng.choice(["nation", "orders"])
    cols = NATION_COLS if table == "nation" else ORDERS_COLS
    g = Gen(rng, cols)
    key = "n_nationkey" if table == "nation" else "o_orderkey"
    fam = rng.randrange(7)
    e1, e2, e3 = g.int_expr(), g.int_expr(), str(rng.randint(0, 9))
    if fam == 0:
        # string || chain vs nested concat (non-null operands)
        c = g.col("s")
        lit = rng.choice(["'_x'", "'-'", "'#'"])
        return (
            f"SELECT {key}, {c} || {lit} || {e1} AS v FROM {table}",
            f"SELECT {key}, concat({c}, concat({lit}, {e1})) AS v FROM {table}",
        )
    if fam == 1:
        # array || array vs array_cat
        return (
            f"SELECT {key}, [{e1}] || [{e2}, {e3}] AS v FROM {table}",
            f"SELECT {key}, array_cat([{e1}], [{e2}, {e3}]) AS v FROM {table}",
        )
    if fam == 2:
        # append / prepend through ||
        if rng.random() < 0.5:
            return (
                f"SELECT {key}, [{e1}, {e2}] || [{e3}] AS v FROM {table}",
                f"SELECT {key}, array_cat([{e1}, {e2}], [{e3}]) AS v FROM {table}",
            )
        return (
            f"SELECT {key}, [{e3}] || [{e1}, {e2}] AS v FROM {table}",
            f"SELECT {key}, array_cat([{e3}], [{e1}, {e2}]) AS v FROM {table}",
        )
    if fam == 3:
        # closed slice vs array_slice
        i = rng.randint(1, 2)
        j = rng.randint(i, 3)
        return (
            f"SELECT {key}, [{e1}, {e2}, {e3}][{i}:{j}] AS v FROM {table}",
            f"SELECT {key}, array_slice([{e1}, {e2}, {e3}], {i}, {j}) AS v "
            f"FROM {table}",
        )
    if fam == 4:
        # open-ended slice [i:]
        i = rng.randint(1, 3)
        return (
            f"SELECT {key}, [{e1}, {e2}, {e3}][{i}:] AS v FROM {table}",
            f"SELECT {key}, array_slice([{e1}, {e2}, {e3}], {i}, 3) AS v "
            f"FROM {table}",
        )
    if fam == 5:
        # from-start slice [:j]
        j = rng.randint(1, 3)
        return (
            f"SELECT {key}, [{e1}, {e2}, {e3}][:{j}] AS v FROM {table}",
            f"SELECT {key}, array_slice([{e1}, {e2}, {e3}], 1, {j}) AS v "
            f"FROM {table}",
        )
    # subscript on a || result vs CASE over positions
    k = rng.randint(1, 3)
    return (
        f"SELECT {key}, ([{e1}] || [{e2}, {e3}])[{k}] AS v FROM {table}",
        f"SELECT {key}, CASE {k} WHEN 1 THEN {e1} WHEN 2 THEN {e2} "
        f"ELSE {e3} END AS v FROM {table}",
    )


N_CONCAT = 100


def _concat_pairs():
    rng = random.Random(SEED ^ 0xCC47)
    pairs = []
    while len(pairs) < N_CONCAT:
        child = random.Random(rng.getrandbits(64))
        pairs.append(gen_concat_pair(child))
    return pairs


@pytest.mark.parametrize(
    "i,pair",
    list(enumerate(_concat_pairs())),
    ids=[f"cc{i:03d}" for i in range(N_CONCAT)],
)
def test_concat_slice_differential(crate, i, pair):
    crate_sql, ansi_sql = pair
    sdf_a = crate.execute(crate_sql)
    sdf_b = crate.execute(ansi_sql)
    ra = [tuple(r) for r in sdf_a.collect()]
    rb = [tuple(r) for r in sdf_b.collect()]
    assert len(ra) == len(rb), f"row count differs: {crate_sql} vs {ansi_sql}"
    a = canonical_rows([c.lower() for c in sdf_a.columns], ra)
    b = canonical_rows([c.lower() for c in sdf_b.columns], rb)
    assert a == b, f"values differ: {crate_sql} vs {ansi_sql}"


# ---- EXTRACT dual-spelling family (VERDICT r8 "what's wrong" #1) -----------
# The temporal family above (family #2) once encoded the EXTRACT(DOW)
# blind spot: both engines spelled the field the same PG way, so the
# hash matched while both were wrong vs the reference. This family
# makes that structurally impossible for the divergent fields: the
# ENGINE side uses the reference's native spelling (dow/day_of_week,
# century) while the DUCKDB side spells the same reference semantics
# the DuckDB way (isodow; floor(year/100)) — a regression on either
# side breaks the pair. Same-semantics fields ride along as guards
# over random literal timestamps.

def gen_extract_pair(rng: random.Random) -> tuple[str, str]:
    table, col = rng.choice(
        [("orders", "o_orderdate"), ("lineitem", "l_shipdate")]
    )
    fam = rng.randrange(5)
    if fam == 0:
        # reference DOW / DAY_OF_WEEK = ISO Mon=1..Sun=7
        # (ExtractFunctions.java:178) <-> DuckDB isodow
        part = rng.choice(["dow", "day_of_week"])
        return (
            f"SELECT CAST(EXTRACT({part} FROM {col}) AS BIGINT) AS p, "
            f"count(*) AS n FROM {table} GROUP BY p",
            f"SELECT CAST(EXTRACT(isodow FROM {col}) AS BIGINT) AS p, "
            f"count(*) AS n FROM {table} GROUP BY p",
        )
    if fam == 1:
        # reference CENTURY = Joda centuryOfEra = year/100 truncation
        # (2000 AND 2001 are both century 20) <-> explicit arithmetic
        # in DuckDB (whose own century is the PG one)
        return (
            f"SELECT CAST(EXTRACT(century FROM {col}) AS BIGINT) AS c, "
            f"count(*) AS n FROM {table} GROUP BY c",
            f"SELECT CAST(floor(EXTRACT(year FROM {col}) / 100) AS BIGINT) "
            f"AS c, count(*) AS n FROM {table} GROUP BY c",
        )
    y, mo, d = rng.randint(1971, 2030), rng.randint(1, 12), rng.randint(1, 28)
    h, mi, s = rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59)
    ts = f"TIMESTAMP '{y}-{mo:02d}-{d:02d} {h:02d}:{mi:02d}:{s:02d}'"
    if fam == 2:
        # one literal timestamp, every divergent-spelling field at once
        return (
            f"SELECT CAST(EXTRACT(dow FROM {ts}) AS BIGINT) AS dw, "
            f"CAST(EXTRACT(day_of_week FROM {ts}) AS BIGINT) AS dw2, "
            f"CAST(EXTRACT(century FROM {ts}) AS BIGINT) AS cc",
            f"SELECT CAST(EXTRACT(isodow FROM {ts}) AS BIGINT) AS dw, "
            f"CAST(EXTRACT(isodow FROM {ts}) AS BIGINT) AS dw2, "
            f"CAST(floor({y} / 100) AS BIGINT) AS cc",
        )
    if fam == 3:
        # integer SECOND over a fractional-seconds literal (reference:
        # secondOfMinute drops the fraction) + epoch as exact bigint
        frac = rng.randint(100, 999)
        tsf = (
            f"TIMESTAMP '{y}-{mo:02d}-{d:02d} "
            f"{h:02d}:{mi:02d}:{s:02d}.{frac:03d}'"
        )
        return (
            f"SELECT CAST(EXTRACT(second FROM {tsf}) AS BIGINT) AS sec, "
            f"CAST(floor(EXTRACT(epoch FROM {tsf})) AS BIGINT) AS ep",
            f"SELECT CAST(EXTRACT(second FROM {tsf}) AS BIGINT) AS sec, "
            f"CAST(floor(EXTRACT(epoch FROM {tsf})) AS BIGINT) AS ep",
        )
    # same-semantics guard fields over the literal: both spell alike,
    # so a drift in EITHER engine's numbering surfaces as a mismatch
    parts = ["year", "quarter", "month", "week", "day", "doy",
             "hour", "minute"]
    rng.shuffle(parts)
    chosen = parts[:4]
    sel = ", ".join(
        f"CAST(EXTRACT({p} FROM {ts}) AS BIGINT) AS f{k}"
        for k, p in enumerate(chosen)
    )
    return (f"SELECT {sel}", f"SELECT {sel}")


N_EXTRACT_PAIRS = 110


def _extract_pairs():
    rng = random.Random(SEED ^ 0xE87AC7)
    return [
        gen_extract_pair(random.Random(rng.getrandbits(64)))
        for _ in range(N_EXTRACT_PAIRS)
    ]


@pytest.mark.parametrize(
    "i,pair",
    list(enumerate(_extract_pairs())),
    ids=[f"x{i:03d}" for i in range(N_EXTRACT_PAIRS)],
)
def test_extract_spelling_differential(crate, duck, i, pair):
    engine_sql, duck_sql = pair
    sdf = crate.execute(engine_sql)
    srows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(duck_sql)
    ocols = [c[0] for c in cur.description]
    orows = cur.fetchall()
    assert len(srows) == len(orows), (
        f"row count differs: {engine_sql} vs {duck_sql}"
    )
    a = canonical_rows([c.lower() for c in sdf.columns], srows)
    b = canonical_rows([c.lower() for c in ocols], orows)
    assert a == b, f"values differ: {engine_sql} vs {duck_sql}"


# ---- date_format dual-spelling family (r9, guards the week-grid codes) -----
# The engine's date_format speaks MySQL %-codes (TimestampFormatter);
# DuckDB's strftime speaks C codes. For every code pair whose
# semantics coincide (ISO week %v<->%V, ISO week-year %x<->%G,
# Sunday-0 dow %w<->%w, names, numerics), random dates through BOTH
# engines must format identically — so the r9 piecewise week-grid
# compiler can't drift without a spelled-out differential failing.

#: (engine MySQL code, DuckDB strftime code)
_DF_CODE_PAIRS = [
    ("%Y", "%Y"), ("%y", "%y"), ("%m", "%m"), ("%d", "%d"),
    ("%H", "%H"), ("%i", "%M"), ("%S", "%S"), ("%j", "%j"),
    ("%a", "%a"), ("%b", "%b"), ("%W", "%A"), ("%M", "%B"),
    ("%w", "%w"), ("%v", "%V"), ("%x", "%G"), ("%p", "%p"),
]


def gen_date_format_pair(rng: random.Random) -> tuple[str, str]:
    y = rng.randint(1971, 2055)
    mo, d = rng.randint(1, 12), rng.randint(1, 28)
    h, mi, s = rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59)
    ts = f"'{y}-{mo:02d}-{d:02d} {h:02d}:{mi:02d}:{s:02d}'"
    pairs = rng.sample(_DF_CODE_PAIRS, rng.randint(2, 5))
    eng = " ".join(p[0] for p in pairs)
    duck = " ".join(p[1] for p in pairs)
    return (
        f"SELECT date_format('{eng}', TIMESTAMP {ts}) AS v",
        f"SELECT strftime(TIMESTAMP {ts}, '{duck}') AS v",
    )


N_DF_PAIRS = 100


def _date_format_pairs():
    rng = random.Random(SEED ^ 0xDF0913)
    return [
        gen_date_format_pair(random.Random(rng.getrandbits(64)))
        for _ in range(N_DF_PAIRS)
    ]


@pytest.mark.parametrize(
    "i,pair",
    list(enumerate(_date_format_pairs())),
    ids=[f"df{i:03d}" for i in range(N_DF_PAIRS)],
)
def test_date_format_spelling_differential(crate, duck, i, pair):
    engine_sql, duck_sql = pair
    got = crate.execute(engine_sql).collect()[0][0]
    want = duck.execute(duck_sql).fetchall()[0][0]
    assert got == want, f"{engine_sql} -> {got!r}, {duck_sql} -> {want!r}"


# ---- to_char / pgformat family (#10, VERDICT r9 next-round #6) --------------
# functions/pgformat.py is 500 lines guarding dozens of case-sensitive
# token spellings, previously pinned only by fixed ToCharFunctionTest
# constants. This family sweeps random token sequences over random
# timestamps: the ENGINE side renders through the PG template engine
# (to_char), the DUCKDB side spells the SAME reference semantics as a
# concat of strftime codes / date_part arithmetic — a drift in either
# the tokenizer, a token's padding, or its case handling mismatches.
# Tokens whose reference semantics have no cheap DuckDB twin (WW's
# Java WeekFields Sunday grid, J, th ordinals, interval operands) are
# covered by the fixed constants instead.

#: to_char token -> DuckDB expression fragment over {ts}
_TOCHAR_TOKENS = [
    ("YYYY", "strftime({ts}, '%Y')"),
    ("YY", "strftime({ts}, '%y')"),
    ("MM", "strftime({ts}, '%m')"),
    ("DD", "strftime({ts}, '%d')"),
    ("HH24", "strftime({ts}, '%H')"),
    # the reference's HH/HH12 is hour % 12 -> 0..11 (noon renders
    # '00'; PGDateTimeTemplates.java:362-371), NOT PG/strftime's
    # 1..12 %I — spell the reference's arithmetic explicitly
    ("HH12", "lpad(CAST(hour({ts}) % 12 AS VARCHAR), 2, '0')"),
    ("HH", "lpad(CAST(hour({ts}) % 12 AS VARCHAR), 2, '0')"),
    ("MI", "strftime({ts}, '%M')"),
    ("SS", "strftime({ts}, '%S')"),
    ("MS", "strftime({ts}, '%g')"),
    ("AM", "strftime({ts}, '%p')"),
    ("PM", "strftime({ts}, '%p')"),
    ("am", "lower(strftime({ts}, '%p'))"),
    ("pm", "lower(strftime({ts}, '%p'))"),
    ("Mon", "strftime({ts}, '%b')"),
    ("MON", "upper(strftime({ts}, '%b'))"),
    ("mon", "lower(strftime({ts}, '%b'))"),
    ("Dy", "strftime({ts}, '%a')"),
    ("DY", "upper(strftime({ts}, '%a'))"),
    ("dy", "lower(strftime({ts}, '%a'))"),
    ("DDD", "strftime({ts}, '%j')"),
    ("Q", "CAST(quarter({ts}) AS VARCHAR)"),
    # reference D = Sunday 1 .. Saturday 7; DuckDB dayofweek Sunday 0
    ("D", "CAST(dayofweek({ts}) + 1 AS VARCHAR)"),
    ("ID", "CAST(isodow({ts}) AS VARCHAR)"),
    ("IW", "lpad(CAST(weekofyear({ts}) AS VARCHAR), 2, '0')"),
]

_TOCHAR_SEPS = [" ", "-", "/", ":", ".", ", ", "|"]


def gen_tochar_pair(rng: random.Random) -> tuple[str, str]:
    y = rng.randint(1905, 2105)
    mo, d = rng.randint(1, 12), rng.randint(1, 28)
    h, mi, s = rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59)
    frac = rng.randint(0, 999)
    lit = f"{y}-{mo:02d}-{d:02d} {h:02d}:{mi:02d}:{s:02d}.{frac:03d}"
    ets = f"TIMESTAMP '{lit}'"
    dts = f"TIMESTAMP '{lit}'"
    toks = [rng.choice(_TOCHAR_TOKENS) for _ in range(rng.randint(3, 8))]
    template, frags = [], []
    for k, (tok, frag) in enumerate(toks):
        if k:
            sep = rng.choice(_TOCHAR_SEPS)
            template.append(sep)
            frags.append("'" + sep.replace("'", "''") + "'")
        template.append(tok)
        frags.append(frag.format(ts=dts))
    # a quoted literal section rides along sometimes ("at" would
    # otherwise tokenize as 'a' is a literal char + 't')
    if rng.random() < 0.3:
        template.append(' "at week"')
        frags.append("' at week'")
    return (
        f"SELECT to_char({ets}, '{''.join(template)}') AS v",
        f"SELECT concat({', '.join(frags)}) AS v",
    )


N_TOCHAR_PAIRS = 120


def _tochar_pairs():
    rng = random.Random(SEED ^ 0x70C4A2)
    return [
        gen_tochar_pair(random.Random(rng.getrandbits(64)))
        for _ in range(N_TOCHAR_PAIRS)
    ]


@pytest.mark.parametrize(
    "i,pair",
    list(enumerate(_tochar_pairs())),
    ids=[f"tc{i:03d}" for i in range(N_TOCHAR_PAIRS)],
)
def test_tochar_template_differential(crate, duck, i, pair):
    engine_sql, duck_sql = pair
    got = crate.execute(engine_sql).collect()[0][0]
    want = duck.execute(duck_sql).fetchall()[0][0]
    assert got == want, f"{engine_sql} -> {got!r}, {duck_sql} -> {want!r}"


# ---- LIKE/ILIKE escape family (#11, r10) ------------------------------------
# The engine's LIKE follows crate/PG: backslash is the DEFAULT escape,
# ESCAPE '<c>' overrides it, ESCAPE '' disables escaping. DuckDB's
# LIKE has NO default escape — so the twins are structurally
# independent spellings of the same semantics: engine default-escape
# pairs with an explicit DuckDB ESCAPE '\', engine ESCAPE '' pairs
# with DuckDB's bare LIKE. A drift in either engine's escape handling
# (or in the r10 empty-escape rewrite) mismatches.

_LIKE_TEXT_CHARS = list("abcAB%_\\ .")
_LIKE_PAT_CHARS = list("abA%_\\")


def gen_like_pair(rng: random.Random) -> tuple[str, str]:
    text = "".join(
        rng.choice(_LIKE_TEXT_CHARS) for _ in range(rng.randint(0, 8))
    )
    pat = "".join(
        rng.choice(_LIKE_PAT_CHARS) for _ in range(rng.randint(0, 6))
    )
    op = rng.choice(["LIKE", "ILIKE", "NOT LIKE", "NOT ILIKE"])

    def q(s: str) -> str:
        # crate literals are standard-conforming: backslash literal
        return "'" + s.replace("'", "''") + "'"

    form = rng.randrange(3)
    if form == 0:
        # default escape: engine bare <-> DuckDB explicit ESCAPE '\'.
        # A pattern ENDING in the escape char is an error in both
        # engines — regenerate locally by stripping it.
        while pat.endswith("\\"):
            pat = pat[:-1]
        return (
            f"SELECT {q(text)} {op} {q(pat)} AS v",
            f"SELECT {q(text)} {op} {q(pat)} ESCAPE '\\' AS v",
        )
    if form == 1:
        # ESCAPE '' disables escaping: engine <-> DuckDB bare LIKE
        return (
            f"SELECT {q(text)} {op} {q(pat)} ESCAPE '' AS v",
            f"SELECT {q(text)} {op} {q(pat)} AS v",
        )
    # custom escape char (letter, so it can escape itself/wildcards);
    # strip a trailing escape char like form 0
    esc = rng.choice("ex")
    while pat.endswith(esc):
        pat = pat[:-1]
    return (
        f"SELECT {q(text)} {op} {q(pat)} ESCAPE '{esc}' AS v",
        f"SELECT {q(text)} {op} {q(pat)} ESCAPE '{esc}' AS v",
    )


N_LIKE_PAIRS = 120


def _like_pairs():
    rng = random.Random(SEED ^ 0x11CE)
    return [
        gen_like_pair(random.Random(rng.getrandbits(64)))
        for _ in range(N_LIKE_PAIRS)
    ]


@pytest.mark.parametrize(
    "i,pair",
    list(enumerate(_like_pairs())),
    ids=[f"lk{i:03d}" for i in range(N_LIKE_PAIRS)],
)
def test_like_escape_differential(crate, duck, i, pair):
    engine_sql, duck_sql = pair
    got = crate.execute(engine_sql).collect()[0][0]
    want = duck.execute(duck_sql).fetchall()[0][0]
    assert got is want or got == want, (
        f"{engine_sql} -> {got!r}, {duck_sql} -> {want!r}"
    )


# ---- family #12: array-function model differential (r11) -------------------
# The r11 sweep rewrote the array family's null/edge semantics
# (append/prepend/cat on NULL arrays, difference's null-safe element
# compare, set's last-write-wins, upper/lower's ragged-dimension
# rules). This family guards them with a PYTHON model of the Java
# implementations (ArrayAppend/Prepend/Cat/Unique/Difference/Set/
# Slice/ToString/Upper/LowerFunction.java) — expected values come
# from the model, not from a second SQL engine, so a same-spelling
# blind spot is impossible by construction.

N_ARRAY_CASES = 150


def _arr_lit(xs) -> str:
    parts = []
    for x in xs:
        if x is None:
            parts.append("null")
        elif isinstance(x, str):
            parts.append("'" + x.replace("'", "''") + "'")
        elif isinstance(x, list):
            parts.append(_arr_lit(x))
        else:
            parts.append(str(x))
    return "[" + ", ".join(parts) + "]"


def _rand_flat(rng, kind, min_n=0, max_n=6, nulls=True):
    n = rng.randint(min_n, max_n)
    out = []
    for _ in range(n):
        if nulls and rng.random() < 0.2:
            out.append(None)
        elif kind == "i":
            out.append(rng.randint(-5, 9))
        else:
            out.append(rng.choice(["a", "b", "cd", "e'f", ""]))
    return out


def _eq(x, y):
    """Reference element equality: null == null inside array fns."""
    return x == y


def gen_array_case(rng: random.Random):
    kind = rng.choice(["i", "s"])
    fam = rng.randrange(10)
    if fam == 0:  # append / prepend (incl. NULL array)
        a = None if rng.random() < 0.25 else _rand_flat(rng, kind)
        e = None if rng.random() < 0.2 else _rand_flat(rng, kind, 1, 1, False)[0]
        a_lit = "null::int[]" if a is None and kind == "i" else (
            "null::text[]" if a is None else _arr_lit(a))
        e_lit = _arr_lit([e])[1:-1]
        if rng.random() < 0.5:
            return f"array_append({a_lit}, {e_lit})", (a or []) + [e]
        return f"array_prepend({e_lit}, {a_lit})", [e] + (a or [])
    if fam == 1:  # cat with NULL sides
        a = None if rng.random() < 0.2 else _rand_flat(rng, kind)
        b = None if rng.random() < 0.2 else _rand_flat(rng, kind)
        al = "null::int[]" if a is None and kind == "i" else (
            "null::text[]" if a is None else _arr_lit(a))
        bl = "null::int[]" if b is None and kind == "i" else (
            "null::text[]" if b is None else _arr_lit(b))
        return f"array_cat({al}, {bl})", (a or []) + (b or [])
    if fam == 2:  # unique (1- and 2-arg), first-seen order, nulls kept
        a = _rand_flat(rng, kind)
        b = _rand_flat(rng, kind) if rng.random() < 0.6 else None
        merged = a + (b if b is not None else [])
        seen, want = [], []
        for x in merged:
            if not any(_eq(x, y) for y in seen):
                seen.append(x)
                want.append(x)
        if b is None:
            return f"array_unique({_arr_lit(a)})", want
        return f"array_unique({_arr_lit(a)}, {_arr_lit(b)})", want
    if fam == 3:  # difference: null-safe compare, left nulls survive
        a = _rand_flat(rng, kind)
        b = _rand_flat(rng, kind)
        want = [x for x in a if not any(_eq(x, y) for y in b)]
        return f"array_difference({_arr_lit(a)}, {_arr_lit(b)})", want
    if fam == 4:  # slice: 1-based inclusive, clamped
        a = _rand_flat(rng, kind, 1, 6)
        i = rng.randint(1, 7)
        j = rng.randint(i - 1, 8)
        want = a[i - 1 : j]
        return f"array_slice({_arr_lit(a)}, {i}, {j})", want
    if fam == 5:  # to_string with/without null replacement
        a = _rand_flat(rng, "i")
        sep = rng.choice([", ", "", "|"])
        if rng.random() < 0.5:
            want = sep.join(str(x) for x in a if x is not None)
            return (
                f"array_to_string({_arr_lit(a)}, '{sep}')",
                want,
            )
        want = sep.join("x" if v is None else str(v) for v in a)
        return (
            f"array_to_string({_arr_lit(a)}, '{sep}', 'x')",
            want,
        )
    if fam == 6:  # array_set multi-form: last-write-wins, appends, gaps
        a = _rand_flat(rng, "i", 0, 5, False)
        n_idx = rng.randint(0, 4)
        idx = [rng.randint(1, 8) for _ in range(n_idx)]
        val = [rng.randint(-5, 9) for _ in range(n_idx)]
        want = list(a)
        hi = max([len(a)] + idx)
        want += [None] * (hi - len(a))
        for p, v in zip(idx, val):
            want[p - 1] = v
        return (
            f"array_set({_arr_lit(a)}, {_arr_lit(idx)}, {_arr_lit(val)})",
            want,
        )
    if fam == 7:  # upper/lower/length on ragged 2-D arrays
        rows = rng.randint(1, 4)
        nested = []
        for _ in range(rows):
            if rng.random() < 0.15:
                nested.append(None)
            else:
                nested.append(_rand_flat(rng, "i", 0, 3, False))
        dim = rng.randint(1, 3)
        fn = rng.choice(["array_upper", "array_lower", "array_length"])
        if fn == "array_lower":
            if dim == 1:
                want = 1 if nested else None
            elif dim == 2:
                want = (
                    1
                    if nested and all(
                        x is not None and len(x) > 0 for x in nested
                    )
                    else None
                )
            else:
                want = None
        else:
            if dim == 1:
                want = len(nested) or None
            elif dim == 2:
                sizes = [len(x) for x in nested if x is not None]
                want = max(sizes) if sizes else None
            else:
                want = None
        return f"{fn}({_arr_lit(nested)}, {dim})", want
    if fam == 8:  # overlap (both spellings), no nulls
        a = _rand_flat(rng, kind, 1, 5, False)
        b = _rand_flat(rng, kind, 1, 5, False)
        want = any(any(_eq(x, y) for y in b) for x in a)
        if rng.random() < 0.5:
            return f"array_overlap({_arr_lit(a)}, {_arr_lit(b)})", want
        return f"{_arr_lit(a)} && {_arr_lit(b)}", want
    # fam == 9: position (incl. null needle = first null element)
    a = _rand_flat(rng, kind, 1, 6)
    if rng.random() < 0.3:
        want = next(
            (i + 1 for i, x in enumerate(a) if x is None), None
        )
        return f"array_position({_arr_lit(a)}, null)", want
    needle = rng.choice([x for x in a if x is not None] + [
        _rand_flat(rng, kind, 1, 1, False)[0]
    ])
    want = next(
        (i + 1 for i, x in enumerate(a) if x == needle), None
    )
    return f"array_position({_arr_lit(a)}, {_arr_lit([needle])[1:-1]})", want


def _array_cases():
    rng = random.Random(SEED ^ 0xA44A1)
    return [
        gen_array_case(random.Random(rng.getrandbits(64)))
        for _ in range(N_ARRAY_CASES)
    ]


@pytest.mark.parametrize(
    "i,case",
    list(enumerate(_array_cases())),
    ids=[f"arr{i:03d}" for i in range(N_ARRAY_CASES)],
)
def test_array_model_differential(crate, i, case):
    expr, want = case
    got = crate.execute(f"SELECT {expr} AS v").collect()[0][0]
    if isinstance(got, list):
        got = list(got)
    assert got == want or (got is None and want is None), (
        f"{expr} -> {got!r}, model -> {want!r}"
    )


# ---- family #13: quoted identifiers (ROADMAP 3j) ----------------------------
# Every name of a generated query is written bare, double-quoted or
# backticked at random, outside its string literals; the quoted
# spelling must answer exactly like the bare one. A quoted name is one
# identifier: subscripts, qualifiers, aliases and ORDER BY keys after
# it keep working.

_NAMES = {c for c, _ in NATION_COLS + ORDERS_COLS} | {
    "nation", "orders", "n", "o", "g", "s", "w", "nm", "cnt", "sk",
    *(f"c{i}" for i in range(4)), *(f"a{i}" for i in range(3)),
}
_NAME_RE = re.compile(r"\b(" + "|".join(sorted(_NAMES, key=len, reverse=True)) + r")\b")


def gen_quoted_pair(rng: random.Random) -> tuple[str, str]:
    bare = gen_query(rng)
    masked, tokens = mask(bare)
    quoted = _NAME_RE.sub(
        lambda m: rng.choice(['"{}"', "`{}`", "{}"]).format(m.group(1)), masked
    )
    return unmask(quoted, tokens), bare


N_QUOTED = 40


def _quoted_pairs():
    rng = random.Random(SEED ^ 0x0DDBA11)
    return [gen_quoted_pair(random.Random(rng.getrandbits(64))) for _ in range(N_QUOTED)]


@pytest.mark.parametrize(
    "i,pair",
    list(enumerate(_quoted_pairs())),
    ids=[f"qi{i:03d}" for i in range(N_QUOTED)],
)
def test_quoted_identifier_differential(crate, i, pair):
    quoted_sql, bare_sql = pair
    sdf_a = crate.execute(quoted_sql)
    sdf_b = crate.execute(bare_sql)
    assert [c.lower() for c in sdf_a.columns] == [c.lower() for c in sdf_b.columns]
    a = canonical_rows([c.lower() for c in sdf_a.columns], [tuple(r) for r in sdf_a.collect()])
    b = canonical_rows([c.lower() for c in sdf_b.columns], [tuple(r) for r in sdf_b.collect()])
    assert a == b, f"values differ: {quoted_sql} vs {bare_sql}"

"""CrateSession + dialect shim tests: crate-isms execute correctly and
standard SQL passes through. The oracle here is semantic (expected
values), mirroring the reference's SQLLogicITest style."""

from __future__ import annotations

import pytest

from crate_spark.dialect import rewrite
from crate_spark.engine import CrateSession

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def session(spark):
    return CrateSession(spark, SF_DIR)


# -- pure rewrite unit checks -----------------------------------------------
def test_rewrite_cast():
    assert rewrite("SELECT '5'::int") == "SELECT CAST('5' AS int)"
    # reference type spellings map to Spark DDL types (text -> STRING)
    assert rewrite("SELECT x::text::int FROM t") == "SELECT CAST(CAST(x AS STRING) AS int) FROM t"
    assert rewrite("SELECT x::bytea FROM t") == "SELECT CAST(x AS BINARY) FROM t"
    assert rewrite("SELECT x::float_vector(4) FROM t") == "SELECT CAST(x AS ARRAY<FLOAT>) FROM t"
    assert rewrite("SELECT price::decimal(10,2) FROM t") == "SELECT CAST(price AS decimal(10,2)) FROM t"


def test_rewrite_subscript():
    assert rewrite("SELECT arr[1] FROM t") == "SELECT element_at(arr, 1) FROM t"
    # string-keyed object subscripts pass through (Spark handles them)
    assert rewrite("SELECT obj['k'] FROM t") == "SELECT obj['k'] FROM t"


def test_rewrite_regex_ops():
    # whole-string semantics (RegexpMatchOperator.java): anchored
    assert rewrite("SELECT a ~ 'x' FROM t") == (
        "SELECT a RLIKE concat('^(?:', 'x', ')$') FROM t")
    assert rewrite("SELECT a !~ 'x' FROM t") == (
        "SELECT NOT (a RLIKE concat('^(?:', 'x', ')$')) FROM t")
    assert rewrite("SELECT a ~* 'x' FROM t") == (
        "SELECT a RLIKE concat('^(?i)(?:', 'x', ')$') FROM t")


def test_rewrite_any():
    assert (
        rewrite("SELECT * FROM t WHERE 5 = ANY(ids)")
        == "SELECT * FROM t WHERE array_contains(ids, 5)"
    )


def test_rewrite_order_by_null_defaults():
    assert rewrite("SELECT a FROM t ORDER BY a") == "SELECT a FROM t ORDER BY a NULLS LAST"
    assert (
        rewrite("SELECT a FROM t ORDER BY a DESC")
        == "SELECT a FROM t ORDER BY a DESC NULLS FIRST"
    )
    # explicit NULLS survives; LIMIT terminates the clause
    assert (
        rewrite("SELECT a FROM t ORDER BY a DESC NULLS LAST LIMIT 5")
        == "SELECT a FROM t ORDER BY a DESC NULLS LAST LIMIT 5"
    )
    # commas inside function calls don't split items
    assert (
        rewrite("SELECT a FROM t ORDER BY coalesce(a, b), c DESC")
        == "SELECT a FROM t ORDER BY coalesce(a, b) NULLS LAST, c DESC NULLS FIRST"
    )


# -- executed behavior -------------------------------------------------------
def test_execute_cast_and_subscript(session):
    row = session.execute(
        "SELECT '42'::int AS n, split(n_name, '')[1] AS first_char "
        "FROM nation WHERE n_nationkey = 0"
    ).collect()[0]
    assert row["n"] == 42
    assert len(row["first_char"]) == 1


def test_execute_regex_operator(session):
    rows = session.execute(
        "SELECT n_name FROM nation WHERE n_name ~* '^nation_1$|^nation_2$' ORDER BY n_name"
    ).collect()
    assert [r["n_name"] for r in rows] == ["NATION_1", "NATION_2"]
    # whole-string matching: 'NATION' alone matches no full name
    neg = session.execute(
        "SELECT count(*) AS n FROM nation WHERE n_name !~ 'NATION.*'"
    ).collect()[0]["n"]
    assert neg == 0
    partial = session.execute(
        "SELECT count(*) AS n FROM nation WHERE n_name !~ 'NATION'"
    ).collect()[0]["n"]
    assert partial == 25


def test_execute_null_ordering_default(session):
    """PG default: NULLS LAST for ASC — Spark's native default would
    put them first."""
    session.spark.sql(
        "SELECT * FROM VALUES (1), (NULL), (2) AS t(v)"
    ).createOrReplaceTempView("t_nulls")
    vals = [r["v"] for r in session.execute("SELECT v FROM t_nulls ORDER BY v").collect()]
    assert vals == [1, 2, None]
    vals = [r["v"] for r in session.execute("SELECT v FROM t_nulls ORDER BY v DESC").collect()]
    assert vals == [None, 2, 1]


def test_information_schema(session):
    tables = {
        r["table_name"]
        for r in session.execute("SELECT table_name FROM information_schema.tables").collect()
    }
    assert {"lineitem", "orders", "documents"} <= tables
    cols = session.execute(
        "SELECT column_name, data_type FROM information_schema.columns "
        "WHERE table_name = 'region' ORDER BY ordinal_position"
    ).collect()
    assert [c["column_name"] for c in cols] == ["r_regionkey", "r_name"]


def test_sys_views(session):
    c = session.execute("SELECT name, version FROM sys.cluster").collect()[0]
    assert c["name"] == "crate-spark"
    n = session.execute("SELECT count(*) AS n FROM sys.tables").collect()[0]["n"]
    assert n >= 10


def test_sys_admin_views(session, spark, tmp_path):
    """The remaining reference sys tables (SysChecks/NodeChecks/
    Operations(Log)/Metrics/Sessions/Allocations/Segments/
    SnapshotRestore TableInfo): derived from real session state —
    operations_log and metrics from the jobs log, segments from
    parquet footers, allocations mirroring shard routing."""
    session.execute("SELECT 1 AS warmup")
    checks = session.execute("SELECT * FROM sys.checks").collect()
    assert checks and all(r["passed"] for r in checks)
    nchecks = session.execute(
        "SELECT * FROM sys.node_checks WHERE node_id = 'n1'"
    ).collect()
    assert nchecks and {r["severity"] for r in nchecks} <= {1, 2, 3}
    # the executing statement is itself an in-flight job with one
    # collect operation (reference semantics: sys.operations shows
    # currently running work, which includes this very query)
    inflight = session.execute("SELECT name FROM sys.operations").collect()
    assert [r["name"] for r in inflight] == ["collect"]
    ops = session.execute(
        "SELECT job_id, name, started, ended FROM sys.operations_log"
    ).collect()
    assert ops and all(r["name"] == "collect" for r in ops)
    m = session.execute(
        "SELECT classification, total_count, mean FROM sys.metrics "
        "WHERE classification = 'SELECT'"
    ).collect()
    assert m and m[0]["total_count"] >= 1 and m[0]["mean"] >= 0.0
    # (the session_user COLUMN needs quoting in the reference too —
    # the keyword wins unquoted; probe auth_user instead)
    sess = session.execute(
        "SELECT auth_user, last_statement FROM sys.sessions"
    ).collect()
    assert len(sess) == 1 and sess[0]["auth_user"] == "crate"
    alloc = session.execute(
        "SELECT table_name, current_state, \"primary\" FROM sys.allocations"
    ).collect()
    assert alloc and all(r["current_state"] == "STARTED" for r in alloc)
    # segments carry real footer row counts for SQL-created tables
    from crate_spark.engine import CrateSession

    s2 = CrateSession(spark, None, storage_dir=str(tmp_path))
    s2.execute("CREATE TABLE segt (a integer)")
    s2.execute("INSERT INTO segt VALUES (1), (2), (3)")
    segs = s2.execute(
        "SELECT segment_name, num_docs, size FROM sys.segments "
        "WHERE table_name = 'segt'"
    ).collect()
    assert segs and sum(r["num_docs"] for r in segs) == 3
    assert all(r["size"] > 0 for r in segs)
    assert s2.execute("SELECT * FROM sys.snapshot_restore").count() == 0


def test_pg_catalog_breadth(spark, tmp_path):
    """The full pg_catalog table list from
    PgCatalogTableDefinitions.java: live values for database/settings/
    roles/user/views/indexes/cursors, and the tables the reference
    itself serves empty all resolve (tooling probes them blindly)."""
    from crate_spark.engine import CrateSession

    s = CrateSession(spark, None, storage_dir=str(tmp_path))
    assert s.execute(
        "SELECT datname FROM pg_catalog.pg_database"
    ).collect()[0][0] == "crate"
    st = {r["name"]: r["setting"] for r in s.execute(
        "SELECT name, setting FROM pg_catalog.pg_settings"
    ).collect()}
    assert st["search_path"] == "doc" and st["max_index_keys"] == "32"
    assert s.execute(
        "SELECT rolname FROM pg_catalog.pg_roles WHERE rolsuper"
    ).collect()[0][0] == "crate"
    assert s.execute("SELECT usename FROM pg_catalog.pg_user").count() >= 1
    # views / indexes / cursors reflect live DDL + session state
    s.execute("CREATE TABLE pgb (a integer PRIMARY KEY)")
    s.execute("CREATE VIEW pgb_v AS SELECT a FROM pgb")
    assert ("pgb_v",) in [
        (r["viewname"],) for r in s.execute(
            "SELECT viewname FROM pg_catalog.pg_views"
        ).collect()
    ]
    assert s.execute(
        "SELECT indexname FROM pg_catalog.pg_indexes WHERE tablename = 'pgb'"
    ).collect()[0][0] == "pgb_pkey"
    s.execute("DECLARE pgb_c NO SCROLL CURSOR FOR SELECT a FROM pgb")
    cur = s.execute(
        "SELECT name, statement FROM pg_catalog.pg_cursors"
    ).collect()
    assert cur and cur[0]["name"] == "pgb_c" and "SELECT" in cur[0]["statement"]
    s.execute("CLOSE pgb_c")
    s.execute("DROP VIEW pgb_v")
    assert s.execute("SELECT * FROM pg_catalog.pg_views").count() == 0
    # reference-empty tables all resolve and are empty
    for t in ("pg_enum", "pg_locks", "pg_depend", "pg_matviews",
              "pg_event_trigger", "pg_range", "pg_shdescription", "pg_am",
              "pg_description", "pg_attrdef", "pg_auth_members", "pg_index",
              "pg_stats"):
        assert s.execute(f"SELECT * FROM pg_catalog.{t}").count() == 0


def test_explain(session):
    plan = session.execute("EXPLAIN SELECT count(*) FROM lineitem").collect()[0]["plan"]
    assert "Physical Plan" in plan and "lineitem" in plan


def test_explain_analyze(session):
    rows = {
        r["phase"]: r
        for r in session.execute(
            "EXPLAIN ANALYZE SELECT l_returnflag, count(*) FROM lineitem GROUP BY l_returnflag"
        ).collect()
    }
    assert set(rows) == {"plan", "execute"}
    assert rows["execute"]["rows"] == 3
    assert rows["execute"]["millis"] > 0 and rows["plan"]["millis"] > 0


def test_set_and_reset(session):
    session.execute("SET spark.sql.shuffle.partitions = 7")
    assert session.spark.conf.get("spark.sql.shuffle.partitions") == "7"
    session.execute("SET spark.sql.shuffle.partitions = 8")


def test_full_query_through_session(session):
    """The flagship slice through the SQL front door, crate-isms and all."""
    rows = session.execute(
        """
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity)::bigint AS sum_qty, count(*) AS n
        FROM lineitem
        WHERE l_shipdate <= '1998-09-02'::timestamp
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    ).collect()
    assert len(rows) == 6
    assert rows[0]["l_returnflag"] == "A"
    assert rows[0]["sum_qty"] > 0


def test_rewrite_preserves_string_literals():
    """Operator regexes must never match inside string literals."""
    assert rewrite("SELECT 'a::b' AS lit") == "SELECT 'a::b' AS lit"
    assert rewrite("SELECT 'it''s ~ here' FROM t") == "SELECT 'it''s ~ here' FROM t"
    assert rewrite("SELECT a ~ 'x[1]' FROM t") == (
        "SELECT a RLIKE concat('^(?:', 'x[1]', ')$') FROM t")
    assert (
        rewrite("SELECT arr[1] FROM t WHERE s = 'arr[2]'")
        == "SELECT element_at(arr, 1) FROM t WHERE s = 'arr[2]'"
    )


def test_match_predicate_via_sql(session):
    """MATCH(col, 'terms') through the SQL front door -> token overlap."""
    rows = session.execute(
        "SELECT count(*) AS n FROM documents WHERE MATCH(text, 'spark vector')"
    ).collect()
    assert rows[0]["n"] > 0
    both = session.execute(
        "SELECT count(*) AS n FROM documents "
        "WHERE MATCH(text, 'spark') AND lang = 'en'"
    ).collect()[0]["n"]
    assert 0 < both <= rows[0]["n"] + both  # sane bound; structured AND works


def test_create_function(session):
    session.execute(
        "CREATE FUNCTION add_tax(price double, rate double) RETURNS double "
        "LANGUAGE PYTHON AS 'price * (1.0 + rate)'"
    )
    v = session.execute("SELECT add_tax(100.0, 0.19) AS v").collect()[0]["v"]
    assert abs(v - 119.0) < 1e-9
    # usable over a real table
    n = session.execute(
        "SELECT count(*) AS n FROM orders WHERE add_tax(o_totalprice, 0.1) > o_totalprice"
    ).collect()[0]["n"]
    assert n > 0


def test_to_char_via_sql(session):
    rows = session.execute(
        "SELECT to_char(ts, 'YYYY-MM-DD') AS d FROM events WHERE event_id = 0"
    ).collect()
    assert rows[0]["d"] == "2024-01-01"


# -- SQL DML/DDL front door ---------------------------------------------------
# Statement shapes from the reference docs (docs/sql/statements/insert.rst,
# update.rst, delete.rst, copy-from.rst) executed as SQL strings end-to-end.


@pytest.fixture()
def dml_session(spark, tmp_path):
    return CrateSession(spark, storage_dir=str(tmp_path))


def test_sql_create_insert_select(dml_session):
    s = dml_session
    s.execute(
        "CREATE TABLE uservisits (id int PRIMARY KEY, name text, visits int, "
        "day timestamp, CHECK (visits >= 0))"
    )
    n = s.execute(
        "INSERT INTO uservisits (id, name, visits, day) VALUES "
        "(1, 'alice', 3, '2024-01-01 00:00:00'::timestamp), "
        "(2, 'bob', 0, '2024-01-02 00:00:00'::timestamp)"
    ).collect()[0]["rowcount"]
    assert n == 2
    rows = s.execute("SELECT id, name, visits FROM uservisits ORDER BY id").collect()
    assert [(r["id"], r["name"], r["visits"]) for r in rows] == [
        (1, "alice", 3),
        (2, "bob", 0),
    ]


def test_sql_insert_on_conflict(dml_session):
    s = dml_session
    s.execute("CREATE TABLE kv (k int PRIMARY KEY, v text, hits int)")
    s.execute("INSERT INTO kv (k, v, hits) VALUES (1, 'a', 1), (2, 'b', 1)")
    # DO NOTHING keeps the existing row (insert.rst ON CONFLICT)
    s.execute(
        "INSERT INTO kv (k, v, hits) VALUES (1, 'ignored', 9) "
        "ON CONFLICT (k) DO NOTHING"
    )
    assert s.execute("SELECT v FROM kv WHERE k = 1").collect()[0]["v"] == "a"
    # DO UPDATE SET with excluded.* (insert.rst:25-27)
    s.execute(
        "INSERT INTO kv (k, v, hits) VALUES (1, 'new', 1) "
        "ON CONFLICT (k) DO UPDATE SET v = excluded.v, hits = target.hits + 1"
    )
    row = s.execute("SELECT v, hits FROM kv WHERE k = 1").collect()[0]
    assert row["v"] == "new" and row["hits"] == 2


def test_sql_insert_from_select(dml_session):
    s = dml_session
    s.execute("CREATE TABLE src (n int, label text)")
    s.execute("INSERT INTO src VALUES (1, 'x'), (2, 'y'), (3, 'z')")
    s.execute("CREATE TABLE dst (n int, label text)")
    n = s.execute(
        "INSERT INTO dst (n, label) SELECT n, upper(label) FROM src WHERE n > 1"
    ).collect()[0]["rowcount"]
    assert n == 2
    assert [r["label"] for r in s.execute("SELECT label FROM dst ORDER BY n").collect()] == ["Y", "Z"]


def test_sql_update_delete_returning(dml_session):
    s = dml_session
    s.execute("CREATE TABLE t (id int PRIMARY KEY, val text, cnt int)")
    s.execute("INSERT INTO t VALUES (1, 'a', 1), (2, 'b', 2), (3, 'c', 3)")
    n = s.execute("UPDATE t SET cnt = cnt * 10 WHERE id >= 2").collect()[0]["rowcount"]
    assert n == 2
    # RETURNING yields a DataFrame of the updated rows, never a collect
    ret = s.execute("UPDATE t SET val = upper(val) WHERE id = 1 RETURNING id, val")
    assert [(r["id"], r["val"]) for r in ret.collect()] == [(1, "A")]
    n = s.execute("DELETE FROM t WHERE cnt > 15").collect()[0]["rowcount"]
    assert n == 2
    assert s.execute("SELECT count(*) AS n FROM t").collect()[0]["n"] == 1


def test_sql_generated_column_and_check(dml_session):
    s = dml_session
    s.execute(
        "CREATE TABLE m (id int, ts timestamp, "
        "day timestamp GENERATED ALWAYS AS (date_trunc('day', ts)), "
        "CHECK (id > 0))"
    )
    s.execute("INSERT INTO m (id, ts) VALUES (1, '2024-03-05 13:45:00'::timestamp)")
    row = s.execute("SELECT day FROM m").collect()[0]
    assert str(row["day"]).startswith("2024-03-05 00:00")
    from crate_spark.dml import CheckViolation

    with pytest.raises(CheckViolation):
        s.execute("INSERT INTO m (id, ts) VALUES (-1, '2024-03-05 00:00:00'::timestamp)")


def test_sql_copy_roundtrip(dml_session, tmp_path):
    s = dml_session
    s.execute("CREATE TABLE exp (a int, b text)")
    s.execute("INSERT INTO exp VALUES (1, 'one'), (2, 'two')")
    out = str(tmp_path / "export")
    n = s.execute(f"COPY exp TO '{out}' WITH (format = 'json')").collect()[0]["rowcount"]
    assert n == 2
    s.execute("CREATE TABLE imp (a int, b text)")
    summary = s.execute(
        f"COPY imp FROM '{out}' WITH (format = 'json')"
    ).collect()[0]
    assert summary["loaded"] == 2 and summary["errors"] == 0
    assert s.execute("SELECT count(*) AS n FROM imp").collect()[0]["n"] == 2


def test_sql_drop_table(dml_session):
    s = dml_session
    s.execute("CREATE TABLE gone (x int)")
    s.execute("DROP TABLE gone")
    with pytest.raises(Exception):
        s.execute("SELECT * FROM gone").collect()
    # IF EXISTS tolerates the missing table
    s.execute("DROP TABLE IF EXISTS gone")


def test_sql_dml_unknown_table_raises(dml_session):
    with pytest.raises(ValueError, match="unknown DML target"):
        dml_session.execute("INSERT INTO nope VALUES (1)")


# -- pg_catalog compat --------------------------------------------------------
def test_pg_catalog_views(session):
    tabs = {
        r["tablename"]
        for r in session.execute(
            "SELECT tablename FROM pg_catalog.pg_tables WHERE schemaname = 'doc'"
        ).collect()
    }
    assert {"lineitem", "orders"} <= tabs
    t = session.execute(
        "SELECT typname FROM pg_catalog.pg_type WHERE oid = 20"
    ).collect()[0]["typname"]
    assert t == "int8"
    ns = {r["nspname"] for r in session.execute("SELECT nspname FROM pg_catalog.pg_namespace").collect()}
    assert "pg_catalog" in ns


def test_pg_typeof_and_current_setting(session):
    row = session.execute(
        "SELECT pg_typeof(o_orderkey) AS t FROM orders LIMIT 1"
    ).collect()[0]
    assert row["t"] == "bigint"
    session.execute("SET spark.sql.shuffle.partitions = 8")
    v = session.execute(
        "SELECT current_setting('spark.sql.shuffle.partitions') AS v"
    ).collect()[0]["v"]
    assert v == "8"
    # missing_ok=true yields NULL instead of raising
    n = session.execute(
        "SELECT current_setting('no.such.key', true) AS v"
    ).collect()[0]["v"]
    assert n is None
    with pytest.raises(ValueError, match="unrecognized configuration"):
        session.execute("SELECT current_setting('no.such.key') AS v")


def test_fdw_jdbc_foreign_scan(session):
    """Foreign scan demo (reference ``fdw/JdbcBatchIterator.java``): the
    engine's FDW surface IS Spark's jdbc source. Proves the wiring
    end-to-end against an in-JVM Derby database: create + populate over
    plain JDBC, read back through spark.read.format('jdbc'), and push a
    predicate down to the foreign source."""
    spark = session.spark
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection("jdbc:derby:memory:fdwdemo;create=true")
    st = conn.createStatement()
    try:
        st.execute("DROP TABLE ext_users")
    except Exception:
        pass
    st.execute("CREATE TABLE ext_users (id INT, name VARCHAR(32))")
    st.execute("INSERT INTO ext_users VALUES (1, 'ada'), (2, 'bob'), (3, 'eve')")
    conn.close()
    df = (
        spark.read.format("jdbc")
        .option("url", "jdbc:derby:memory:fdwdemo")
        .option("dbtable", "ext_users")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .load()
    )
    assert sorted((r["ID"], r["NAME"]) for r in df.collect()) == [
        (1, "ada"), (2, "bob"), (3, "eve"),
    ]
    filtered = df.filter(df["ID"] >= 2)
    assert filtered.count() == 2
    # the predicate reaches the foreign scan (PushedFilters on the JDBC relation)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan


def test_cursor_declare_fetch_close(session):
    """DECLARE/FETCH/CLOSE (reference session/Cursor.java): incremental
    result consumption over toLocalIterator — no full collect."""
    session.execute(
        "DECLARE c1 NO SCROLL CURSOR FOR "
        "SELECT o_orderkey FROM orders ORDER BY o_orderkey"
    )
    first = [r["o_orderkey"] for r in session.execute("FETCH 3 FROM c1").collect()]
    assert first == [0, 1, 2]
    nxt = [r["o_orderkey"] for r in session.execute("FETCH 2 FROM c1").collect()]
    assert nxt == [3, 4]
    rest = session.execute("FETCH ALL FROM c1").count()
    assert rest > 0
    session.execute("CLOSE c1")
    with pytest.raises(ValueError, match="does not exist"):
        session.execute("FETCH 1 FROM c1")


def test_session_info_scalars(session):
    row = session.execute(
        "SELECT current_schema AS cs, current_database() AS cd, "
        "current_schemas(false) AS css, version() AS v"
    ).collect()[0]
    assert row["cs"] == "doc" and row["cd"] == "crate"
    assert list(row["css"]) == ["doc"]
    # the reference's render shape (VersionFunction.java; r11)
    assert row["v"].startswith("CrateDB ")


def test_show_statements(session):
    tabs = [r["table_name"] for r in session.execute("SHOW TABLES").collect()]
    assert "lineitem" in tabs and tabs == sorted(tabs)
    cols = [r["column_name"] for r in session.execute("SHOW COLUMNS FROM region").collect()]
    assert cols == ["r_regionkey", "r_name"]
    schemas = {r["schema_name"] for r in session.execute("SHOW SCHEMAS").collect()}
    assert {"doc", "sys"} <= schemas
    session.execute("SET spark.sql.shuffle.partitions = 8")
    v = session.execute("SHOW spark.sql.shuffle.partitions").collect()[0]["value"]
    assert v == "8"


def test_sql_insert_parenthesized_query(dml_session):
    s = dml_session
    s.execute("CREATE TABLE psrc (n int)")
    s.execute("INSERT INTO psrc VALUES (1), (2)")
    s.execute("CREATE TABLE pdst (n int)")
    n = s.execute("INSERT INTO pdst (SELECT n + 10 FROM psrc)").collect()[0]["rowcount"]
    assert n == 2
    vals = sorted(r["n"] for r in s.execute("SELECT n FROM pdst").collect())
    assert vals == [11, 12]


def test_sql_ctas_and_alter_table(dml_session):
    s = dml_session
    s.execute("CREATE TABLE base (a int, b text)")
    s.execute("INSERT INTO base VALUES (1, 'x'), (2, 'y'), (3, 'z')")
    n = s.execute("CREATE TABLE derived AS SELECT a * 10 AS a10, b FROM base WHERE a > 1").collect()[0]["rowcount"]
    assert n == 2
    assert sorted(r["a10"] for r in s.execute("SELECT a10 FROM derived").collect()) == [20, 30]
    # ADD COLUMN: existing rows read the new column as NULL
    s.execute("ALTER TABLE derived ADD COLUMN note text")
    rows = s.execute("SELECT a10, note FROM derived").collect()
    assert all(r["note"] is None for r in rows)
    s.execute("INSERT INTO derived VALUES (40, 'w', 'hi')")
    # RENAME + DROP COLUMN
    s.execute("ALTER TABLE derived RENAME COLUMN a10 TO amount")
    s.execute("ALTER TABLE derived DROP COLUMN b")
    got = {r["amount"]: r["note"] for r in s.execute("SELECT amount, note FROM derived").collect()}
    assert got == {20: None, 30: None, 40: "hi"}


def test_txn_noops_views_and_kill(session):
    assert session.execute("BEGIN").collect()[0]["status"] == "OK"
    assert session.execute("COMMIT").collect()[0]["status"] == "OK"
    session.execute("CREATE VIEW big_orders AS SELECT * FROM orders WHERE o_totalprice > 400000")
    n = session.execute("SELECT count(*) AS n FROM big_orders").collect()[0]["n"]
    assert n > 0
    # view appears in the catalog
    tabs = [r["table_name"] for r in session.execute("SHOW TABLES").collect()]
    assert "big_orders" in tabs
    session.execute("DROP VIEW big_orders")
    import pytest as _pt
    with _pt.raises(Exception):
        session.execute("SELECT count(*) FROM big_orders").collect()


def test_pg_compat_tooling_scalars(session):
    row = session.execute(
        "SELECT has_table_privilege('crate', 'orders', 'SELECT') AS priv, "
        "pg_table_is_visible(12345) AS vis, pg_backend_pid() AS pid, "
        "pg_encoding_to_char(6) AS enc, col_description(1, 1) AS cd, "
        "session_user AS su, current_user AS cu"
    ).collect()[0]
    assert row["priv"] is True and row["vis"] is True
    assert row["pid"] == 0 and row["enc"] == "UTF8" and row["cd"] is None
    assert row["su"] == "crate" and row["cu"] == "crate"


def test_create_function_pandas_vectorized(session):
    """LANGUAGE PANDAS: the body runs over pandas Series, Arrow-batched
    — the vectorized UDF path for scale."""
    session.execute(
        "CREATE FUNCTION vec_tax(price double, rate double) RETURNS double "
        "LANGUAGE PANDAS AS 'price * (1.0 + rate)'"
    )
    v = session.execute("SELECT vec_tax(100.0, 0.19) AS v").collect()[0]["v"]
    assert abs(v - 119.0) < 1e-9
    n = session.execute(
        "SELECT count(*) AS n FROM orders WHERE vec_tax(o_totalprice, 0.1) > o_totalprice"
    ).collect()[0]["n"]
    assert n > 0


# -- round-3 SQL surface ----------------------------------------------------
def test_object_subscript_sql(session):
    """o['k'] and chained o['a']['b'] through the SQL front door
    (AstBuilder subscript grammar, SubscriptObjectFunction.java):
    JSON-string OBJECT columns rewrite to get_json_object paths."""
    rows = session.execute(
        "SELECT event_id, props['k']::bigint AS kv "
        "FROM events WHERE event_id < 3 ORDER BY event_id"
    ).collect()
    assert len(rows) == 3 and all(r["kv"] is not None for r in rows)

    # chained subscript over a nested object column
    session.spark.createDataFrame(
        [(1, '{"a": {"b": 7, "c d": "x"}}')], "id int, obj string"
    ).createOrReplaceTempView("nested_obj")
    session.register("nested_obj", session.spark.table("nested_obj"))
    got = session.execute(
        "SELECT obj['a']['b']::int AS ab FROM nested_obj"
    ).collect()
    assert got[0]["ab"] == 7


def test_quantified_subquery_comparisons(session):
    """x > ANY (SELECT ...) / < ALL (SELECT ...) — Spark lacks
    quantified subquery comparisons (AnyOperator.java:56), the shim
    rewrites them to scalar min/max subqueries."""
    n_any = session.execute(
        "SELECT count(*) AS n FROM orders WHERE o_totalprice > ANY "
        "(SELECT c_acctbal FROM customer)"
    ).collect()[0]["n"]
    n_all = session.execute(
        "SELECT count(*) AS n FROM orders WHERE o_totalprice > ALL "
        "(SELECT c_acctbal FROM customer)"
    ).collect()[0]["n"]
    assert n_any >= n_all
    # cross-check against explicit min/max scalar forms
    n_any2 = session.execute(
        "SELECT count(*) AS n FROM orders WHERE o_totalprice > "
        "(SELECT min(c_acctbal) FROM customer)"
    ).collect()[0]["n"]
    assert n_any == n_any2
    n_neq_all = session.execute(
        "SELECT count(*) AS n FROM nation WHERE n_nationkey <> ALL "
        "(SELECT r_regionkey FROM region)"
    ).collect()[0]["n"]
    n_not_in = session.execute(
        "SELECT count(*) AS n FROM nation WHERE n_nationkey NOT IN "
        "(SELECT r_regionkey FROM region)"
    ).collect()[0]["n"]
    assert n_neq_all == n_not_in


def test_sys_columns_sql(session):
    """_id/_doc/_raw projections (metadata/doc/SysColumns.java:49-63)."""
    rows = session.execute(
        "SELECT _id, _raw, _doc FROM nation WHERE n_nationkey = 1"
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["_raw"].startswith('{"n_nationkey":1')
    assert r["_doc"]["n_nationkey"] == 1
    import hashlib

    assert r["_id"] == hashlib.md5(r["_raw"].encode()).hexdigest()
    # _docid (system-columns.rst:94): the internal per-segment row id —
    # row-unique within one result, no stability promised across
    # rewrites (the reference documents the same caveat for merges)
    ids = [
        x["_docid"]
        for x in session.execute("SELECT _docid FROM nation").collect()
    ]
    assert len(ids) == len(set(ids)) == 25
    # qualified sys columns resolve like any column (table- and
    # alias-qualified forms; the reference resolves alias.sys_col)
    assert session.execute(
        "SELECT n._id IS NOT NULL AS v FROM nation n LIMIT 1"
    ).collect()[0][0] is True
    r2 = session.execute(
        "SELECT nation._score AS sc FROM nation "
        "WHERE MATCH(n_name, 'NATION') LIMIT 1"
    ).collect()
    assert len(r2) == 1 and r2[0][0] > 0
    r3 = session.execute(
        "SELECT d.doc_id, round(d._score, 6) AS sc FROM documents d "
        "WHERE MATCH(text, 'spark vector') ORDER BY d._score DESC LIMIT 2"
    ).collect()
    assert len(r3) == 2 and r3[0]["sc"] >= r3[1]["sc"]


def test_match_order_by_score(session):
    """MATCH ... ORDER BY _score DESC — BM25-ranked search through
    SQL, equal to the bm25_scores operator result."""
    from crate_spark.operators.fulltext import bm25_scores
    from crate_spark.session import load_tables

    got = session.execute(
        "SELECT doc_id, round(_score, 6) AS score FROM documents "
        "WHERE MATCH(text, 'spark vector window') "
        "ORDER BY _score DESC, doc_id LIMIT 10"
    ).collect()
    docs = load_tables(session.spark, SF_DIR)["documents"]
    import pyspark.sql.functions as F

    want = (
        bm25_scores(docs, "spark vector window")
        .orderBy(F.col("_score").desc(), "doc_id")
        .limit(10)
        .select("doc_id", F.round("_score", 6).alias("score"))
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_parameter_binding(session):
    """$1-style parameter binding (Session.bind():403) — SELECT and
    placeholder-in-literal safety."""
    rows = session.execute(
        "SELECT n_name FROM nation WHERE n_nationkey = $1", params=[2]
    ).collect()
    assert rows[0]["n_name"] == "NATION_2"
    rows = session.execute(
        "SELECT '$1 literal' AS lit, n_name FROM nation WHERE n_nationkey = $1",
        params=[0],
    ).collect()
    assert rows[0]["lit"] == "$1 literal"
    # '?' positional + NULL / string escaping
    rows = session.execute(
        "SELECT ? AS a, ? AS b, ? AS c", params=["o'brien", None, 3.5]
    ).collect()
    assert rows[0]["a"] == "o'brien" and rows[0]["b"] is None and rows[0]["c"] == 3.5


def test_parameter_binding_insert_roundtrip(dml_session):
    """Parameterized INSERT + bulk args (Session.bulkExec:717)."""
    dml_session.execute("CREATE TABLE pb (id int PRIMARY KEY, name text)")
    dml_session.execute(
        "INSERT INTO pb (id, name) VALUES ($1, $2)", params=[1, "a'b"]
    )
    dml_session.execute_bulk(
        "INSERT INTO pb (id, name) VALUES ($1, $2)", [[2, "x"], [3, "y"]]
    )
    rows = dml_session.execute("SELECT id, name FROM pb ORDER BY id").collect()
    assert [(r["id"], r["name"]) for r in rows] == [(1, "a'b"), (2, "x"), (3, "y")]


def test_fetch_all_is_lazy(session):
    """FETCH ALL must return a distributed residual plan, never drain
    the cursor iterator into a driver-side list (VERDICT r2 wrong #1)."""
    session.execute(
        "DECLARE big CURSOR FOR SELECT o_orderkey FROM orders ORDER BY o_orderkey"
    )
    first = session.execute("FETCH 4 FROM big").count()
    assert first == 4
    res = session.execute("FETCH ALL FROM big")
    plan = res._jdf.queryExecution().logical().toString()
    assert "LocalRelation" not in plan, "FETCH ALL materialized on the driver"
    total = session.execute(
        "SELECT count(*) AS n FROM orders"
    ).collect()[0]["n"]
    assert res.count() == total - 4
    # cursor is exhausted afterwards
    assert session.execute("FETCH 5 FROM big").count() == 0
    assert session.execute("FETCH ALL FROM big").count() == 0
    session.execute("CLOSE big")


def test_pg_catalog_class_attribute_proc(session):
    """pg_class/pg_attribute/pg_proc introspection joins
    (PgCatalogTableDefinitions.java) — the psql \\d shape."""
    rows = session.execute(
        "SELECT a.attname, t.typname FROM pg_catalog.pg_class c "
        "JOIN pg_catalog.pg_attribute a ON a.attrelid = c.oid "
        "JOIN pg_catalog.pg_type t ON t.oid = a.atttypid "
        "WHERE c.relname = 'region' ORDER BY a.attnum"
    ).collect()
    assert [r["attname"] for r in rows] == ["r_regionkey", "r_name"]
    assert rows[0]["typname"] in ("int4", "int8")
    n_procs = session.execute(
        "SELECT count(*) AS n FROM pg_catalog.pg_proc"
    ).collect()[0]["n"]
    assert n_procs > 10


def test_create_analyzer(session):
    """CREATE ANALYZER + MATCH WITH (analyzer=...) — named tokenizer
    configs (FulltextAnalyzerResolver.java, create-analyzer.rst)."""
    session.execute("CREATE ANALYZER ws_an (TOKENIZER whitespace)")
    session.execute("CREATE ANALYZER kw_an (TOKENIZER keyword)")
    # whitespace keeps case: capitalized query term matches nothing
    n_upper = session.execute(
        "SELECT count(*) AS n FROM documents WHERE MATCH(text, 'Spark') "
        "WITH (analyzer='ws_an')"
    ).collect()[0]["n"]
    n_lower = session.execute(
        "SELECT count(*) AS n FROM documents WHERE MATCH(text, 'spark') "
        "WITH (analyzer='ws_an')"
    ).collect()[0]["n"]
    assert n_lower >= n_upper
    with pytest.raises(ValueError, match="not defined"):
        session.execute(
            "SELECT 1 FROM documents WHERE MATCH(text, 'x') WITH (analyzer='nope')"
        )
    session.execute("DROP ANALYZER kw_an")


def test_match_modes_via_sql(session):
    """MATCH USING phrase / WITH (operator='and') through SQL equal the
    DataFrame-API match_phrase / match_all operators
    (MatchPredicate.java:85-98 match modes)."""
    import pyspark.sql.functions as F

    from crate_spark.operators.fulltext import match_all, match_phrase
    from crate_spark.session import load_tables

    docs = load_tables(session.spark, SF_DIR)["documents"]
    n_and_sql = session.execute(
        "SELECT count(*) AS n FROM documents WHERE "
        "MATCH(text, 'spark vector') WITH (operator='and')"
    ).collect()[0]["n"]
    n_and_df = docs.filter(match_all("text", "spark vector")).count()
    assert n_and_sql == n_and_df

    n_ph_sql = session.execute(
        "SELECT count(*) AS n FROM documents WHERE "
        "MATCH(text, 'fast sort') USING phrase"
    ).collect()[0]["n"]
    n_ph_df = docs.filter(match_phrase("text", "fast sort")).count()
    assert n_ph_sql == n_ph_df
    assert n_ph_sql > 0


def test_array_object_literals_sql(session):
    """CrateDB array constructors (ARRAY[...] / [...]) and OBJECT
    literals ({k = v}) through SQL (AstBuilder array/object literals)."""
    r = session.execute(
        "SELECT ARRAY[1, 2, 3] AS a, ['x', 'y'] AS b, "
        "3 = ANY([1, 2, 3]) AS m, {a = 1, nested = {b = 2}} AS o"
    ).collect()[0]
    assert r["a"] == [1, 2, 3] and r["b"] == ["x", "y"] and r["m"] is True
    assert r["o"] == '{"a":1,"nested":{"b":2}}'
    # object literal round-trips through the object subscript path
    session.register(
        "obj_lit_t",
        session.execute("SELECT {a = 7, s = 'x'} AS obj"),
    )
    got = session.execute("SELECT obj['a']::int AS v FROM obj_lit_t").collect()
    assert got[0]["v"] == 7


def test_show_create_table(dml_session):
    """SHOW CREATE TABLE reconstructs CrateDB-spelled DDL with PK,
    generated column, CHECK and PARTITIONED BY
    (MetadataToASTNodeResolver parity)."""
    dml_session.execute(
        "CREATE TABLE sct (id integer PRIMARY KEY, name text, "
        "day text GENERATED ALWAYS AS (substr(name, 1, 3)), "
        "CHECK (id >= 0)) PARTITIONED BY (day)"
    )
    ddl = dml_session.execute("SHOW CREATE TABLE sct").collect()[0]["create_table"]
    assert 'CREATE TABLE IF NOT EXISTS "doc"."sct"' in ddl
    assert '"id" INTEGER' in ddl and '"name" TEXT' in ddl
    assert 'PRIMARY KEY ("id")' in ddl
    assert "GENERATED ALWAYS AS" in ddl
    assert "CHECK (id >= 0)" in ddl
    assert 'PARTITIONED BY ("day")' in ddl


def test_show_create_table_source(session):
    """Registered source tables get plain column DDL."""
    ddl = session.execute("SHOW CREATE TABLE nation").collect()[0]["create_table"]
    assert '"n_name" TEXT' in ddl and '"n_nationkey"' in ddl


def test_sys_runtime_views(session):
    """sys.nodes / sys.shards / sys.health / sys.jobs single-node
    analogs (SysNodesTableInfo, SysShardsTableInfo, SysHealth)."""
    assert session.execute("SELECT * FROM sys.nodes").count() == 1
    shards = session.execute(
        "SELECT table_name, state FROM sys.shards WHERE table_name = 'nation'"
    ).collect()
    assert shards and shards[0]["state"] == "STARTED"
    h = session.execute(
        "SELECT health FROM sys.health WHERE table_name = 'orders'"
    ).collect()
    assert h[0]["health"] == "GREEN"
    # a running statement sees itself in sys.jobs (the reference doc
    # examples select themselves out of it)
    jobs = session.execute("SELECT stmt FROM sys.jobs").collect()
    assert len(jobs) == 1 and "sys.jobs" in jobs[0]["stmt"]


def test_create_table_crate_ddl_trimmings(dml_session):
    """Real-world CrateDB DDL: CLUSTERED BY / INTO SHARDS / WITH
    options are accepted (sharding is Spark's partitioning concern),
    object(dynamic) as (...) maps to the JSON-string object storage,
    and column DEFAULT expressions fill omitted INSERT columns
    (create-table.rst, insert.rst)."""
    dml_session.execute(
        "CREATE TABLE metrics (id integer PRIMARY KEY, "
        "tag text DEFAULT 'none', "
        "props object(dynamic) as (k bigint, label text), "
        "val double precision DEFAULT 0.0) "
        "CLUSTERED BY (id) INTO 4 SHARDS "
        "WITH (number_of_replicas = 1)"
    )
    dml_session.execute("INSERT INTO metrics (id, props) VALUES (1, {k = 9, label = 'a'})")
    dml_session.execute("INSERT INTO metrics (id, tag, val) VALUES (2, 'x', 2.5)")
    rows = {r["id"]: r for r in dml_session.execute(
        "SELECT id, tag, val, props['k']::bigint AS k FROM metrics ORDER BY id"
    ).collect()}
    assert rows[1]["tag"] == "none" and rows[1]["val"] == 0.0 and rows[1]["k"] == 9
    assert rows[2]["tag"] == "x" and rows[2]["val"] == 2.5 and rows[2]["k"] is None
    ddl = dml_session.execute("SHOW CREATE TABLE metrics").collect()[0]["create_table"]
    assert "DEFAULT 'none'" in ddl


def test_crate_fn_templates_via_sql(session):
    """The dialect's crate-only function templates (ArraySlice/
    ArraySet/StringToArray/GenRandomTextUUID...) execute through the
    SQL front door as pure Spark builtins."""
    row = session.execute(
        "SELECT array_slice([10, 20, 30, 40], 2, 3) AS sl, "
        "array_set([1, 2, 3], 2, 99) AS st, "
        "string_to_array('a|b|NULLME|c', '|', 'NULLME') AS sta, "
        "array_position([5, 6], 7) AS missing, "
        "array_length([], 1) AS empty_len, "
        "gen_random_text_uuid() AS uid"
    ).collect()[0]
    assert row["sl"] == [20, 30]
    assert row["st"] == [1, 99, 3]
    assert row["sta"] == ["a", "b", None, "c"]
    assert row["missing"] is None and row["empty_len"] is None
    assert len(row["uid"]) == 36 and row["uid"].count("-") == 4


def test_crate_fn_unsupported_arity_left_alone(session):
    """An arity the templates don't cover keeps the original call and
    surfaces as a Spark analysis error, not a silent rewrite."""
    import pytest as _pytest

    with _pytest.raises(Exception, match="(?i)array_position|UNRESOLVED|PARAMETER"):
        session.execute("SELECT array_position([1], 1, 1, 1) AS x").collect()


def test_pg_session_noop_statements(session):
    """DEALLOCATE / DISCARD / SET SESSION AUTHORIZATION / SET
    TRANSACTION / START TRANSACTION are accepted no-ops (reference
    planner routes them to NoopPlan; deallocate.rst, discard.rst,
    set-transaction.rst) — while plain SET key=value still configures."""
    for stmt in (
        "DEALLOCATE ALL",
        "DEALLOCATE prep_1",
        "DISCARD ALL",
        "SET SESSION AUTHORIZATION crate",
        "SET TRANSACTION READ ONLY",
        "START TRANSACTION",
    ):
        assert session.execute(stmt).collect()[0]["status"] == "OK"
    rows = session.execute("SET search_path = doc").collect()
    assert rows[0]["setting"] == "search_path"


def test_sql_age_and_timezone(session):
    """age() SQL expansion matches PG month-borrow semantics and
    returns the engine's (months, days, micros) interval struct;
    timezone() treats the wall clock as zone-local (TimezoneFunction
    without-tz variant)."""
    r = session.execute(
        "SELECT age(TIMESTAMP '2024-03-15 12:00:00', TIMESTAMP '2024-01-31 00:00:00') AS a, "
        "age(TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-03-15 00:00:00') AS neg, "
        "date_format(timezone('Europe/Berlin', TIMESTAMP '2024-01-15 10:00:00'), "
        "'yyyy-MM-dd HH:mm') AS utc_of_berlin"
    ).collect()[0]
    assert (r["a"]["months"], r["a"]["days"], r["a"]["micros"]) == (1, 15, 43_200_000_000)
    assert (r["neg"]["months"], r["neg"]["days"], r["neg"]["micros"]) == (-2, -14, 0)
    assert r["utc_of_berlin"] == "2024-01-15 09:00"  # 10:00 Berlin = 09:00 UTC


def test_fetch_first_and_named_windows(session):
    """PG result-limit spellings (select.rst FETCH FIRST / OFFSET n
    ROWS) rewrite to LIMIT/OFFSET; WINDOW w AS (...) named windows run
    natively."""
    names = [r["n_name"] for r in session.execute(
        "SELECT n_name FROM nation ORDER BY n_name FETCH FIRST 3 ROWS ONLY"
    ).collect()]
    assert len(names) == 3 and names == sorted(names)
    offs = [r["n_name"] for r in session.execute(
        "SELECT n_name FROM nation ORDER BY n_name OFFSET 2 ROWS FETCH NEXT 3 ROWS ONLY"
    ).collect()]
    assert len(offs) == 3 and offs[0] not in names[:2]
    rows = session.execute(
        "SELECT n_name, row_number() OVER w AS rn FROM nation "
        "WINDOW w AS (ORDER BY n_name) ORDER BY rn LIMIT 2"
    ).collect()
    assert [r["rn"] for r in rows] == [1, 2]


def test_knn_match_via_sql(session):
    """knn_match(vec, [literal], k) as a SQL predicate
    (KnnMatch.java:52): exact top-k join under the hood, `_score` =
    Lucene euclidean 1/(1+d^2), ORDER BY _score DESC ranked."""
    emb = session.tables["embeddings"].limit(1).collect()[0]["embedding"]
    lit = "[" + ", ".join(f"{x:.6f}" for x in emb) + "]"
    rows = session.execute(
        f"SELECT vec_id, _score FROM embeddings "
        f"WHERE knn_match(embedding, {lit}, 5) ORDER BY _score DESC"
    ).collect()
    assert len(rows) == 5
    assert rows[0]["vec_id"] == 0 and abs(rows[0]["_score"] - 1.0) < 1e-4
    scores = [r["_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert session.execute(
        f"SELECT vec_id FROM embeddings WHERE knn_match(embedding, {lit}, 3)"
    ).count() == 3


def test_sys_jobs_log(session):
    """Executed statements land in the sys.jobs_log ring buffer
    (SysJobsLogTableInfo): statement text, timing, error class."""
    session.execute("SELECT 1 AS probe_jobs_log")
    try:
        session.execute("SELECT definitely_not_a_function_xyz()")
    except Exception:
        pass
    rows = session.execute(
        "SELECT stmt, error FROM sys.jobs_log ORDER BY started"
    ).collect()
    texts = [r["stmt"] for r in rows]
    assert any("probe_jobs_log" in t for t in texts)
    failed = [r for r in rows if "definitely_not_a_function_xyz" in r["stmt"]]
    assert failed and failed[-1]["error"] is not None
    ok = [r for r in rows if "probe_jobs_log" in r["stmt"]]
    assert ok[-1]["error"] is None


def test_geo_scalars_via_sql(session):
    """distance/within/latitude/longitude through the SQL front door:
    geo_point as a [lon, lat] array (the reference's literal form),
    shapes as WKT strings (dql/geo.rst) — all plan-time expansions."""
    r = session.execute(
        "SELECT latitude([13.405, 52.52]) AS la, "
        "longitude([13.405, 52.52]) AS lo, "
        "distance([13.405, 52.52], 'POINT (13.405 52.52)') AS zero_d, "
        "distance([13.405, 52.52], 'POINT (2.3522 48.8566)') AS berlin_paris, "
        "within([0.5, 0.5], 'POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))') AS inside, "
        "within([2.0, 0.5], 'POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))') AS outside"
    ).collect()[0]
    assert r["la"] == 52.52 and r["lo"] == 13.405
    assert r["zero_d"] == 0.0
    assert 870_000 < r["berlin_paris"] < 890_000  # ~878 km
    assert r["inside"] is True and r["outside"] is False


def test_array_slice_subscripts_via_sql(session):
    """arr[from:to] slice subscripts with open ends (AstBuilder
    subscript grammar -> ArraySliceFunction), incl. function-call and
    parenthesized bases."""
    r = session.execute(
        "SELECT ['a','b','c','d'][2:3] AS mid, "
        "['a','b','c','d'][:2] AS head, "
        "['a','b','c','d'][3:] AS tail, "
        "string_to_array('x y z', ' ')[1:2] AS fncall, "
        "(string_to_array('x y z', ' '))[3] AS parenbase"
    ).collect()[0]
    assert r["mid"] == ["b", "c"] and r["head"] == ["a", "b"]
    assert r["tail"] == ["c", "d"] and r["fncall"] == ["x", "y"]
    assert r["parenbase"] == "z"


def test_create_table_like_and_settings(dml_session):
    """CREATE TABLE (LIKE src) clones column DDL and constraints
    (create-table-like.rst); ALTER TABLE SET/RESET manages WITH
    settings and SHOW CREATE TABLE renders them (alter-table.rst)."""
    dml_session.execute(
        "CREATE TABLE src_t (id integer PRIMARY KEY, v text DEFAULT 'x') "
        "WITH (number_of_replicas = 2, refresh_interval = 1000)"
    )
    ddl = dml_session.execute("SHOW CREATE TABLE src_t").collect()[0]["create_table"]
    assert "number_of_replicas = '2'" in ddl and "refresh_interval = 1000" in ddl
    dml_session.execute("CREATE TABLE like_t (LIKE src_t INCLUDING ALL)")
    like_ddl = dml_session.execute("SHOW CREATE TABLE like_t").collect()[0]["create_table"]
    assert '"id" INTEGER' in like_ddl and "PRIMARY KEY" in like_ddl
    assert dml_session.execute("SELECT count(*) AS n FROM like_t").collect()[0]["n"] == 0
    dml_session.execute("ALTER TABLE src_t SET (number_of_replicas = 5)")
    dml_session.execute("ALTER TABLE src_t RESET (refresh_interval)")
    ddl2 = dml_session.execute("SHOW CREATE TABLE src_t").collect()[0]["create_table"]
    assert "number_of_replicas = '5'" in ddl2 and "refresh_interval" not in ddl2


def test_open_close_and_swap_tables(dml_session):
    """ALTER TABLE CLOSE refuses subsequent queries until OPEN
    (alter-table.rst); ALTER CLUSTER SWAP TABLE exchanges two tables'
    contents by name (alter-cluster.rst, the blue/green cutover)."""
    import pytest as _pytest

    dml_session.execute("CREATE TABLE blue (id integer)")
    dml_session.execute("CREATE TABLE green (id integer)")
    dml_session.execute("INSERT INTO blue (id) VALUES (1)")
    dml_session.execute("INSERT INTO green (id) VALUES (2)")
    dml_session.execute("ALTER TABLE blue CLOSE")
    with _pytest.raises(Exception):
        dml_session.execute("SELECT * FROM blue").collect()
    dml_session.execute("ALTER TABLE blue OPEN")
    assert dml_session.execute("SELECT id FROM blue").collect()[0]["id"] == 1
    dml_session.execute("ALTER CLUSTER SWAP TABLE blue TO green")
    assert dml_session.execute("SELECT id FROM blue").collect()[0]["id"] == 2
    assert dml_session.execute("SELECT id FROM green").collect()[0]["id"] == 1


def test_information_schema_constraints(dml_session):
    """information_schema.table_constraints / key_column_usage expose
    PK and CHECK constraints of SQL-created tables."""
    dml_session.execute(
        "CREATE TABLE conform (a integer, b integer, "
        "PRIMARY KEY (a, b), CHECK (a > 0))"
    )
    tc = dml_session.execute(
        "SELECT constraint_name, constraint_type FROM "
        "information_schema.table_constraints WHERE table_name = 'conform' "
        "ORDER BY constraint_type"
    ).collect()
    # explicit CHECK + PK-implied NOT NULL checks (a, b) + the PK row
    assert [r["constraint_type"] for r in tc] == [
        "CHECK", "CHECK", "CHECK", "PRIMARY KEY"
    ]
    assert {"doc_conform_a_not_null", "doc_conform_b_not_null"} <= {
        r["constraint_name"] for r in tc
    }
    kcu = dml_session.execute(
        "SELECT column_name, ordinal_position FROM "
        "information_schema.key_column_usage WHERE table_name = 'conform' "
        "ORDER BY ordinal_position"
    ).collect()
    assert [(r["column_name"], r["ordinal_position"]) for r in kcu] == [("a", 1), ("b", 2)]


def test_sys_summits(session):
    """sys.summits (SysSummitsTableInfo schema) answers the reference's
    tutorial queries — geo_point coordinates as [lon, lat], sortable by
    height, usable with the geo scalars."""
    rows = session.execute(
        "SELECT mountain, height, country FROM sys.summits "
        "ORDER BY height DESC LIMIT 3"
    ).collect()
    assert rows[0]["mountain"] == "Mont Blanc" and rows[0]["height"] == 4808
    near = session.execute(
        "SELECT mountain FROM sys.summits "
        "WHERE distance(coordinates, 'POINT (7.65861 45.97639)') < 100000 "
        "ORDER BY mountain"
    ).collect()
    assert any(r["mountain"] == "Matterhorn" for r in near)


def test_array_prepend_modulus_pg_constraint(dml_session):
    """array_prepend keeps the reference's (value, array) arg order;
    modulus aliases mod; pg_constraint lists PK/CHECK rows."""
    r = dml_session.execute(
        "SELECT array_prepend(0, [1, 2]) AS pre, modulus(10, 3) AS m, "
        "modulus(-10, 3) AS neg"
    ).collect()[0]
    assert r["pre"] == [0, 1, 2] and r["m"] == 1 and r["neg"] == -1
    dml_session.execute(
        "CREATE TABLE conz (a integer PRIMARY KEY, CHECK (a > 0))"
    )
    rows = dml_session.execute(
        "SELECT conname, contype FROM pg_catalog.pg_constraint "
        "WHERE relname = 'conz' ORDER BY contype"
    ).collect()
    assert [(r["conname"], r["contype"]) for r in rows] == [
        ("conz_check_0", "c"), ("conz_pkey", "p")
    ]


def test_set_global_and_alter_cluster(session):
    """SET GLOBAL [PERSISTENT|TRANSIENT] (set.rst) lands in the shared
    runtime conf; ALTER CLUSTER REROUTE/GC/DECOMMISSION are accepted
    no-ops (alter-cluster.rst — shard placement is the scheduler's)."""
    session.execute("SET GLOBAL PERSISTENT stats.enabled = true")
    assert session.spark.conf.get("stats.enabled") == "true"
    session.execute("SET GLOBAL TRANSIENT indices.recovery.max_bytes_per_sec = '60mb'")
    assert session.spark.conf.get("indices.recovery.max_bytes_per_sec") == "60mb"
    session.execute("RESET GLOBAL stats.enabled")
    for stmt in (
        "ALTER CLUSTER REROUTE RETRY FAILED",
        "ALTER CLUSTER GC DANGLING ARTIFACTS",
        "ALTER CLUSTER DECOMMISSION 'node1'",
    ):
        assert session.execute(stmt).collect()[0][0] == "OK"


def test_create_function_javascript(spark, tmp_path):
    """LANGUAGE JAVASCRIPT — the reference's native UDF language
    (user-defined-functions.rst examples verbatim): single-return
    function bodies translate to Python expressions (Math.*, ===/!==,
    &&/||, ternaries incl. nesting); DROP FUNCTION unregisters."""
    from crate_spark.engine import CrateSession

    s = CrateSession(spark, None, storage_dir=str(tmp_path))
    s.execute(
        "CREATE FUNCTION my_subtract_function(integer, integer) RETURNS integer "
        "LANGUAGE JAVASCRIPT AS "
        "'function my_subtract_function(a, b) { return a - b; }'"
    )
    assert s.execute("SELECT my_subtract_function(3, 1) AS col").collect()[0][0] == 2
    s.execute(
        "CREATE OR REPLACE FUNCTION doc.log10(bigint) RETURNS double "
        "LANGUAGE JAVASCRIPT AS 'function log10(a) {return Math.log(a)/Math.log(10); }'"
    )
    assert s.execute("SELECT log10(100) AS col").collect()[0][0] == 2.0
    s.execute(
        "CREATE FUNCTION clamp01(double) RETURNS double LANGUAGE JAVASCRIPT AS "
        "'function clamp01(x) { return x < 0 ? 0.0 : (x > 1 ? 1.0 : x); }'"
    )
    got = [
        r[0]
        for r in s.execute(
            "SELECT clamp01(v) AS c FROM (VALUES (-0.5), (0.25), (3.0)) AS t(v)"
        ).collect()
    ]
    assert got == [0.0, 0.25, 1.0]
    # statement bodies translate (var/if/for/while subset); constructs
    # outside the subset are rejected at CREATE time, not first call
    import pytest as _pytest

    s.execute(
        "CREATE FUNCTION looped(integer) RETURNS integer LANGUAGE JAVASCRIPT "
        "AS 'function looped(n) { var x = 0; "
        "for (var i = 1; i <= n; i++) { x += i; } return x; }'"
    )
    assert s.execute("SELECT looped(4) AS col").collect()[0][0] == 10
    s.execute("DROP FUNCTION looped(integer)")
    # throw compiles at CREATE and raises at EVALUATE (GraalVM
    # semantics; the reference's ScriptException fires on evaluate)
    s.execute(
        "CREATE FUNCTION thrower(integer) RETURNS integer LANGUAGE JAVASCRIPT "
        "AS 'function thrower(a) { throw new Error(a); }'"
    )
    with _pytest.raises(Exception, match="Error"):
        s.execute("SELECT thrower(1) AS v").collect()
    s.execute("DROP FUNCTION thrower(integer)")
    # constructs genuinely outside the subset still reject at CREATE
    with _pytest.raises(ValueError, match="unsupported JavaScript"):
        s.execute(
            "CREATE FUNCTION protomut(integer) RETURNS integer LANGUAGE JAVASCRIPT "
            "AS 'function protomut(a) { String.prototype.z = 1; return a; }'"
        )
    # overloads: same name, different arity, schema-scoped; unqualified
    # lookup is builtin-first (log10 above resolved to Spark's builtin)
    s.execute(
        "CREATE FUNCTION my_schema.my_multiply(integer, integer) RETURNS integer "
        "LANGUAGE JAVASCRIPT AS 'function my_multiply(a, b) { return a * b; }'"
    )
    s.execute(
        "CREATE FUNCTION my_schema.my_multiply(bigint, bigint, bigint) RETURNS bigint "
        "LANGUAGE JAVASCRIPT AS 'function my_multiply(a, b, c) { return a * b * c; }'"
    )
    r = s.execute(
        "SELECT my_schema.my_multiply(2, 3) AS a, my_schema.my_multiply(2, 3, 4) AS b"
    ).collect()[0]
    assert (r["a"], r["b"]) == (6, 24)
    # DROP by signature removes only the matching overload
    s.execute("DROP FUNCTION my_schema.my_multiply(bigint, bigint, bigint)")
    assert s.execute("SELECT my_schema.my_multiply(2, 3) AS a").collect()[0][0] == 6
    with _pytest.raises(Exception):
        s.execute("SELECT my_schema.my_multiply(2, 3, 4)").collect()
    s.execute("DROP FUNCTION my_schema.my_multiply")
    # dropping the shadowing UDF restores Spark's builtin log10 —
    # never erases it (the registries are per-SparkSession, so an
    # unrestored drop would poison every later statement)
    s.execute("DROP FUNCTION doc.log10")
    restored = s.execute("SELECT log10(100) AS col")
    assert restored.collect()[0][0] == 2.0
    assert "BatchEvalPython" not in restored._jdf.queryExecution().executedPlan().toString()
    s.execute("DROP FUNCTION my_subtract_function")
    with _pytest.raises(Exception):
        s.execute("SELECT my_subtract_function(3, 1)").collect()
    with _pytest.raises(ValueError, match="Unknown function"):
        s.execute("DROP FUNCTION never_created")
    s.execute("DROP FUNCTION IF EXISTS never_created")


def test_create_function_numeric_return_and_nested_argument_types(spark, tmp_path):
    """A JS UDF declared ``RETURNS numeric`` answers a decimal, not NULL;
    CREATE and DROP FUNCTION read an argument type nested to any depth."""
    from decimal import Decimal

    import pytest as _pytest

    from crate_spark.engine import CrateSession

    s = CrateSession(spark, None, storage_dir=str(tmp_path))
    s.execute(
        "CREATE FUNCTION half(a double precision) RETURNS numeric "
        "LANGUAGE JAVASCRIPT AS 'function half(a) { return a / 2; }'"
    )
    r = s.execute("SELECT half(3) AS v, pg_typeof(half(3)) AS t").collect()[0]
    assert (r["v"], r["t"]) == (Decimal("1.5"), "numeric")
    s.execute("DROP FUNCTION half(double precision)")
    s.execute(
        "CREATE FUNCTION f(a array(numeric(10,2))) RETURNS integer "
        "LANGUAGE JAVASCRIPT AS 'function f(a) { return a.length; }'"
    )
    assert s.execute("SELECT f([1.5, 2.25, 3]) AS n").collect()[0][0] == 3
    s.execute("DROP FUNCTION f(array(numeric(10,2)))")
    with _pytest.raises(Exception):
        s.execute("SELECT f([1.5])").collect()


def test_occ_system_columns(session):
    """_version/_seq_no/_primary_term (SysColumns.java:50-56, occ.rst):
    constant OCC handshake values — mutations rewrite parquet content,
    so in-place document versions degenerate to version 1."""
    r = session.execute(
        "SELECT _version, _seq_no, _primary_term FROM region LIMIT 1"
    ).collect()[0]
    assert tuple(r) == (1, 0, 1)
    # the occ.rst guarded-update shape parses and matches nothing stale
    n = session.execute(
        "SELECT count(*) AS n FROM region WHERE _seq_no = 999"
    ).collect()[0][0]
    assert n == 0


def test_array_subquery_constructor(session):
    """ARRAY(SELECT ...) (PG array constructor; reference sql
    expressions array subquery): ordered, DESC+LIMIT, and unordered
    forms; order survives via array_sort over (key, value) structs."""
    r = session.execute(
        "SELECT ARRAY(SELECT r_name FROM region ORDER BY r_name) AS names"
    ).collect()[0][0]
    assert list(r) == ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    r = session.execute(
        "SELECT ARRAY(SELECT r_regionkey FROM region ORDER BY r_regionkey DESC LIMIT 3) AS ks"
    ).collect()[0][0]
    assert list(r) == [4, 3, 2]
    n = session.execute(
        "SELECT size(ARRAY(SELECT n_name FROM nation WHERE n_regionkey = 1)) AS n"
    ).collect()[0][0]
    assert n == 5


def test_sys_shards_real_storage_stats(spark, tmp_path):
    """sys.shards (SysShardsTableInfo) reports real parquet footprint
    for stored tables: one row per CLUSTERED shard with size bytes and
    segment (file) counts."""
    from crate_spark.engine import CrateSession

    s = CrateSession(spark, None, storage_dir=str(tmp_path))
    s.execute("CREATE TABLE sharded (id int) CLUSTERED BY (id) INTO 2 SHARDS")
    s.execute("INSERT INTO sharded (id) VALUES (1), (2), (3)")
    rows = s.execute(
        "SELECT id, size, num_segments, state FROM sys.shards "
        "WHERE table_name = 'sharded' ORDER BY id"
    ).collect()
    assert [r["id"] for r in rows] == [0, 1]
    assert all(r["size"] > 0 and r["state"] == "STARTED" for r in rows)
    assert rows[0]["num_segments"] == 2  # one routed file per shard


def test_knn_match_subquery_vector(session):
    """knn_match with a subquery query-vector (KnnMatch.java resolved
    argument): the single-row query side resolves up front, then the
    exact top-k join runs with the corpus never shuffled."""
    rows = session.execute(
        "SELECT vec_id, round(_score, 6) AS s FROM embeddings "
        "WHERE knn_match(embedding, "
        "  (SELECT embedding FROM embeddings WHERE vec_id = 7), 3) "
        "ORDER BY _score DESC"
    ).collect()
    assert rows[0]["vec_id"] == 7 and abs(rows[0]["s"] - 1.0) < 1e-6
    assert len(rows) == 3
    import pytest as _p

    with _p.raises(ValueError, match="exactly one vector"):
        session.execute(
            "SELECT vec_id FROM embeddings WHERE knn_match(embedding, "
            "(SELECT embedding FROM embeddings WHERE vec_id < 5), 3)"
        )


def test_date_trunc_timezone(session):
    """date_trunc(interval, timezone, ts) (DateTruncFunction 3-arg):
    truncate in the zone, return the UTC instant."""
    v = str(session.execute(
        "SELECT date_trunc('day', 'Europe/Vienna', "
        "'2021-06-06T23:30:00'::timestamp) x"
    ).collect()[0]["x"])
    # 23:30 UTC = 01:30 Vienna (UTC+2) on the 7th; midnight Vienna = 22:00 UTC
    assert v.startswith("2021-06-06 22:00:00")


def test_scroll_cursor_backward(session):
    """DECLARE ... SCROLL CURSOR + FETCH BACKWARD/PRIOR/ABSOLUTE/
    RELATIVE (declare.rst:75, fetch.rst, session/Cursor.java:150-280):
    forward/backward interleaving over the scroll buffer."""
    session.execute(
        "DECLARE sc SCROLL CURSOR FOR "
        "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 10"
    )
    k = lambda df: [r["o_orderkey"] for r in df.collect()]
    assert k(session.execute("FETCH 5 FROM sc")) == [0, 1, 2, 3, 4]
    # BACKWARD n returns the n rows before the current row, in reverse
    assert k(session.execute("FETCH BACKWARD 2 FROM sc")) == [3, 2]
    # PRIOR == BACKWARD 1
    assert k(session.execute("FETCH PRIOR FROM sc")) == [1]
    # forward again from the moved position
    assert k(session.execute("FETCH 3 FROM sc")) == [2, 3, 4]
    # ABSOLUTE jumps both ways (backward jump needs SCROLL)
    assert k(session.execute("FETCH ABSOLUTE 8 FROM sc")) == [7]
    assert k(session.execute("FETCH ABSOLUTE 2 FROM sc")) == [1]
    # RELATIVE from current position (row 2)
    assert k(session.execute("FETCH RELATIVE 3 FROM sc")) == [4]
    assert k(session.execute("FETCH RELATIVE -4 FROM sc")) == [0]
    # negative count flips direction: FETCH -2 == BACKWARD 2
    assert k(session.execute("FETCH ABSOLUTE 4 FROM sc")) == [3]
    assert k(session.execute("FETCH -2 FROM sc")) == [2, 1]
    # drain, then walk back from after-last
    rest = k(session.execute("FETCH ALL FROM sc"))
    assert rest == [2, 3, 4, 5, 6, 7, 8, 9]
    assert k(session.execute("FETCH BACKWARD 3 FROM sc")) == [9, 8, 7]
    # BACKWARD ALL: everything before the current row, reversed
    assert k(session.execute("FETCH BACKWARD ALL FROM sc")) == [6, 5, 4, 3, 2, 1, 0]
    # before-first: nothing further back
    assert k(session.execute("FETCH BACKWARD 1 FROM sc")) == []
    assert k(session.execute("FETCH 2 FROM sc")) == [0, 1]
    session.execute("CLOSE sc")


def test_scroll_cursor_errors(session):
    session.execute(
        "DECLARE ns NO SCROLL CURSOR FOR "
        "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 5"
    )
    session.execute("FETCH 3 FROM ns")
    with pytest.raises(Exception, match="NO SCROLL"):
        session.execute("FETCH BACKWARD 1 FROM ns")
    with pytest.raises(Exception, match="NO SCROLL"):
        session.execute("FETCH PRIOR FROM ns")
    session.execute("CLOSE ns")
    # ABSOLUTE past the end errors like the reference (Cursor.java:219)
    session.execute(
        "DECLARE sc2 SCROLL CURSOR FOR "
        "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 5"
    )
    with pytest.raises(Exception, match="Cannot return row"):
        session.execute("FETCH ABSOLUTE 99 FROM sc2")
    session.execute("CLOSE sc2")


def test_optimize_table_compacts_files(dml_session):
    """OPTIMIZE TABLE merges small part files (the segment-merge
    analog): INSERTs of batches above the split-size floor (4 KiB here)
    are written one file each; after OPTIMIZE the table reads
    identically from fewer files."""
    from crate_spark.session import conf_scope

    s = dml_session
    s.execute("CREATE TABLE opt_t (id int PRIMARY KEY, v text)")
    with conf_scope(s.spark, {"spark.sql.files.openCostInBytes": "4096"}):
        for i in range(6):
            s.execute(
                "INSERT INTO opt_t (id, v) VALUES "
                + ", ".join(f"({k}, 'row{k}')" for k in range(i * 200, i * 200 + 200))
            )
    table = s._dml.crate_tables["opt_t"]

    def nfiles():
        return len(table.files())

    before = nfiles()
    assert before >= 6
    res = s.execute("OPTIMIZE TABLE opt_t WITH (max_num_segments=1)").collect()
    assert res[0]["status"] == "ok"
    assert res[0]["files_before"] == before
    assert nfiles() == 1 and res[0]["files_after"] == 1
    rows = s.execute("SELECT id, v FROM opt_t ORDER BY id").collect()
    assert [(r["id"], r["v"]) for r in rows] == [(i, f"row{i}") for i in range(1200)]


def test_optimize_partitioned_single_partition(dml_session):
    """PARTITION clause: only the named partition is compacted; the
    directory layout and all rows survive."""
    import os

    s = dml_session
    s.execute(
        "CREATE TABLE opt_p (id int, region text) PARTITIONED BY (region)"
    )
    for i in range(4):
        s.execute(f"INSERT INTO opt_p (id, region) VALUES ({i}, 'eu')")
        s.execute(f"INSERT INTO opt_p (id, region) VALUES ({i + 10}, 'us')")
    res = s.execute(
        "OPTIMIZE TABLE opt_p PARTITION (region='eu') "
        "WITH (max_num_segments=1)"
    ).collect()
    assert res[0]["status"] == "ok"
    table = s._dml.crate_tables["opt_p"]
    eu_files = sum(
        1 for f, _size in table.files()
        if f.startswith(os.path.join(table.path, "region=eu", ""))
    )
    assert eu_files == 1
    rows = s.execute("SELECT count(*) AS n FROM opt_p").collect()
    assert rows[0]["n"] == 8


def test_optimize_clustered_preserves_routing(dml_session):
    """CLUSTERED tables compact through their MODULO routing: after
    OPTIMIZE at most one file per declared shard remains (empty hash
    partitions write nothing), down from one file per INSERT."""
    s = dml_session
    s.execute(
        "CREATE TABLE opt_c (id int PRIMARY KEY, v text) "
        "CLUSTERED BY (id) INTO 3 SHARDS"
    )
    for i in range(5):
        s.execute(f"INSERT INTO opt_c (id, v) VALUES ({i}, 'r{i}')")
    res = s.execute("OPTIMIZE TABLE opt_c").collect()
    table = s._dml.crate_tables["opt_c"]
    n = len(table.files())
    assert 1 <= n <= 3 and res[0]["files_after"] == n
    assert n < res[0]["files_before"]
    assert s.execute("SELECT count(*) AS n FROM opt_c").collect()[0]["n"] == 5


def test_multiplied_interval_stays_interval_typed(session):
    """``N * INTERVAL <plain literal>`` must NOT be constant-folded to
    the crate TEXT render: Spark evaluates integer*interval natively,
    and the folded string broke ``now() - 3 * INTERVAL '1 day'`` with
    DATATYPE_MISMATCH (ADVICE r5).  Folding still applies where Spark
    cannot parse the literal at all: sql-standard shorthand and mixed
    year-month + day-time strings (data-types.rst interval examples)."""
    import datetime

    r = session.execute(
        "SELECT now() - 3 * INTERVAL '1 day' < now() AS ok, "
        "3 * INTERVAL '1 hour' AS h, "
        "2 * INTERVAL '2 years 1 month 10 days' AS mixed, "
        "INTERVAL '1-2' YEAR TO MONTH AS ym"
    ).collect()[0]
    assert r["ok"] is True
    assert r["h"] == datetime.timedelta(hours=3)  # still interval-typed
    # un-Spark-parseable literals keep the reference's text render
    assert r["mixed"] == "4 years 2 mons 20 days 00:00:00"
    assert r["ym"] == "1 year 2 mons 00:00:00"


def test_udf_unqualified_resolution_respects_search_path(spark, tmp_path):
    """Unqualified function calls resolve only through search_path
    (reference function resolution: schema-qualified otherwise) — a
    UDF living in a schema NOT on the path must not hijack the bare
    name (ADVICE r5)."""
    import pytest as _pytest

    from crate_spark.engine import CrateSession

    s = CrateSession(spark, None, storage_dir=str(tmp_path))
    s.execute(
        "CREATE FUNCTION far_schema.fancy_inc(integer) RETURNS integer "
        "LANGUAGE JAVASCRIPT AS 'function fancy_inc(a) { return a + 1; }'"
    )
    # qualified always works
    assert s.execute("SELECT far_schema.fancy_inc(1) AS v").collect()[0][0] == 2
    # unqualified: far_schema is not on search_path -> unresolvable
    with _pytest.raises(Exception):
        s.execute("SELECT fancy_inc(1) AS v").collect()
    # putting the schema on the path makes the bare name resolve
    s.execute("SET search_path = far_schema, doc")
    assert s.execute("SELECT fancy_inc(1) AS v").collect()[0][0] == 2
    s.execute("SET search_path = doc")
    s.execute("DROP FUNCTION far_schema.fancy_inc(integer)")


def test_normalize_events_coerces_string_ts(spark):
    """_normalize_events must coerce a string/date ts column to
    timestamp before unix_micros (ADVICE r5: the cast was dropped on
    the fallback branch)."""
    from crate_spark.session import _normalize_events

    df = spark.createDataFrame(
        [(1, "2024-01-15 10:00:00", 7, "click", 1.5, None)],
        "event_id bigint, ts string, user_id bigint, event_type string, "
        "value double, props string",
    )
    out = _normalize_events(df)
    row = out.select("ts_ns").collect()[0]
    assert row["ts_ns"] == 1_705_312_800_000_000_000  # 2024-01-15T10:00Z ns


def test_score_system_column_semantics(session):
    """`_score` fidelity beyond MATCH (SysColumns `_score`;
    WhereClauseValidator.java:59-70): without a scoring predicate every
    row reads 1.0; WHERE allows only a bare `_score >= <literal>`;
    anything else raises the reference's error."""
    import pytest as _pytest

    rows = session.execute(
        "SELECT n_name, _score FROM nation ORDER BY n_name LIMIT 2"
    ).collect()
    assert [r["_score"] for r in rows] == [1.0, 1.0]
    n = session.execute(
        "SELECT count(*) AS n FROM nation WHERE _score >= 0.5"
    ).collect()[0][0]
    assert n == 25
    # the fulltext.rst:426 shape: MATCH + AND _score >= works
    scored = session.execute(
        "SELECT doc_id, _score FROM documents "
        "WHERE MATCH(text, 'data') AND _score >= 0.1 "
        "ORDER BY _score DESC LIMIT 3"
    ).collect()
    assert len(scored) == 3 and all(r["_score"] >= 0.1 for r in scored)
    # insideCastComparedWithLiteral (WhereClauseValidator.java:111-127):
    # a cast around _score is fine when its parent IS the >=, and the
    # RHS may be any value symbol (sign, scientific notation)
    for good in (
        "SELECT count(*) AS n FROM nation WHERE _score::REAL >= 0.5",
        "SELECT count(*) AS n FROM nation WHERE CAST(_score AS REAL) >= 0.5",
        "SELECT count(*) AS n FROM nation "
        "WHERE CAST(_score AS DOUBLE PRECISION) >= 0.5",
        "SELECT count(*) AS n FROM nation WHERE _score >= -0.5",
        "SELECT count(*) AS n FROM nation WHERE _score >= 5e-1",
    ):
        assert session.execute(good).collect()[0][0] == 25
    for bad in (
        "SELECT * FROM nation WHERE _score > 0.5",
        "SELECT * FROM nation WHERE _score = 1.0",
        "SELECT * FROM documents WHERE MATCH(text,'x') AND NOT (_score >= 0.5)",
        "SELECT * FROM nation WHERE CAST(_score AS REAL) = 0.5",
        "SELECT * FROM nation WHERE NOT CAST(_score AS REAL) >= 0.5",
        "SELECT * FROM nation WHERE NOT (TRUE AND CAST(_score AS REAL) >= 0.5)",
        "SELECT * FROM nation WHERE _score::REAL > 0.5",
        "SELECT * FROM nation WHERE _score >= n_regionkey",
    ):
        with _pytest.raises(ValueError, match="'>=' comparison"):
            session.execute(bad).collect()


def test_schema_strip_comma_from_list(spark, tmp_path):
    """Comma-separated FROM lists strip the schema prefix on EVERY
    item, while aliases equal to schema names keep their qualifier."""
    from crate_spark.engine import CrateSession

    s = CrateSession(spark, None, storage_dir=str(tmp_path))
    s.execute("CREATE SCHEMA rx")
    s.execute("CREATE TABLE rx.a (id int)")
    s.execute("CREATE TABLE rx.b (id int)")
    s.execute("INSERT INTO rx.a (id) VALUES (1), (2)")
    s.execute("INSERT INTO rx.b (id) VALUES (10)")
    n = s.execute(
        "SELECT count(*) AS n FROM rx.a, rx.b"
    ).collect()[0]["n"]
    assert n == 2  # cross product 2x1


def test_schema_named_alias_keeps_struct_qualifier(spark, tmp_path):
    """An alias equal to a user schema name shadows the schema (PG
    resolution order): `FROM t AS rx ... rx.obj.field` is
    alias.column.field — three-part, but its qualifier must survive
    the three-part schema-prefix strip (ADVICE r6)."""
    from crate_spark.dialect import rewrite
    from crate_spark.engine import CrateSession

    # rewrite-level: alias declared -> three-part qualifier survives
    out = rewrite(
        "SELECT rx.obj.field FROM t AS rx", user_schemas={"rx"}
    )
    assert "rx.obj.field" in out
    out = rewrite("SELECT rx.obj.field FROM t rx", user_schemas={"rx"})
    assert "rx.obj.field" in out
    # no alias declared -> schema.table.column strips as before
    out = rewrite("SELECT rx.t.id FROM rx.t", user_schemas={"rx"})
    assert "rx." not in out
    # a COLUMN alias named like the schema must NOT disable the strip
    out = rewrite(
        "SELECT n_name AS rx, rx.t.id FROM rx.t", user_schemas={"rx"}
    )
    assert "rx.t.id" not in out and "FROM t" in out
    # and an alias named like a TYPE survives the CAST-target mapping
    out = rewrite("SELECT * FROM (SELECT 1 AS text) t")
    assert "AS text" in out
    out = rewrite("SELECT CAST(n_nationkey AS text) AS v FROM nation")
    assert "AS STRING" in out
    # end-to-end: the two-part alias exemption and schema strip still
    # resolve through a live session
    s = CrateSession(spark, None, storage_dir=str(tmp_path))
    s.execute("CREATE SCHEMA rx")
    s.execute("CREATE TABLE rx.t (id int)")
    s.execute("INSERT INTO rx.t (id) VALUES (1)")
    assert s.execute("SELECT rx.t.id FROM rx.t").collect()[0][0] == 1
    assert s.execute(
        "SELECT rx.id FROM rx.t AS rx"
    ).collect()[0][0] == 1


def test_udf_search_path_case_insensitive(spark, tmp_path):
    """Unquoted schema identifiers fold to lowercase: SET search_path
    = MySchema must still resolve a UDF stored under 'myschema'."""
    from crate_spark.engine import CrateSession

    s = CrateSession(spark, None, storage_dir=str(tmp_path))
    s.execute(
        "CREATE FUNCTION MySchema.inc2(integer) RETURNS integer "
        "LANGUAGE JAVASCRIPT AS 'function inc2(a) { return a + 2; }'"
    )
    s.execute("SET search_path = MySchema, doc")
    assert s.execute("SELECT inc2(1) AS v").collect()[0][0] == 3
    s.execute("SET search_path = doc")


def test_score_in_string_literal_is_data(session):
    """'_score' INSIDE a string literal is data: no validation error,
    no rewrite into the literal."""
    r = session.execute("SELECT 'the _score label' AS t FROM nation LIMIT 1").collect()
    assert r[0]["t"] == "the _score label"
    n = session.execute(
        "SELECT count(*) AS n FROM nation WHERE n_name <> 'my _score is high'"
    ).collect()[0][0]
    assert n == 25


def test_score_not_wrapped_predicate_rejected(session):
    """NOT wrapping a larger predicate containing _score >= is still
    an enclosing NOT (WhereClauseValidator insideNotPredicate)."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="'>=' comparison"):
        session.execute(
            "SELECT * FROM nation WHERE NOT (n_nationkey = 1 AND _score >= 0.5)"
        ).collect()


def test_order_by_alias_qualifier_survives_schema_strip(spark, tmp_path):
    """A table alias equal to a user schema name keeps its qualifier
    in ORDER BY/GROUP BY expression lists."""
    from crate_spark.engine import CrateSession

    s = CrateSession(spark, None, storage_dir=str(tmp_path))
    s.execute("CREATE SCHEMA zx")
    s.execute("CREATE TABLE zx.t (id int)")
    s.execute("CREATE TABLE plain (a int, b int)")
    s.execute("INSERT INTO plain (a, b) VALUES (2, 1), (1, 2)")
    rows = s.execute(
        "SELECT zx.a, zx.b FROM plain AS zx, zx.t ORDER BY zx.a, zx.b"
    ).collect()
    assert [tuple(r) for r in rows] == []  # zx.t empty -> cross join empty
    s.execute("INSERT INTO zx.t (id) VALUES (7)")
    rows = s.execute(
        "SELECT zx.a, zx.b FROM plain AS zx, zx.t ORDER BY zx.a, zx.b"
    ).collect()
    assert [tuple(r) for r in rows] == [(1, 2), (2, 1)]


def test_conf_scope_restores_set_keys_and_unsets_unset_ones(spark):
    from crate_spark.session import conf_scope

    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "7")
    with conf_scope(s, {"spark.sql.shuffle.partitions": "3", "crate_spark.test.k": "v"}):
        assert s.conf.get("spark.sql.shuffle.partitions") == "3"
        assert s.conf.get("crate_spark.test.k") == "v"
        s.conf.set("spark.sql.shuffle.partitions", "2")  # per-round sets inside
    assert s.conf.get("spark.sql.shuffle.partitions") == "7"
    assert s.conf.get("crate_spark.test.k", None) is None

"""FDW DDL: CREATE SERVER / FOREIGN TABLE / USER MAPPING.

Reference behavior pinned here (admin/fdw.rst, create-server.rst,
create-foreign-table.rst, create-user-mapping.rst):
- jdbc wrapper end-to-end against an in-JVM Derby database, with the
  WHERE predicate pushed to the foreign source (ForeignCollect-with-
  query == Spark JDBC PushedFilters)
- foreign tables are DQL-only (INSERT rejected)
- DROP SERVER refuses while foreign tables depend on it; CASCADE drops
- the file wrapper (Spark surplus): parquet paths as foreign tables
"""

from __future__ import annotations

import pytest

from crate_spark.engine import CrateSession
from crate_spark.fdw import FdwError

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def sess(spark, tmp_path):
    return CrateSession(spark, None, storage_dir=str(tmp_path))


def _seed_derby(spark, db: str):
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:memory:{db};create=true")
    st = conn.createStatement()
    try:
        st.execute("DROP TABLE remote_users")
    except Exception:
        pass
    st.execute("CREATE TABLE remote_users (id INT, name VARCHAR(32))")
    st.execute("INSERT INTO remote_users VALUES (1, 'ada'), (2, 'bob'), (3, 'eve')")
    conn.close()


def test_fdw_jdbc_lifecycle(sess):
    _seed_derby(sess.spark, "fdwsql")
    sess.execute(
        "CREATE SERVER remote_pg FOREIGN DATA WRAPPER jdbc "
        "OPTIONS (url 'jdbc:derby:memory:fdwsql', "
        "driver 'org.apache.derby.jdbc.EmbeddedDriver')"
    )
    sess.execute(
        "CREATE FOREIGN TABLE remote_users (id int, name text) SERVER remote_pg"
    )
    rows = sess.execute("SELECT id, name FROM remote_users ORDER BY id").collect()
    assert [(r[0], r[1]) for r in rows] == [(1, "ada"), (2, "bob"), (3, "eve")]

    # predicate pushdown reaches the foreign scan (fdw.rst EXPLAIN demo)
    df = sess.execute("SELECT name FROM remote_users WHERE id = 2")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "ID" in plan
    assert df.collect()[0][0] == "bob"

    # catalog views
    servers = sess.execute(
        "SELECT foreign_server_name, foreign_data_wrapper_name "
        "FROM information_schema.foreign_servers"
    ).collect()
    assert [tuple(r) for r in servers] == [("remote_pg", "jdbc")]
    ftables = sess.execute(
        "SELECT foreign_table_name, foreign_server_name "
        "FROM information_schema.foreign_tables"
    ).collect()
    assert [tuple(r) for r in ftables] == [("remote_users", "remote_pg")]

    # DQL-only: INSERT must be rejected (fdw.rst note)
    with pytest.raises(Exception):
        sess.execute("INSERT INTO remote_users (id, name) VALUES (9, 'x')")

    # RESTRICT refuses, CASCADE drops dependents
    with pytest.raises(FdwError):
        sess.execute("DROP SERVER remote_pg")
    sess.execute("DROP SERVER remote_pg CASCADE")
    assert not sess.fdw.servers and not sess.fdw.tables


def test_fdw_user_mapping(sess):
    _seed_derby(sess.spark, "fdwmap")
    sess.execute(
        "CREATE SERVER mapped FOREIGN DATA WRAPPER jdbc "
        "OPTIONS (url 'jdbc:derby:memory:fdwmap', "
        "driver 'org.apache.derby.jdbc.EmbeddedDriver')"
    )
    sess.execute(
        "CREATE USER MAPPING FOR CURRENT_USER SERVER mapped "
        "OPTIONS (\"user\" 'app', password 'secret')"
    )
    assert sess.fdw.user_mappings[("crate", "mapped")] == {
        "user": "app", "password": "secret",
    }
    with pytest.raises(FdwError):
        sess.execute("CREATE USER MAPPING FOR CURRENT_USER SERVER mapped")
    sess.execute("DROP USER MAPPING FOR CURRENT_USER SERVER mapped")
    assert not sess.fdw.user_mappings
    # mapping for an unknown server errors
    with pytest.raises(FdwError):
        sess.execute("CREATE USER MAPPING FOR alice SERVER nope")


def test_fdw_file_wrapper(sess):
    sess.execute(
        "CREATE SERVER lake FOREIGN DATA WRAPPER file "
        f"OPTIONS (format 'parquet')"
    )
    sess.execute(
        "CREATE FOREIGN TABLE ext_region SERVER lake "
        f"OPTIONS (path '{SF}/region.parquet')"
    )
    n = sess.execute("SELECT count(*) AS n FROM ext_region").collect()[0]["n"]
    assert n == 5
    # column pruning + filter pushdown into the parquet scan
    df = sess.execute("SELECT r_name FROM ext_region WHERE r_regionkey = 1")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "PushedFilters".lower() in plan.lower()
    sess.execute("DROP FOREIGN TABLE ext_region")
    sess.execute("DROP SERVER lake")


def test_fdw_errors(sess):
    with pytest.raises(FdwError):
        sess.execute("CREATE SERVER bad FOREIGN DATA WRAPPER nosuch")
    with pytest.raises(FdwError):
        sess.execute("CREATE SERVER nojdbc FOREIGN DATA WRAPPER jdbc")  # url missing
    with pytest.raises(FdwError):
        sess.execute("CREATE FOREIGN TABLE t (id int) SERVER missing")
    sess.execute("DROP SERVER IF EXISTS missing")  # tolerated
    sess.execute("DROP FOREIGN TABLE IF EXISTS missing")


def test_foreign_table_columns_declare_as_create_table(sess):
    """A foreign table's column list is read by the type parser, so
    sized, nested and object spellings declare the Spark types the same
    CREATE TABLE declares."""
    cols = "a numeric(10,2), b array(text), c object(strict) AS (x int)"
    sess.execute("CREATE SERVER lake FOREIGN DATA WRAPPER file OPTIONS (format 'parquet')")
    sess.execute(f"CREATE FOREIGN TABLE ft ({cols}) SERVER lake OPTIONS (path '{SF}/region.parquet')")
    sess.execute(f"CREATE TABLE t ({cols})")
    declared = sess.spark.createDataFrame([], sess.fdw.tables["ft"].schema_ddl).schema
    assert [(f.name, f.dataType) for f in declared] == [
        (f.name, f.dataType) for f in sess.execute("SELECT * FROM t").schema
    ]

"""Users/roles/privileges and repositories/snapshots.

Reference behavior pinned here:
- privilege hierarchy + DENY override: ``docs/admin/privileges.rst``
  (GRANT on schema, DENY on one table -> other tables still readable)
- depth-first role inheritance with DENY precedence:
  ``io/crate/role/Roles.java:177-205``
- sys.users / sys.roles / sys.privileges shapes:
  ``io/crate/role/metadata/Sys*TableInfo.java``
- snapshot lifecycle: ``docs/admin/snapshots.rst`` (create repo ->
  snapshot tables -> drop table -> restore -> data back)
"""

from __future__ import annotations

import pytest

from crate_spark.admin_sql import check_privileges
from crate_spark.engine import CrateSession
from crate_spark.roles import PermissionDenied, RoleError, RoleStore
from crate_spark.statement import classify

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def sess(spark, tmp_path):
    return CrateSession(spark, SF, storage_dir=str(tmp_path))


# -- RoleStore unit tests ------------------------------------------------


def test_privilege_hierarchy_and_deny_override():
    rs = RoleStore()
    rs.create("riley", is_user=True)
    rs.apply_privileges("GRANT", ["DQL"], "SCHEMA", ["doc"], ["riley"], "crate")
    rs.apply_privileges("DENY", ["DQL"], "TABLE", ["doc.accounting"], ["riley"], "crate")
    # privileges.rst: DENY on the table overrides the schema GRANT
    assert rs.has_privilege("riley", "DQL", "TABLE", "doc.other")
    assert not rs.has_privilege("riley", "DQL", "TABLE", "doc.accounting")
    # schema grant does not leak to other schemas or to cluster
    assert not rs.has_privilege("riley", "DQL", "TABLE", "blob.x")
    assert not rs.has_privilege("riley", "DQL", "CLUSTER")
    # other permission types are unaffected
    assert not rs.has_privilege("riley", "DML", "TABLE", "doc.other")


def test_role_inheritance_deny_precedence():
    rs = RoleStore()
    rs.create("reader", is_user=False)
    rs.create("denier", is_user=False)
    rs.create("kala", is_user=True)
    rs.apply_privileges("GRANT", ["DQL"], "CLUSTER", [None], ["reader"], "crate")
    rs.apply_privileges("DENY", ["DQL"], "TABLE", ["doc.secret"], ["denier"], "crate")
    rs.grant_roles(["reader", "denier"], ["kala"], "crate")
    assert rs.has_privilege("kala", "DQL", "TABLE", "doc.open")
    # Roles.java: DENY from any parent role wins
    assert not rs.has_privilege("kala", "DQL", "TABLE", "doc.secret")
    # own GRANT at the table level beats the parent DENY (own
    # privileges resolve first, most-specific level is final)
    rs.apply_privileges("GRANT", ["DQL"], "TABLE", ["doc.secret"], ["kala"], "crate")
    assert rs.has_privilege("kala", "DQL", "TABLE", "doc.secret")


def test_role_lifecycle_errors():
    rs = RoleStore()
    rs.create("r1", is_user=False)
    rs.create("u1", is_user=True)
    with pytest.raises(RoleError):
        rs.create("r1", is_user=False)  # duplicate
    with pytest.raises(RoleError):
        rs.create("r2", is_user=False, password="x")  # roles have no password
    with pytest.raises(RoleError):
        rs.grant_roles(["u1"], ["r1"], "crate")  # users cannot be granted
    rs.grant_roles(["r1"], ["u1"], "crate")
    with pytest.raises(RoleError):
        rs.drop("r1")  # granted to u1
    rs.revoke_roles(["r1"], ["u1"])
    rs.drop("r1")
    with pytest.raises(RoleError):
        rs.drop("crate")  # superuser undropple


def test_circular_role_grant_rejected():
    rs = RoleStore()
    rs.create("a", is_user=False)
    rs.create("b", is_user=False)
    rs.grant_roles(["a"], ["b"], "crate")
    with pytest.raises(RoleError):
        rs.grant_roles(["b"], ["a"], "crate")


def test_revoke_removes_grant_and_deny():
    rs = RoleStore()
    rs.create("u", is_user=True)
    rs.apply_privileges("GRANT", ["DQL", "DML"], "CLUSTER", [None], ["u"], "crate")
    assert rs.has_privilege("u", "DML")
    n = rs.apply_privileges("REVOKE", ["DML"], "CLUSTER", [None], ["u"], "crate")
    assert n == 1
    assert not rs.has_privilege("u", "DML")
    assert rs.has_privilege("u", "DQL")


# -- SQL front door ------------------------------------------------------


def test_sql_user_privilege_flow(sess):
    sess.execute("CREATE USER alice WITH (password = 'secret')")
    sess.execute("CREATE ROLE readers")
    sess.execute("GRANT DQL ON SCHEMA doc TO readers")
    sess.execute("GRANT readers TO alice")

    users = {r["name"]: r for r in sess.execute(
        "SELECT name, superuser, password FROM sys.users ORDER BY name"
    ).collect()}
    assert users["alice"]["password"] == "********"  # always masked
    assert users["crate"]["superuser"] is True
    roles = [r["name"] for r in sess.execute("SELECT name FROM sys.roles").collect()]
    assert roles == ["readers"]
    privs = sess.execute(
        "SELECT grantee, state, type, class, ident FROM sys.privileges"
    ).collect()
    assert [tuple(r) for r in privs] == [("readers", "GRANT", "DQL", "SCHEMA", "doc")]

    # alice can SELECT but not INSERT
    sess.execute("SET SESSION AUTHORIZATION alice")
    assert sess.execute("SELECT count(*) AS n FROM region").collect()[0]["n"] == 5
    with pytest.raises(PermissionDenied):
        sess.execute("INSERT INTO region (r_regionkey) VALUES (99)")
    with pytest.raises(PermissionDenied):
        sess.execute("CREATE USER eve")  # AL needed
    sess.execute("RESET SESSION AUTHORIZATION")
    assert sess.current_user == "crate"

    # deny one table: the rest of the schema stays readable
    sess.execute("DENY DQL ON TABLE doc.region TO alice")
    sess.execute("SET SESSION AUTHORIZATION alice")
    assert sess.execute("SELECT count(*) AS n FROM nation").collect()[0]["n"] == 25
    with pytest.raises(PermissionDenied):
        sess.execute("SELECT * FROM region")
    sess.execute("RESET SESSION AUTHORIZATION")

    sess.execute("REVOKE readers FROM alice")
    sess.execute("DROP ROLE readers")
    sess.execute("DROP USER alice")
    assert sess.execute("SELECT count(*) AS n FROM sys.roles").collect()[0]["n"] == 0


def test_sql_alter_user_password(sess):
    sess.execute("CREATE USER bob")
    assert sess.execute(
        "SELECT password FROM sys.users WHERE name = 'bob'"
    ).collect()[0][0] is None
    sess.execute("ALTER USER bob SET (password = 'pw')")
    assert sess.execute(
        "SELECT password FROM sys.users WHERE name = 'bob'"
    ).collect()[0][0] == "********"


def test_dml_privilege_enforced_on_created_table(sess):
    sess.execute("CREATE TABLE t_priv (id int, v text)")
    sess.execute("INSERT INTO t_priv (id, v) VALUES (1, 'a')")
    sess.execute("CREATE USER writer")
    sess.execute("GRANT DQL, DML ON TABLE doc.t_priv TO writer")
    sess.execute("SET SESSION AUTHORIZATION writer")
    sess.execute("INSERT INTO t_priv (id, v) VALUES (2, 'b')")
    assert sess.execute("SELECT count(*) AS n FROM t_priv").collect()[0]["n"] == 2
    with pytest.raises(PermissionDenied):
        sess.execute("DROP TABLE t_priv")  # DDL not granted
    sess.execute("RESET SESSION AUTHORIZATION")


# -- snapshots -----------------------------------------------------------


def test_snapshot_restore_roundtrip(sess, tmp_path):
    sess.execute("CREATE TABLE snap_t (id int, v text) WITH (refresh_interval = 0)")
    sess.execute("INSERT INTO snap_t (id, v) VALUES (1, 'a'), (2, 'b')")
    loc = str(tmp_path / "repo1")
    sess.execute(f"CREATE REPOSITORY backups TYPE fs WITH (location = '{loc}')")
    sess.execute("CREATE SNAPSHOT backups.s1 TABLE snap_t")

    rows = sess.execute(
        "SELECT name, repository, tables, state FROM sys.snapshots"
    ).collect()
    assert len(rows) == 1
    assert rows[0]["name"] == "s1"
    assert rows[0]["tables"] == ["snap_t"]
    assert rows[0]["state"] == "SUCCESS"

    # mutate, then restore — restoring over a live table is rejected
    # (snapshots.rst: "not possible to restore tables that exist");
    # the documented flow drops first
    sess.execute("DELETE FROM snap_t WHERE id = 1")
    sess.execute("INSERT INTO snap_t (id, v) VALUES (3, 'c')")
    import pytest as _pytest

    from crate_spark.snapshots import SnapshotError

    with _pytest.raises(SnapshotError, match="already exists"):
        sess.execute("RESTORE SNAPSHOT backups.s1 TABLE snap_t")
    sess.execute("DROP TABLE snap_t")
    sess.execute("RESTORE SNAPSHOT backups.s1 TABLE snap_t")
    got = sorted(
        (r["id"], r["v"]) for r in sess.execute("SELECT id, v FROM snap_t").collect()
    )
    assert got == [(1, "a"), (2, "b")]
    # restored table keeps DML-ability (metadata round-trips)
    sess.execute("UPDATE snap_t SET v = 'z' WHERE id = 2")
    assert sess.execute(
        "SELECT v FROM snap_t WHERE id = 2"
    ).collect()[0][0] == "z"


def test_snapshot_all_and_drop(sess, tmp_path):
    sess.execute("CREATE TABLE s_all (id int)")
    sess.execute("INSERT INTO s_all (id) VALUES (1)")
    loc = str(tmp_path / "repo2")
    sess.execute(f"CREATE REPOSITORY r2 TYPE fs WITH (location = '{loc}')")
    sess.execute("CREATE SNAPSHOT r2.full ALL")
    names = sess.execute(
        "SELECT tables FROM sys.snapshots WHERE repository = 'r2'"
    ).collect()[0][0]
    assert "region" in names and "s_all" in names
    sess.execute("DROP SNAPSHOT r2.full")
    assert (
        sess.execute("SELECT count(*) AS n FROM sys.snapshots WHERE repository='r2'")
        .collect()[0]["n"]
        == 0
    )
    repos = sess.execute("SELECT name, type FROM sys.repositories").collect()
    assert [tuple(r) for r in repos] == [("r2", "fs")]
    sess.execute("DROP REPOSITORY r2")
    with pytest.raises(Exception):
        sess.execute("CREATE SNAPSHOT r2.s TABLE s_all")


def test_snapshot_errors(sess, tmp_path):
    loc = str(tmp_path / "repo3")
    sess.execute(f"CREATE REPOSITORY r3 TYPE fs WITH (location = '{loc}')")
    with pytest.raises(Exception):
        sess.execute(f"CREATE REPOSITORY r3 TYPE fs WITH (location = '{loc}')")
    sess.execute("CREATE SNAPSHOT r3.s1 TABLE region")
    with pytest.raises(Exception):
        sess.execute("CREATE SNAPSHOT r3.s1 TABLE region")  # dup name
    with pytest.raises(Exception):
        sess.execute("RESTORE SNAPSHOT r3.nope ALL")


# -- CREATE SCHEMA / DROP SCHEMA (create-schema.rst, drop-schema.rst) ----


def _schemas(sess):
    return [
        r["schema_name"]
        for r in sess.execute(
            "SELECT schema_name FROM information_schema.schemata "
            "ORDER BY schema_name"
        ).collect()
    ]


def test_schema_lifecycle(sess):
    base = _schemas(sess)
    assert {"blob", "doc", "information_schema", "pg_catalog", "sys"} <= set(base)
    assert "myapp" not in base

    # explicit schema persists while empty
    sess.execute("CREATE SCHEMA myapp")
    assert "myapp" in _schemas(sess)
    with pytest.raises(Exception, match="already exists"):
        sess.execute("CREATE SCHEMA myapp")
    sess.execute("CREATE SCHEMA IF NOT EXISTS myapp")  # no error

    # table lands in the schema; RESTRICT (default) refuses the drop
    sess.execute("CREATE TABLE myapp.t1 (id integer, v text)")
    rows = sess.execute(
        "SELECT table_schema FROM information_schema.tables "
        "WHERE table_name = 't1'"
    ).collect()
    assert [r["table_schema"] for r in rows] == ["myapp"]
    with pytest.raises(Exception, match="CASCADE"):
        sess.execute("DROP SCHEMA myapp")
    sess.execute("DROP SCHEMA myapp CASCADE")
    assert "myapp" not in _schemas(sess)

    with pytest.raises(Exception, match="unknown"):
        sess.execute("DROP SCHEMA myapp")
    sess.execute("DROP SCHEMA IF EXISTS myapp")  # no error


def test_schema_implicit_lifecycle(sess):
    """CREATE TABLE in an unknown schema implicitly creates it;
    dropping the last object removes it (create-schema.rst)."""
    sess.execute("CREATE TABLE other.t2 (id integer)")
    assert "other" in _schemas(sess)
    sess.execute("DROP TABLE other.t2")
    assert "other" not in _schemas(sess)
    with pytest.raises(Exception, match="Cannot drop"):
        sess.execute("DROP SCHEMA sys CASCADE")


def test_schema_catalog_name_is_crate(sess):
    rows = sess.execute(
        "SELECT catalog_name FROM information_schema.schemata"
    ).collect()
    assert set(r["catalog_name"] for r in rows) == {"crate"}


# -- the privilege check reads each statement's relations once ----------


@pytest.fixture()
def mallory(sess):
    """A user with no privileges, and a stored table ``secret``."""
    sess.execute("CREATE TABLE secret (id int)")
    sess.execute("INSERT INTO secret (id) VALUES (1)")
    sess.execute("CREATE USER mallory")
    return sess


@pytest.mark.parametrize(
    "stmt",
    [
        "(SELECT * FROM secret)",
        "/* c */ SELECT * FROM secret",
        "SELECT * FROM doc.secret",
        'SELECT * FROM "secret"',
        "EXPLAIN SELECT * FROM secret",
        "EXPLAIN ANALYZE SELECT * FROM secret",
        "SELECT * FROM /* c */ secret",
        "SELECT * FROM -- c\n secret",
        "SELECT * FROM(secret)",
        "SELECT * FROM`secret`",
        "SELECT * FROM /* it's */ secret WHERE 'a' = 'a'",
    ],
)
def test_every_spelling_of_a_denied_relation_is_denied(mallory, stmt):
    with mallory.acting_as("mallory"), pytest.raises(PermissionDenied):
        mallory.execute(stmt).collect()


def test_a_relation_named_only_inside_a_literal_is_not_checked(mallory):
    with mallory.acting_as("mallory"):
        assert mallory.execute("SELECT 'secret' AS x").collect()[0][0] == "secret"


@pytest.mark.parametrize(
    "stmt, privilege",
    [
        ("ALTER CLUSTER SWAP TABLE secret TO other", "AL"),
        ("RESET GLOBAL stats.enabled", "AL"),
        ("CREATE SERVER lake FOREIGN DATA WRAPPER file OPTIONS (format 'parquet')", "AL"),
        ("ALTER SERVER lake OPTIONS (SET format 'csv')", "AL"),
        ("DROP SERVER lake", "AL"),
        ("CREATE FOREIGN TABLE ext (id int) SERVER lake", "DDL"),
        ("DROP FOREIGN TABLE ext", "DDL"),
        ("CREATE PUBLICATION p FOR TABLE secret", "AL"),
        ("ALTER PUBLICATION p ADD TABLE secret", "AL"),
        ("DROP PUBLICATION p", "AL"),
        ("CREATE SUBSCRIPTION s CONNECTION 'file:///nowhere' PUBLICATION p", "AL"),
        ("DROP SUBSCRIPTION s", "AL"),
        ("CREATE SCHEMA s1", "DDL"),
        ("DROP SCHEMA s1", "DDL"),
    ],
)
def test_cluster_and_schema_statements_need_their_privilege_class(mallory, stmt, privilege):
    """privileges.rst: cluster, server, replication and schema
    statements need AL or DDL; a user without it is refused before the
    statement runs, and a user holding it passes the check."""
    with mallory.acting_as("mallory"), pytest.raises(PermissionDenied):
        mallory.execute(stmt)
    mallory.execute(f"GRANT {privilege} TO mallory")
    with mallory.acting_as("mallory"):
        check_privileges(mallory, classify(stmt))

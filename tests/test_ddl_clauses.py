"""DDL clauses read once: a column definition's constraints in any
order, ALTER TABLE ADD COLUMN as CREATE TABLE reads a column, and
``(k = v, …)`` property values decoded as the literals they are."""

from __future__ import annotations

import os

import pytest

from crate_spark.dml import META_FILE
from crate_spark.engine import CrateSession


@pytest.fixture()
def sess(spark, tmp_path):
    return CrateSession(spark, None, storage_dir=str(tmp_path))


def _meta(sess, table: str) -> bytes:
    with open(os.path.join(sess.storage_dir, table, META_FILE), "rb") as f:
        return f.read()


def test_add_column_constraints_apply_to_later_inserts(sess):
    sess.execute("CREATE TABLE t (id int)")
    sess.execute("INSERT INTO t (id) VALUES (1)")
    for item in ("d INT DEFAULT 5", "g INT GENERATED ALWAYS AS id * 10",
                 "c INT CHECK (c > 0)", "n INT NOT NULL", "s TEXT INDEX OFF"):
        sess.execute(f"ALTER TABLE t ADD COLUMN {item}")
    sess.execute("INSERT INTO t (id, c, n, s) VALUES (2, 1, 3, 'a')")
    rows = sorted(tuple(r) for r in sess.execute("SELECT id, d, g, c, n, s FROM t").collect())
    # the existing row is not rewritten
    assert rows == [(1, None, None, None, None, None), (2, 5, 20, 1, 3, "a")]
    with pytest.raises(Exception, match="CHECK"):
        sess.execute("INSERT INTO t (id, c) VALUES (3, -1)")
    constraints = {
        r[0] for r in sess.execute(
            "SELECT constraint_name FROM information_schema.table_constraints "
            "WHERE table_name = 't'"
        ).collect()
    }
    assert "doc_t_n_not_null" in constraints


def test_failed_add_column_leaves_the_table_as_it_was(spark, sess):
    sess.execute("CREATE TABLE t (id int, x int)")
    before = _meta(sess, "t")
    for item in ("y FOO", "d INT DEFAULT no_such_column", "c INT CHECK (c > )"):
        with pytest.raises(Exception):
            sess.execute(f"ALTER TABLE t ADD COLUMN {item}")
        assert _meta(sess, "t") == before
    sess.execute("INSERT INTO t (id, x) VALUES (1, 2)")
    fresh = CrateSession(spark, None, storage_dir=sess.storage_dir)
    fresh.execute("INSERT INTO t (id, x) VALUES (3, 4)")
    assert sorted(tuple(r) for r in fresh.execute("SELECT id, x FROM t").collect()) == [(1, 2), (3, 4)]


@pytest.mark.parametrize("column", [
    "x INT DEFAULT 5 NOT NULL",
    "x TEXT DEFAULT 'a' INDEX OFF",
    "x TEXT DEFAULT 'a' STORAGE WITH (columnstore = false)",
    "x INT DEFAULT 5 PRIMARY KEY",
])
def test_a_default_ends_at_the_next_constraint(sess, column):
    sess.execute(f"CREATE TABLE t (id int, {column})")
    sess.execute("INSERT INTO t (id) VALUES (1)")
    assert sess.execute("SELECT CAST(x AS STRING) FROM t").collect()[0][0] in ("5", "a")


@pytest.mark.parametrize("literal, value", [
    ("'it''s'", "it's"),
    ("$$it's$$", "it's"),
    ("E'it\\'s'", "it's"),
])
def test_property_values_are_decoded(sess, tmp_path, literal, value):
    location = literal.replace("it", str(tmp_path / "it"), 1)
    sess.execute(f"CREATE REPOSITORY r TYPE fs WITH (location = {location})")
    assert sess.snapshots.repositories["r"].settings["location"] == str(tmp_path / value)

    sess.execute(f'CREATE TABLE t (id int) WITH ("routing.allocation.require.x" = {literal})')
    assert sess._dml.crate_tables["t"].settings["routing.allocation.require.x"] == value

    sess.execute(f"CREATE SERVER s FOREIGN DATA WRAPPER file OPTIONS (path {literal})")
    assert sess.fdw.servers["s"].options["path"] == value

    sess.execute("CREATE USER bob")
    sess.execute(f"ALTER USER bob SET (password = {literal})")
    assert sess.roles.roles["bob"].password == value

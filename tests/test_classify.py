"""One statement classifier: a statement is read once, and leading
comments or an opening parenthesis do not change where it goes."""

from __future__ import annotations

import os

import pytest

from crate_spark.engine import CrateSession
from crate_spark.http_sql import execute_request
from crate_spark.statement import COUNT, DDL, DML, DQL, ROWS, classify


@pytest.fixture()
def sess(spark, tmp_path):
    s = CrateSession(spark, None, storage_dir=str(tmp_path))
    s.execute("CREATE TABLE t (id int, v text)")
    return s


@pytest.mark.parametrize(
    "stmt",
    [
        "/* c */ INSERT INTO t (id, v) VALUES (1, 'a'), (2, 'b')",
        "-- c\nINSERT INTO t (id, v) VALUES (1, 'a'), (2, 'b')",
        "/* one */ -- two\n/* three */ INSERT INTO t (id, v) VALUES (1, 'a'), (2, 'b')",
    ],
)
def test_a_comment_led_insert_writes_the_stored_table(sess, stmt):
    assert execute_request(sess, {"stmt": stmt})["rowcount"] == 2
    assert sess.execute("SELECT count(*) FROM t").collect()[0][0] == 2


def test_a_comment_led_create_table_creates_a_stored_table(sess, tmp_path):
    sess.execute("/* c */ CREATE TABLE t2 (id int)")
    assert "t2" in sess._dml.crate_tables
    assert os.path.isdir(os.path.join(str(tmp_path), "t2"))
    sess.execute("INSERT INTO t2 (id) VALUES (7)")
    assert sess.execute("SELECT id FROM t2").collect()[0][0] == 7


def test_a_comment_led_show_tables_reads_the_catalog(sess):
    df = sess.execute("/* c */ SHOW TABLES")
    assert df.columns == ["table_name"]
    assert "t" in {r[0] for r in df.collect()}


def test_a_comment_led_set_sets_the_setting(sess):
    sess.execute("/* c */ SET search_path TO doc")
    assert sess.spark.conf.get("search_path") == "doc"


@pytest.mark.parametrize(
    ("stmt", "kind", "privilege", "relations", "reply"),
    [
        ("SELECT * FROM t", "query", DQL, ("doc.t",), ROWS),
        ("(SELECT * FROM doc.t)", "query", DQL, ("doc.t",), ROWS),
        ('SELECT * FROM "doc"."T" x, u AS y JOIN w ON TRUE', "query", DQL,
         ("doc.t", "doc.u", "doc.w"), ROWS),
        ("SELECT (SELECT max(id) FROM u), extract(year FROM ts) FROM t",
         "query", DQL, ("doc.u", "doc.t"), ROWS),
        ("SELECT 'FROM u' AS x", "query", DQL, (), ROWS),
        ("EXPLAIN ANALYZE SELECT * FROM t", "explain", DQL, ("doc.t",), ROWS),
        ("INSERT INTO t SELECT * FROM u", "insert", DML, ("doc.t", "doc.u"), COUNT),
        ("UPDATE t SET v = 'x' RETURNING id", "update", DML, ("doc.t",), ROWS),
        ("COPY t TO DIRECTORY '/x'", "copy", DQL, ("doc.t",), COUNT),
        ("CREATE OR REPLACE VIEW v AS SELECT * FROM t", "create_view", DDL,
         ("doc.v", "doc.t"), ROWS),
        ("SELECT * FROM sys.jobs, pg_catalog.\"pg_type\"", "query", DQL,
         ("sys.jobs", "pg_catalog.pg_type"), ROWS),
        ("CREATE USER MAPPING FOR u SERVER s", "create_user_mapping", "AL", (), COUNT),
        ("SET SESSION AUTHORIZATION alice", "session_authorization", None, (), ROWS),
    ],
)
def test_classify(stmt, kind, privilege, relations, reply):
    st = classify(stmt)
    assert (st.kind, st.privilege, st.relations, st.reply) == (
        kind, privilege, relations, reply,
    )

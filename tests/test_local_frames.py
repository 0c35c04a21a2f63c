"""Answers that need no Spark job run none.

``local_frame`` builds every status, rowcount, EXPLAIN, SHOW,
cursor-fetch, empty-table and system-view frame as a ``LocalRelation``
through a pyarrow Table, and a top-level FROM-less SELECT is planned
over a one-row inline table, so collecting either runs on the driver.
Pinned here: ``local_frame`` answers exactly what ``createDataFrame``
over the same rows answers, the FROM-less rewrite keeps every answer,
and the front-door statements that need no job run none.
"""

from __future__ import annotations

import datetime
import decimal
import time
import uuid

import pytest
from pyspark.sql import Row

from crate_spark.dialect import rewrite
from crate_spark.engine import CrateSession
from crate_spark.session import local_frame
from crate_spark.system_views import SYSTEM_VIEWS
from tests.conftest import SF_DIR

#: the schemas of the status, rowcount, EXPLAIN, SHOW, cursor, blob and
#: COPY frames built with local_frame (the system views are below)
STATUS_SCHEMAS = (
    "rowcount bigint",
    "status string",
    "plan string",
    "setting string",
    "setting string, value string",
    "create_table string",
    "transaction_isolation string",
    "refreshed string",
    "source string, target string",
    "table string, status string",
    "table string, status string, files_before int, files_after int",
    "view string",
    "dropped string",
    "cursor string",
    "closed string",
    "analyzer string",
    "function string, returns string",
    "phase string, detail string, millis double, rows bigint",
    "loaded bigint, errors bigint",
    "digest string, last_modified timestamp",
    "digest string, content binary",
)

TYPED_DDL = (
    "a bigint, b int, c double, d boolean, e string, f timestamp,"
    " g decimal(10,2), h binary, i array<string>, j map<string,string>,"
    " k struct<x:int,y:string>"
)
TYPED_ROWS = [
    (
        1, 2, 1.5, True, "s", datetime.datetime(2020, 1, 2, 3, 4, 5, 123456),
        decimal.Decimal("1.25"), b"\x00\x01", ["a", None], {"k": "v"},
        Row(x=1, y="z"),
    ),
    (None,) * 11,
]


def _plan_class(df) -> str:
    return df._jdf.queryExecution().logical().getClass().getSimpleName()


def _assert_parity(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert _plan_class(got) == "LocalRelation"
    assert got.schema == want.schema
    assert got.collect() == want.collect()


@pytest.mark.parametrize("ddl", STATUS_SCHEMAS)
def test_local_frame_matches_create_dataframe_for_status_frames(spark, ddl):
    width = len(ddl.split(","))
    sample = {
        "bigint": 7, "int": 3, "double": 0.5, "string": "x",
        "timestamp": datetime.datetime(2021, 5, 6, 7, 8, 9), "binary": b"\xff",
    }
    row = tuple(sample[part.split()[-1]] for part in ddl.split(","))
    _assert_parity(spark, [row, (None,) * width], ddl)
    _assert_parity(spark, [], ddl)


def test_local_frame_matches_create_dataframe_across_types(spark):
    _assert_parity(spark, TYPED_ROWS, TYPED_DDL)
    _assert_parity(spark, [], TYPED_DDL)


def test_local_frame_takes_rows_from_a_cursor(spark):
    src = spark.createDataFrame(TYPED_ROWS, TYPED_DDL)
    rows = list(src.toLocalIterator())
    _assert_parity(spark, rows, src.schema)


def test_local_frame_matches_create_dataframe_for_every_system_view(spark, tmp_path):
    session = CrateSession(spark.newSession(), SF_DIR, storage_dir=str(tmp_path))
    session.execute("CREATE TABLE lf_t (id int PRIMARY KEY, tags array(text))")
    session.execute("INSERT INTO lf_t (id, tags) VALUES (1, ['a'])")
    for name, (ddl, rows_of) in SYSTEM_VIEWS.items():
        rows = rows_of(session)
        got = local_frame(session.spark, rows, ddl)
        want = session.spark.createDataFrame(rows, ddl)
        assert got.schema == want.schema, name
        assert got.collect() == want.collect(), name


# -- FROM-less SELECT ----------------------------------------------------
@pytest.fixture(scope="module")
def session(spark):
    return CrateSession(spark, SF_DIR)


def test_fromless_select_keeps_its_answers(session):
    assert session.execute("SELECT 1 WHERE false").collect() == []
    assert session.execute("SELECT 1 AS a ORDER BY 1 LIMIT 1").collect() == [Row(a=1)]
    assert len(session.execute("SELECT random() AS r").collect()) == 1
    assert [r[0] for r in session.execute("SELECT 1 UNION ALL SELECT 2").collect()] == [1, 2]
    assert session.execute(
        "WITH c AS (SELECT 1 AS x) SELECT x FROM c"
    ).collect() == [Row(x=1)]
    assert session.execute("SELECT count(*) AS n").collect() == [Row(n=1)]
    assert session.execute("SELECT 'a from b' AS s").collect() == [Row(s="a from b")]


@pytest.mark.parametrize(
    "stmt",
    ["SELECT 1", "SELECT current_user", "SELECT 1 + 1, 'x' AS y", "SELECT 2 * 3"],
)
def test_fromless_select_keeps_its_column_names(session, stmt):
    plain = session.spark.sql(rewrite(stmt, session_user="crate"))
    assert session.execute(stmt).columns == plain.columns


def test_fromless_select_still_rejects_an_unknown_column(session):
    with pytest.raises(Exception, match="nope"):
        session.execute("SELECT nope").collect()


# -- job-count guard -----------------------------------------------------
def _jobs(spark, fn) -> int:
    """Spark jobs that ``fn`` runs on this thread, counted through a
    job group. The status store hears of jobs through the listener bus,
    so a fence job in a later group is awaited first: once it is
    visible, every job before it is too."""
    sc = spark.sparkContext
    group, fence = f"guard-{uuid.uuid4().hex}", f"fence-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count guard", False)
    try:
        fn()
        sc.setJobGroup(fence, "job-count fence", False)
        sc.parallelize([1], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(fence) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(fence), "fence job never reported"
    return len(tracker.getJobIdsForGroup(group))


def test_answers_that_need_no_job_run_none(spark, tmp_path):
    s = CrateSession(spark.newSession(), SF_DIR, storage_dir=str(tmp_path))

    def run(stmt):
        return lambda: s.execute(stmt).collect()

    for stmt in (
        "SELECT 1",
        "SELECT current_user",
        "SET x = 1",
        "SELECT name FROM sys.cluster",
    ):
        s.execute(stmt).collect()  # warm: first-use costs are not the point
        assert _jobs(s.spark, run(stmt)) == 0, stmt
    created = s.execute("CREATE TABLE jg (id int PRIMARY KEY, v text)")
    assert _jobs(s.spark, created.collect) == 0
    inserted = s.execute("INSERT INTO jg (id, v) VALUES (1, 'a'), (2, 'b')")
    assert _jobs(s.spark, inserted.collect) == 0
    assert inserted.collect() == [Row(rowcount=2)]
    # the guard counts the jobs a statement does run
    assert _jobs(s.spark, run("SELECT count(*) FROM orders")) >= 1

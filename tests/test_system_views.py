"""System views are built on demand: a statement builds exactly the
sys / information_schema / pg_catalog views it names, and nothing
for a statement that names none."""

from __future__ import annotations

import json

import pytest

from crate_spark.engine import CrateSession

_PREFIXES = ("sys_", "information_schema_", "pg_catalog_")


@pytest.fixture()
def fresh(spark, tmp_path):
    return CrateSession(spark.newSession(), None, storage_dir=str(tmp_path))


def _system_temp_views(session: CrateSession) -> set[str]:
    return {
        t.name
        for t in session.spark.catalog.listTables()
        if t.isTemporary and t.name.startswith(_PREFIXES)
    }


def test_statements_reading_no_catalog_build_no_view(fresh):
    fresh.execute("SELECT pg_backend_pid()").collect()
    fresh.execute("SELECT pg_typeof(1)").collect()
    fresh.execute("CREATE TABLE sys_metrics_src (a integer)")
    fresh.execute("INSERT INTO sys_metrics_src VALUES (1), (2)")
    assert fresh.execute("SELECT count(*) FROM sys_metrics_src").collect()[0][0] == 2
    assert not fresh.spark.catalog.tableExists("sys_cluster")
    # the user table is the only catalog-prefixed temp view
    assert _system_temp_views(fresh) == {"sys_metrics_src"}


def test_reading_one_relation_builds_only_its_view(fresh):
    assert fresh.execute("SELECT name FROM sys.cluster").collect()[0][0] == "crate-spark"
    catalog = fresh.spark.catalog
    assert catalog.tableExists("sys_cluster")
    assert not catalog.tableExists("information_schema_tables")
    assert not catalog.tableExists("pg_catalog_pg_type")
    assert _system_temp_views(fresh) == {"sys_cluster"}


def test_quoted_system_relations_resolve(fresh):
    # the executing statement is itself the one in-flight job
    assert fresh.execute('SELECT count(*) FROM sys."jobs"').collect()[0][0] == 1
    assert fresh.execute('SELECT count(*) FROM "sys"."jobs"').collect()[0][0] == 1
    assert fresh.execute('SELECT count(*) FROM pg_catalog."pg_type"').collect()[0][0] == 54


@pytest.mark.parametrize(
    ("stmt", "views"),
    [
        ("SELECT * FROM sys.jobs", {"sys_jobs"}),
        ('SELECT * FROM "sys"."jobs_log"', {"sys_jobs_log"}),
        ("SELECT * FROM sys.`jobs`", {"sys_jobs"}),
        ('SELECT * FROM pg_catalog."pg_type" t, PG_CATALOG.PG_CLASS c',
         {"pg_catalog_pg_type", "pg_catalog_pg_class"}),
        ("SELECT * FROM information_schema_columns", {"information_schema_columns"}),
        ("SHOW TABLES", {"information_schema_tables"}),
        ("SHOW SCHEMAS", {"information_schema_schemata"}),
        ("SHOW COLUMNS FROM t", {"information_schema_columns"}),
        ("SELECT pg_backend_pid(), pg_catalog.pg_typeof(1)", set()),
        ("SELECT * FROM sys_metrics_src JOIN mysys.jobs ON TRUE", set()),
        ("SELECT 'sys.jobs' AS s", set()),
    ],
)
def test_views_read(stmt, views):
    from crate_spark.statement import classify
    from crate_spark.system_views import views_read

    assert views_read(classify(stmt)) == views


def test_golden_pins_every_view():
    from crate_spark.system_views import SYSTEM_VIEWS
    from tests.test_system_catalog import GOLDEN, relation_of

    assert {relation_of(v) for v in SYSTEM_VIEWS} == set(GOLDEN)


def test_a_two_column_partitioning_lists_each_partition(fresh):
    # partitioned-tables.rst:481-489: one row per (a, b) partition and
    # live partitions x shards rows in sys.shards
    fresh.execute("CREATE TABLE p2 (id int, a int, b int) PARTITIONED BY (a, b)")
    fresh.execute("INSERT INTO p2 (id, a, b) VALUES (1, 1, 1), (2, 1, 2), (3, 2, 1)")
    rows = fresh.execute(
        "SELECT partition_ident, values FROM information_schema.table_partitions "
        "WHERE table_name = 'p2' ORDER BY partition_ident"
    ).collect()
    assert [(r[0], json.loads(r[1])) for r in rows] == [
        ("a=1/b=1", {"a": 1, "b": 1}),
        ("a=1/b=2", {"a": 1, "b": 2}),
        ("a=2/b=1", {"a": 2, "b": 1}),
    ]
    shards = "SELECT count(*) FROM sys.shards WHERE table_name = 'p2'"
    assert fresh.execute(shards).collect()[0][0] == 12

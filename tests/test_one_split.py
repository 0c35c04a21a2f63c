"""A relation that Spark reads as one split is planned as one partition.

``session.one_split`` declares a driver-table view or a CrateTable view
single-partition (``coalesce(1)``) when it is exactly one parquet file
no larger than ``spark.sql.files.openCostInBytes``, and the source of an
``INSERT … VALUES`` is one partition. Aggregates, windows and sorts
over such a relation then need no exchange, so AQE runs no stage job
for them. Pinned here: the Spark jobs that saves, with answers equal to
a plain scan's, that a small PK table stays one file as it grows, and
that nothing changes where nothing may: above the gate, for a table of
two files, on the large side of a join and for a ``LocalRelation``.
"""

from __future__ import annotations

import os

import pytest

from crate_spark.engine import CrateSession
from crate_spark.session import load_tables
from tests.conftest import SF_DIR
from tests.test_local_frames import _jobs

AGG = (
    "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total "
    "FROM orders WHERE o_custkey BETWEEN 10 AND 60 "
    "GROUP BY o_orderstatus ORDER BY o_orderstatus"
)


def _values(lo: int, hi: int) -> str:
    return ", ".join(f"({k}, {k % 8}, {k * 0.5}, 's{k}')" for k in range(lo, hi))


@pytest.fixture(scope="module")
def s(spark, tmp_path_factory):
    return CrateSession(
        spark.newSession(), SF_DIR, storage_dir=str(tmp_path_factory.mktemp("one_split"))
    )


def _count(s, stmt: str) -> int:
    """Jobs of one warm run of ``stmt``."""
    s.execute(stmt).collect()
    return _jobs(s.spark, lambda: s.execute(stmt).collect())


def _plan(s, stmt: str) -> str:
    return "\n".join(r[0] for r in s.execute(f"EXPLAIN {stmt}").collect())


def test_group_by_order_by_over_a_one_file_view_runs_one_job(s):
    assert _count(s, AGG) == 1
    s.tables["orders"].createOrReplaceTempView("orders_scan")
    assert s.execute(AGG).collect() == s.execute(
        AGG.replace("FROM orders", "FROM orders_scan")
    ).collect()


def test_pk_table_stays_one_file_and_runs_one_job(s):
    s.execute("CREATE TABLE os_t (k bigint PRIMARY KEY, g int, v double, s text)")
    table = s._dml.crate_tables["os_t"]
    stmt = "SELECT g, count(*) AS n, sum(v) AS total FROM os_t GROUP BY g ORDER BY g"
    scan = stmt.replace("FROM os_t", "FROM os_t_scan")
    for lo in (0, 200):
        # the second batch is written together with the first file
        s.execute(f"INSERT INTO os_t (k, g, v, s) VALUES {_values(lo, lo + 200)}")
        assert len(table.files()) == 1
        assert _count(s, stmt) == 1
        table.read().createOrReplaceTempView("os_t_scan")
        assert s.execute(stmt).collect() == s.execute(scan).collect()


def test_pk_insert_values_into_a_non_empty_table_runs_one_job(s):
    s.execute("CREATE TABLE os_w (k bigint PRIMARY KEY, g int, v double, s text)")
    s.execute(f"INSERT INTO os_w (k, g, v, s) VALUES {_values(0, 200)}")
    stmt = f"INSERT INTO os_w (k, g, v, s) VALUES {_values(200, 400)}"
    assert _jobs(s.spark, lambda: s.execute(stmt)) == 1
    assert s.execute("SELECT count(*) FROM os_w").collect()[0][0] == 400
    with pytest.raises(Exception, match="duplicate key in batch"):
        s.execute("INSERT INTO os_w (k, g, v, s) VALUES (900, 1, 1.0, 'a'), (900, 2, 2.0, 'b')")
    with pytest.raises(Exception, match="conflict with existing"):
        s.execute("INSERT INTO os_w (k, g, v, s) VALUES (5, 1, 1.0, 'a')")
    assert s.execute("SELECT count(*) FROM os_w").collect()[0][0] == 400


def test_an_empty_table_stays_a_local_relation(s):
    s.execute("CREATE TABLE os_e (k bigint PRIMARY KEY)")
    plan = s.tables["os_e"]._jdf.queryExecution().logical()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert _count(s, "SELECT k FROM os_e") == 0


def test_gate_is_spark_split_size(spark):
    from crate_spark.session import one_split

    conf = spark._jsparkSession.sessionState().conf()
    limit = min(conf.filesOpenCostInBytes(), conf.filesMaxPartitionBytes())
    df = spark.range(3)

    def node(files):
        return one_split(df, files)._jdf.queryExecution().logical().getClass().getSimpleName()

    assert node([("a.parquet", limit)]) == "Repartition"
    assert one_split(df, [("a.parquet", limit + 1)]) is df
    assert one_split(df, [("a.parquet", 10), ("b.parquet", 10)]) is df
    assert one_split(df, []) is df


# -- no-op where it must be one ------------------------------------------
#: between the smallest driver files (region, nation, supplier) and orders
LOW_GATE = 4096


@pytest.fixture(scope="module")
def low(spark, tmp_path_factory):
    sp = spark.newSession()
    sp.conf.set("spark.sql.files.openCostInBytes", str(LOW_GATE))
    return CrateSession(sp, SF_DIR, storage_dir=str(tmp_path_factory.mktemp("low")))


def test_explain_shows_coalesce_only_for_a_file_under_the_gate(low):
    assert os.path.getsize(os.path.join(SF_DIR, "nation.parquet")) <= LOW_GATE
    assert os.path.getsize(os.path.join(SF_DIR, "orders.parquet")) > LOW_GATE
    assert "Coalesce" in _plan(low, "SELECT count(*) FROM nation")
    assert "Coalesce" not in _plan(low, "SELECT count(*) FROM orders")


def test_view_over_a_file_above_the_gate_keeps_its_exchange(low):
    plan = _plan(low, AGG)
    assert "Coalesce" not in plan and "Exchange" in plan


def test_pk_table_of_two_files_runs_as_before(low):
    """Batches above the gate are written as they come, one file each,
    and a table of two files is planned as a plain scan."""
    low.execute("CREATE TABLE os_t (k bigint PRIMARY KEY, g int, v double, s text)")
    for lo in (0, 200):
        low.execute(f"INSERT INTO os_t (k, g, v, s) VALUES {_values(lo, lo + 200)}")
    table = low._dml.crate_tables["os_t"]
    assert len(table.files()) == 2
    stmt = "SELECT g, count(*) AS n, sum(v) AS total FROM os_t GROUP BY g ORDER BY g"
    scan = stmt.replace("FROM os_t", "FROM os_t_scan")
    table.read().createOrReplaceTempView("os_t_scan")
    assert _count(low, stmt) == _count(low, scan) > 1
    assert low.execute(stmt).collect() == low.execute(scan).collect()


@pytest.mark.parametrize("join", ["JOIN", "LEFT JOIN", "FULL JOIN"])
def test_join_does_not_funnel_the_multi_split_side(spark, tmp_path, join):
    sp = spark.newSession()
    load_tables(sp, SF_DIR)
    sp.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    wide = str(tmp_path / "wide")
    sp.range(0, 4000, 1, 4).selectExpr("id % 25 AS k", "id AS v").write.parquet(wide)
    sp.read.parquet(wide).createOrReplaceTempView("wide")
    stmt = (
        f"SELECT n_name, count(v) AS n FROM nation {join} wide "
        "ON n_nationkey = k GROUP BY n_name"
    )
    plan = sp.sql(stmt)._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce 1" in plan
    assert "SinglePartition" not in plan
    assert "Exchange hashpartitioning(k#" in plan
    got = sorted(sp.sql(stmt).collect(), key=repr)
    load_tables(sp, SF_DIR, register=False)["nation"].createOrReplaceTempView("nation")
    assert sorted(sp.sql(stmt).collect(), key=repr) == got

"""Shared fixtures: one SparkSession per test run + DuckDB oracle compare.

Mirrors the driver's correctness gate: for each registry query, run the
PySpark version and the oracle SQL over the same parquet tables, then
compare row count, column names, and an order-insensitive value hash
(columns sorted by name, floats canonicalized to 12 significant digits).
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

# a periodic /tmp wipe must not kill the shared SparkSession's
# shuffle/broadcast dirs mid-run: keep Spark scratch, pytest tmp and
# tempfile roots under the checkout these tests run from
_TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")
os.makedirs(f"{_TMP}/spark", exist_ok=True)
os.environ.setdefault("SPARK_LOCAL_DIRS", f"{_TMP}/spark")
os.environ.setdefault("TMPDIR", _TMP)
import tempfile

tempfile.tempdir = _TMP

from crate_spark.session import TABLES, get_spark

SF_DIR = os.environ.get("CRATE_SPARK_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("crate-spark-tests", cpus=8, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


def _canon(v):
    """Canonicalize one value for hashing (12 significant digits on floats)."""
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0:
            return "0"
        return f"{v:.12g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canonical_rows(columns, rows):
    """Sorted tuple-of-strings form, columns ordered by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon(row[i]) for i in order) for row in rows)


def assert_matches_oracle(spark, duck, fn, oracle, sf_dir=SF_DIR):
    sdf = fn(spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(c.lower() for c in spark_cols) == sorted(
        c.lower() for c in duck_cols
    ), f"column mismatch: spark={spark_cols} duck={duck_cols}"
    assert len(spark_rows) == len(duck_rows), (
        f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    a = canonical_rows([c.lower() for c in spark_cols], spark_rows)
    b = canonical_rows([c.lower() for c in duck_cols], duck_rows)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"value mismatch; first diffs: {diffs}")

"""One engine-level case per ``dialect.rewrite`` pass that only the
reference doc corpus reached before: each asserts the answer the
pass's own comment documents, so deleting or merging a pass (ROADMAP
item 4) shows here when it changes an answer."""

from __future__ import annotations

import sys

import pytest

from crate_spark.engine import CrateSession


@pytest.fixture(scope="module")
def crate(spark, tmp_path_factory):
    s = CrateSession(spark, None, storage_dir=str(tmp_path_factory.mktemp("passes")))
    s.execute("CREATE TABLE rp (id INT PRIMARY KEY, g INT, x INT)")
    s.execute("INSERT INTO rp (id, g, x) VALUES (1, 1, 10), (2, 1, 20), (3, 2, 30), (4, 2, 40)")
    return s


def _rows(crate, sql):
    return [tuple(r) for r in crate.execute(sql).collect()]


def test_at_time_zone(crate):
    """A WITHOUT-tz operand is a wall clock in the zone, read as UTC;
    a WITH-tz operand (``*_tz``) renders as the zone's wall clock."""
    src = "(SELECT CAST('2024-01-01 12:00:00' AS TIMESTAMP) AS ts, " \
          "CAST('2024-01-01 12:00:00' AS TIMESTAMP) AS ts_tz) AS q"
    assert _rows(
        crate,
        "SELECT CAST(ts AT TIME ZONE 'Europe/Berlin' AS STRING) AS a, "
        f"CAST(ts_tz AT TIME ZONE 'Europe/Berlin' AS STRING) AS b FROM {src}",
    ) == [("2024-01-01 11:00:00", "2024-01-01 13:00:00")]


def test_at_time_zone_takes_the_whole_cast_chain(crate):
    """``::`` binds tighter than AT TIME ZONE: the operand is the cast
    chain, and its last spelling says whether the operand is zoned; a
    typed literal's spelling does the same."""
    assert _rows(
        crate,
        "SELECT CAST('2024-01-01 12:00:00'::timestamp AT TIME ZONE 'Europe/Berlin' AS STRING) AS a, "
        "CAST('2024-01-01 12:00:00'::text::timestamptz AT TIME ZONE 'Europe/Berlin' AS STRING) AS b, "
        "CAST(CAST('2024-01-01 12:00:00' AS TIMESTAMP)::timestamp AT TIME ZONE 'UTC' AS STRING) AS c, "
        "CAST(timestamptz '2024-01-01 12:00:00+00' AT TIME ZONE 'Europe/Berlin' AS STRING) AS d",
    ) == [("2024-01-01 11:00:00", "2024-01-01 13:00:00", "2024-01-01 12:00:00", "2024-01-01 13:00:00")]


def test_schema_qualified_table_function(crate):
    assert sorted(_rows(crate, "SELECT * FROM pg_catalog.generate_series(1, 3)")) == [
        (1,), (2,), (3,),
    ]


def test_pg_get_keywords_relation(crate):
    assert _rows(
        crate, "SELECT word, catcode FROM pg_get_keywords() WHERE word = 'select'"
    ) == [("select", "R")]


def test_named_window_extended_in_over(crate):
    assert sorted(_rows(
        crate,
        "SELECT id, row_number() OVER (w ORDER BY x) AS r FROM rp "
        "WINDOW w AS (PARTITION BY g)",
    )) == [(1, 1), (2, 2), (3, 1), (4, 2)]


def test_exponent_literal_past_double_max_rounds(crate):
    assert _rows(crate, "SELECT 1.7976931348623158e308 AS v") == [(sys.float_info.max,)]


def test_empty_row_table_function(crate):
    assert _rows(crate, "SELECT 1 AS v FROM empty_row()") == [(1,)]


def test_pg_expandarray_field_access(crate):
    assert sorted(_rows(
        crate, "SELECT (information_schema._pg_expandarray([10, 20])).n AS n"
    )) == [(1,), (2,)]
    assert sorted(_rows(
        crate, "SELECT (information_schema._pg_expandarray([10, 20])).x AS x"
    )) == [(10,), (20,)]


def test_doc_schema_prefix_is_transparent(crate):
    assert sorted(_rows(crate, "SELECT doc.rp.x FROM doc.rp WHERE doc.rp.g = 1")) == [
        (10,), (20,),
    ]


def test_offset_rows(crate):
    assert _rows(crate, "SELECT id FROM rp ORDER BY id OFFSET 2 ROWS") == [(3,), (4,)]


def test_lag_over_unordered_partition(crate):
    """Spark demands an ORDER BY; each partition still yields one NULL
    and its other row's value."""
    rows = _rows(crate, "SELECT g, x, lag(x) OVER (PARTITION BY g) AS l FROM rp")
    for g in (1, 2):
        part = [r for r in rows if r[0] == g]
        assert sorted(r[2] is None for r in part) == [False, True]
        (x_first,) = [r[1] for r in part if r[2] is None]
        assert [r[2] for r in part if r[2] is not None] == [x_first]


@pytest.mark.parametrize("window", [
    "lag(coalesce(x, abs(g))) OVER (PARTITION BY g)",
    "lag(x) OVER (PARTITION BY abs(coalesce(g, 0)))",
])
def test_lag_over_unordered_partition_with_nested_calls(crate, window):
    rows = _rows(crate, f"SELECT g, x, {window} AS l FROM rp")
    for g in (1, 2):
        part = [r for r in rows if r[0] == g]
        assert sorted(r[2] is None for r in part) == [False, True]


def test_window_filter_with_nested_calls(crate):
    assert sorted(_rows(
        crate,
        "SELECT id, sum(x) FILTER (WHERE abs(coalesce(x, 0)) > 10) OVER (PARTITION BY g) AS s FROM rp",
    )) == [(1, 20), (2, 20), (3, 70), (4, 70)]


def test_named_window_definition_with_a_call(crate):
    assert sorted(_rows(
        crate,
        "SELECT id, row_number() OVER (w ORDER BY id) AS r FROM rp "
        "WINDOW w AS (PARTITION BY abs(g))",
    )) == [(1, 1), (2, 2), (3, 1), (4, 2)]


@pytest.mark.parametrize("expr, want", [
    ("has_table_privilege(lower(concat('T', '')), 'SELECT')", [(True,)]),
    ("col_description(abs(coalesce(1, 0)), 1)", [(None,)]),
    ("(_pg_expandarray(array_cat(array(1), array(abs(2))))).x", [(1,), (2,)]),
])
def test_calls_with_nested_arguments(crate, expr, want):
    assert sorted(_rows(crate, f"SELECT {expr} AS v")) == want


def test_schema_qualified_constant_calls(crate):
    assert _rows(
        crate,
        'SELECT "pg_catalog".current_database() AS a, pg_catalog.pg_backend_pid() AS b, '
        "information_schema.has_schema_privilege('doc', 'USAGE') AS c",
    ) == [("crate", 0, True)]


def test_empty_escape_after_a_call(crate):
    assert _rows(crate, "SELECT 'a\\b' LIKE concat('a\\', 'b') ESCAPE '' AS v") == [(True,)]


def test_case_block_at_time_zone(crate):
    assert _rows(
        crate,
        "SELECT CAST(CASE WHEN true THEN CAST('2024-01-01 12:00:00' AS TIMESTAMP) END "
        "AT TIME ZONE 'Europe/Berlin' AS STRING) AS a",
    ) == [("2024-01-01 11:00:00",)]


def test_typed_literal_is_one_cast_operand(crate):
    assert _rows(
        crate,
        "SELECT TIMESTAMP '2024-01-01 12:00:00'::text AS a, "
        "pg_postmaster_start_time()::text IS NOT NULL AS b",
    ) == [("2024-01-01 12:00:00", True)]


def test_order_by_item_named_like_a_clause_keyword(crate):
    assert _rows(crate, "SELECT id AS my_rows FROM rp ORDER BY my_rows DESC") == [
        (4,), (3,), (2,), (1,),
    ]


def test_ranking_over_a_framed_unordered_window(crate):
    """The constant ORDER BY goes before the frame, not after it."""
    assert sorted(_rows(
        crate,
        "SELECT id, rank() OVER (PARTITION BY g ROWS BETWEEN UNBOUNDED PRECEDING "
        "AND CURRENT ROW) AS r FROM rp",
    )) == [(1, 1), (2, 1), (3, 1), (4, 1)]


def test_nested_array_subqueries(crate):
    (v,) = _rows(crate, "SELECT ARRAY(SELECT ARRAY(SELECT x FROM rp WHERE g = 1) FROM rp WHERE id = 1) AS v")[0]
    assert [sorted(a) for a in v] == [[10, 20]]


@pytest.mark.parametrize("stride, ts, want", [
    ("INTERVAL '1.5 seconds'", "2024-01-01T00:00:04", "2024-01-01 00:00:03"),
    ("INTERVAL '00:15:00'", "2024-01-01T00:20:00", "2024-01-01 00:15:00"),
    ("INTERVAL 'PT15M'", "2024-01-01T00:20:00", "2024-01-01 00:15:00"),
    ("'15 mins'::interval", "2024-01-01T00:20:00", "2024-01-01 00:15:00"),
    ("'500 microseconds'::interval", "2024-01-01T00:00:00.0012", "2024-01-01 00:00:00.001"),
])
def test_date_bin_reads_its_stride_as_an_interval_literal(crate, stride, ts, want):
    assert _rows(
        crate, f"SELECT CAST(date_bin({stride}, TIMESTAMP '{ts}', 0) AS STRING) AS v"
    ) == [(want,)]


def test_date_bin_rejects_a_month_stride(crate):
    with pytest.raises(Exception):
        crate.execute("SELECT date_bin(INTERVAL '1 month', TIMESTAMP '2024-01-01T00:00:00', 0)").collect()

"""Type-system tests — the t_types fixture (FIXTURES.md §B): one
suite per SURVEY.md §1.3 type-mapping row with CrateDB-specific
semantics (interval comparisons, nested arrays, dynamic objects,
1-based subscripts on nested data, ip validation, char padding)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crate_spark.dml import CrateTable
from crate_spark.functions import ip_in_cidr


def one(spark, expr_sql: str):
    return spark.sql(f"SELECT {expr_sql} AS v").collect()[0]["v"]


def test_interval_arithmetic_and_comparison(spark):
    # joda-Period-style normalization: 25h stays 25h as day-time interval
    assert one(spark, "INTERVAL '25' HOUR > INTERVAL '1' DAY") is True
    assert one(spark, "INTERVAL '1' DAY + INTERVAL '12' HOUR = INTERVAL '36' HOUR") is True
    # month intervals don't compare to day intervals (separate types) —
    # Spark enforces year-month vs day-time separation at analysis time
    with pytest.raises(Exception):
        spark.sql("SELECT INTERVAL '1' MONTH > INTERVAL '30' DAY").collect()


def test_nested_arrays(spark):
    v = one(spark, "ARRAY(ARRAY(1, 2), ARRAY(3))")
    assert v == [[1, 2], [3]]
    # raw spark.sql subscripts are 0-based; the engine front door is
    # 1-based via the shim (tests/slt/arrays.test). Pin the element_at
    # (1-based) spelling the shim produces for nested access:
    assert one(spark, "element_at(element_at(ARRAY(ARRAY(1, 2), ARRAY(3)), 1), 2)") == 2


def test_object_struct_and_map(spark):
    # strict/typed object -> StructType with dotted + subscript access
    row = spark.sql(
        "SELECT named_struct('a', 1, 'nested', named_struct('b', 'x')) AS o"
    ).collect()[0]["o"]
    assert row["a"] == 1 and row["nested"]["b"] == "x"
    assert one(spark, "named_struct('a', 1)['a']") == 1
    # ignored-policy object -> JSON string with lazy typed extraction
    assert one(spark, "get_json_object('{\"k\": {\"x\": 5}}', '$.k.x')") == "5"
    assert one(spark, "CAST(get_json_object('{\"k\": 5}', '$.k') AS INT)") == 5


def test_dynamic_object_schema_merge(spark, tmp_path):
    """column_policy='dynamic': inserts may add columns; old rows read
    the new columns as NULL (DynamicIndexer semantics)."""
    t = CrateTable.create(spark, str(tmp_path / "dyn"), "id int, a string")
    t.insert(spark.createDataFrame([(1, "x")], "id int, a string"))
    t.insert_dynamic(
        spark.createDataFrame([(2, "y", 42)], "id int, a string, extra int")
    )
    got = {r["id"]: r for r in t.read().collect()}
    assert got[1]["extra"] is None  # old row: new column is NULL
    assert got[2]["extra"] == 42
    assert "extra int" in t.schema_ddl
    # reopen from disk: the widened schema persisted
    t2 = CrateTable.open(spark, str(tmp_path / "dyn"))
    assert {f.name for f in t2.read().schema.fields} == {"id", "a", "extra"}
    # declared column missing from a dynamic batch -> NULL-filled
    t2.insert_dynamic(spark.createDataFrame([(3,)], "id int"))
    got3 = {r["id"]: r for r in t2.read().collect()}[3]
    assert got3["a"] is None and got3["extra"] is None


def test_ip_type_validation(spark):
    """ip -> StringType + validation/containment (IpType.java)."""
    df = spark.createDataFrame(
        [("10.0.0.5",), ("192.168.7.9",), ("not-an-ip",)], "addr string"
    )
    valid = df.filter(
        F.col("addr").rlike(r"^(\d{1,3}\.){3}\d{1,3}$")
    )
    assert valid.count() == 2
    hits = df.filter(ip_in_cidr(F.col("addr"), "10.0.0.0/8")).collect()
    assert [r["addr"] for r in hits] == ["10.0.0.5"]


def test_char_padding_semantics(spark):
    """char(n) -> StringType + pad semantics (CharacterType.java).

    Spark's CHAR(n) cast in a SELECT does not blank-pad (read-side
    padding applies to table columns only); the engine's declared
    mapping is explicit rpad at write time."""
    assert one(spark, "rpad('ab', 5, ' ')") == "ab   "
    assert one(spark, "LENGTH(rpad('ab', 5, ' '))") == 5
    # trailing-blank-insensitive comparison, as PG char(n)
    assert one(spark, "rtrim(rpad('ab', 5, ' ')) = 'ab'") is True


def test_numeric_precision(spark):
    """numeric(p,s) -> DecimalType; exact arithmetic at p<=38."""
    v = one(spark, "CAST('123456789012345678901234567.123' AS DECIMAL(38,3)) * 2")
    assert str(v) == "246913578024691357802469134.246"


def test_binary_and_bits(spark):
    assert one(spark, "hex(CAST('AB' AS BINARY))") == "4142"
    assert one(spark, "bit_count(255)") == 8
    assert one(spark, "shiftleft(1, 8)") == 256


def test_timestamp_precision_ms(spark):
    """CrateDB stores ms epoch; values round-trip through TIMESTAMP_NTZ."""
    v = one(
        spark,
        "unix_millis(CAST(TIMESTAMP_NTZ '2024-01-01 00:00:00.123' AS TIMESTAMP))",
    )
    assert v == 1704067200123


def test_create_table_reference_type_names(spark, tmp_path):
    """Every CrateDB type spelling from data-types.rst maps to a Spark
    storage type at CREATE TABLE (geo_shape -> WKT text,
    float_vector(n) -> array<float>, numeric(p,s) -> decimal,
    varchar(n)/char(n)/bit(n) -> string)."""
    from crate_spark.engine import CrateSession

    s = CrateSession(spark, None, storage_dir=str(tmp_path))
    s.execute(
        "CREATE TABLE typed ("
        " a text, b varchar(40), c character varying(10), d char(3),"
        " e bit(8), f ip, g geo_point, h geo_shape,"
        " i float_vector(4), j numeric(10, 2), k numeric,"
        " l timestamp with time zone, m timestamp without time zone,"
        " n double precision, o real, p long, q short, r byte,"
        " s boolean, t array(text), u object, v interval)"
    )
    s.execute(
        "INSERT INTO typed (a, b, g, h, i, j, s, t) VALUES "
        "('x', 'y', [13.4, 52.5], 'POLYGON ((0 0, 1 0, 1 1, 0 0))', "
        "[1.0, 0.0, 0.0, 0.5], 12.34, true, ['p', 'q'])"
    )
    row = s.execute(
        "SELECT a, b, g, h, i, j, s, t FROM typed"
    ).collect()[0]
    assert row["a"] == "x" and row["s"] is True
    assert list(row["g"]) == [13.4, 52.5]
    assert row["h"].startswith("POLYGON")
    assert [round(x, 2) for x in row["i"]] == [1.0, 0.0, 0.0, 0.5]
    assert float(row["j"]) == 12.34
    assert list(row["t"]) == ["p", "q"]
    # the vector column feeds knn directly; geo column feeds distance
    d = s.execute(
        "SELECT round(distance(g, 'POINT (13.405 52.52)'), 0) AS m FROM typed"
    ).collect()[0]["m"]
    assert 0 <= d < 5000
    # the PG alias spellings a CAST accepts declare columns too
    s.execute(
        "CREATE TABLE aliased (a int2, b int4, c int8, d float4, e float8, f int8[])"
    )
    assert [
        f.dataType.simpleString() for f in s.execute("SELECT * FROM aliased").schema
    ] == ["smallint", "int", "bigint", "float", "double", "array<bigint>"]
    assert [
        r[0]
        for r in s.execute(
            "SELECT data_type FROM information_schema.columns "
            "WHERE table_name = 'aliased' ORDER BY ordinal_position"
        ).collect()
    ] == ["smallint", "integer", "bigint", "real", "double precision", "bigint_array"]


def test_alias_spellings_cast_like_they_declare(spark, tmp_path):
    """``char``/``character`` cast to text as they declare text columns,
    and a function signature takes ``int8`` as a CAST does."""
    from crate_spark.engine import CrateSession

    s = CrateSession(spark, None, storage_dir=str(tmp_path))
    row = s.execute(
        "SELECT '1'::char AS a, CAST('x' AS character) AS b, pg_typeof('1'::char) AS t"
    ).collect()[0]
    assert (row["a"], row["b"], row["t"]) == ("1", "x", "text")
    s.execute(
        "CREATE FUNCTION twice(a int8) RETURNS int8 LANGUAGE JAVASCRIPT "
        "AS 'function twice(a) { return a * 2; }'"
    )
    row = s.execute("SELECT twice(21) AS v, pg_typeof(twice(21)) AS t").collect()[0]
    assert (row["v"], row["t"]) == (42, "bigint")


def test_parse_type_reads_every_shape_in_any_case_and_spacing():
    """``datatypes.parse_type`` reads multi-word names, ``array(T)``,
    repeated ``T[]`` and objects with nested children whatever their
    case and spacing, and its end stops before what follows the type."""
    from crate_spark.datatypes import parse_type, read_type, spark_type

    spec = read_type("ARRAY ( DOUBLE   PRECISION )")
    assert (spec.element.row.name, spark_type("ARRAY ( DOUBLE   PRECISION )")) == (
        "double precision", "array<double>",
    )
    assert spark_type("integer [ ] [ ]") == "array<array<int>>"
    obj = read_type("Object(Strict) AS (a INT, b OBJECT AS (c TEXT))")
    assert obj.policy == "strict"
    a, b = obj.children
    assert (a.name, a.spec.row.name, b.name, b.spec.row.name) == ("a", "integer", "b", "object")
    assert [(c.name, c.spec.row.name) for c in b.spec.children] == [("c", "text")]
    for text, spelling in [
        ("x timestamp with time zone NOT NULL", "timestamp with time zone"),
        ("x numeric(10, 2), y int", "numeric(10, 2)"),
        ("x int[] )", "int[]"),
        ("x object AS (k text DEFAULT 'a, b') NOT NULL", "object AS (k text DEFAULT 'a, b')"),
    ]:
        spec, end = parse_type(text, 1)
        assert (spec.text, text[1:end].strip()) == (spelling, spelling)
    # a word no spelling starts, or an argument list a name does not take
    assert parse_type("map<string,int>") is None and parse_type("timestamp(3)") is None


def test_nested_arrays_are_named_at_every_level(spark, tmp_path):
    """pg_typeof, information_schema and SHOW CREATE TABLE name each
    array level of a nested array column."""
    from crate_spark.engine import CrateSession

    s = CrateSession(spark, None, storage_dir=str(tmp_path))
    s.execute("CREATE TABLE nested (a int[], b array(array(int)), c int[][][])")
    ddl = s.execute("SHOW CREATE TABLE nested").collect()[0][0]
    assert '"b" ARRAY(ARRAY(INTEGER))' in ddl and '"c" ARRAY(ARRAY(ARRAY(INTEGER)))' in ddl
    s.execute("CREATE TABLE objs (o array(object AS (x int)))")
    assert '"o" ARRAY(OBJECT(DYNAMIC) AS (' in s.execute("SHOW CREATE TABLE objs").collect()[0][0]
    s.execute("INSERT INTO nested (a, b, c) VALUES ([1], [[1]], [[[1]]])")
    row = s.execute("SELECT pg_typeof(a), pg_typeof(b), pg_typeof(c) FROM nested").collect()[0]
    info = [
        r[0]
        for r in s.execute(
            "SELECT data_type FROM information_schema.columns "
            "WHERE table_name = 'nested' ORDER BY ordinal_position"
        ).collect()
    ]
    assert list(row) == info == ["integer_array", "integer_array_array", "integer_array_array_array"]


def test_object_subcolumn_defaults_keep_their_declared_type(spark, tmp_path):
    """A subcolumn's DEFAULT clause is not part of its type: the
    information_schema names the type, and the defaults still fill the
    object an INSERT omits."""
    from crate_spark.engine import CrateSession

    s = CrateSession(spark, None, storage_dir=str(tmp_path))
    s.execute("CREATE TABLE od (id int, o OBJECT AS (key TEXT DEFAULT 'a,b', n INT DEFAULT 3))")
    s.execute("INSERT INTO od (id) VALUES (1)")
    assert s.execute("SELECT o FROM od").collect()[0][0] == '{"key": "a,b", "n": 3}'
    assert [
        tuple(r)
        for r in s.execute(
            "SELECT column_name, data_type FROM information_schema.columns "
            "WHERE table_name = 'od' ORDER BY ordinal_position"
        ).collect()
    ] == [("id", "integer"), ("o", "object"), ("o['key']", "text"), ("o['n']", "integer")]

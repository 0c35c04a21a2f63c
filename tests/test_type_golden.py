"""Type golden: every answer the engine gives about a type, pinned.

For each type spelling (the crate names, their PG and Spark aliases,
their ``[]``/``array(…)`` forms and their parameterized forms) the
golden holds the Spark type, or the error class, of a ``CREATE TABLE``
column, a ``CAST``, a ``::`` cast and a typed literal, and the
column's ``information_schema.columns.data_type``. For each Spark type
it holds the ``information_schema`` name, the SHOW CREATE TABLE
spelling, ``pg_typeof``, the pg-wire RowDescription OID, the
``pg_attribute`` OID and the HTTP ``col_types`` id. It also holds
``format_type`` of every ``pg_type`` OID.

Only public behaviour is read (SQL, pg-wire, HTTP), so one recording
describes any version of the engine. Re-record with
``python -m tests.test_type_golden`` from the repository root.
"""

from __future__ import annotations

import json
import os
import re

from crate_spark.engine import CrateSession

GOLDEN = os.path.join(os.path.dirname(__file__), "type_golden.json")

#: the crate, PG and Spark spellings the front end has named
BASE_SPELLINGS = [
    "array", "bigint", "binary", "bit", "boolean", "byte", "bytea", "char",
    "character", "character varying", "date", "decimal", "double",
    "double precision", "float", "float4", "float8", "float_vector",
    "geo_point", "geo_shape", "int", "int2", "int4", "int8", "integer",
    "interval", "ip", "json", "long", "numeric", "object", "oidvector",
    "real", "regclass", "regproc", "regtype", "short", "smallint",
    "string", "text", "time", "time with time zone",
    "time without time zone", "timestamp", "timestamp with time zone",
    "timestamp without time zone", "timestamp_ntz", "timestamptz",
    "timetz", "tinyint", "uuid", "varchar",
]
PARAMETERIZED = [
    "varchar(5)", "character varying(5)", "char(3)", "character(3)",
    "bit(3)", "numeric(10,2)", "numeric(5)", "decimal(10,2)",
    "float_vector(4)", "object(strict)", "object(ignored) as (a int)",
    "array(array(integer))", "integer[][]",
]
#: Spark types whose crate names, OIDs and HTTP ids are pinned
SPARK_TYPES = [
    "string", "int", "bigint", "smallint", "tinyint", "float", "double",
    "boolean", "date", "timestamp", "timestamp_ntz", "binary",
    "decimal(10,2)", "array<int>", "array<string>", "array<double>",
    "array<array<int>>", "struct<a:int>", "map<string,string>",
    "map<string,int>", "struct<months:bigint,days:int,micros:bigint>",
    "void",
]


def _forms() -> list[str]:
    out = []
    for sp in BASE_SPELLINGS:
        out += [sp, f"{sp}[]", f"array({sp})"]
    return out + PARAMETERIZED


def _type_of(s: CrateSession, sql: str) -> str:
    try:
        return s.execute(sql).schema.fields[0].dataType.simpleString()
    except Exception as e:  # noqa: BLE001 - the class is the answer
        return "error:" + type(e).__name__


def _spellings(s: CrateSession) -> dict:
    out = {}
    for i, sp in enumerate(_forms()):
        row = {
            "cast": _type_of(s, f"SELECT CAST(NULL AS {sp}) AS v"),
            "colon": _type_of(s, f"SELECT NULL::{sp} AS v"),
        }
        if sp in BASE_SPELLINGS:
            row["literal"] = _type_of(s, f"SELECT {sp} '1' AS v")
        try:
            s.execute(f"CREATE TABLE tg_{i} (id int, v {sp})")
            row["ddl"] = _type_of(s, f"SELECT v FROM tg_{i}")
            info = s.execute(
                "SELECT data_type FROM information_schema.columns "
                f"WHERE table_name = 'tg_{i}' AND column_name = 'v'"
            ).collect()
            row["info"] = info[0][0] if info else None
        except Exception as e:  # noqa: BLE001
            row["ddl"] = "error:" + type(e).__name__
        out[sp] = row
    return out


def _wire_oids(s: CrateSession, sql: str) -> list[int]:
    from crate_spark.pg_wire import serve
    from tests.test_pg_wire import MiniPgClient

    srv = serve(s, port=0)
    try:
        c = MiniPgClient(srv.server_address[1])
        c.query(sql)
        c.sock.close()
        return c.oids
    finally:
        srv.shutdown()


def _spark_types(s: CrateSession) -> dict:
    from crate_spark.http_sql import execute_request

    cols = [f"c{i}" for i in range(len(SPARK_TYPES))]
    s.register(
        "tgs",
        s.spark.sql(
            "SELECT "
            + ", ".join(f"CAST(NULL AS {t}) AS c{i}" for i, t in enumerate(SPARK_TYPES))
        ),
    )
    assert [f.dataType.simpleString() for f in s.tables["tgs"].schema] == SPARK_TYPES
    info = dict(
        s.execute(
            "SELECT column_name, data_type FROM information_schema.columns "
            "WHERE table_name = 'tgs'"
        ).collect()
    )
    ddl = s.execute("SHOW CREATE TABLE tgs").collect()[0][0]
    show = dict(re.findall(r'"(c\d+)" (.+?),?\n', ddl + "\n"))
    typeof = s.execute(
        "SELECT " + ", ".join(f"pg_typeof({c})" for c in cols) + " FROM tgs"
    ).collect()[0]
    attr = dict(
        s.execute(
            "SELECT a.attname, a.atttypid FROM pg_catalog.pg_attribute a "
            "JOIN pg_catalog.pg_class c ON a.attrelid = c.oid "
            "WHERE c.relname = 'tgs'"
        ).collect()
    )
    wire = _wire_oids(s, "SELECT * FROM tgs")
    http = execute_request(s, {"stmt": "SELECT * FROM tgs"}, types=True)
    return {
        t: {
            "info": info.get(c),
            "show_create": show.get(c),
            "pg_typeof": typeof[i],
            "wire_oid": wire[i],
            "pg_attribute_oid": attr.get(c),
            "http": http["col_types"][i],
        }
        for i, (t, c) in enumerate(zip(SPARK_TYPES, cols))
    }


def _format_type(s: CrateSession) -> dict:
    oids = sorted(r[0] for r in s.execute("SELECT oid FROM pg_catalog.pg_type").collect())
    row = s.execute(
        "SELECT " + ", ".join(f"format_type({o}, NULL)" for o in oids)
    ).collect()[0]
    return {str(o): row[i] for i, o in enumerate(oids)}


def record(spark, storage_dir: str) -> dict:
    s = CrateSession(spark, None, storage_dir=storage_dir)
    return {
        "spellings": _spellings(s),
        "spark_types": _spark_types(s),
        "format_type": _format_type(s),
    }


def test_type_answers_match_the_golden(spark, tmp_path):
    with open(GOLDEN) as f:
        want = json.load(f)
    got = record(spark, str(tmp_path))
    diff = {
        f"{part}/{key}": (want[part].get(key), got[part].get(key))
        for part in want
        for key in set(want[part]) | set(got[part])
        if want[part].get(key) != got[part].get(key)
    }
    assert not diff, diff


if __name__ == "__main__":
    import tempfile

    from crate_spark.session import get_spark

    sp = get_spark("type-golden", cpus=2, shuffle_partitions=2)
    with tempfile.TemporaryDirectory() as d:
        golden = record(sp, d)
    with open(GOLDEN, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    sp.stop()

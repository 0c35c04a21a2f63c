"""DDL golden: the table metadata every CREATE TABLE of the statement
golden writes, pinned.

Each CREATE TABLE statement of ``statement_golden.json`` runs on a fresh
``CrateSession`` over its own storage directory. Its entry holds the
``_crate_meta.json`` of every table the statement created, by table
name, or the ``errors.error_class`` of what it raised. Re-record with
``python -m tests.test_ddl_golden`` from the repository root.
"""

from __future__ import annotations

import json
import os
import re
import tempfile

from crate_spark.dml import META_FILE
from crate_spark.engine import CrateSession
from crate_spark.errors import error_class

HERE = os.path.dirname(__file__)
GOLDEN = os.path.join(HERE, "ddl_golden.json")
STATEMENTS = os.path.join(HERE, "statement_golden.json")
_CREATE_TABLE = re.compile(r"\s*CREATE\s+TABLE\b", re.IGNORECASE)


def statements() -> list[str]:
    with open(STATEMENTS) as f:
        return [s for s in json.load(f) if _CREATE_TABLE.match(s)]


def _created(spark, stmt: str) -> dict:
    with tempfile.TemporaryDirectory() as d:
        try:
            CrateSession(spark, None, storage_dir=d).execute(stmt)
        except Exception as e:  # noqa: BLE001 - the class is the answer
            return {"error": error_class(e)}
        tables = {}
        for name in sorted(os.listdir(d)):
            meta = os.path.join(d, name, META_FILE)
            if os.path.exists(meta):
                with open(meta) as f:
                    tables[name] = json.load(f)
        return {"tables": tables}


def record(spark) -> dict:
    return {stmt: _created(spark, stmt) for stmt in statements()}


def test_ddl_metadata_matches_the_golden(spark):
    with open(GOLDEN) as f:
        want = json.load(f)
    got = record(spark)
    diff = {s: (want.get(s), got.get(s)) for s in set(want) | set(got) if want.get(s) != got.get(s)}
    assert not diff, diff


if __name__ == "__main__":
    from crate_spark.session import get_spark

    sp = get_spark("ddl-golden", cpus=2, shuffle_partitions=2)
    golden = record(sp)
    with open(GOLDEN, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    sp.stop()

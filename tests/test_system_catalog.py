"""The whole system catalog pinned: every sys / information_schema /
pg_catalog relation keeps its columns, types and (where the count is
a property of a fresh session) its row count.

``system_catalog_golden.json`` maps each relation (``schema.name``) to
its ``"column type"`` list and row count; the count is ``null`` for
the views backed by the statement log (jobs, jobs_log, sessions,
metrics, operations_log), whose rows depend on what ran before.
Re-record after an intended catalog change with
``python -m tests.test_system_catalog``.
"""

from __future__ import annotations

import json
import os
import re
import tempfile

import pytest

from crate_spark.engine import CrateSession

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "system_catalog_golden.json")
LOG_BACKED = {"sys.jobs", "sys.jobs_log", "sys.sessions", "sys.metrics", "sys.operations_log"}

with open(GOLDEN_PATH) as fh:
    GOLDEN = json.load(fh)


def relation_of(view: str) -> str:
    """Temp-view name -> relation: ``sys_jobs`` -> ``sys.jobs``."""
    return re.sub(r"^(information_schema|pg_catalog|sys)_", r"\1.", view)


def _describe(session: CrateSession, relation: str) -> dict:
    df = session.execute(f"SELECT * FROM {relation}")
    return {
        "columns": [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields],
        "rows": None if relation in LOG_BACKED else df.count(),
    }


@pytest.fixture(scope="module")
def fresh(spark, tmp_path_factory):
    return CrateSession(
        spark.newSession(), None, storage_dir=str(tmp_path_factory.mktemp("catalog"))
    )


@pytest.mark.parametrize("relation", sorted(GOLDEN))
def test_system_relation_matches_golden(fresh, relation):
    assert _describe(fresh, relation) == GOLDEN[relation]


if __name__ == "__main__":
    from crate_spark.session import get_spark
    from crate_spark.system_views import SYSTEM_VIEWS

    spark = get_spark("catalog-golden", cpus=2)
    session = CrateSession(spark.newSession(), None, storage_dir=tempfile.mkdtemp())
    relations = [relation_of(view) for view in SYSTEM_VIEWS]
    golden = {relation: _describe(session, relation) for relation in relations}
    with open(GOLDEN_PATH, "w") as fh:
        json.dump(golden, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"recorded {len(golden)} relations")

"""Rewrite golden: ``dialect.rewrite`` of every statement in
``statement_golden.json``, pinned.

Each entry maps a statement to its rewritten text, or to
``error:<class>`` where the rewrite raises. The process start time
(``pg_postmaster_start_time()``) is written as ``<process start>`` so
one recording holds in any process. Re-record with
``python -m tests.test_rewrite_golden`` from the repository root.
"""

from __future__ import annotations

import json
import os

from crate_spark import dialect

HERE = os.path.dirname(__file__)
GOLDEN = os.path.join(HERE, "rewrite_golden.json")
STATEMENTS = os.path.join(HERE, "statement_golden.json")


def _rewritten(stmt: str) -> str:
    try:
        out = dialect.rewrite(stmt)
    except Exception as e:  # noqa: BLE001 - the class is the answer
        return "error:" + type(e).__name__
    return out.replace(dialect._PROCESS_START, "<process start>")


def record() -> dict:
    with open(STATEMENTS) as f:
        statements = json.load(f)
    return {stmt: _rewritten(stmt) for stmt in statements}


def test_rewrite_answers_match_the_golden():
    with open(GOLDEN) as f:
        want = json.load(f)
    got = record()
    diff = {s: (want.get(s), got.get(s)) for s in set(want) | set(got) if want.get(s) != got.get(s)}
    assert not diff, diff


if __name__ == "__main__":
    golden = record()
    with open(GOLDEN, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")

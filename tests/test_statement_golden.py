"""Statement golden: ``classify`` against how the engine answered every
distinct statement of one tier-1 run before the classifier existed.

Each entry of ``statement_golden.json`` was recorded by wrapping
``CrateSession.execute`` during a run of ``tests/`` (quoted absolute
paths written as ``'/path'``) and holds:

- ``answered_by``: the branch that answered the statement, named by the
  statement kind that now holds that branch; null when the privilege
  check refused the statement before any branch ran
- ``privilege`` and ``targets``: the privilege class the check applied
  and the relations it applied it to (``unchecked`` where the check was
  never called)
- ``reply``: the verb of a count reply, ``rows`` for a result set, null
  when every run of the statement failed
- ``errors``: the error classes (``crate_spark.errors``) its runs raised

``_reason`` names why an entry is answered differently on purpose;
every other difference fails.
"""

from __future__ import annotations

import json
import os
import re

from crate_spark.dialect import mask
from crate_spark.statement import COUNT, SYSTEM_SCHEMAS, classify

GOLDEN = os.path.join(os.path.dirname(__file__), "statement_golden.json")


def _reason(stmt: str, diff: str) -> str | None:
    """Why ``stmt`` differs from its entry in this way, if on purpose."""
    if diff.startswith("relations miss "):
        # the old check scanned the unmasked text, so a table named only
        # inside a literal (WHERE table_name = 'orders') was checked
        masked = mask(stmt)[0].lower()
        names = json.loads(diff[len("relations miss "):].replace("'", '"'))
        if all(not re.search(rf"\b{n.split('.')[1]}\b", masked) for n in names):
            return "a table named only inside a literal is not read"
    if diff == "privilege None -> DQL" and classify(stmt).kind == "explain":
        return "EXPLAIN needs the privilege of the statement it explains"
    if diff == "privilege None -> DDL" and re.match(r"CREATE\s+OR\s+REPLACE\b", stmt, re.I):
        return "CREATE OR REPLACE is DDL like CREATE"
    st = classify(stmt)
    if diff in ("privilege None -> AL", "privilege None -> DDL") and st.kind in _ADMIN_KINDS:
        return "cluster, server, replication and schema statements need AL or DDL"
    if diff == f"reply rows -> {st.verb}" and st.kind in ("grant", "restore_snapshot", "copy", "analyze"):
        return "GRANT/DENY/REVOKE, RESTORE SNAPSHOT, COPY TO and a bare ANALYZE answer a count"
    return None


#: the kinds the parent let anyone run (privileges.rst asks AL or DDL)
_ADMIN_KINDS = {
    "alter_cluster", "reset_global", "create_server", "alter_server", "drop_server",
    "create_foreign_table", "drop_foreign_table", "create_publication",
    "alter_publication", "drop_publication", "create_subscription",
    "drop_subscription", "create_schema", "drop_schema",
}


def _differences(stmt: str, want: dict) -> list[str]:
    st = classify(stmt)
    out = []
    if want["answered_by"] not in (None, st.kind):
        out.append(f"kind {want['answered_by']} -> {st.kind}")
    if want["privilege"] == "unchecked":
        if st.privilege is not None:
            out.append(f"privilege unchecked -> {st.privilege}")
        return out
    if want["privilege"] != st.privilege:
        out.append(f"privilege {want['privilege']} -> {st.privilege}")
    names = {
        "doc." + r.partition(".")[2]
        for r in st.relations
        if r.partition(".")[0] not in SYSTEM_SCHEMAS
    }
    missing = set(want["targets"]) - names
    if missing:
        out.append(f"relations miss {sorted(missing)}")
    if want["reply"] is not None:
        reply = st.verb if st.reply == COUNT else "rows"
        if want["reply"] != reply:
            out.append(f"reply {want['reply']} -> {reply}")
    return out


def test_classify_answers_every_statement_as_recorded():
    with open(GOLDEN) as f:
        golden = json.load(f)
    unexplained = {
        stmt: diff
        for stmt, want in golden.items()
        for diff in _differences(stmt, want)
        if _reason(stmt, diff) is None
    }
    assert unexplained == {}


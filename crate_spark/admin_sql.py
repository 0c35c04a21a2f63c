"""Handlers for user/role/privilege and repository/snapshot
statements, plus the statement-level privilege check.

Reference parity:
- statements: ``docs/sql/statements/create-user.rst``,
  ``create-role.rst``, ``alter-user.rst``, ``drop-user.rst``,
  ``grant.rst``, ``deny.rst``, ``revoke.rst``,
  ``create-repository.rst``, ``create-snapshot.rst``,
  ``restore-snapshot.rst``, ``drop-snapshot.rst``
- enforcement mapping (statement class -> required permission):
  ``docs/admin/privileges.rst`` DQL/DML/DDL/AL lists;
  ``io/crate/auth/AccessControlImpl.java`` statement visitor
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame

from crate_spark.dml import CrateTable
from crate_spark.roles import PERMISSIONS, SUPERUSER, RoleStore
from crate_spark.session import local_frame, rowcount_frame
from crate_spark.snapshots import SnapshotError
from crate_spark.statement import DQL, SYSTEM_SCHEMAS, Statement

_PRIV_WORD = "|".join(PERMISSIONS)


def _names(csv: str) -> list[str]:
    return [n.strip().strip('"').lower() for n in csv.split(",") if n.strip()]


def session_authorization(session, st: Statement) -> DataFrame:
    """SET SESSION AUTHORIZATION user | DEFAULT, RESET SESSION
    AUTHORIZATION."""
    m = st.match(
        r"(?:SET\s+SESSION\s+AUTHORIZATION\s+(?:DEFAULT|['\"]?([\w]+)['\"]?)"
        r"|RESET\s+SESSION\s+AUTHORIZATION)\s*$"
    )
    session.current_user = (m.group(1) or SUPERUSER).lower()
    session.roles._get(session.current_user)  # must exist
    return local_frame(session.spark, [("OK",)], "status string")


def create_role(session, st: Statement) -> DataFrame:
    m = st.match(
        r"CREATE\s+(USER|ROLE)\s+(?:IF\s+NOT\s+EXISTS\s+)?(\"[^\"]+\"|[\w]+)"
        r"(?:\s+WITH\s*\(?\s*PASSWORD\s*=?\s*'([^']*)'\s*\)?)?\s*$"
    )
    session.roles.create(
        m.group(2).strip('"'),
        is_user=m.group(1).upper() == "USER",
        password=m.group(3),
    )
    return rowcount_frame(session.spark)


def alter_role(session, st: Statement) -> DataFrame:
    """ALTER USER x SET (password = ... | <session setting> = ..., ...)
    (alter-role.rst: password plus per-user session-setting defaults),
    ALTER USER x RESET <setting> | ALL."""
    roles: RoleStore = session.roles
    m = st.match(
        r"ALTER\s+(?:USER|ROLE)\s+(\"[^\"]+\"|[\w]+)\s+"
        r"(?:SET\s*\((.*)\)|RESET\s+(ALL|\"?[\w.]+\"?))\s*$",
        masked=True,
    )
    name = m.group(1).strip('"')
    if m.group(3):
        target = m.group(3).strip('"')
        roles.alter_session_setting(
            name, None if target.upper() == "ALL" else target, None
        )
        return rowcount_frame(session.spark)
    for key, val in st.properties(m.group(2)).items():
        if key == "password":
            roles.alter_password(name, val)
        else:
            roles.alter_session_setting(name, key, val)
    return rowcount_frame(session.spark)


def drop_role(session, st: Statement) -> DataFrame:
    m = st.match(r"DROP\s+(USER|ROLE)\s+(IF\s+EXISTS\s+)?(\"[^\"]+\"|[\w]+)\s*$")
    dropped = session.roles.drop(m.group(3).strip('"'), if_exists=bool(m.group(2)))
    return rowcount_frame(session.spark, 1 if dropped else 0)


def grant(session, st: Statement) -> DataFrame:
    """GRANT / DENY / REVOKE privileges, or GRANT role TO user /
    REVOKE role FROM user."""
    roles: RoleStore = session.roles
    m = st.match(
        rf"(GRANT|DENY|REVOKE)\s+((?:(?:{_PRIV_WORD})\s*,?\s*)+|ALL(?:\s+PRIVILEGES)?)\s*"
        r"(?:ON\s+(SCHEMA|TABLE|VIEW)\s+([\w.\",\s]+?)\s+)?"
        r"(?:TO|FROM)\s+([\w\",\s]+)\s*$",
        required=False,
    )
    if m:
        verb = m.group(1).upper()
        state = "REVOKE" if verb == "REVOKE" else verb
        perms_raw = m.group(2).upper()
        perms = (
            list(PERMISSIONS)
            if perms_raw.startswith("ALL")
            else [p.strip() for p in perms_raw.split(",") if p.strip()]
        )
        clazz = (m.group(3) or "CLUSTER").upper()
        if clazz == "CLUSTER":
            idents: list[str | None] = [None]
        else:
            idents = [
                i if "." in i or clazz == "SCHEMA" else f"doc.{i}"
                for i in _names(m.group(4))
            ]
        n = roles.apply_privileges(
            state, perms, clazz, idents, _names(m.group(5)), session.current_user
        )
        return rowcount_frame(session.spark, n)
    m = st.match(
        r"(GRANT|REVOKE)\s+(?!(?:TABLE|SCHEMA|VIEW)\b)([\w\",\s]+?)\s+"
        r"(?:TO|FROM)\s+([\w\",\s]+)\s*$"
    )
    names, grantees = _names(m.group(2)), _names(m.group(3))
    if m.group(1).upper() == "GRANT":
        n = roles.grant_roles(names, grantees, session.current_user)
    else:
        n = roles.revoke_roles(names, grantees)
    return rowcount_frame(session.spark, n)


def create_repository(session, st: Statement) -> DataFrame:
    m = st.match(
        r"CREATE\s+REPOSITORY\s+\"?([\w]+)\"?\s+TYPE\s+\"?(\w+)\"?"
        r"(?:\s+WITH\s*\((.*)\))?\s*$",
        masked=True,
    )
    settings = st.properties(m.group(3) or "")
    if m.group(2).lower() == "fs":
        settings.setdefault(
            "location",
            os.path.join(session.storage_dir, "_repo_" + m.group(1).lower()),
        )
    session.snapshots.create_repository(m.group(1), m.group(2), settings)
    return rowcount_frame(session.spark)


def alter_repository(session, st: Statement) -> DataFrame:
    """ALTER REPOSITORY name SET (...) | RESET prop [, prop ...]
    (alter-repository.rst:72-77)."""
    m = st.match(
        r"ALTER\s+REPOSITORY\s+\"?([\w]+)\"?\s+(?:SET\s*\((.*)\)|RESET\s+(.+?))\s*$",
        masked=True,
    )
    if m.group(3):
        session.snapshots.reset_repository_settings(m.group(1), list(st.properties(m.group(3))))
    else:
        session.snapshots.alter_repository(m.group(1), st.properties(m.group(2)))
    return rowcount_frame(session.spark)


def drop_repository(session, st: Statement) -> DataFrame:
    m = st.match(r"DROP\s+REPOSITORY\s+\"?([\w]+)\"?\s*$")
    session.snapshots.drop_repository(m.group(1))
    return rowcount_frame(session.spark)


def create_snapshot(session, st: Statement) -> DataFrame:
    m = st.match(
        r"CREATE\s+SNAPSHOT\s+\"?([\w]+)\"?\.\"?([\w]+)\"?\s+"
        r"(ALL|TABLE\s+.+?)(?:\s+WITH\s*\(.*\))?\s*$"
    )
    repo, snap, what = m.group(1), m.group(2), m.group(3)
    if what.upper() == "ALL":
        names = sorted(session.tables)
    else:
        # table list entries may carry PARTITION clauses
        # (snapshots.rst:96): partition granularity collapses to
        # the owning table on the flat parquet store
        listed = re.sub(
            r"PARTITION\s*\([^)]*\)", "", what[len("TABLE"):],
            flags=re.IGNORECASE,
        )
        names = [n.split(".")[-1] for n in _names(listed)]
    tables, metas = {}, {}
    for name in names:
        if name not in session.tables:
            raise ValueError(f"Table '{name}' does not exist")
        ct = session._dml.crate_tables.get(name)
        if ct is not None:
            tables[name] = ct.read()
            metas[name] = {
                "schema_ddl": ct.schema_ddl,
                "primary_key": ct.primary_key,
                "partitioned_by": ct.partitioned_by,
                "generated": ct.generated,
                "checks": ct.checks,
                "defaults": ct.defaults,
                "settings": ct.settings,
            }
        else:
            tables[name] = session.tables[name]
    session.snapshots.create_snapshot(repo, snap, tables, metas)
    return rowcount_frame(session.spark, len(names))


def drop_snapshot(session, st: Statement) -> DataFrame:
    m = st.match(r"DROP\s+SNAPSHOT\s+\"?([\w]+)\"?\.\"?([\w]+)\"?\s*$")
    session.snapshots.drop_snapshot(m.group(1), m.group(2))
    return rowcount_frame(session.spark)


def restore_snapshot(session, st: Statement) -> DataFrame:
    spark = session.spark
    m = st.match(
        r"RESTORE\s+SNAPSHOT\s+\"?([\w]+)\"?\.\"?([\w]+)\"?"
        r"(?:\s+(ALL|TABLE\s+.+?))?(?:\s+WITH\s*\(.*\))?\s*$"
    )
    only = None
    if m.group(3) and m.group(3).upper() != "ALL":
        raw_list = m.group(3)[len("TABLE"):]
        # partition-scoped restores (snapshots.rst:178) import into
        # an existing partitioned table; a plain TABLE restore of
        # an existing relation is rejected like the reference's
        partitioned = {
            n.split(".")[-1].lower()
            for n in re.findall(
                r'([\w."]+)\s+PARTITION\s*\(', raw_list, re.IGNORECASE
            )
        }
        listed = re.sub(
            r"PARTITION\s*\([^)]*\)", "", raw_list, flags=re.IGNORECASE
        )
        only = [n.split(".")[-1] for n in _names(listed)]
        for name in only:
            if name not in partitioned and name in session.tables:
                raise SnapshotError(
                    f"Relation 'doc.{name}' already exists."
                )
    restored = session.snapshots.restore_tables(m.group(1), m.group(2), only)
    for name, src, tmeta in restored:
        df = spark.read.parquet(src)
        path = os.path.join(session.storage_dir, name)
        # distributed copy into the live table dir, then metadata
        df.write.mode("overwrite").parquet(path)
        meta = tmeta or {
            "schema_ddl": ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
            )
        }
        t = CrateTable(spark, path, **meta)
        t._save_meta()
        session._dml.crate_tables[name] = t
        session.register(name, t.relation())
        # sys.snapshot_restore feed (SysSnapshotRestoreTableInfo)
        session._restores.append((m.group(1), m.group(2), name))
    return rowcount_frame(spark, len(restored))


# -- statement-level enforcement ----------------------------------------


def check_privileges(session, st: Statement) -> None:
    """Reject ``st`` unless the session user may run it
    (AccessControlImpl analog): its privilege class on the relation it
    writes, else on the cluster, and DQL on every stored relation a
    query, or a statement that writes one relation, reads. Superuser
    short-circuits."""
    user = session.current_user
    if (
        st.privilege is None
        or user == SUPERUSER
        or session.roles.roles[user].superuser
    ):
        return
    roles: RoleStore = session.roles
    if st.target:
        # storage is one flat namespace: every schema's t is doc.t
        roles.check(user, st.privilege, "TABLE", "doc." + st.target.partition(".")[2])
    elif st.privilege != DQL:
        roles.check(user, st.privilege)
        return
    stored = {t.lower() for t in session.tables}
    for rel in st.relations:
        schema, _, name = rel.partition(".")
        if rel != st.target and schema not in SYSTEM_SCHEMAS and name in stored:
            roles.check(user, DQL, "TABLE", f"doc.{name}")

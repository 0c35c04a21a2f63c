"""SQL routing for user/role/privilege and repository/snapshot
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
from crate_spark.snapshots import SnapshotError, SnapshotStore

_PRIV_WORD = "|".join(PERMISSIONS)


def _parse_with(body: str) -> dict:
    """WITH (k='v', k2=v2) -> dict (lowercased keys)."""
    out = {}
    for part in re.split(r",(?=(?:[^']*'[^']*')*[^']*$)", body):
        m = re.match(r"\s*(\w+)\s*=\s*(.+?)\s*$", part)
        if m:
            out[m.group(1).lower()] = m.group(2).strip().strip("'\"")
    return out


def _names(csv: str) -> list[str]:
    return [n.strip().strip('"').lower() for n in csv.split(",") if n.strip()]


def route_admin(session, stmt: str) -> DataFrame | None:
    """Handle an admin statement; None if ``stmt`` is not one."""
    spark = session.spark
    roles: RoleStore = session.roles
    snaps: SnapshotStore = session.snapshots

    # -- session authorization ------------------------------------------
    m = re.match(
        r"SET\s+SESSION\s+AUTHORIZATION\s+(?:DEFAULT|'?([\w]+)'?)\s*$",
        stmt,
        re.IGNORECASE,
    )
    if m:
        session.current_user = (m.group(1) or SUPERUSER).lower()
        roles._get(session.current_user)  # must exist
        return local_frame(spark, [("OK",)], "status string")
    if re.match(r"RESET\s+SESSION\s+AUTHORIZATION\s*$", stmt, re.IGNORECASE):
        session.current_user = SUPERUSER
        return local_frame(spark, [("OK",)], "status string")

    # -- users / roles ---------------------------------------------------
    m = re.match(
        r"CREATE\s+(USER|ROLE)\s+(?:IF\s+NOT\s+EXISTS\s+)?(\"[^\"]+\"|[\w]+)"
        r"(?:\s+WITH\s*\(?\s*PASSWORD\s*=?\s*'([^']*)'\s*\)?)?\s*$",
        stmt,
        re.IGNORECASE,
    )
    if m:
        roles.create(
            m.group(2).strip('"'),
            is_user=m.group(1).upper() == "USER",
            password=m.group(3),
        )
        return rowcount_frame(spark)

    # ALTER USER x SET (password = ... | <session setting> = ..., ...)
    # (alter-role.rst: password plus per-user session-setting defaults)
    m = re.match(
        r"ALTER\s+(?:USER|ROLE)\s+(\"[^\"]+\"|[\w]+)\s+SET\s*\((.*)\)\s*$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        name = m.group(1).strip('"')
        for item in re.split(r",(?=(?:[^']*'[^']*')*[^']*$)", m.group(2)):
            km = re.match(
                r"\s*\"?([\w.]+)\"?\s*=\s*(?:'([^']*)'|(NULL))\s*$",
                item,
                re.IGNORECASE,
            )
            if not km:
                raise ValueError(f"Cannot parse ALTER setting: {item!r}")
            key = km.group(1).lower()
            val = None if km.group(3) else km.group(2)
            if key == "password":
                roles.alter_password(name, val)
            else:
                roles.alter_session_setting(name, key, val)
        return rowcount_frame(spark)

    # ALTER USER x RESET <setting> / RESET ALL
    m = re.match(
        r"ALTER\s+(?:USER|ROLE)\s+(\"[^\"]+\"|[\w]+)\s+RESET\s+"
        r"(ALL|\"?[\w.]+\"?)\s*$",
        stmt,
        re.IGNORECASE,
    )
    if m:
        name = m.group(1).strip('"')
        target = m.group(2).strip('"')
        if target.upper() == "ALL":
            roles.alter_session_setting(name, None, None)
        else:
            roles.alter_session_setting(name, target, None)
        return rowcount_frame(spark)

    m = re.match(
        r"DROP\s+(USER|ROLE)\s+(IF\s+EXISTS\s+)?(\"[^\"]+\"|[\w]+)\s*$",
        stmt,
        re.IGNORECASE,
    )
    if m:
        dropped = roles.drop(m.group(3).strip('"'), if_exists=bool(m.group(2)))
        return rowcount_frame(spark, 1 if dropped else 0)

    # -- GRANT / DENY / REVOKE ------------------------------------------
    m = re.match(
        rf"(GRANT|DENY|REVOKE)\s+((?:(?:{_PRIV_WORD})\s*,?\s*)+|ALL(?:\s+PRIVILEGES)?)\s*"
        r"(?:ON\s+(SCHEMA|TABLE|VIEW)\s+([\w.\",\s]+?)\s+)?"
        r"(?:TO|FROM)\s+([\w\",\s]+)\s*$",
        stmt,
        re.IGNORECASE,
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
        return rowcount_frame(spark, n)

    # GRANT role1, role2 TO user / REVOKE role FROM user
    m = re.match(
        r"(GRANT|REVOKE)\s+([\w\",\s]+?)\s+(?:TO|FROM)\s+([\w\",\s]+)\s*$",
        stmt,
        re.IGNORECASE,
    )
    if m and not re.match(r"\s*(TABLE|SCHEMA|VIEW)\b", m.group(2), re.IGNORECASE):
        names, grantees = _names(m.group(2)), _names(m.group(3))
        if m.group(1).upper() == "GRANT":
            n = roles.grant_roles(names, grantees, session.current_user)
        else:
            n = roles.revoke_roles(names, grantees)
        return rowcount_frame(spark, n)

    # -- repositories ----------------------------------------------------
    m = re.match(
        r"CREATE\s+REPOSITORY\s+\"?([\w]+)\"?\s+TYPE\s+\"?(\w+)\"?"
        r"(?:\s+WITH\s*\((.*)\))?\s*$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        settings = _parse_with(m.group(3) or "")
        if m.group(2).lower() == "fs":
            settings.setdefault(
                "location",
                os.path.join(session.storage_dir, "_repo_" + m.group(1).lower()),
            )
        snaps.create_repository(m.group(1), m.group(2), settings)
        return rowcount_frame(spark)

    m = re.match(
        r"ALTER\s+REPOSITORY\s+\"?([\w]+)\"?\s+SET\s*\((.*)\)\s*$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        snaps.alter_repository(m.group(1), _parse_with(m.group(2)))
        return rowcount_frame(spark)

    # ALTER REPOSITORY name RESET prop [, prop ...]
    # (alter-repository.rst:72-77)
    m = re.match(
        r"ALTER\s+REPOSITORY\s+\"?([\w]+)\"?\s+RESET\s+(.+?)\s*$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        props = [p.strip().strip('"') for p in m.group(2).split(",")]
        snaps.reset_repository_settings(m.group(1), props)
        return rowcount_frame(spark)

    m = re.match(r"DROP\s+REPOSITORY\s+\"?([\w]+)\"?\s*$", stmt, re.IGNORECASE)
    if m:
        snaps.drop_repository(m.group(1))
        return rowcount_frame(spark)

    # -- snapshots -------------------------------------------------------
    m = re.match(
        r"CREATE\s+SNAPSHOT\s+\"?([\w]+)\"?\.\"?([\w]+)\"?\s+"
        r"(ALL|TABLE\s+.+?)(?:\s+WITH\s*\(.*\))?\s*$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
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
        snaps.create_snapshot(repo, snap, tables, metas)
        return rowcount_frame(spark, len(names))

    m = re.match(
        r"DROP\s+SNAPSHOT\s+\"?([\w]+)\"?\.\"?([\w]+)\"?\s*$", stmt, re.IGNORECASE
    )
    if m:
        snaps.drop_snapshot(m.group(1), m.group(2))
        return rowcount_frame(spark)

    m = re.match(
        r"RESTORE\s+SNAPSHOT\s+\"?([\w]+)\"?\.\"?([\w]+)\"?"
        r"(?:\s+(ALL|TABLE\s+.+?))?(?:\s+WITH\s*\(.*\))?\s*$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
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
        restored = snaps.restore_tables(m.group(1), m.group(2), only)
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

    return None


# -- statement-level enforcement ----------------------------------------

#: statement prefix -> required permission (privileges.rst lists)
_DML_RE = re.compile(r"^(INSERT|UPDATE|DELETE|COPY\s+\S+\s+FROM)\b", re.IGNORECASE)
_DDL_RE = re.compile(
    r"^(CREATE|DROP|ALTER)\s+(BLOB\s+TABLE|TABLE|VIEW|FUNCTION|ANALYZER|REPOSITORY|SNAPSHOT)\b"
    r"|^(RESTORE\s+SNAPSHOT|OPTIMIZE)\b",
    re.IGNORECASE,
)
_AL_RE = re.compile(
    r"^(CREATE|DROP|ALTER)\s+(USER|ROLE)\b|^(GRANT|DENY|REVOKE|KILL|SET\s+GLOBAL)\b",
    re.IGNORECASE,
)
_DQL_RE = re.compile(r"^(SELECT|WITH|SHOW|REFRESH|COPY\s+\S+\s+TO|DECLARE|FETCH|VALUES)\b", re.IGNORECASE)


def _dml_target(stmt: str) -> str | None:
    m = re.match(
        r"(?:INSERT\s+INTO|UPDATE|DELETE\s+FROM|COPY)\s+\"?([\w.]+)\"?",
        stmt,
        re.IGNORECASE,
    )
    return m.group(1).split(".")[-1].lower() if m else None


def check_privileges(session, stmt: str) -> None:
    """Reject ``stmt`` unless the session user may run it
    (AccessControlImpl analog). Superuser short-circuits."""
    user = session.current_user
    if user == SUPERUSER or session.roles.roles[user].superuser:
        return
    roles: RoleStore = session.roles
    if _AL_RE.match(stmt):
        roles.check(user, "AL")
        return
    if _DDL_RE.match(stmt):
        m = re.match(
            r"(?:CREATE|DROP|ALTER)\s+(?:TABLE|VIEW)\s+(?:IF\s+(?:NOT\s+)?EXISTS\s+)?\"?([\w.]+)\"?",
            stmt,
            re.IGNORECASE,
        )
        if m:
            name = m.group(1).split(".")[-1].lower()
            roles.check(user, "DDL", "TABLE", f"doc.{name}")
        else:
            roles.check(user, "DDL")
        return
    if _DML_RE.match(stmt):
        target = _dml_target(stmt)
        if target:
            roles.check(user, "DML", "TABLE", f"doc.{target}")
        else:
            roles.check(user, "DML")
        return
    if _DQL_RE.match(stmt):
        # per-relation DQL on every known table referenced
        # (AccessControlImpl visits each analyzed relation)
        hit = False
        for name in session.tables:
            if re.search(rf"(?<![\w.\"]){re.escape(name)}\b", stmt, re.IGNORECASE):
                roles.check(user, "DQL", "TABLE", f"doc.{name}")
                hit = True
        if not hit:
            # table-free SELECT (SELECT 1): any user may run it, like
            # the reference (no relation -> no privilege subject)
            pass
        return
    # everything else (session no-ops, transaction stmts): allowed

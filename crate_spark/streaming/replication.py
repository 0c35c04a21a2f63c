"""Logical replication — publications and subscriptions.

Reference parity:
- ``docs/admin/logical-replication.rst``: publisher defines
  ``CREATE PUBLICATION pub FOR TABLE t1, t2 | FOR ALL TABLES``;
  subscriber runs ``CREATE SUBSCRIPTION sub CONNECTION '...'
  PUBLICATION pub`` and receives an initial snapshot plus a
  continuous stream of changes; subscribed tables are READ-ONLY on
  the subscriber until the subscription is dropped
- statements: ``create-publication.rst``, ``alter-publication.rst``,
  ``create-subscription.rst``, ``drop-publication.rst``,
  ``drop-subscription.rst``
- catalog: ``pg_catalog.pg_publication``, ``pg_publication_tables``,
  ``pg_subscription`` (metadata/pgcatalog/)

Spark-first: the change stream IS Structured Streaming's file source.
An INSERT into a published table commits its batch as new part files
and never rewrites the table's small tail with it
(dml.CrateTable._small_tail), so ``spark.readStream.parquet`` over the
published table directory captures inserts incrementally — initial
files are batch 0 (the snapshot), later files arrive as micro-batches
into the subscriber's table directory via the parquet sink with
exactly-once checkpointing. This is append-capture: UPDATE/DELETE on
the publisher rewrite files and are NOT replayed (documented
divergence — re-create the subscription to re-sync); the reference's
WAL shipping has no parquet analog. The subscriber's table has no
manifest while the sink writes it, so it is read as its directory (the
sink's log) until its first own commit.

The connection string is ``file://<publisher storage_dir>`` — the
storage-dir handoff is this engine's cluster-URL analog. Publications
are discoverable across sessions through ``_publications.json`` in
the publisher's storage dir.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

from crate_spark.session import rowcount_frame
from crate_spark.statement import Statement


class ReplicationError(Exception):
    """Publication/subscription failure."""


PUB_FILE = "_publications.json"


def _catalog(storage_dir: str) -> dict | None:
    """The publications persisted in ``storage_dir``: name -> {
    "all_tables", "tables", "owner"}; None when none was ever made."""
    try:
        with open(os.path.join(storage_dir, PUB_FILE)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def published(storage_dir: str, table: str) -> bool:
    """True when a publication in ``storage_dir`` names ``table``.
    Its subscribers stream every new part file of the table, so an
    append to it must not rewrite stored rows into a new file."""
    pubs = _catalog(storage_dir) or {}
    return any(p["all_tables"] or table in p["tables"] for p in pubs.values())


class PublicationStore:
    """Publisher-side catalog, persisted so other sessions can read."""

    def __init__(self, storage_dir: str) -> None:
        self.storage_dir = storage_dir
        self.pubs: dict[str, dict] = {}
        self._load()

    def _pub_path(self) -> str:
        return os.path.join(self.storage_dir, PUB_FILE)

    def _load(self) -> None:
        self.pubs = _catalog(self.storage_dir) or {}

    def _save(self) -> None:
        with open(self._pub_path(), "w") as f:
            json.dump(self.pubs, f, indent=2)

    def create(self, name: str, tables: list[str] | None, owner: str) -> None:
        key = name.lower()
        if key in self.pubs:
            raise ReplicationError(f"Publication '{name}' already exists")
        self.pubs[key] = {
            "all_tables": tables is None,
            "tables": sorted(t.lower() for t in tables) if tables else [],
            "owner": owner,
        }
        self._save()

    def alter(self, name: str, add: list[str], drop: list[str]) -> None:
        pub = self._get(name)
        if pub["all_tables"]:
            raise ReplicationError("Cannot ALTER a FOR ALL TABLES publication")
        tables = set(pub["tables"])
        tables |= {t.lower() for t in add}
        tables -= {t.lower() for t in drop}
        pub["tables"] = sorted(tables)
        self._save()

    def drop(self, name: str, *, if_exists: bool = False) -> bool:
        key = name.lower()
        if key not in self.pubs:
            if if_exists:
                return False
            raise ReplicationError(f"Publication '{name}' does not exist")
        del self.pubs[key]
        self._save()
        return True

    def _get(self, name: str) -> dict:
        key = name.lower()
        if key not in self.pubs:
            raise ReplicationError(f"Publication '{name}' does not exist")
        return self.pubs[key]


@dataclass
class Subscription:
    name: str
    connection: str
    publication: str
    tables: list[str] = field(default_factory=list)
    queries: list = field(default_factory=list)  # StreamingQuery handles
    enabled: bool = True


def _connection_dir(connection: str) -> str:
    m = re.match(r"^file://(/.*)$", connection)
    if m:
        return m.group(1)
    if connection.startswith("/"):
        return connection
    raise ReplicationError(
        f"Unsupported connection '{connection}' — use file:///path/to/publisher/storage"
    )


class SubscriptionStore:
    """Subscriber-side catalog + running streams."""

    def __init__(self) -> None:
        self.subs: dict[str, Subscription] = {}

    def create(self, session, name: str, connection: str, publication: str) -> Subscription:
        key = name.lower()
        if key in self.subs:
            raise ReplicationError(f"Subscription '{name}' already exists")
        pub_dir = _connection_dir(connection)
        pubs = _catalog(pub_dir)
        if pubs is None:
            raise ReplicationError(f"No publications found at '{connection}'")
        pub = pubs.get(publication.lower())
        if pub is None:
            raise ReplicationError(
                f"Publication '{publication}' does not exist on the publisher"
            )
        if pub["all_tables"]:
            tables = sorted(
                d for d in os.listdir(pub_dir)
                if os.path.isfile(os.path.join(pub_dir, d, "_crate_meta.json"))
            )
        else:
            tables = pub["tables"]
        if not tables:
            raise ReplicationError(f"Publication '{publication}' has no tables")

        from crate_spark.dml import CrateTable

        sub = Subscription(key, connection, publication.lower(), tables=tables)
        for tname in tables:
            src = os.path.join(pub_dir, tname)
            if not os.path.isfile(os.path.join(src, "_crate_meta.json")):
                raise ReplicationError(
                    f"Published table '{tname}' not found on the publisher"
                )
            remote = CrateTable.open(session.spark, src)
            local_path = os.path.join(session.storage_dir, tname)
            if os.path.exists(os.path.join(local_path, "_crate_meta.json")):
                raise ReplicationError(
                    f"Table '{tname}' already exists on the subscriber"
                )
            local = CrateTable.create(
                session.spark,
                local_path,
                remote.schema_ddl,
                primary_key=remote.primary_key,
                partitioned_by=remote.partitioned_by,
                generated=remote.generated,
                checks=remote.checks,
                defaults=remote.defaults,
                settings=remote.settings,
            )
            schema = remote.schema
            ckpt = os.path.join(
                session.storage_dir, f"_sub_ckpt_{key}_{tname}"
            )
            q = (
                session.spark.readStream.schema(schema)
                .option("recursiveFileLookup", "true")
                .parquet(src)
                .writeStream.format("parquet")
                .option("path", local_path)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="500 milliseconds")
                .start()
            )
            sub.queries.append(q)
            session._dml.crate_tables[tname] = local
            session.subscribed_tables.add(tname)
            session.register(tname, local.relation())
        self.subs[key] = sub
        return sub

    def drop(self, session, name: str, *, if_exists: bool = False) -> bool:
        key = name.lower()
        sub = self.subs.pop(key, None)
        if sub is None:
            if if_exists:
                return False
            raise ReplicationError(f"Subscription '{name}' does not exist")
        for q in sub.queries:
            try:
                q.stop()
            except Exception:
                pass
        # drop-subscription.rst: tables stay and become writable again.
        # Drop the parquet-sink _spark_metadata log — while it exists,
        # batch readers trust it as the file manifest and would never
        # see post-subscription writes.
        import shutil

        for tname in sub.tables:
            shutil.rmtree(
                os.path.join(session.storage_dir, tname, "_spark_metadata"),
                ignore_errors=True,
            )
            ct = session._dml.crate_tables.get(tname)
            if ct is not None:
                session.register(tname, ct.relation())
        session.subscribed_tables -= set(sub.tables)
        return True

    def wait_for_sync(self, name: str) -> None:
        """Block until every stream has processed all currently-visible
        source files (the initial-snapshot handshake in the
        reference's subscription state machine; also the test hook
        for 'changes arrived')."""
        sub = self.subs[name.lower()]
        for q in sub.queries:
            q.processAllAvailable()


def _settle(session, tables: list[str] | None) -> None:
    """Delete the files a commit retired from the newly published
    ``tables`` (None: all) while no reader needs them, so a
    subscription's snapshot does not read replaced rows again."""
    for name, ct in list(session._dml.crate_tables.items()):
        if tables is None or name in tables:
            ct.delete_retired()


def create_publication(session, st: Statement):
    m = st.match(
        r"CREATE\s+PUBLICATION\s+\"?([\w]+)\"?\s+FOR\s+"
        r"(ALL\s+TABLES|TABLE\s+[\w.\",\s]+?)\s*$"
    )
    what = m.group(2)
    tables = (
        None
        if what.upper().startswith("ALL")
        else [t.strip().strip('"').split(".")[-1] for t in what[len("TABLE"):].split(",")]
    )
    if tables:
        for t in tables:
            if t not in session._dml.crate_tables and not os.path.isfile(
                os.path.join(session.storage_dir, t, "_crate_meta.json")
            ):
                raise ReplicationError(
                    f"Cannot publish '{t}': only stored tables are publishable"
                )
    session.publications.create(m.group(1), tables, session.current_user)
    _settle(session, tables)
    return rowcount_frame(session.spark)


def alter_publication(session, st: Statement):
    m = st.match(
        r"ALTER\s+PUBLICATION\s+\"?([\w]+)\"?\s+(ADD|DROP|SET)\s+TABLE\s+([\w.\",\s]+)\s*$"
    )
    names = [t.strip().strip('"').split(".")[-1] for t in m.group(3).split(",")]
    verb = m.group(2).upper()
    if verb == "SET":
        pub = session.publications._get(m.group(1))
        pub["tables"] = sorted(n.lower() for n in names)
        session.publications._save()
    else:
        session.publications.alter(
            m.group(1),
            add=names if verb == "ADD" else [],
            drop=names if verb == "DROP" else [],
        )
    if verb != "DROP":
        _settle(session, names)
    return rowcount_frame(session.spark)


def drop_publication(session, st: Statement):
    m = st.match(r"DROP\s+PUBLICATION\s+(IF\s+EXISTS\s+)?\"?([\w]+)\"?\s*$")
    dropped = session.publications.drop(m.group(2), if_exists=bool(m.group(1)))
    return rowcount_frame(session.spark, 1 if dropped else 0)


def create_subscription(session, st: Statement):
    m = st.match(
        r"CREATE\s+SUBSCRIPTION\s+\"?([\w]+)\"?\s+CONNECTION\s+'([^']+)'\s+"
        r"PUBLICATION\s+\"?([\w]+)\"?\s*(?:WITH\s*\(.*\))?\s*$"
    )
    session.subscriptions.create(session, m.group(1), m.group(2), m.group(3))
    return rowcount_frame(session.spark)


def drop_subscription(session, st: Statement):
    m = st.match(r"DROP\s+SUBSCRIPTION\s+(IF\s+EXISTS\s+)?\"?([\w]+)\"?\s*$")
    dropped = session.subscriptions.drop(
        session, m.group(2), if_exists=bool(m.group(1))
    )
    return rowcount_frame(session.spark, 1 if dropped else 0)

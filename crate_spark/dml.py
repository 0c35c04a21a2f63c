"""DML over Parquet-backed tables: CREATE TABLE, INSERT (VALUES /
SELECT / ON CONFLICT upsert), UPDATE, DELETE, COPY FROM/TO, RETURNING.

Reference parity (SURVEY.md §2.1):
- INSERT / upsert: ``planner/operators/Insert.java:51``,
  ``InsertFromValues``, ON CONFLICT DO UPDATE/NOTHING
  (``docs/sql/statements/insert.rst:25-27``)
- UPDATE/DELETE: query-then-write per shard
  (``execution/dsl/projection/UpdateProjection.java``,
  ``DeleteProjection.java``); whole-partition DELETE drops the
  partition (``planner/node/ddl/DeletePartitions.java``)
- COPY FROM/TO: ``planner/statement/CopyFromPlan.java`` /
  ``CopyToPlan.java``, formats csv/json, RETURN SUMMARY
  (``FileReadingIterator.java:82``), export formats
  ``WriterProjection.java:66`` (JSON_OBJECT/JSON_ARRAY)
- generated columns / PK / CHECK: ``metadata/doc/DocTableInfo.java:174-201``

Storage model: one directory per table; Hive-style subdirectories when
``partitioned_by`` is set; table attributes (PK, generated columns,
checks, partitioning) in ``_crate_meta.json``. Part files are
immutable. The commit point is ``_crate_manifest.json``, the list of
live files, which every write replaces with ``os.replace`` (the analog
of a Lucene commit point plus refresh): a read resolves it once and
scans exactly those files, and a table no commit has listed yet
(restored, subscribed, pre-existing) reads its directory as version 0.
An append adds its batch as new files. On an unpartitioned, unclustered
table a batch that fits one split is written together with the table's
small tail (its files at or under the split-size floor) as one file in
the same job, the merge-policy analog of OPTIMIZE, so a hot table stays
one split. UPDATE, DELETE, upsert, OPTIMIZE and ALTER write the new
content as new files and list only those. Replaced files are retired,
not deleted: a later commit deletes them once no statement that started
before the retirement is still being served (``serving``) and no plan
built before it is still held (``hold``: a returned frame, a cursor, a
pg-wire portal), so a reader never loses a file it listed. At
production scale the same API fronts a transactional table format
(Delta/Iceberg); the semantics here are what the tests pin down.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import re
import shutil
import tempfile
import threading
import uuid
import weakref
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crate_spark.session import (
    backticked, conf_scope, ddl_schema, local_frame, one_split, parquet_files,
    split_floor,
)
from crate_spark.streaming.replication import published

META_FILE = "_crate_meta.json"
#: the commit point: the table's live files, replaced whole by each
#: commit (underscore-prefixed, so Spark's file listing skips it)
MANIFEST_FILE = "_crate_manifest.json"

#: Spark lists more explicit paths than this in a job (its default)
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_SERIAL_LISTING = 32

#: one mutation at a time across all tables. A mutation reads the
#: current content (PK-clash check, UPDATE/DELETE rewrite) and then
#: commits; front-door threads share the session, so without this two
#: INSERTs of one key could both pass the check and an UPDATE could
#: drop a concurrent INSERT. Reads take no lock.
_WRITE_LOCK = threading.RLock()


def _serialized(method):
    """Run a CrateTable mutation under ``_WRITE_LOCK`` (re-entrant:
    mutations nest, e.g. update -> _overwrite)."""
    @functools.wraps(method)
    def locked(self, *args, **kwargs):
        with _WRITE_LOCK:
            return method(self, *args, **kwargs)
    return locked


#: statements being served, process-wide like ``_WRITE_LOCK`` (any
#: session's statement may read any table's files): token -> sequence
#: number at their start. A retired file is deleted only once every
#: statement that started before its retirement has finished.
_SERVING: dict[object, int] = {}
_SEQ = itertools.count(1)
_SERVING_LOCK = threading.Lock()
#: tokens of held frames that were released; ``delete_retired`` drops
#: them from ``_SERVING`` under the lock (a finalizer may run on any
#: thread at any allocation, also while that thread holds the lock)
_RELEASED: list = []
#: ``start``: the sequence number the current statement of this thread
#: started at; ``retired``: the batches it retired, stamped when it ends
_SERVED = threading.local()


@contextmanager
def serving():
    """Mark the enclosed span as one statement being served, from its
    start to its last row; the front doors wrap each request, and
    ``CrateSession.execute`` each statement (an inner scope counts as
    part of the outer one). A retirement takes effect when the
    committing statement ends, after its caller has registered the
    table's new relation: a statement that starts later cannot read
    the replaced files."""
    if getattr(_SERVED, "retired", None) is not None:
        yield
        return
    token = object()
    with _SERVING_LOCK:
        _SERVED.start = _SERVING[token] = next(_SEQ)
    _SERVED.retired = []
    try:
        yield
    finally:
        retired, _SERVED.retired = _SERVED.retired, None
        with _SERVING_LOCK:
            tag = next(_SEQ)
            for batch in retired:
                batch[0] = tag
            del _SERVING[token]


def hold(frame: DataFrame) -> weakref.finalize:
    """Keep the files ``frame`` may read while it is alive: a plan that
    outlives its statement (a frame returned to an ``execute`` caller,
    a pg-wire portal, a cursor) is served from the start of the
    statement that built it until ``frame`` is garbage collected or the
    returned finalizer is called, whichever comes first."""
    token = object()
    with _SERVING_LOCK:
        inside = getattr(_SERVED, "retired", None) is not None
        _SERVING[token] = _SERVED.start if inside else next(_SEQ)
    return weakref.finalize(frame, _RELEASED.append, token)


class CheckViolation(Exception):
    """A CHECK constraint rejected one or more rows."""


class DuplicateKeyError(Exception):
    """INSERT without ON CONFLICT hit an existing primary key."""


@dataclass
class CrateTable:
    """A Parquet-backed table with CrateDB-style write semantics."""

    spark: SparkSession
    path: str
    schema_ddl: str
    primary_key: list[str] = field(default_factory=list)
    partitioned_by: list[str] = field(default_factory=list)
    generated: dict[str, str] = field(default_factory=dict)
    #: write-time form of each generated expression — dialect-rewritten
    #: and UDF-dispatch-resolved at CREATE so F.expr can evaluate it;
    #: ``generated`` keeps the user's spelling for SHOW CREATE TABLE
    generated_eval: dict[str, str] = field(default_factory=dict)
    checks: list[str] = field(default_factory=list)
    defaults: dict[str, str] = field(default_factory=dict)
    #: WITH (...) storage/replication settings (create-table.rst) —
    #: advisory metadata on Parquet (no replicas to configure), kept
    #: for ALTER TABLE SET/RESET and SHOW CREATE TABLE parity
    settings: dict[str, str] = field(default_factory=dict)
    #: CLUSTERED BY routing key + shard count (create-table.rst;
    #: DistributionType MODULO analog): writes hash-repartition on the
    #: key into `shards` routed files per batch
    clustered_by: list[str] = field(default_factory=list)
    shards: int | None = None
    #: named fulltext indexes: index name -> source columns
    #: (fulltext-indices.rst composite INDEX ... USING FULLTEXT(cols))
    ft_indexes: dict[str, list] = field(default_factory=dict)
    #: columns declared NOT NULL (explicitly or via PRIMARY KEY) —
    #: surfaced as {schema}_{table}_{col}_not_null CHECK rows in
    #: information_schema.table_constraints (information-schema.rst:600)
    not_null: list = field(default_factory=list)
    #: declared crate column types, in DDL order:
    #: [{"name", "type", "children": [...]}] — "type" is the
    #: reference's information_schema data_type spelling; object
    #: columns carry their declared subcolumns (recursively), which
    #: information_schema.columns expands into col['sub'] rows
    #: (information-schema.rst:363-381)
    crate_columns: list = field(default_factory=list)
    #: retired files awaiting deletion: [stamp, paths relative to the
    #: table directory]; the stamp is None while the retiring
    #: statement is still being served
    _retired: list = field(default_factory=list, init=False, repr=False, compare=False)

    @property
    def schema(self) -> T.StructType:
        """The declared schema, parsed once per ``schema_ddl`` value
        (ALTER TABLE and dynamic inserts assign a new one)."""
        return ddl_schema(self.schema_ddl)

    # -- catalog ---------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema_ddl: str,
        *,
        primary_key: list[str] | None = None,
        partitioned_by: list[str] | None = None,
        generated: dict[str, str] | None = None,
        generated_eval: dict[str, str] | None = None,
        checks: list[str] | None = None,
        defaults: dict[str, str] | None = None,
        settings: dict[str, str] | None = None,
        clustered_by: list[str] | None = None,
        shards: int | None = None,
        ft_indexes: dict[str, list] | None = None,
        crate_columns: list | None = None,
        not_null: list | None = None,
    ) -> "CrateTable":
        os.makedirs(path, exist_ok=True)
        t = cls(
            spark,
            path,
            schema_ddl,
            primary_key=primary_key or [],
            partitioned_by=partitioned_by or [],
            generated=generated or {},
            generated_eval=generated_eval or {},
            checks=checks or [],
            defaults=defaults or {},
            settings=settings or {},
            clustered_by=clustered_by or [],
            shards=shards,
            ft_indexes=ft_indexes or {},
            crate_columns=crate_columns or [],
            not_null=not_null or [],
        )
        t._save_meta()
        return t

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "CrateTable":
        with open(os.path.join(path, META_FILE)) as f:
            meta = json.load(f)
        return cls(spark, path, **meta)

    def _save_meta(self) -> None:
        meta = {
            "schema_ddl": self.schema_ddl,
            "primary_key": self.primary_key,
            "partitioned_by": self.partitioned_by,
            "generated": self.generated,
            "generated_eval": self.generated_eval,
            "checks": self.checks,
            "defaults": self.defaults,
            "settings": self.settings,
            "clustered_by": self.clustered_by,
            "shards": self.shards,
            "ft_indexes": self.ft_indexes,
            "crate_columns": self.crate_columns,
            "not_null": self.not_null,
        }
        with open(os.path.join(self.path, META_FILE), "w") as f:
            json.dump(meta, f, indent=2)

    # -- read ------------------------------------------------------------
    def _resolve(self) -> tuple[list[tuple[str, int]], int]:
        """(path, bytes) of the live files and the manifest version that
        lists them; a table without a manifest is version 0, its
        directory walked once."""
        try:
            with open(os.path.join(self.path, MANIFEST_FILE)) as f:
                manifest = json.load(f)
        except FileNotFoundError:
            return parquet_files(self.path), 0
        files = [(os.path.join(self.path, rel), size) for rel, size in manifest["files"]]
        return files, manifest["version"]

    def files(self) -> list[tuple[str, int]]:
        """(path, bytes) of the table's live parquet files."""
        return self._resolve()[0]

    def read(self, files: list[tuple[str, int]] | None = None) -> DataFrame:
        """The table's rows: a plain scan of ``files``, a listing the
        caller already made, else of the live files. A version-0 table
        is read as Spark lists its directory, which honours a streaming
        sink's log (a subscribed table)."""
        if files is None:
            files, version = self._resolve()
            if files and not version:
                return self.spark.read.schema(self.schema_ddl).parquet(self.path)
        if not files:
            return local_frame(self.spark, [], self.schema)
        scan = self.spark.read.schema(self.schema_ddl).option("basePath", self.path)
        paths = [p for p, _ in files]
        if len(paths) <= _SERIAL_LISTING:
            return scan.parquet(*paths)
        # more paths than the threshold are listed by a Spark job; the
        # manifest already holds the list, so stat them on the driver
        with conf_scope(self.spark, {_LISTING_THRESHOLD: str(len(paths))}):
            return scan.parquet(*paths)

    def relation(self) -> DataFrame:
        """What SQL statements read: ``read()`` declared one partition
        when the table is one split (``session.one_split``)."""
        files, version = self._resolve()
        return one_split(self.read(files if version else None), files)

    # -- write plumbing --------------------------------------------------
    #
    # Mutation statistics (matched counts, PK clashes, CHECK
    # violations) ride the write itself via ``Dataset.observe``
    # (accumulator metrics collected while rows stream through the
    # write) — never a separate count job. Every write stages first,
    # so a constraint violation discovered in the metrics discards the
    # staging directory before anything becomes visible: the
    # single-writer batch analog of the reference's per-shard
    # write-then-ack path. One scan per mutation source.

    def _prepare(self, df: DataFrame) -> DataFrame:
        """Apply generated columns and project to declared schema order
        (write-time evaluation, DocTableInfo.java:174 semantics).
        CHECK evaluation happens as an observed metric on the write —
        see _viol_sql."""
        for col, expr in self.generated.items():
            df = df.withColumn(col, F.expr(self.generated_eval.get(col, expr)))
        # declared length enforcement (data-types.rst VARCHAR(n)/BIT(n)):
        # VARCHAR truncates all-space excess, errors otherwise; BIT
        # requires the exact declared length. raise_error keeps the
        # check on the write pass — no pre-scan.
        for decl in getattr(self, "crate_columns", []):
            n = decl.get("length")
            if not n or decl["name"] not in df.columns:
                continue
            col = decl["name"]
            if decl["type"] == "bit":
                df = df.withColumn(
                    col,
                    F.expr(
                        f"CASE WHEN {col} IS NULL OR length({col}) = {n} "
                        f"THEN {col} ELSE CAST(raise_error(concat("
                        f"'bit string length ', length({col}), "
                        f"' does not match type bit({n})')) AS STRING) END"
                    ),
                )
            else:
                df = df.withColumn(
                    col,
                    F.expr(
                        f"CASE WHEN {col} IS NULL OR length({col}) <= {n} "
                        f"THEN {col} "
                        f"WHEN length(rtrim({col})) <= {n} "
                        f"THEN substring({col}, 1, {n}) "
                        f"ELSE CAST(raise_error(concat(\"'\", {col}, "
                        f"\"' is too long for the text type of length: {n}\""
                        f")) AS STRING) END"
                    ),
                )
                if decl["type"] == "character":
                    # CHAR(n) is blank-PADDED to the declared length
                    df = df.withColumn(
                        col, F.expr(f"rpad({col}, {n}, ' ')")
                    )
        return df.selectExpr(*[backticked(c) for c in self.schema.names])

    def _viol_sql(self) -> str | None:
        """The ``__viol`` item: a 0/1 flag for the table's CHECK
        constraints. PG/CrateDB semantics: a CHECK fails only on
        explicit FALSE; NULL passes (DocTableInfo.java:188)."""
        if not self.checks:
            return None
        cond = " AND ".join(f"({c})" for c in self.checks)
        return f"CAST(({cond}) = false AS int) AS __viol"

    def _raise_if_viol(self, got: dict) -> None:
        bad = int(got.get("viol") or 0)
        if bad:
            cond = " AND ".join(f"({c})" for c in self.checks)
            raise CheckViolation(
                f"{bad} row(s) violate CHECK ({cond}) on {self.path}"
            )

    def _write_staged(self, df: DataFrame, metrics: dict | None = None) -> tuple[str, dict]:
        """Write df to a fresh staging directory; return (path, observed
        metrics), where ``metrics`` maps a name to an SQL aggregate over
        the written rows. The caller decides commit vs abort."""
        staging = os.path.join(
            tempfile.gettempdir(), f"crate_stage_{uuid.uuid4().hex}"
        )
        got: dict = {}
        if metrics:
            obs = Observation()
            df = df.observe(obs, *[F.expr(f"{sql} AS {k}") for k, sql in metrics.items()])
        helper = [c for c in df.columns if c.startswith("__")]
        if helper:
            df = df.drop(*helper)
        if self.clustered_by and self.shards:
            # MODULO routing: every batch hash-partitions on the
            # CLUSTERED BY key into exactly `shards` files — the same
            # key always lands in the same routed stream, and per-batch
            # file counts stay bounded
            df = df.repartition(self.shards, *self.clustered_by)
        writer = df.write.mode("overwrite")
        if self.partitioned_by:
            writer = writer.partitionBy(*self.partitioned_by)
        # AQE's empty-relation propagation replaces the plan past an
        # empty shuffle with a LocalRelation, dropping the caller's
        # upstream observe node — a mutation that empties a CLUSTERED
        # table then fails to report its observed count. Exclude the
        # rule for the staged write only. Scoping this session-global
        # conf is safe because every caller holds _WRITE_LOCK.
        key = "spark.sql.adaptive.optimizer.excludedRules"
        prev = self.spark.conf.get(key, None)
        rule = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
        with conf_scope(self.spark, {key: f"{prev},{rule}" if prev else rule}):
            writer.parquet(staging)
        if metrics:
            got = obs.get
        return staging, got

    def _commit(self, staging: str | None, retire=()) -> list[tuple[str, int]]:
        """The one commit path. Move the staged part files into the
        table directory (their names are unique, so no live file is
        touched), then replace the manifest with the live files less
        ``retire`` plus the new ones: that ``os.replace`` is the commit
        point. ``retire`` stays on disk for the statements that may
        still read it; files retired earlier are deleted here once none
        remains. Returns the new files."""
        files, version = self._resolve()
        new: list[tuple[str, int]] = []
        if staging is not None:
            for root, _dirs, names in os.walk(staging):
                rel = os.path.relpath(root, staging)
                dest = self.path if rel == "." else os.path.join(self.path, rel)
                for f in sorted(names):
                    if f.endswith(".parquet"):
                        os.makedirs(dest, exist_ok=True)
                        target = os.path.join(dest, f)
                        os.rename(os.path.join(root, f), target)
                        new.append((target, os.path.getsize(target)))
            shutil.rmtree(staging, ignore_errors=True)
        gone = {p for p, _ in retire}
        live = [f for f in files if f[0] not in gone] + new
        manifest = {
            "version": version + 1,
            "files": [[os.path.relpath(p, self.path), size] for p, size in live],
        }
        tmp = os.path.join(self.path, f".{MANIFEST_FILE}.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(self.path, MANIFEST_FILE))
        self.delete_retired()
        if gone:
            batch = [None, [os.path.relpath(p, self.path) for p in sorted(gone)]]
            self._retired.append(batch)
            pending = getattr(_SERVED, "retired", None)
            if pending is None:
                with _SERVING_LOCK:
                    batch[0] = next(_SEQ)
            else:
                pending.append(batch)
        return new

    @_serialized
    def delete_retired(self) -> None:
        """Delete the retired files no statement being served, and no
        held frame, can read: those stamped before the oldest of them
        started. Each commit
        runs it; a publication runs it too, since a subscriber streams
        every file in the table directory."""
        with _SERVING_LOCK:
            while _RELEASED:
                del _SERVING[_RELEASED.pop()]
            oldest = min(_SERVING.values(), default=None)
        keep = []
        for batch in self._retired:
            stamp, rels = batch
            if stamp is None or (oldest is not None and oldest < stamp):
                keep.append(batch)
                continue
            for rel in rels:
                try:
                    os.remove(os.path.join(self.path, rel))
                except FileNotFoundError:
                    pass
        self._retired = keep

    @_serialized
    def _overwrite(self, change) -> None:
        """Replace the table's rows with ``change(rows)``, where rows is
        the current version, read under the write lock."""
        files = self.files()
        if files:
            staging, _ = self._write_staged(change(self.read(files)))
            self._commit(staging, files)

    # -- dynamic columns -------------------------------------------------
    @_serialized
    def insert_dynamic(self, df: DataFrame, returning: list[str] | None = None):
        """INSERT with ``column_policy='dynamic'`` semantics
        (``execution/dml/DynamicIndexer.java``; SURVEY.md §7 hard part
        (a)): columns in the batch that the table does not yet have are
        ADDED to the table schema (existing rows read them as NULL via
        schema merge); declared columns missing from the batch are
        filled with NULL.
        """
        declared = self.schema
        declared_types = {f.name: f.dataType for f in declared.fields}
        # a dynamic batch may ADD columns but never change a type
        # (DynamicIndexer raises a mapper conflict in the reference)
        for f in df.schema.fields:
            if f.name in declared_types and f.dataType != declared_types[f.name]:
                raise ValueError(
                    f"dynamic insert type conflict on '{f.name}': table has "
                    f"{declared_types[f.name].simpleString()}, batch has "
                    f"{f.dataType.simpleString()}"
                )
        new_fields = [f for f in df.schema.fields if f.name not in declared_types]
        if new_fields:
            self.schema_ddl = ", ".join(
                [self.schema_ddl]
                + [f"{f.name} {f.dataType.simpleString()}" for f in new_fields]
            )
            self._save_meta()
        full = self.schema
        for f in full.fields:
            if f.name not in df.columns:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        return self.insert(df.select(*[f.name for f in full.fields]), returning=returning)

    # -- INSERT ----------------------------------------------------------
    def _small_tail(self, batch: DataFrame, files, returning) -> list | None:
        """The files an append rewrites together with ``batch`` into one
        file: the smallest files while batch and tail fit one split
        (``split_floor``; the batch sized by the optimizer's estimate).
        None when the batch is written as it comes: a partitioned or
        CLUSTERED table keeps its layout, RETURNING reads back the
        batch's own files, and a published table's subscribers stream
        every new file, so a merged file would replay stored rows."""
        if (self.partitioned_by or (self.clustered_by and self.shards)
                or returning is not None
                or published(os.path.dirname(self.path), os.path.basename(self.path))):
            return None
        floor = split_floor(self.spark)
        size = int(batch._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        if size > floor:
            return None
        tail = []
        for f in sorted(files, key=lambda f: f[1]):
            if size + f[1] > floor:
                break
            tail.append(f)
            size += f[1]
        return tail

    @_serialized
    def insert(self, df: DataFrame, returning: list[str] | None = None):
        """INSERT ... SELECT/VALUES. With a PK, duplicate keys (against
        existing data or within the batch) raise DuplicateKeyError —
        use upsert() for ON CONFLICT behavior.

        One job: a batch that fits one split is written with the small
        tail (``_small_tail``) as one partition, so one count window
        over the PK sees both the in-batch duplicates and the keys the
        tail holds; only files outside the tail are left-joined for
        clashes. Duplicates, clashes and CHECK violations are observed
        metrics on the staged write, which is discarded on a violation."""
        df = self._prepare(df)
        viol = self._viol_sql()
        if viol is not None:
            df = df.selectExpr("*", viol)
        files = self.files()
        tail = self._small_tail(df, files, returning)
        rows = df.selectExpr("*", "1 AS __new")
        if tail is not None:
            if tail:
                old = self.read(tail).selectExpr(
                    "*", "0 AS __new", *(["0 AS __viol"] if viol is not None else [])
                )
                rows = old.unionByName(rows)
            rows = rows.coalesce(1)  # the PK window then plans no exchange
            files = [f for f in files if f not in tail]
        metrics = {"n": "sum(__new)"}
        if viol is not None:
            metrics["viol"] = "sum(__viol)"
        if self.primary_key:
            pk = [backticked(c) for c in self.primary_key]
            over = f"OVER (PARTITION BY {', '.join(pk)})"
            rows = rows.selectExpr(
                "*",
                f"CAST(__new = 1 AND sum(__new) {over} > 1 AS int) AS __dup",
                f"CAST(__new = 1 AND count(1) {over} > sum(__new) {over} AS int) AS __held",
            )
            metrics["dups"] = "sum(__dup)"
            clash = "__held"
            if files:
                existing = self.read(files).selectExpr(*pk, "1 AS __exists")
                rows = rows.join(existing, self.primary_key, "left")
                clash += " + CAST(__new = 1 AND __exists IS NOT NULL AS int)"
            metrics["clash"] = f"sum({clash})"
        if tail is not None:
            rows = rows.coalesce(1)  # one file, also past a shuffled clash join
        staging, got = self._write_staged(rows, metrics)
        try:
            self._raise_if_viol(got)
            if int(got.get("dups") or 0):
                raise DuplicateKeyError(
                    f"{int(got['dups'])} row(s) share a duplicate key in batch"
                )
            if int(got.get("clash") or 0):
                raise DuplicateKeyError(
                    f"{int(got['clash'])} row(s) conflict with existing primary keys"
                )
        except Exception:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        new = self._commit(staging, tail or ())
        if returning is not None:
            out = self.read(new) if new else self.read().limit(0)
            return out.select(*returning or out.columns)
        return int(got["n"] or 0)

    @_serialized
    def upsert(self, df: DataFrame, *, do_nothing: bool = False,
               set_exprs: dict[str, str] | None = None) -> dict:
        """INSERT ... ON CONFLICT (pk) DO UPDATE SET ... / DO NOTHING.

        DO UPDATE defaults to replacing all non-PK columns with the
        excluded (incoming) row; ``set_exprs`` overrides specific
        columns with SQL over ``target.<col>`` / ``excluded.<col>``.
        Read-merge-write: one anti/inner join against current content.
        """
        if not self.primary_key:
            raise ValueError("upsert requires a primary key")
        df = self._prepare(df)
        viol = self._viol_sql()
        if viol is not None:
            # batch rows carry their violation flag into the merge;
            # rows kept from current content observed as 0
            df = df.selectExpr("*", viol)
        df = df.alias("excluded")
        files = self.files()
        current = self.read(files)
        if viol is not None:
            current = current.withColumn("__viol", F.lit(0))
        current = current.alias("target")
        pk = self.primary_key
        cols = [c for c in df.columns]

        def _src(frame: DataFrame, tag: str) -> DataFrame:
            return frame.withColumn("__src", F.lit(tag))

        if do_nothing:
            fresh = df.join(current, pk, "left_anti")
            merged = _src(current, "keep").unionByName(_src(fresh, "ins"))
        else:
            untouched = current.join(df, pk, "left_anti")
            if set_exprs:
                matched = current.join(df, pk, "inner")
                updated = matched.select(
                    *[F.col(f"target.{k}").alias(k) for k in pk],
                    *[
                        F.expr(set_exprs[c]).alias(c)
                        if c in set_exprs
                        # DO UPDATE SET only touches the LISTED columns;
                        # the rest KEEP the existing row's values
                        # (insert.rst ON CONFLICT semantics)
                        else F.col(f"target.{c}").alias(c)
                        for c in cols
                        if c not in pk and c != "__viol"
                    ],
                    *([F.col("excluded.__viol").alias("__viol")] if viol is not None else []),
                )
                fresh = df.join(current, pk, "left_anti")
                merged = (
                    _src(untouched, "keep")
                    .unionByName(_src(updated, "upd"))
                    .unionByName(_src(fresh, "ins"))
                )
            else:
                # default DO UPDATE: the whole excluded row replaces the
                # target row — mark each batch row by whether its key
                # already exists (one left join, no separate count)
                hits = current.select(
                    *[F.col(f"target.{k}").alias(k) for k in pk],
                    F.lit(1).alias("__hit"),
                )
                batch = df.join(hits, pk, "left").withColumn(
                    "__src", F.when(F.col("__hit").isNotNull(), "upd").otherwise("ins")
                ).drop("__hit")
                merged = _src(untouched, "keep").unionByName(batch)
        metrics = {
            "inserted": "sum(CAST(__src = 'ins' AS int))",
            "updated": "sum(CAST(__src = 'upd' AS int))",
        }
        if viol is not None:
            metrics["viol"] = "sum(__viol)"
        staging, got = self._write_staged(merged, metrics)
        try:
            self._raise_if_viol(got)
        except Exception:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        self._commit(staging, files)
        return {"inserted": int(got["inserted"]), "updated": int(got["updated"])}

    # -- UPDATE / DELETE -------------------------------------------------
    @_serialized
    def update(self, set_exprs: dict[str, str], where: str | None = None,
               returning: list[str] | None = None):
        """UPDATE ... SET col = expr [WHERE ...] — read-transform-write.

        Without RETURNING, returns the matched-row count. With
        RETURNING, returns a DataFrame backed by a staged parquet
        export of the updated rows — never a driver-side collect
        (``UPDATE ... RETURNING *`` over a 100 TB table must stream,
        not OOM the driver), and no separate count job: the export
        write IS the matched-row pass.
        """
        files = self.files()
        current = self.read(files)
        # matched is evaluated on the OLD values (PG semantics), before
        # any SET expression rewrites a column the predicate reads
        matched = F.coalesce(F.expr(where), F.lit(False)) if where else F.lit(True)
        updated = current.select(
            *[
                F.when(matched, F.expr(set_exprs[c])).otherwise(F.col(c)).alias(c)
                if c in set_exprs
                else F.col(c)
                for c in current.columns
            ],
            matched.cast("int").alias("__matched"),
        )
        if returning is not None:
            ret_path = os.path.join(
                tempfile.gettempdir(), f"crate_returning_{uuid.uuid4().hex}"
            )
            updated.filter("__matched = 1").select(
                *(returning or current.columns)
            ).write.parquet(ret_path)
            staging, _ = self._write_staged(updated)
            self._commit(staging, files)
            return self.spark.read.parquet(ret_path)
        # matched-row count rides the rewrite as an observed metric
        staging, got = self._write_staged(updated, {"n": "sum(__matched)"})
        self._commit(staging, files)
        return int(got["n"] or 0)

    @_serialized
    def delete(self, where: str | None = None) -> int:
        """DELETE [WHERE ...]. A predicate that exactly selects whole
        partitions drops the directories (DeletePartitions fast path);
        otherwise read-filter-write with the deleted-row count observed
        on the same pass (no pre-count job). When nothing matched the
        staged rewrite is discarded and the table left untouched."""
        files = self.files()
        if where is None:
            n = self.read(files).count()
            self._commit(None, files)
            return n
        current = self.read(files)
        flagged = current.withColumn(
            "__del", F.coalesce(F.expr(where), F.lit(False)).cast("int")
        )
        obs = Observation()
        kept = flagged.observe(
            obs, F.sum("__del").alias("n_del")
        ).filter("__del = 0")
        staging, _ = self._write_staged(kept)
        n = int(obs.get["n_del"] or 0)
        if n:
            self._commit(staging, files)
        else:
            shutil.rmtree(staging, ignore_errors=True)
        return n

    @_serialized
    def drop_partition(self, **kv) -> bool:
        """DELETE of a whole partition: its files leave the manifest."""
        if list(kv) != self.partitioned_by[: len(kv)]:
            raise ValueError(f"partition keys must be a prefix of {self.partitioned_by}")
        sub = os.path.join(self.path, *[f"{k}={v}" for k, v in kv.items()], "")
        gone = [f for f in self.files() if f[0].startswith(sub)]
        if gone:
            self._commit(None, gone)
        return bool(gone)

    # -- COPY ------------------------------------------------------------
    @_serialized
    def copy_from(self, uri: str, *, format: str = "csv",
                  header: bool = True, delimiter: str = ",") -> dict:
        """COPY FROM with RETURN SUMMARY semantics: load good rows,
        count bad ones (PERMISSIVE + _corrupt_record).

        ``http(s)://`` URIs are fetched to a spool file first
        (copy-from.rst "Other schemes": JVM URL protocols, no wildcard
        expansion) — Spark's file sources don't speak http. The spool
        lives NEXT TO the table directory, i.e. on the same filesystem
        executors read the table from, so the pattern survives a real
        cluster where the driver's /tmp is invisible to executors;
        bulk lake imports use file:// / s3a:// paths directly."""
        if re.match(r"^https?://", uri, re.IGNORECASE):
            if "*" in uri:
                raise ValueError(
                    "wildcard expansion is not supported for http(s) URIs"
                )
            import urllib.request

            spool = os.path.join(
                os.path.dirname(self.path.rstrip("/")) or tempfile.gettempdir(),
                # no leading underscore: Hadoop file sources treat
                # _-prefixed paths as hidden and read zero rows
                f"copy-spool-{uuid.uuid4().hex}.{format}",
            )
            try:
                with urllib.request.urlopen(uri, timeout=60) as resp, open(  # noqa: S310
                    spool, "wb"
                ) as out:
                    while True:
                        chunk = resp.read(1 << 20)
                        if not chunk:
                            break
                        out.write(chunk)
                # recurse on the local spool (can't re-enter this
                # branch); the load fully materializes into the table
                # before returning, so the spool can be deleted after
                return self.copy_from(
                    spool, format=format, header=header, delimiter=delimiter
                )
            finally:
                try:
                    os.unlink(spool)
                except OSError:
                    pass
        target_schema = self.schema
        if format == "csv":
            raw = (
                self.spark.read.option("header", header)
                .option("delimiter", delimiter)
                .option("mode", "PERMISSIVE")
                .schema(target_schema)
                .csv(uri)
            )
            good = raw.dropna(how="all")
        elif format == "json":
            # crate JSON imports carry timestamps as epoch MILLIS
            # numbers (or ISO strings); Spark's JSON reader would read
            # a number into TimestampType as seconds. Read those
            # fields as strings and convert explicitly.

            # ... and scalar fields coerce leniently ("0" -> integer 0,
            # as the reference's type casts do): read scalars as
            # strings, cast after
            ts_cols = [
                f.name
                for f in target_schema.fields
                if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType))
            ]
            scalar_cols = {
                f.name: f.dataType.simpleString()
                for f in target_schema.fields
                if isinstance(
                    f.dataType,
                    (T.IntegerType, T.LongType, T.ShortType, T.ByteType,
                     T.FloatType, T.DoubleType, T.BooleanType, T.DecimalType),
                )
            }
            read_schema = T.StructType(
                [
                    T.StructField(f.name, T.StringType(), f.nullable)
                    if f.name in ts_cols or f.name in scalar_cols
                    else f
                    for f in target_schema.fields
                ]
            )
            raw = (
                self.spark.read.option("mode", "PERMISSIVE")
                .schema(read_schema)
                .json(uri)
            )
            for c in ts_cols:
                raw = raw.withColumn(
                    c,
                    F.coalesce(
                        F.timestamp_millis(F.col(c).cast("long")),
                        F.to_timestamp(F.col(c)),
                    ),
                )
            for c, t in scalar_cols.items():
                raw = raw.withColumn(c, F.col(c).cast(t))
            good = raw.dropna(how="all")
        elif format in ("parquet", "orc"):
            # columnar imports carry their own schema; malformed files
            # fail the scan rather than producing bad rows
            raw = getattr(self.spark.read.schema(target_schema), format)(uri)
            good = raw
        else:
            raise ValueError(f"unsupported COPY format: {format}")
        # RETURN SUMMARY: a row is an error only if NOTHING parsed
        # (all-null after permissive parse); counting raw text lines is
        # wrong for multi-part exports (one header per part file).
        # Both counts + CHECK violations are observed on the load
        # write itself — a single pass over the import source.
        if good is raw:
            flagged = raw.withColumn("__bad", F.lit(0))
        else:
            all_null = F.lit(True)
            for c in raw.columns:
                all_null = all_null & F.col(c).isNull()
            flagged = raw.withColumn("__bad", all_null.cast("int"))
        obs_in = Observation()
        good = flagged.observe(
            obs_in,
            F.count(F.lit(1)).alias("n_total"),
            F.sum("__bad").alias("n_bad"),
        ).filter("__bad = 0").drop("__bad")
        df = self._prepare(good)
        metrics = {}
        viol = self._viol_sql()
        if viol is not None:
            df = df.selectExpr("*", viol)
            metrics["viol"] = "sum(__viol)"
        staging, got = self._write_staged(df, metrics or None)
        try:
            self._raise_if_viol(got)
        except Exception:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        self._commit(staging)
        loaded = int(obs_in.get["n_total"] or 0) - int(obs_in.get["n_bad"] or 0)
        return {"loaded": loaded, "errors": int(obs_in.get["n_bad"] or 0)}

    @_serialized
    def optimize(self, *, max_num_segments: int | None = None,
                 partition: dict | None = None) -> dict:
        """OPTIMIZE TABLE — the Lucene segment-merge analog
        (``OptimizeTablePlan.java``; optimize.rst): compact the
        table's parquet part files. Streaming/append ingest and
        per-statement INSERTs accumulate small files; at scale a
        100k-file table pays one task + one open per file on every
        scan, so periodic compaction is a real operation here, not a
        no-op.

        Layout contract is preserved: CLUSTERED tables re-route
        through their MODULO hash partitioning (``shards`` files),
        PARTITIONED BY tables keep their directory layout (compaction
        runs within partitions; the ``partition`` arg restricts the
        rewrite to one partition, per the PARTITION clause), flat
        tables coalesce to ``max_num_segments`` (WITH
        (max_num_segments=N); default one file per 128 MB). The
        rewrite stages and commits like every other mutation — readers
        never observe a partial table.
        """
        files = self.files()
        if not files:
            return {"files_before": 0, "files_after": 0}
        bytes_total = sum(size for _f, size in files)
        df = self.read(files)
        if partition:
            cond = " AND ".join(f"{k} = {v!r}" for k, v in partition.items())
            keep = df.filter(f"NOT ({cond})")
            df = df.filter(cond)
        if not (self.clustered_by and self.shards):
            target = max_num_segments or max(1, bytes_total // (128 << 20))
            df = df.coalesce(int(target))
        if partition:
            df = df.unionByName(keep)
        # _write_staged applies MODULO routing / partitionBy itself
        staging, _ = self._write_staged(df)
        self._commit(staging, files)
        return {"files_before": len(files), "files_after": len(self.files())}

    def copy_to(self, uri: str, *, format: str = "json",
                columns: list[str] | None = None, where: str | None = None,
                directory: bool = False, compression: str | None = None) -> int:
        """COPY TO: parallel export (json-lines / csv / parquet),
        optional column subset + WHERE (WriterProjection.java:66).

        ``TO DIRECTORY`` (copy-to.rst:175) writes named export files
        INTO an existing directory — it must never be replaced (the
        docs export into /tmp/), so the write lands in a scratch dir
        and the part files are MOVED in as ``<table>_<i>.<ext>[.gz]``,
        the reference's shard-file naming."""
        df = self.read()
        if where:
            df = df.filter(F.expr(where))
        if columns:
            df = df.select(*columns)
        # row count observed ON the export write — one scan over the
        # (possibly huge) filtered input, same pattern as copy_from /
        # delete; a separate df.count() would scan it twice
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n_rows"))
        target = uri
        if directory:
            import tempfile

            target = tempfile.mkdtemp(prefix="crate_copy_to_") + "/out"
        writer = df.write.mode("overwrite")
        if compression:
            writer = writer.option("compression", compression)
        if format == "json":
            writer.json(target)
        elif format == "csv":
            writer.option("header", True).csv(target)
        elif format == "parquet":
            writer.parquet(target)
        elif format == "orc":
            writer.orc(target)
        else:
            raise ValueError(f"unsupported COPY format: {format}")
        if directory:
            import glob as _glob
            import os as _os
            import shutil as _shutil

            tname = _os.path.basename(self.path.rstrip("/")) or "export"
            _os.makedirs(uri, exist_ok=True)
            for i, part in enumerate(
                sorted(_glob.glob(_os.path.join(target, "part-*")))
            ):
                ext = _os.path.basename(part).split(".", 1)[1]
                _shutil.move(part, _os.path.join(uri, f"{tname}_{i}.{ext}"))
            _shutil.rmtree(_os.path.dirname(target), ignore_errors=True)
        return int(obs.get["n_rows"] or 0)

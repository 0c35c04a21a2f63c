"""CrateSession — the engine's user-facing entry point.

Maps the reference's session lifecycle (``session/Session.java:370``
parse -> analyze -> plan -> execute; HTTP ``SqlHttpHandler.quickExec``)
onto: ``statement.classify`` -> privilege check -> handler, and for a
query, dialect shim -> ``spark.sql`` -> Catalyst. Each statement is
read once into a ``Statement``; ``_dispatch`` is a lookup and a call
(the reference's Planner visitor, ``Planner.java:289-304``), and each
handler reads only its own clauses. One object per user session,
holding the table catalog, system views and session settings.

Surface:
- ``execute(sql)``      -> DataFrame (SELECT/VALUES/EXPLAIN/SET/...)
- ``explain(sql)``      -> formatted physical plan text
- ``analyze(table)``    -> ANALYZE: Spark COMPUTE STATISTICS (feeds
                           CBO — reference ``TableStatsService.java:101``)
- system catalog: the sys, information_schema and pg_catalog
  relations (``sys.jobs``, ``information_schema.tables``,
  ``pg_catalog.pg_type``, ...), each built on demand when a statement
  reads it — see ``crate_spark.system_views`` (reference
  ``SysTableDefinitions.java``, ``InformationSchemaTableDefinitions.java``,
  ``PgCatalogTableDefinitions.java``)
"""

from __future__ import annotations

import itertools
import json as _json
import re
import threading
from contextlib import contextmanager

import regex as _RE  # recursive patterns: a group nested to any depth
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crate_spark.admin_sql import check_privileges
from crate_spark.datatypes import read_type, show_type, spark_type
from crate_spark.dialect import (
    _paren, add_token, blank_groups, find_close, mask, rewrite, rewrite_sys_columns,
    split_args, string_value, unmask,
)
from crate_spark.dml import hold, serving
from crate_spark.session import (
    apply_runtime_confs, load_tables, local_frame, rowcount, rowcount_frame,
)
from crate_spark.statement import COUNT, EXPLAIN, Statement, classify, read_of, typed
from crate_spark.system_views import views_held


def _sql_literal(v) -> str:
    """Format one bound parameter value as a SQL literal
    (PG text-format bind analog — Session.bind() parameter types)."""
    import datetime

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, (list, tuple)):
        return "array(" + ", ".join(_sql_literal(x) for x in v) + ")"
    if isinstance(v, bytes):
        return f"unhex('{v.hex()}')"
    return "'" + str(v).replace("'", "''") + "'"


#: the clauses that can follow a FROM-less select list
_AFTER_SELECT_LIST = re.compile(
    r"\b(?:WHERE|GROUP|HAVING|WINDOW|QUALIFY|ORDER|SORT|CLUSTER|DISTRIBUTE"
    r"|LIMIT|OFFSET|UNION|INTERSECT|EXCEPT|MINUS)\b",
    re.IGNORECASE,
)


def _over_one_row(sql: str) -> str:
    """Plan a top-level SELECT with no FROM clause over a one-row
    ``VALUES`` (a ``LocalRelation``, collected with no Spark job) in
    place of ``OneRowRelation``, whose scan is a job. Quoted text is
    masked and parenthesised groups blanked before looking for FROM.
    A select list with a star is left alone: the row's column would
    join it."""
    if not re.match(r"\s*SELECT\b", sql, re.IGNORECASE):
        return sql
    masked, tokens = mask(sql)
    blank = blank_groups(masked)
    if re.search(r"\bFROM\b", blank, re.IGNORECASE):
        return sql
    clause = _AFTER_SELECT_LIST.search(blank)
    at = clause.start() if clause else len(blank)
    if "*" in blank[:at]:
        return sql
    one_row = "FROM VALUES (0) AS __one_row(__one_row)"
    return unmask(f"{masked[:at].rstrip()} {one_row} {masked[at:]}".rstrip(), tokens)


class CrateSession:
    """A SQL session over the engine's catalog."""

    def __init__(
        self,
        spark: SparkSession,
        data_dir: str | None = None,
        storage_dir: str | None = None,
        cluster_name: str = "crate-spark",
    ):
        import tempfile

        from crate_spark.sql_dml import SqlDmlRouter

        from crate_spark.roles import SUPERUSER, RoleStore
        from crate_spark.snapshots import SnapshotStore

        self.spark = spark
        #: sys.cluster.name (reference setting ``cluster.name``; its
        #: doctest harness runs under "Testing-CrateDB")
        self.cluster_name = cluster_name
        apply_runtime_confs(spark)
        #: role catalog + session user (reference Role.CRATE_USER
        #: bootstrap; SET SESSION AUTHORIZATION switches it)
        self.roles = RoleStore()
        self.snapshots = SnapshotStore()
        self._own_user: str = SUPERUSER
        #: per-thread principal of the statement being served
        #: (acting_as); front-door threads share this session
        self._principal = threading.local()
        self._blob_store = None  # lazy (needs storage_dir, set below)
        self._fdw_store = None
        self._pub_store = None
        self._sub_store = None
        #: tables mirrored by an active subscription — read-only here
        #: (logical-replication.rst: writable again after DROP
        #: SUBSCRIPTION)
        self.subscribed_tables: set[str] = set()
        # SQL-callable helper UDFs the dialect templates emit (only
        # where no JVM expression exists): geohash bit-interleave
        from pyspark.sql.functions import pandas_udf

        from crate_spark.functions.geo import (
            _geohash_batch,
            _intersects_batch,
            _within_batch,
        )

        spark.udf.register("__geohash", pandas_udf(_geohash_batch, "string"))
        # column-typed within/intersects — literal shapes unroll to
        # JVM expressions; runtime shapes need the Arrow path
        spark.udf.register("__geo_within", pandas_udf(_within_batch, "boolean"))
        spark.udf.register(
            "__geo_intersects", pandas_udf(_intersects_batch, "boolean")
        )
        # blake3(text) (HashFunctions.java:43): no Spark builtin —
        # Arrow-batched UDF over the native wheel or the pure-Python
        # spec implementation (functions/_blake3.py)
        from crate_spark.functions.scalar import _blake3_batch

        spark.udf.register("blake3", pandas_udf(_blake3_batch, "string"))
        self.tables: dict[str, DataFrame] = {}
        if data_dir:
            self.tables = dict(load_tables(spark, data_dir, register=True))
        #: root directory for tables created via SQL CREATE TABLE
        self.storage_dir = storage_dir or tempfile.mkdtemp(prefix="crate_tables_")
        self.snapshots.base_dir = self.storage_dir
        self._dml = SqlDmlRouter(self)
        #: open cursors: name -> {"df", "it", "fetched", "schema", "exhausted"}
        self._cursors: dict[str, dict] = {}
        #: CREATE ANALYZER registry: name -> {"tokenizer": ..., "definition": ...}
        self._analyzers: dict[str, dict] = {}
        #: CREATE FUNCTION registry: (schema, name) -> {signature ->
        #: {"fn", "ret", "kind", "seq"}} — user functions are
        #: schema-scoped and overloadable like the reference
        #: (UserDefinedFunctionService.java, user-defined-functions.rst
        #: Overloading). Each (schema, name) registers ONE Spark UDF
        #: under a mangled internal name, so a user function can never
        #: shadow or erase a Spark builtin: unqualified calls resolve
        #: builtin-FIRST, then search_path (the reference's documented
        #: lookup order); qualified calls always reach the UDF.
        self._udfs: dict[tuple[str, str], dict[tuple, dict]] = {}
        self._udf_seq = 0
        #: executed-statement ring buffer backing sys.jobs_log
        self._jobs_log: list[tuple] = []
        #: SQL-created views: name -> definition (pg_catalog.pg_views)
        self._views: dict[str, str] = {}
        #: explicitly created schemas (create-schema.rst): persist
        #: while empty, removed only by DROP SCHEMA
        self._schemas: set[str] = set()
        #: schema of each SQL-created table (implicit schemas live and
        #: die with their objects; storage is one flat namespace)
        self._table_schema: dict[str, str] = {}
        #: SET GLOBAL overrides surfaced in sys.cluster.settings
        #: (runtime-config.rst; defaults in cluster_settings.py)
        self._cluster_settings: dict[str, object] = {}
        #: statements currently executing, keyed by job id (front-door
        #: threads interleave, and execute() nests for fixture loads);
        #: backs sys.jobs / sys.operations, which the reference
        #: populates with in-flight work (SysJobsTableInfo)
        self._jobs_running: dict[str, tuple] = {}
        #: sys.node_checks ids acknowledged via UPDATE (transient,
        #: like the reference's — lost on restart)
        self._node_check_ack: set[int] = set()
        #: RESTORE SNAPSHOT results: (repository, snapshot, table) —
        #: sys.snapshot_restore
        self._restores: list[tuple[str, str, str]] = []

    @property
    def current_user(self) -> str:
        """The principal the current statement runs as: the innermost
        ``acting_as`` scope on this thread, else the session's own user."""
        return getattr(self._principal, "user", None) or self._own_user

    @current_user.setter
    def current_user(self, user: str) -> None:
        # SET SESSION AUTHORIZATION inside a scope changes only that
        # scope, never the user other threads fall back to
        if getattr(self._principal, "user", None):
            self._principal.user = user
        else:
            self._own_user = user

    @contextmanager
    def acting_as(self, user: str):
        """Run the enclosed statements as ``user`` on this thread only
        (the reference keeps the user on each client's own session,
        ``session/Session.java``); HTTP and pg-wire wrap each request."""
        prev = getattr(self._principal, "user", None)
        self._principal.user = user
        try:
            yield
        finally:
            self._principal.user = prev

    def _string_object_cols(self) -> set[str]:
        """String-typed columns across the catalog — the engine stores
        dynamic OBJECT content as JSON strings (dml.insert_dynamic), so
        these are the columns ``col['key']`` subscripts rewrite against
        (SubscriptObjectFunction.java semantics). Map/struct columns
        are excluded: Spark's native subscript already handles them."""
        # information_schema.tables.settings is a JSON-string object
        # column (settings['routing']['allocation']['enable'])
        cols: set[str] = {"settings"}
        for df in self.tables.values():
            for f in df.schema.fields:
                simple = f.dataType.simpleString()
                if simple == "string":
                    cols.add(f.name)
                elif simple == "array<string>":
                    # array-of-objects columns (array(object ...) maps
                    # to array of JSON strings): arr['k'] projects the
                    # field per element (SubscriptFunction on arrays)
                    cols.add("[]" + f.name)
        return cols

    def _sql(self, stmt: str) -> DataFrame:
        """Shim + run one SELECT-shaped statement."""
        return self.spark.sql(
            _over_one_row(
                rewrite(
                    self._sub_current_setting(self._resolve_udf_calls(stmt)),
                    self._string_object_cols(),
                    session_user=self.current_user,
                    user_schemas=self._user_schemas(),
                )
            )
        )

    def _user_schemas(self) -> set[str]:
        """Schemas whose prefix is transparent in queries: storage is
        one flat namespace, so rx.metrics resolves to the bare table
        (create-schema.rst; RelationName resolution)."""
        return (
            set(self._table_schema.values()) | self._schemas
        ) - {"doc", "sys", "information_schema", "pg_catalog", "blob"}

    # -- user-defined functions -------------------------------------------
    def _search_path(self) -> list[str]:
        raw = self.spark.conf.get("search_path", "doc") or "doc"
        return [s.strip().strip('"') for s in raw.split(",") if s.strip()]

    @staticmethod
    def _udf_spark_name(schema: str, name: str) -> str:
        return f"__udf_{schema}__{name}".lower()

    def _builtin_exists(self, name: str) -> bool:
        jvm = self.spark._jvm
        ident = jvm.org.apache.spark.sql.catalyst.FunctionIdentifier(name)
        return bool(
            jvm.org.apache.spark.sql.catalyst.analysis.FunctionRegistry
            .builtin().functionExists(ident)
        )

    def _resolve_udf_calls(self, sql: str) -> str:
        """Rewrite UDF call sites to their mangled per-(schema, name)
        Spark registrations. Qualified calls (``doc.log10(...)``)
        always reach the user function; unqualified calls resolve
        builtin-FIRST, then by search_path order — the reference's
        documented lookup ("a built-in function with the same name as
        a user-defined function will hide the latter",
        user-defined-functions.rst)."""
        if not self._udfs:
            return sql
        # literals untouched; quoted names stay readable
        seg, tokens = mask(sql, ident=str)
        # unquoted identifiers fold to lowercase (reference parser),
        # and UDF schemas are stored lowercased — compare folded
        sp = [s.lower() for s in self._search_path()]

        def _rank(s: str) -> int:
            return sp.index(s) if s in sp else len(sp)

        by_name: dict[str, str] = {}
        for sch, nm in self._udfs:
            if self._builtin_exists(nm):
                continue
            # unqualified calls resolve only through search_path
            # (Functions.java resolution order) — a UDF in a schema
            # not on the path must be called schema-qualified
            if sch.lower() not in sp:
                continue
            if nm not in by_name or _rank(sch) < _rank(by_name[nm]):
                by_name[nm] = sch
        # call sites may quote the name (`"Camel"(x)` — quoted
        # identifiers keep case in the reference; the registry is
        # lowercase-keyed, so resolution here is case-insensitive
        # either way) — consume the quotes/backticks with the name
        for sch, nm in self._udfs:
            seg = re.sub(
                rf'(?<![\w.])"?{re.escape(sch)}"?\s*\.\s*'
                rf'[`"]?{re.escape(nm)}[`"]?\s*\(',
                self._udf_spark_name(sch, nm) + "(",
                seg,
                flags=re.IGNORECASE,
            )
        for nm, sch in by_name.items():
            seg = re.sub(
                rf'(?<![\w.`"])[`"]?{re.escape(nm)}[`"]?\s*\(',
                self._udf_spark_name(sch, nm) + "(",
                seg,
                flags=re.IGNORECASE,
            )
        return unmask(seg, tokens)

    # -- catalog ---------------------------------------------------------
    def register(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)
        self.tables[name] = df

    @property
    def publications(self):
        """Publisher-side replication catalog (logical-replication.rst),
        persisted in the storage dir for cross-session discovery."""
        if self._pub_store is None:
            from crate_spark.streaming.replication import PublicationStore

            self._pub_store = PublicationStore(self.storage_dir)
        return self._pub_store

    @property
    def subscriptions(self):
        if self._sub_store is None:
            from crate_spark.streaming.replication import SubscriptionStore

            self._sub_store = SubscriptionStore()
        return self._sub_store

    @property
    def fdw(self):
        """Foreign-data-wrapper catalog (admin/fdw.rst)."""
        if self._fdw_store is None:
            from crate_spark.fdw import FdwStore

            self._fdw_store = FdwStore()
        return self._fdw_store

    @property
    def blobs(self):
        """Blob-table catalog (general/blobs.rst), rooted next to the
        SQL-created tables."""
        if self._blob_store is None:
            from crate_spark.blobs import BlobStore

            self._blob_store = BlobStore(self.storage_dir)
        return self._blob_store

    def _register_blob_views(self) -> None:
        """``blob.<t>`` -> temp view ``blob_<t>`` (digest,
        last_modified) — re-listed per statement so uploads are
        immediately visible (the refresh semantics blob tables have
        in the reference)."""
        for name, t in self.blobs.tables.items():
            t.df(self.spark).createOrReplaceTempView(f"blob_{name}")

    # -- blob object API (HTTP _blobs analog) ----------------------------
    def put_blob(self, table: str, content: bytes, digest: str | None = None) -> str:
        return self.blobs.get(table).put(content, digest)

    def get_blob(self, table: str, digest: str) -> bytes:
        return self.blobs.get(table).get(digest)

    def blob_exists(self, table: str, digest: str) -> bool:
        return self.blobs.get(table).exists(digest)

    def delete_blob(self, table: str, digest: str) -> bool:
        return self.blobs.get(table).delete(digest)

    # -- statements ------------------------------------------------------
    def execute(self, sql: str, params: list | None = None) -> DataFrame:
        """Execute one statement (the quickExec analog).

        ``params`` binds ``$1``-style placeholders (reference
        ``session/Session.java`` ``bind():403``) by literal
        substitution — the session is the trusted SQL front door, and
        values are escaped/typed by ``_bind_params``. The ``Statement``
        read from ``sql`` is kept on the frame returned or the exception
        raised (``statement.read_of``), for the front door's reply.
        """
        stmt = sql.strip().rstrip(";")
        if params is not None:
            stmt = self._bind_params(stmt, params)
        import uuid
        from datetime import datetime

        started = datetime.now()
        jid = str(uuid.uuid4())
        err = st = None
        # in-flight entry backing sys.jobs (SysJobsTableInfo: a
        # running statement sees itself)
        self._jobs_running[jid] = (jid, stmt[:500], self.current_user, started)
        try:
            # build the system views this statement names, and only
            # those (sys.jobs, "sys"."jobs", pg_catalog_pg_type, SHOW
            # TABLES): each read rebuilds its view from the current
            # state, so runtime-backed views (sys.jobs, pg_cursors)
            # stay live, and each CrateSession reads its own catalog
            # through temp views that are global to the SparkSession;
            # files a commit replaces stay readable while it is served,
            # and while the caller holds its answer
            st = classify(stmt)
            with serving(), views_held(self, st):
                df = self._dispatch(st)
                if df is not None:
                    hold(df)
                    df._crate_statement = st
                return df
        except Exception as e:
            err = str(e).split("\n")[0][:200]
            e._crate_statement = st
            raise
        finally:
            del self._jobs_running[jid]
            # sys.jobs_log ring buffer (reference SysJobsLogTableInfo;
            # stats.jobs_log_size default 10_000)
            self._jobs_log.append(
                (jid, stmt[:500], self.current_user, started, datetime.now(), err)
            )
            del self._jobs_log[:-10_000]

    #: scroll-cursor buffer bound — the reference accounts buffered
    #: rows against a circuit breaker (Cursor.java RowAccounting);
    #: here the bound is an explicit row cap
    _CURSOR_BUFFER_CAP = 1_000_000

    def _fetch_cursor(self, cur: dict, direction: str, count_str: str | None):
        """FETCH semantics per fetch.rst / session/Cursor.java:150-280.

        Position model (PG): 0 = before first row, k = on row k
        (1-based), total+1 = after last. FORWARD/NEXT stream; PRIOR/
        BACKWARD/backward ABSOLUTE/RELATIVE replay the scroll buffer
        in reverse and require DECLARE ... SCROLL. Non-scroll cursors
        keep the streaming fast path (toLocalIterator; FETCH ALL
        returns the residual distributed plan, never materializing)."""
        spark = self.spark
        schema = cur["schema"]

        def empty():
            return local_frame(spark, [], schema)

        # normalize (direction, count) -> (mode, n); n None = ALL
        mode, n = direction, None
        if direction == "NEXT":
            mode, n = "FORWARD", 1
        elif direction == "PRIOR":
            mode, n = "BACKWARD", 1
        elif direction in ("FORWARD", "BACKWARD"):
            if count_str is None:
                n = 1
            elif count_str.upper() != "ALL":
                n = int(count_str)
                if n < 0:  # FETCH FORWARD -5 == FETCH BACKWARD 5
                    mode = "BACKWARD" if mode == "FORWARD" else "FORWARD"
                    n = -n
        else:  # ABSOLUTE | RELATIVE
            if count_str is None or count_str.upper() == "ALL":
                raise ValueError(f"FETCH {direction} requires a count")
            n = int(count_str)

        scroll = cur.get("scroll", False)
        pos = cur.get("pos", 0)
        moves_forward = (
            mode == "FORWARD"
            or (mode == "RELATIVE" and n >= 0)
            or (mode == "ABSOLUTE" and n > pos)
        )
        if not moves_forward and not scroll:
            raise ValueError(
                "Cannot move backward if cursor was created with NO SCROLL"
            )

        if not scroll:
            # streaming path (unchanged from the NO SCROLL cursor):
            # pos == rows consumed
            if mode == "FORWARD" and n is None:  # FETCH ALL
                if cur["exhausted"]:
                    return cur["df"].limit(0)
                residual = (
                    cur["df"].offset(cur["fetched"]) if cur["fetched"] else cur["df"]
                )
                cur["exhausted"] = True
                cur["it"] = None
                return residual
            if cur["exhausted"]:
                return empty()
            if cur["it"] is None:
                cur["it"] = cur["df"].toLocalIterator()
            if mode == "FORWARD":
                rows = [r for _, r in zip(range(n), cur["it"])]
                cur["fetched"] += len(rows)
                cur["pos"] = cur["fetched"]
                return local_frame(spark, rows, schema)
            # forward ABSOLUTE / RELATIVE on a stream: skip to the
            # target row, return it
            target = n if mode == "ABSOLUTE" else pos + n
            if mode == "RELATIVE" and n == 0:
                return empty()  # current row is not buffered on NO SCROLL
            skipped = 0
            row = None
            for r in cur["it"]:
                skipped += 1
                if cur["fetched"] + skipped == target:
                    row = r
                    break
            cur["fetched"] += skipped
            cur["pos"] = cur["fetched"]
            if row is None:
                cur["exhausted"] = True
                if mode == "ABSOLUTE":
                    raise ValueError(
                        f"Cannot return row: {target}, total rows: {cur['fetched']}"
                    )
                return empty()
            return local_frame(spark, [row], schema)

        # scroll path: every fetched row is buffered; backward
        # movement replays the buffer in reverse
        buf = cur["buffer"]

        def ensure(k: int | None) -> int:
            """Extend the buffer to >= k rows (None = drain); return size."""
            if cur["it"] is None and not cur["exhausted"]:
                cur["it"] = cur["df"].toLocalIterator()
            while not cur["exhausted"] and (k is None or len(buf) < k):
                try:
                    buf.append(next(cur["it"]))
                except StopIteration:
                    cur["exhausted"] = True
                    break
                if len(buf) > self._CURSOR_BUFFER_CAP:
                    raise RuntimeError(
                        "scroll cursor buffer exceeded "
                        f"{self._CURSOR_BUFFER_CAP} rows"
                    )
            return len(buf)

        if mode == "FORWARD":
            total = ensure(None if n is None else pos + n)
            rows = buf[pos : total if n is None else min(pos + n, total)]
            if n is None or pos + (n or 0) > total:
                cur["pos"] = total + 1  # fetched past the end: after last
            else:
                cur["pos"] = pos + n
            return local_frame(spark, rows, schema)
        if mode == "BACKWARD":
            first = pos - 1  # 1-based index of first row to return
            last = 1 if n is None else max(pos - n, 1)
            rows = [buf[r - 1] for r in range(min(first, len(buf)), last - 1, -1)]
            cur["pos"] = 0 if n is None else max(pos - n, 0)
            return local_frame(spark, rows, schema)
        # ABSOLUTE / RELATIVE: jump, return the single row at the new
        # position (empty if before start / past end — except ABSOLUTE
        # past end errors, Cursor.java:219)
        target = n if mode == "ABSOLUTE" else pos + n
        if target <= 0:
            cur["pos"] = 0
            return empty()
        total = ensure(target)
        if target > total and cur["exhausted"]:
            if mode == "ABSOLUTE":
                raise ValueError(
                    f"Cannot return row: {target}, total rows: {total}"
                )
            cur["pos"] = total + 1
            return empty()
        cur["pos"] = target
        return local_frame(spark, [buf[target - 1]], schema)

    def _dispatch(self, st: Statement) -> DataFrame:
        """Check the principal's privileges on ``st`` and answer it with
        its handler (the reference's Planner visitor)."""
        if any(r.startswith("blob.") for r in st.relations):
            self._register_blob_views()
        check_privileges(self, st)
        # subscribed tables receive files continuously; re-list before
        # answering a statement that names one
        for name in self.subscribed_tables.intersection(
            r.split(".")[-1] for r in st.relations
        ):
            ct = self._dml.crate_tables.get(name)
            if ct is not None:
                self.register(name, ct.relation())
        return st.run(self)

    # -- statement handlers: each reads the clauses of its own statement
    def _ack_node_checks(self, st: Statement) -> DataFrame:
        # UPDATE sys.node_checks SET acknowledged = <bool> [WHERE ...]
        # — the one writable sys column (system-information.rst
        # "Acknowledge failed checks"); transient, like the reference's
        m = st.match(
            r"UPDATE\s+sys\.\"?node_checks\"?\s+SET\s+acknowledged\s*=\s*"
            r"(true|false)(?:\s+WHERE\s+(.+))?\s*$",
        )
        flag = m.group(1).lower() == "true"
        cond = rewrite(m.group(2)) if m.group(2) else "TRUE"
        ids = [
            r["id"]
            for r in self.spark.sql(
                f"SELECT id FROM sys_node_checks WHERE {cond}"
            ).collect()
        ]
        for cid in ids:
            (self._node_check_ack.add if flag
             else self._node_check_ack.discard)(cid)
        return rowcount_frame(self.spark, len(ids))

    def _create_blob_table(self, st: Statement) -> DataFrame:
        # CREATE BLOB TABLE (create-blob-table.rst; blob tables are
        # content-addressed, always sharded by digest)
        m = st.match(
            r"CREATE\s+BLOB\s+TABLE\s+\"?([\w]+)\"?"
            r"(?:\s+CLUSTERED\s+INTO\s+(\d+)\s+SHARDS)?"
            r"(?:\s+WITH\s*\((.*)\))?\s*$",
            masked=True,
        )
        self.blobs.create(
            m.group(1),
            shards=int(m.group(2) or 4),
            settings=st.properties(m.group(3) or ""),
        )
        self._register_blob_views()
        return rowcount_frame(self.spark)

    def _alter_blob_table(self, st: Statement) -> DataFrame:
        # ALTER BLOB TABLE t SET (...) / RESET (...) — replication and
        # allocation settings are cluster-topology knobs, recorded as
        # table settings (blobs.rst "Altering a blob table")
        m = st.match(
            r"ALTER\s+BLOB\s+TABLE\s+\"?([\w]+)\"?\s+"
            r"(SET|RESET)\s*\((.*)\)\s*$",
            masked=True,
        )
        store = self.blobs.get(m.group(1))
        props = st.properties(m.group(3))
        if m.group(2).upper() == "SET":
            store.settings.update(props)
        else:
            for k in props:
                store.settings.pop(k, None)
        # ALTER acks with -1 rows affected (crash renders it so)
        return rowcount_frame(self.spark, -1)

    def _drop_blob_table(self, st: Statement) -> DataFrame:
        m = st.match(r"DROP\s+BLOB\s+TABLE\s+(IF\s+EXISTS\s+)?\"?([\w]+)\"?\s*$")
        dropped = self.blobs.drop(m.group(2), if_exists=bool(m.group(1)))
        if dropped:
            self.spark.catalog.dropTempView(f"blob_{m.group(2).lower()}")
        return rowcount_frame(self.spark, 1 if dropped else 0)

    def _create_schema(self, st: Statement) -> DataFrame:
        # CREATE SCHEMA [IF NOT EXISTS] name (create-schema.rst):
        # explicit schemas persist while empty; CREATE TABLE in an
        # unknown schema still implicitly creates it (handled by the
        # table router's schema recording)
        m = st.match(r"CREATE\s+SCHEMA\s+(IF\s+NOT\s+EXISTS\s+)?\"?([\w]+)\"?\s*$")
        name = m.group(2)
        exists = (
            name in self._schemas
            or name in ("blob", "doc", "information_schema", "pg_catalog", "sys")
            or name in set(self._table_schema.values())
        )
        if exists:
            if m.group(1):
                return rowcount_frame(self.spark, 0)
            raise ValueError(f"Schema '{name}' already exists")
        self._schemas.add(name)
        return rowcount_frame(self.spark)

    def _drop_schema(self, st: Statement) -> DataFrame:
        # DROP SCHEMA [IF EXISTS] name [, ...] [CASCADE|RESTRICT]
        # (drop-schema.rst): RESTRICT (default) refuses non-empty
        # schemas; CASCADE drops contained tables
        m = st.match(
            r"DROP\s+SCHEMA\s+(IF\s+EXISTS\s+)?([\w\".,\s]+?)\s*"
            r"(CASCADE|RESTRICT)?\s*$",
        )
        if_exists = bool(m.group(1))
        cascade = (m.group(3) or "RESTRICT").upper() == "CASCADE"
        n_dropped = 0
        for raw in m.group(2).split(","):
            name = raw.strip().strip('"')
            if name in ("information_schema", "pg_catalog", "sys"):
                raise ValueError(f"Cannot drop schema '{name}'")
            members = sorted(
                t for t, s in self._table_schema.items() if s == name
            )
            if name not in self._schemas and not members:
                if if_exists:
                    continue
                raise ValueError(f"Schema '{name}' unknown")
            if members and not cascade:
                raise ValueError(
                    f"Cannot drop schema '{name}': it contains "
                    f"{len(members)} relation(s) — use DROP SCHEMA "
                    f"... CASCADE"
                )
            for t in members:
                self._dml._drop_table(classify(f'DROP TABLE "{t}"'))
            self._schemas.discard(name)
            n_dropped += 1
        return rowcount_frame(self.spark, n_dropped)

    def _explain(self, st: Statement) -> DataFrame:
        # option list form (explain.rst): EXPLAIN (ANALYZE, COSTS FALSE)
        body = st.sql[EXPLAIN.match(st.sql).end():]
        if st.match(r"EXPLAIN\s+(\(\s*)?ANALYZE", required=False):
            return self._explain_analyze(body)
        return local_frame(self.spark, [(self.explain(body),)], "plan string")

    def _set_global(self, st: Statement) -> DataFrame:
        # SET GLOBAL [PERSISTENT|TRANSIENT] assignments (set.rst):
        # comma-separated `k = v` pairs, values may be nested objects
        # `stats = {jobs_log_size = 2048, ...}` (runtime-config.rst).
        # Overrides surface in sys.cluster.settings and the Spark conf.
        m = st.match(r"SET\s+GLOBAL\s+(?:PERSISTENT\s+|TRANSIENT\s+)?(.+)$", masked=True)
        pairs = list(_flat(st.properties(m.group(1))))
        for key, val in pairs:
            self._cluster_settings[key] = val
            # JSON spelling in the conf: booleans stay lowercase
            self.spark.conf.set(key, _json.dumps(val) if isinstance(val, bool) else str(val))
        return local_frame(
            self.spark,
            [(k, _json.dumps(v) if isinstance(v, bool) else str(v)) for k, v in pairs],
            "setting string, value string",
        )

    def _reset_global(self, st: Statement) -> DataFrame:
        m = st.match(r"RESET\s+GLOBAL\s+(.+)$")
        keys = [k.strip().strip('"') for k in m.group(1).split(",") if k.strip()]
        for key in keys:
            # a bare group name resets every setting under it
            for stored in list(self._cluster_settings):
                if stored == key or stored.startswith(key + "."):
                    del self._cluster_settings[stored]
            try:
                self.spark.conf.unset(key)
            except Exception:  # noqa: BLE001 - never-set key
                pass
        return local_frame(self.spark, [(k,) for k in keys], "setting string")

    def _alter_cluster(self, st: Statement) -> DataFrame:
        # ALTER CLUSTER SWAP TABLE a TO b (alter-cluster.rst): atomic
        # name exchange — the blue/green cutover primitive
        m = st.match(
            r"ALTER\s+CLUSTER\s+(?:SWAP\s+TABLE\s+([\w.\"]+)\s+TO\s+([\w.\"]+)|"
            r"REROUTE\s+RETRY\s+FAILED\s*$|GC\s+DANGLING\s+ARTIFACTS\s*$|"
            r"DECOMMISSION\s+\S+\s*$)",
        )
        if not m.group(1):
            # REROUTE/DECOMMISSION/GC: shard placement is Spark's
            # scheduler's job — accepted no-ops
            return self._noop(st)
        a = m.group(1).strip('"').split(".")[-1]
        b = m.group(2).strip('"').split(".")[-1]
        ta, tb = self._dml._table(a), self._dml._table(b)
        self._dml.crate_tables[a], self._dml.crate_tables[b] = tb, ta
        self._dml._refresh(a)
        self._dml._refresh(b)
        return local_frame(self.spark, [(a, b)], "source string, target string")

    def _set(self, st: Statement) -> DataFrame:
        # SET [SESSION|LOCAL] key { = | TO } value|DEFAULT (set.rst,
        # config/session.rst; keys may be double-quoted, search_path
        # takes a comma list, TO DEFAULT restores the default); SET
        # TRANSACTION and the like are accepted no-ops
        m = st.match(
            r"SET\s+(?:SESSION\s+|LOCAL\s+)?\"?([\w.]+)\"?\s*(?:=\s*|TO\s+)(.+)$",
        required=False,
        )
        if not m:
            return self._noop(st)
        key, val = m.group(1), m.group(2).strip()
        if val.upper() == "DEFAULT":
            try:
                self.spark.conf.unset(key)
            except Exception:  # noqa: BLE001 - never-set key
                pass
        else:
            self.spark.conf.set(key, val.strip("'\""))
        return local_frame(
            self.spark, [(key, val)], "setting string, value string"
        )

    def _reset(self, st: Statement) -> DataFrame:
        m = st.match(r"RESET\s+(\S+)$")
        self.spark.conf.unset(m.group(1))
        return local_frame(self.spark, [(m.group(1),)], "setting string")

    def _noop(self, st: Statement) -> DataFrame:
        return local_frame(self.spark, [("OK",)], "status string")

    def _analyze(self, st: Statement) -> DataFrame:
        m = st.match(r"ANALYZE(?:\s+(\S+))?\s*$")
        if m.group(1):
            return self.analyze(m.group(1))
        # bare ANALYZE (analyze.rst): collect stats for every user table
        for name in sorted(self.tables):
            self.analyze(name)
        return rowcount_frame(self.spark)

    def _show_create_table(self, st: Statement) -> DataFrame:
        m = st.match(r"SHOW\s+CREATE\s+TABLE\s+([\w.\"]+)\s*$")
        name = m.group(1).strip('"').split(".")[-1]
        return local_frame(
            self.spark, [(self._show_create_table_sql(name),)], "create_table string"
        )

    def _show_catalog(self, st: Statement) -> DataFrame:
        # SHOW TABLES / SCHEMAS / COLUMNS (sql/statements/show.rst;
        # the reference's ShowStatementAnalyzer rewrites them to
        # information_schema queries — same trick here)
        m = st.match(r"SHOW\s+(?:TABLES|SCHEMAS|COLUMNS\s+(?:FROM|IN)\s+(\w+))\s*$")
        return self.spark.sql({
            "show_tables": "SELECT table_name FROM information_schema_tables ORDER BY table_name",
            "show_schemas": "SELECT schema_name FROM information_schema_schemata "
            "ORDER BY schema_name",
        }.get(st.kind) or (
            f"SELECT column_name, data_type FROM information_schema_columns "
            f"WHERE table_name = '{m.group(1)}' ORDER BY ordinal_position"
        ))

    def _show(self, st: Statement) -> DataFrame:
        # PG-compat: the engine is autocommit, the reported isolation
        # level is fixed (interfaces/postgres.rst)
        if st.match(r"SHOW\s+TRANSACTION\s+ISOLATION\s+LEVEL\s*$", required=False):
            return local_frame(
                self.spark, [("read uncommitted",)], "transaction_isolation string"
            )
        m = st.match(r"SHOW\s+(\S+)\s*$")
        val = self.spark.conf.get(m.group(1), None)
        return local_frame(
            self.spark, [(m.group(1), val)], "setting string, value string"
        )

    def _refresh(self, st: Statement) -> DataFrame:
        # Lucene-refresh analog: parquet reads are always visible;
        # clear any cached plans for the named table(s). Accepts
        # schema-qualified spellings and PARTITION clauses
        # (refresh.rst:20,58) — storage is one flat namespace, so a
        # partition refresh refreshes the base table.
        m = st.match(
            r"REFRESH\s+TABLE\s+([\w.\"]+(?:\s*,\s*[\w.\"]+)*)"
            r"(?:\s+PARTITION\s*\([^)]*\))?\s*$",
        )
        names = [n.strip().strip('"').split(".")[-1] for n in m.group(1).split(",")]
        for name in names:
            self.spark.catalog.refreshTable(name)
        return rowcount_frame(self.spark, len(names))

    def _optimize(self, st: Statement) -> DataFrame:
        # OPTIMIZE TABLE [PARTITION (...)] [WITH (...)]: parquet
        # small-file compaction — the Lucene segment-merge analog
        # (optimize.rst; CrateTable.optimize preserves the routing /
        # partition layout and commits through the manifest)
        m = st.match(r"OPTIMIZE\s+TABLE\s+(.+?)(?:\s+WITH\s*\((.*)\))?\s*$", masked=True)
        props = st.properties(m.group(2) or "")
        mns = props.get("max_num_segments")
        # comma-separated target list, each `ident [PARTITION (...)]`
        out_rows = []
        for entry in split_args(m.group(1)):
            em = re.match(
                r"\s*([\w.\"]+)(?:\s+PARTITION\s*\(([^)]*)\))?\s*$",
                entry,
            )
            if not em:
                raise ValueError(f"unsupported OPTIMIZE target: {entry!r}")
            name = em.group(1).strip('"').split(".")[-1]
            table = self._dml.crate_tables.get(name)
            if table is None:
                # views/virtual relations ack without a rewrite
                out_rows.append((name, "ok", 0, 0))
                continue
            part = {k: typed(v) for k, v in st.properties(em.group(2)).items()} if em.group(2) else None
            stats = table.optimize(
                max_num_segments=int(mns) if mns is not None else None,
                partition=part,
            )
            self._dml._refresh(name)
            out_rows.append(
                (name, "ok", stats.get("files_before", 0),
                 stats.get("files_after", 0))
            )
        return local_frame(
            self.spark, out_rows,
            "table string, status string, files_before int, files_after int",
        )

    def _create_view(self, st: Statement) -> DataFrame:
        m = st.match(r"CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+([\w.\"]+)\s+AS\s+(.+)$")
        name = m.group(1).strip('"').split(".")[-1]
        df = self._sql(m.group(2))
        self._views[name] = m.group(2)[:500]
        self.register(name, df)
        return local_frame(self.spark, [(name,)], "view string")

    def _drop_view(self, st: Statement) -> DataFrame:
        m = st.match(r"DROP\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.\"]+)\s*$")
        name = m.group(2).strip('"').split(".")[-1]
        self.spark.catalog.dropTempView(name)
        self.tables.pop(name, None)
        self._views.pop(name, None)
        return local_frame(self.spark, [(name,)], "dropped string")

    # Cursors (reference session/Cursor.java): DECLARE / FETCH / CLOSE.
    # FETCH n streams through toLocalIterator — one partition on the
    # driver at a time. FETCH ALL never materializes: it returns the
    # residual DataFrame itself (original plan + OFFSET for rows
    # already fetched), so an `ALL` over a 100 TB result stays a
    # distributed plan. For an exact already-fetched/residual split
    # the cursor query should carry a total ORDER BY — same caveat as
    # PG cursors without a sort.
    def _declare(self, st: Statement) -> DataFrame:
        m = st.match(
            r"DECLARE\s+(\w+)\s+(?:BINARY\s+)?(?:ASENSITIVE\s+|INSENSITIVE\s+)?"
            r"((?:NO\s+)?SCROLL\s+)?CURSOR\s+"
            r"(?:WITH\s+(?:OUT\s+)?HOLD\s+)?FOR\s+(.+)$",
        )
        df = self._sql(m.group(3))
        scroll = bool(
            m.group(2) and not re.match(r"NO\s", m.group(2), re.IGNORECASE)
        )
        self._cursors[m.group(1).lower()] = {
            "df": df,
            "hold": hold(df),  # its files stay until CLOSE
            "it": None,  # opened lazily on first numbered FETCH
            "fetched": 0,
            "schema": df.schema,
            "exhausted": False,
            "stmt": st.sql[:500],
            # SCROLL (declare.rst:75): backward movement over a buffer
            # of already-fetched rows ("adds memory overhead" —
            # reference Cursor.java buffers through RowAccounting/
            # circuit breaker; here the bound is an explicit row cap)
            "scroll": scroll,
            "buffer": [],  # scroll only: materialized rows
            "pos": 0,  # scroll only: 1-based row of last fetch; 0 = before first
        }
        return local_frame(self.spark, [(m.group(1),)], "cursor string")

    def _fetch(self, st: Statement) -> DataFrame:
        m = st.match(
            r"FETCH\s+(?:(NEXT|PRIOR|FORWARD|BACKWARD|ABSOLUTE|RELATIVE)\s+)?"
            r"(ALL|-?\d+)?\s*(?:FROM|IN)\s+(\w+)$",
        )
        name = m.group(3).lower()
        if name not in self._cursors:
            raise ValueError(f"cursor '{name}' does not exist")
        return self._fetch_cursor(
            self._cursors[name], (m.group(1) or "FORWARD").upper(), m.group(2)
        )

    def _close(self, st: Statement) -> DataFrame:
        m = st.match(r"CLOSE\s+(ALL|\w+)$")
        target = m.group(1).lower()
        closed = list(self._cursors) if target == "all" else [target]
        for name in closed:
            cur = self._cursors.pop(name, None)
            if cur is not None:
                cur["hold"]()
        return local_frame(
            self.spark, [(n,) for n in closed] or [("",)], "closed string"
        )

    def _create_analyzer(self, st: Statement) -> DataFrame:
        # CREATE ANALYZER (reference FulltextAnalyzerResolver.java,
        # create-analyzer.rst): register a named tokenizer config that
        # MATCH ... WITH (analyzer='name') resolves against.
        m = st.match(
            r"CREATE\s+ANALYZER\s+\"?(\w+)\"?\s*(?:EXTENDS\s+\"?(\w+)\"?\s*)?"
            r"(?:WITH\s*)?\((.*)\)\s*$",
        )
        body = m.group(3)
        tok = re.search(r"TOKENIZER\s+(\w+)", body, re.IGNORECASE)
        self._analyzers[m.group(1).lower()] = {
            "tokenizer": (tok.group(1).lower() if tok else "standard"),
            "extends": (m.group(2) or "").lower() or None,
            "definition": body.strip(),
        }
        return local_frame(self.spark, [(m.group(1),)], "analyzer string")

    def _drop_analyzer(self, st: Statement) -> DataFrame:
        m = st.match(r"DROP\s+ANALYZER\s+\"?(\w+)\"?\s*$")
        self._analyzers.pop(m.group(1).lower(), None)
        return local_frame(self.spark, [(m.group(1),)], "dropped string")

    def _route_dml(self, st: Statement) -> DataFrame:
        # DML/DDL on stored tables (reference planner/Planner.java:273-500)
        return self._dml.route(self._sub_match_index_names(st))

    def _query(self, st: Statement) -> DataFrame:
        st = self._sub_match_index_names(st)
        stmt = st.sql
        # bare OR alias-qualified (t._score) — qualified sys columns
        # resolve like any column in the reference; '_score' inside a
        # string literal is data, not a system column
        has_score = bool(
            re.search(r"(?:(?<![\w.'])|\b\w+\s*\.\s*)_score\b", st.masked)
        )
        if has_score:
            self._validate_score_in_where(st.masked)
        # MATCH + _score: needs the BM25 join, not a plain rewrite
        if has_score and re.search(r"\bMATCH\s*\(", stmt, re.IGNORECASE):
            return self._execute_match_score(stmt)
        # knn_match predicate: top-k vector search join
        if re.search(r"\bknn_match\s*\(", stmt, re.IGNORECASE):
            return self._execute_knn_match(stmt)
        stmt = self._rewrite_match_analyzer(stmt)
        # system doc columns (_id/_doc/_raw — SysColumns.java:49-63;
        # _score with no scoring predicate reads 1.0 on every row)
        if re.search(
            r"(?:(?<![\w.'])|\b\w+\s*\.\s*)"
            r"_(id|docid|doc|raw|version|seq_no|primary_term|score)\b",
            stmt,
        ):
            stmt = rewrite_sys_columns(stmt)
        return self._sql(stmt)

    def _sub_match_index_names(self, st: Statement) -> Statement:
        """``st`` with a named fulltext index in MATCH(<name>, ...)
        replaced by the concatenation of its source columns
        (CompositeIndex in fulltext-indices.rst: the index name is the
        MATCH target) — in queries and in COPY/UPDATE/DELETE WHERE
        clauses alike (dml.rst COPY ... WHERE match(quote_ft, ..))."""
        mapping: dict[str, str] = {}
        for ct in self._dml.crate_tables.values():
            for idx, cols in ct.ft_indexes.items():
                mapping[idx.lower()] = "concat_ws(' ', " + ", ".join(cols) + ")"
        if not mapping or not re.search(r"\bMATCH\s*\(", st.masked, re.IGNORECASE):
            return st

        def repl(m: re.Match) -> str:
            expr = mapping.get(m.group(1).strip('"').split(".")[-1].lower())
            return f"MATCH({expr}," if expr else m.group(0)

        return classify(re.sub(
            r"\bMATCH\s*\(\s*([\w.\"]+)\s*,", repl, st.sql, flags=re.IGNORECASE
        ))

    _CURRENT_SETTING_RE = re.compile(
        r"current_setting\(\s*'([^']+)'\s*(?:,\s*(true|false))?\s*\)", re.IGNORECASE
    )

    def _sub_current_setting(self, stmt: str) -> str:
        """``current_setting('key'[, missing_ok])`` -> the session conf
        value as a literal (pg_catalog SessionSettings analog). Session
        state lives on the driver, so this resolves at plan time."""

        def repl(m: re.Match) -> str:
            key, missing_ok = m.group(1), m.group(2)
            val = self.spark.conf.get(key, None)
            if val is None:
                # PG/crate session-setting defaults the reference
                # answers without a prior SET (SessionSettingRegistry)
                val = {
                    "search_path": "doc",
                    "application_name": "",
                    "datestyle": "ISO",
                    "timezone": "UTC",
                    "server_version": "14.0",
                    "server_version_num": "140000",
                    "max_index_keys": "32",
                    "max_identifier_length": "255",
                    "enable_hashjoin": "on",
                    "error_on_unknown_object_key": "on",
                    "statement_timeout": "0",
                }.get(key.lower())
            if val is None:
                if missing_ok and missing_ok.lower() == "true":
                    return "CAST(NULL AS STRING)"
                raise ValueError(f"unrecognized configuration parameter '{key}'")
            return "'" + val.replace("'", "''") + "'"

        return self._CURRENT_SETTING_RE.sub(repl, stmt)

    def _show_create_table_sql(self, name: str) -> str:
        """SHOW CREATE TABLE (reference ShowCreateTableAnalyzer /
        MetadataToASTNodeResolver): reconstruct CrateDB-spelled DDL
        from table metadata — PK, generated columns, CHECKs and
        PARTITIONED BY for SQL-created tables; plain column DDL for
        registered source tables."""
        ct = self._dml.crate_tables.get(name)
        if ct is not None:
            fields = ct.schema.fields

            def _decl_type(decl, indent):
                # declared crate spelling; objects nest their
                # subcolumns like the reference's renderer
                t = decl["type"]
                if t.endswith("_array"):
                    return f"ARRAY({_decl_type({**decl, 'type': t[:-6]}, indent)})"
                if t == "object":
                    pol = decl.get("policy", "dynamic").upper()
                    out = f"OBJECT({pol})"
                    kids = decl.get("children") or []
                    if kids:
                        pad = " " * (indent + 3)
                        inner = ",\n".join(
                            f'{pad}"{k["name"]}" {_decl_type(k, indent + 3)}'
                            for k in kids
                        )
                        out += " AS (\n" + inner + "\n" + " " * indent + ")"
                    return out
                return t.upper()

            decls = {c["name"]: c for c in getattr(ct, "crate_columns", [])}
            not_null = set(getattr(ct, "not_null", []))
            lines = []
            for f in fields:
                decl = decls.get(f.name)
                spelled = (
                    _decl_type(decl, 3)
                    if decl is not None and decl.get("type")
                    else show_type(f.dataType.simpleString())
                )
                line = f'   "{f.name}" {spelled}'
                if f.name in not_null:
                    line += " NOT NULL"
                if f.name in ct.generated:
                    line += f" GENERATED ALWAYS AS ({ct.generated[f.name]})"
                if f.name in getattr(ct, "defaults", {}):
                    line += f" DEFAULT {ct.defaults[f.name]}"
                lines.append(line)
            if ct.primary_key:
                lines.append(
                    "   PRIMARY KEY (" + ", ".join(f'"{k}"' for k in ct.primary_key) + ")"
                )
            for c in ct.checks:
                lines.append(f"   CHECK ({c})")
            ddl = f'CREATE TABLE IF NOT EXISTS "doc"."{name}" (\n' + ",\n".join(lines) + "\n)"
            # clause layout follows the reference's console rendering
            # (show-create-table.rst): one clause per line, CLUSTERED
            # INTO always shown (default 4 shards), WITH block with
            # the default column_policy/number_of_replicas included
            cluster = "CLUSTERED"
            if getattr(ct, "clustered_by", None):
                cluster += " BY (" + ", ".join(
                    f'"{c}"' for c in ct.clustered_by
                ) + ")"
            cluster += f" INTO {ct.shards or 4} SHARDS"
            ddl += "\n" + cluster
            if ct.partitioned_by:
                ddl += "\nPARTITIONED BY (" + ", ".join(
                    f'"{c}"' for c in ct.partitioned_by
                ) + ")"
            eff = {"column_policy": "strict", "number_of_replicas": "0-1"}
            eff.update(getattr(ct, "settings", None) or {})
            eff.pop("closed", None)

            def _setting_line(k, v):
                # reference render: dotted keys double-quoted, numeric
                # values bare, TEXT-typed settings (replica ranges,
                # policies) quoted (show-create-table.rst:36-38)
                key = f'"{k}"' if "." in k else k
                if k == "number_of_replicas" or not str(v).lstrip("-").isdigit():
                    val = f"'{v}'"
                else:
                    val = v
                return f"   {key} = {val}"

            ddl += "\nWITH (\n" + ",\n".join(
                _setting_line(k, v) for k, v in sorted(eff.items())
            ) + "\n)"
            return ddl
        if name in self.tables:
            fields = self.tables[name].schema.fields
            body = ",\n".join(
                f'   "{f.name}" {show_type(f.dataType.simpleString())}'
                for f in fields
            )
            return f'CREATE TABLE IF NOT EXISTS "doc"."{name}" (\n{body}\n)'
        raise ValueError(f"table '{name}' does not exist")

    # -- parameter binding ----------------------------------------------
    def _bind_params(self, stmt: str, params: list) -> str:
        """Substitute ``$1``-style (and bare ``?`` positional)
        placeholders with typed SQL literals (Session.bind():403).
        Quoted text is masked first so placeholder-shaped text inside
        it survives, and each bound value is one more token, so no
        value is scanned again."""
        masked, tokens = mask(stmt)

        def _repl_dollar(m: re.Match) -> str:
            i = int(m.group(1)) - 1
            if not 0 <= i < len(params):
                raise ValueError(f"no value bound for placeholder ${m.group(1)}")
            return add_token(tokens, _sql_literal(params[i]))

        masked = re.sub(r"\$(\d+)", _repl_dollar, masked)
        if "?" in masked:
            it = iter(params)
            masked = re.sub(
                r"\?", lambda _m: add_token(tokens, _sql_literal(next(it))), masked
            )
        return unmask(masked, tokens)

    def execute_bulk(self, sql: str, bulk_params: list[list]) -> list:
        """Bulk execution (Session.bulkExec:717): one statement, many
        parameter rows. Returns one entry per row: the rows affected
        for INSERT/UPDATE/DELETE (the value of the rowcount frame), the
        number of result rows for any other statement, or the exception
        the row raised; a failing row does not stop the rows after it
        (http.rst "Bulk errors")."""
        out: list = []
        for row in bulk_params:
            try:
                df = self.execute(sql, params=list(row))
                out.append(
                    0 if df is None
                    else rowcount(df) if read_of(df).reply == COUNT
                    else len(df.collect())
                )
            except Exception as e:  # noqa: BLE001 - reported per row
                out.append(e)
        return out

    # -- fulltext --------------------------------------------------------
    _MATCH_CALL_RE = _RE.compile(
        rf"\bMATCH\s*\(\s*(?P<col>[\w.]+|concat_ws\s*{_paren()})\s*,\s*'(?P<query>[^']*)'\s*\)"
        r"(?:\s+USING\s+\w+)?(?:\s+WITH\s*\(\s*analyzer\s*=\s*'(?P<analyzer>\w+)'\s*\))?",
        re.IGNORECASE,
    )

    def _analyzer_tokens_sql(self, col: str, analyzer: str | None) -> tuple[str, "function"]:
        """(SQL tokenizer expression over ``col``, python tokenizer for
        the query string) for a registered analyzer. Tokenizers:
        standard (lowercase, split non-alphanumeric — the default),
        whitespace (split on whitespace, case kept), keyword (whole
        string as one token)."""
        tok = "standard"
        if analyzer:
            if analyzer.lower() not in self._analyzers:
                raise ValueError(f"analyzer '{analyzer}' is not defined")
            tok = self._analyzers[analyzer.lower()]["tokenizer"]
        if tok == "whitespace":
            return f"split(trim({col}), '\\\\s+')", lambda q: q.split()
        if tok == "keyword":
            return f"array({col})", lambda q: [q]
        return (
            f"split(trim(regexp_replace(lower({col}), '[^a-z0-9]+', ' ')), ' ')",
            lambda q: [t for t in q.lower().split() if t],
        )

    def _rewrite_match_analyzer(self, stmt: str) -> str:
        """``MATCH(col, 'q') [USING mode] WITH (analyzer='name')`` ->
        token-overlap predicate using the named analyzer's tokenizer
        (FulltextAnalyzerResolver.java). Plain MATCH without WITH falls
        through to the dialect shim's standard-analyzer rewrite."""

        def _sub(m: re.Match) -> str:
            col, q, analyzer = m.group("col", "query", "analyzer")
            if not analyzer:
                return m.group(0)
            toks_sql, tok_q = self._analyzer_tokens_sql(col, analyzer)
            terms = tok_q(q)
            arr = "array(" + ", ".join("'" + t.replace("'", "''") + "'" for t in terms) + ")"
            return f"arrays_overlap({toks_sql}, {arr})"

        return self._MATCH_CALL_RE.sub(_sub, stmt)

    def _validate_score_in_where(self, stmt: str) -> None:
        """The reference allows ``_score`` in WHERE only within a ``>=``
        comparison against a value symbol — bare, or wrapped in a cast
        whose parent IS the ``>=`` (``_score::REAL >= 0.5`` /
        ``CAST(_score AS REAL) >= 0.5``); any other operator, a
        non-literal RHS, or a surrounding NOT is rejected at analysis
        time (analyze/where/WhereClauseValidator.java:59-70
        SCORE_ALLOWED_COMPARISONS = {gte}, :111-127
        insideCastComparedWithLiteral, :141-157 value-symbol RHS)."""
        err = (
            "System column '_score' can only be used within a '>=' "
            "comparison without any surrounded predicate"
        )
        # value symbol or parameter: signed numeric incl. scientific
        # notation, or '?' (the reference accepts any Literal RHS)
        rhs = r"\s*>=\s*(?:[-+]?\s*(?:\d+(?:\.\d+)?|\.\d+)(?:[eE][-+]?\d+)?|\?)"
        # cast target incl. the multi-word reference spellings
        _type = (
            r"(?:double\s+precision|character\s+varying"
            r"|time(?:stamp)?\s+with(?:out)?\s+time\s+zone"
            r"|\w+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)"
        )
        # every WHERE in the statement (incl. subqueries) is validated
        for m in re.finditer(
            r"\bWHERE\b(.*?)(?=\bGROUP\s+BY\b|\bORDER\s+BY\b|\bHAVING\b"
            r"|\bLIMIT\b|\bWINDOW\b|\bWHERE\b|$)",
            stmt,
            re.IGNORECASE | re.DOTALL,
        ):
            where = m.group(1)
            for occ in re.finditer(r"(?<![\w.'])_score\b", where):
                after = where[occ.end():]
                prefix = where[: occ.start()]
                cast_m = re.search(
                    r"\bCAST\s*\(\s*$", prefix, re.IGNORECASE
                )
                ok = re.match(
                    rf"\s*(?:::\s*{_type})?{rhs}", after
                ) or (
                    # CAST(_score AS t) >= lit — cast's parent is the gte
                    cast_m
                    and re.match(rf"\s*AS\s+{_type}\s*\){rhs}", after, re.IGNORECASE)
                )
                if not ok:
                    raise ValueError(err)
                # any enclosing NOT — adjacent (NOT _score >= x /
                # NOT CAST(_score AS t) >= x) or a NOT whose
                # parenthesis is still open at _score
                # (NOT (a AND _score >= x)) — is rejected, matching
                # WhereClauseValidator's insideNotPredicate walk.
                # For the cast form the NOT checks run on the text
                # BEFORE the CAST, which also keeps the CAST's own
                # '(' out of the open-paren walk.
                if cast_m:
                    prefix = prefix[: cast_m.start()]
                if re.search(r"\bNOT\s*$", prefix, re.IGNORECASE):
                    raise ValueError(err)
                if any(
                    find_close(prefix, t.end() - 1) < 0
                    for t in re.finditer(r"\bNOT\s*\(", prefix, re.IGNORECASE)
                ):
                    raise ValueError(err)

    def _execute_match_score(self, stmt: str) -> DataFrame:
        """``SELECT ... _score ... FROM t WHERE MATCH(col, 'q') ...
        ORDER BY _score`` — the reference's relevance-ranked search
        (SysColumns.java `_score`, MatchPredicate.java:85). The MATCH
        predicate + `_score` column become a BM25 score join
        (operators/fulltext.bm25_scores — distributed, stats
        broadcast); the rest of the statement runs unchanged over a
        temp view that carries `_score` as a real column. Single-table
        statements only (like the reference, where MATCH binds to one
        relation)."""
        from crate_spark.operators.fulltext import bm25_scores

        m = self._MATCH_CALL_RE.search(stmt)
        if not m:
            raise ValueError("_score requires a MATCH predicate")
        col, query = m.group("col", "query")
        tbl_m = re.search(r"\bFROM\s+([\w.\"]+)", stmt, re.IGNORECASE)
        if not tbl_m:
            raise ValueError("MATCH requires a FROM table")
        table = tbl_m.group(1).strip('"').split(".")[-1]
        if table not in self.tables:
            raise ValueError(f"unknown table '{table}' for MATCH")
        docs = self.tables[table]
        id_col = docs.columns[0]  # row identity: leading column (PK position)
        text_col = col.split(".")[-1]
        if "(" in col:  # named-index expansion: score the concatenation
            from pyspark.sql import functions as _F

            docs = docs.withColumn("__ft_text", _F.expr(col))
            text_col = "__ft_text"
        scores = bm25_scores(docs, query, id_col=id_col, text_col=text_col)
        if text_col == "__ft_text":
            docs = docs.drop("__ft_text")
        view = f"__match_{table}"
        docs.join(scores, id_col).createOrReplaceTempView(view)
        new_stmt = stmt[: m.start()] + "TRUE" + stmt[m.end() :]
        # keep table-name-qualified references (nation._score,
        # nation.n_name) resolvable: when the FROM has no alias of its
        # own, alias the match view back to the original name
        after = stmt[tbl_m.end():]
        am = re.match(r"\s+(?:AS\s+)?([A-Za-z_]\w*)", after)
        word = am.group(1).upper() if am else None
        # enforce the documented single-table contract loudly: a JOIN
        # keyword or comma after the table is a multi-relation FROM,
        # not a table alias (ADVICE r8)
        rest_after_alias = after[am.end():] if am else after
        if word in {
            "JOIN", "LEFT", "RIGHT", "INNER", "OUTER", "CROSS", "FULL",
            "NATURAL", "ON", "USING",
        } or re.match(r"\s*,", after) or re.match(r"\s*,", rest_after_alias):
            raise ValueError(
                "_score with MATCH supports a single-table FROM only"
            )
        has_alias = bool(am) and word not in {
            "WHERE", "ORDER", "GROUP", "LIMIT", "OFFSET", "HAVING",
            "UNION", "INTERSECT", "EXCEPT", "FETCH", "WINDOW",
        }
        target = f"FROM {view}" if has_alias else f"FROM {view} AS {table}"
        new_stmt = re.sub(
            rf"\bFROM\s+{re.escape(tbl_m.group(1))}",
            target,
            new_stmt,
            count=1,
            flags=re.IGNORECASE,
        )
        return self._sql(new_stmt)

    #: knn_match(col, [v1, v2, ...], k) — literal query vector, like the
    #: reference's scalar (KnnMatch.java:52 takes a float_vector literal)
    _KNN_CALL_RE = re.compile(
        r"\bknn_match\s*\(\s*([\w.\"]+)\s*,\s*\[([^\]]*)\]\s*,\s*(?P<k>\d+)\s*\)",
        re.IGNORECASE,
    )
    #: subquery query-vector form: knn_match(col, (SELECT ...), k)
    _KNN_SUBQ_RE = _RE.compile(
        rf"\bknn_match\s*\(\s*([\w.\"]+)\s*,\s*(?P<query>{_paren()})\s*,\s*(?P<k>\d+)\s*\)",
        re.IGNORECASE,
    )

    def _execute_knn_match(self, stmt: str) -> DataFrame:
        """``SELECT ... [_score] FROM t WHERE knn_match(vec, [..], k)
        [ORDER BY _score DESC]`` — the reference's vector search
        predicate (``expression/scalar/KnnMatch.java:52``; `_score` =
        Lucene's 1/(1+l2²), ``VectorSimilarityFunction.EUCLIDEAN``).
        The predicate becomes an exact top-k join (operators/knn.py —
        exact supersedes HNSW for the gate; query side broadcast,
        corpus never shuffled) and the rest of the statement runs over
        a temp view carrying `_score`."""
        from pyspark.sql import functions as F

        from crate_spark.operators.knn import knn_exact

        m = self._KNN_CALL_RE.search(stmt)
        if m:
            vec = [float(x) for x in m.group(2).split(",") if x.strip()]
        else:
            # subquery vector: resolve the (single-row) query side now —
            # the reference evaluates the knn query vector up front too
            # (KnnMatch takes a resolved float_vector argument)
            m = self._KNN_SUBQ_RE.search(stmt)
            if not m:
                raise ValueError(
                    "knn_match requires (column, [vector literal] | (subquery), k)"
                )
            rows = self._sql(m.group("query")[1:-1]).limit(2).collect()
            if len(rows) != 1 or len(rows[0]) != 1:
                raise ValueError(
                    "knn_match subquery must return exactly one vector"
                )
            vec = [float(x) for x in rows[0][0]]
        col = m.group(1).strip('"').split(".")[-1]
        k = int(m.group("k"))
        tbl_m = re.search(r"\bFROM\s+([\w.\"]+)", stmt, re.IGNORECASE)
        if not tbl_m:
            raise ValueError("knn_match requires a FROM table")
        table = tbl_m.group(1).strip('"').split(".")[-1]
        if table not in self.tables:
            raise ValueError(f"unknown table '{table}' for knn_match")
        docs = self.tables[table]
        id_col = docs.columns[0]
        queries = self.spark.createDataFrame(
            [(0, vec)], f"q_id bigint, {col} array<float>"
        )
        topk = knn_exact(
            docs, queries, k,
            corpus_id=id_col, vec_col=col, metric="euclidean", exclude_self=False,
        )
        scored = topk.select(
            F.col(id_col),
            (1.0 / (1.0 + F.col("distance") * F.col("distance"))).alias("_score"),
        )
        view = f"__knn_{table}"
        docs.join(scored, id_col).createOrReplaceTempView(view)
        new_stmt = stmt[: m.start()] + "TRUE" + stmt[m.end() :]
        new_stmt = re.sub(
            rf"\bFROM\s+{re.escape(tbl_m.group(1))}",
            f"FROM {view}",
            new_stmt,
            count=1,
            flags=re.IGNORECASE,
        )
        return self._sql(new_stmt)

    def _create_function(self, st: Statement) -> DataFrame:
        """CREATE [OR REPLACE] FUNCTION [schema.]name(args) RETURNS type
        LANGUAGE PYTHON|PANDAS|JAVASCRIPT AS '<body>'.

        Reference: ``expression/udf/UserDefinedFunctionService.java:67``
        — schema-scoped, overloadable scalar UDFs in GraalVM JS.
        LANGUAGE JAVASCRIPT here translates the documented ECMAScript
        subset (expression bodies, var/let/const, if/else chains,
        while/for loops, return) to Python at CREATE time — anything
        outside the subset raises immediately, not at first call.
        LANGUAGE PYTHON is the expression-body extension (row-at-a-time,
        documented slow path); LANGUAGE PANDAS evaluates the body over
        pandas Series (Arrow-batched, ~10-100x faster — the right
        choice at scale when a built-in genuinely can't express it).
        """
        head = st.match(
            r"CREATE\s+(OR\s+REPLACE\s+)?FUNCTION\s+"
            r"((?:(?:[\w]+|\"[^\"]+\")\.)?(?:[\w]+|\"[^\"]+\"))\s*\(",
            masked=True,
        )
        args, end = _arg_list(st, head.end() - 1)
        m = st.match(
            r"\s*RETURNS\s+(.+?)\s+LANGUAGE\s+(PYTHON|PANDAS|JAVASCRIPT)\s+"
            r"AS\s+__LIT_(\d+)__\s*$",
            masked=True, pos=end,
        )
        schema, _, name = head.group(2).rpartition(".")
        ret_type, language = m.group(1).strip(), m.group(2).upper()
        body = string_value(st.literals[int(m.group(3))])
        or_replace = bool(head.group(1))
        schema = (schema.strip('"') or self._search_path()[0]).lower()
        if schema in ("sys", "information_schema"):
            # user-defined-functions.rst: pg_catalog is allowed for PG
            # compat, the read-only system schemas are not
            raise ValueError(
                f"Cannot create a function in the read-only schema '{schema}'"
            )
        ret_type = spark_type(ret_type)
        # The reference runs UDF bodies in a sandboxed GraalVM JS context
        # (UserDefinedFunctionService). A Python eval cannot be a real
        # sandbox, so (a) CREATE FUNCTION must only be exposed to trusted
        # callers, and (b) we at least compile the body against a
        # restricted builtins whitelist — no import, open, exec, etc.
        import builtins as _b

        safe_builtins = {
            n: getattr(_b, n)
            for n in (
                "abs", "all", "any", "bool", "dict", "divmod", "enumerate",
                "filter", "float", "int", "len", "list", "map", "max", "min",
                "pow", "range", "reversed", "round", "set", "sorted", "str",
                "sum", "tuple", "zip",
            )
        }
        import math as _math

        if language == "JAVASCRIPT":
            env = {
                "__builtins__": safe_builtins, "math": _math,
                "Math": _JsMath, "Date": _JsDate, "JSON": _JsJSON,
                "__js_member": _js_member,
                "__js_member_d": _js_member_d,
                "__JS_ABSENT": _JS_ABSENT,
                "__js_join": (
                    lambda arr, sep=",": _js_str(sep).join(
                        "" if e is None else _js_str(e) for e in arr
                    )
                ),
                "__js_str": _js_str,
                "String": _js_str,
                "Number": _js_number,
                "parseInt": _js_parse_int,
                "parseFloat": _js_parse_float,
                "__js_regex": _js_regex,
                "__js_throw": _js_throw,
                "__js_method": _js_method,
                "__js_forin": _js_forin,
                "Object": _JsObjectNS,
                # JS isNaN coerces first: isNaN('123') is false
                "isNaN": (lambda v: _js_number(v) != _js_number(v)),
            }
            # the reference validates at CREATE that the JS function
            # name equals the SQL signature name (JavaScriptLanguage
            # via JavascriptUserDefinedFunctionTest
            # .testFunctionWrongNameInFunctionBody) — same error text
            _decl = re.match(
                r"\s*(?:(?:var|let|const)\s+([\w$]+)\s*=|function\s+([\w$]+))",
                body,
            )
            _js_name = _decl and (_decl.group(1) or _decl.group(2))
            # unquoted SQL identifiers fold to lowercase before the
            # compare (the reference folds at parse time), so `CREATE
            # FUNCTION SQ ... 'function sq...'` is accepted; QUOTED
            # identifiers keep their case and bind by exact name
            # (PolyglotLanguage.getFunctionValue — ADVICE r7), so
            # `CREATE FUNCTION "Camel" ... 'function Camel...'` must
            # compare case-sensitively
            _sql_name = (
                name.strip('`"') if name[:1] in ('`', '"') else name.lower()
            )
            if _js_name is not None and _js_name != _sql_name:
                raise ValueError(
                    f"The name of the function signature '{name}' "
                    f"doesn't match the function name in the function "
                    f"definition"
                )
            _, body_fn = _js_function(body, env)
            # identity (signature + coercers) comes from the SQL
            # argument list — the JS function may declare surplus
            # params (undefined at call, like the reference's GraalVM
            # binding; symmetric_point in user-defined-functions.rst)
            specs = [
                ["__arg"] + _sig_item_type(a).split()
                for a in split_args(args)
                if a.strip()
            ]
            kind = "row"
        else:
            specs = [
                [p.strip('"') for p in a.strip().split()]
                for a in split_args(args)
                if a.strip()
            ]
            arg_names = [s[0] for s in specs]
            kind = "pandas" if language == "PANDAS" else "row"
            body_fn = None
        # coerce inputs to natural Python types (SQL decimal literals
        # arrive as decimal.Decimal, which breaks float arithmetic)
        _float_types = {"double", "float"}
        _int_types = {"int", "bigint", "smallint", "tinyint"}
        declared_types = [
            " ".join(s[1:]).lower() if len(s) > 1 else "" for s in specs
        ]
        sig = tuple(spark_type(t) if t else "" for t in declared_types)
        def _obj_parse(x):
            # OBJECT values ride the engine as JSON strings (dynamic
            # object representation); a JS UDF's declared-object param
            # must see the OBJECT, not its encoding, for property
            # access / destructuring (GraalVM host access gets a map)
            import json as _json

            if isinstance(x, str):
                try:
                    v = _json.loads(x)
                    return v if isinstance(v, (dict, list)) else x
                except Exception:
                    return x
            return x

        coercers = []
        for declared, stored in zip(declared_types, sig):
            spec = read_type(declared)
            if stored in _float_types:
                coercers.append(float)
            elif stored in _int_types:
                coercers.append(int)
            elif language == "JAVASCRIPT" and spec and spec.is_object:
                coercers.append(_obj_parse)
            elif language == "JAVASCRIPT" and spec and spec.element and spec.element.is_object:
                coercers.append(
                    lambda xs: [_obj_parse(e) for e in xs]
                    if isinstance(xs, list)
                    else xs
                )
            else:
                coercers.append(lambda x: x)

        if kind == "pandas":
            # vectorized path: args are pandas Series; numpy/pandas in
            # scope, Arrow batches end-to-end. Declared-type coercion:
            # SQL decimal literals arrive as object-dtype Decimal Series.
            import numpy as _np
            import pandas as _pd

            dtypes = [
                "float64" if d in _float_types
                else "int64" if d in _int_types
                else None
                for d in sig
            ]
            pbody_fn = eval(  # noqa: S307 - trusted-caller surface by design
                f"lambda {', '.join(arg_names)}: ({body})",
                {"__builtins__": safe_builtins, "np": _np, "pd": _pd},
            )

            def entry_fn(*series):
                return pbody_fn(
                    *[s if d is None else s.astype(d) for s, d in zip(series, dtypes)]
                )
        else:
            if body_fn is None:
                body_fn = eval(  # noqa: S307 - trusted-caller surface by design
                    f"lambda {', '.join(arg_names)}: ({body})",
                    {"__builtins__": safe_builtins, "math": _math},
                )
            # numeric returns into a timestamp-typed function are UTC
            # seconds, like the reference's double->timestamp cast
            # (user-defined-functions.rst "Working with NUMBERS"); into
            # a numeric-typed one they are decimals (a DecimalType UDF
            # answers NULL for a float), NULL when not finite
            _ts_ret = ret_type.startswith("timestamp")
            _dec_ret = ret_type.startswith("decimal")

            def entry_fn(*vals, _bf=body_fn, _co=coercers):
                r = _bf(*[
                    None if v is None else c(v) for c, v in zip(_co, vals)
                ])
                if isinstance(r, (int, float)) and not isinstance(r, bool):
                    if _ts_ret:
                        import datetime as _dt

                        return _dt.datetime.fromtimestamp(
                            float(r), tz=_dt.timezone.utc
                        )
                    if _dec_ret:
                        import decimal as _dec

                        finite = isinstance(r, int) or _math.isfinite(r)
                        return _dec.Decimal(str(r)) if finite else None
                return r

        key = (schema, name.strip('`"').lower())
        overloads = self._udfs.setdefault(key, {})
        if sig in overloads and not or_replace:
            raise ValueError(
                f"function '{schema}.{name}({', '.join(sig)})' already "
                "exists (use CREATE OR REPLACE FUNCTION)"
            )
        self._udf_seq += 1
        overloads[sig] = {
            "fn": entry_fn, "ret": ret_type, "kind": kind,
            "seq": self._udf_seq,
        }
        self._register_udf_dispatch(schema, name.strip('`"').lower())
        return local_frame(
            self.spark, [(f"{schema}.{name}", ret_type)],
            "function string, returns string",
        )

    #: widening order for overloads whose return types differ — the
    #: single Spark registration must pick one result type
    _NUM_RANK = {
        "tinyint": 0, "smallint": 1, "int": 2, "bigint": 3,
        "float": 4, "double": 5,
    }

    def _register_udf_dispatch(self, schema: str, name: str) -> None:
        """(Re-)register the single mangled Spark UDF for a (schema,
        name) pair: an arity dispatcher over its overloads. Two
        overloads with the same arity but different declared types
        (``my_multiply(int,int)`` vs ``(bigint,bigint)``) both stay in
        the catalog for DROP bookkeeping; calls take the most recently
        created one — Python cannot see the SQL-side static types, and
        the reference's own docs only overload semantically-identical
        bodies this way."""
        overloads = self._udfs[(schema, name)]
        kinds = {o["kind"] for o in overloads.values()}
        if len(kinds) > 1:
            raise ValueError(
                f"overloads of {schema}.{name} must share the same "
                "LANGUAGE kind (scalar vs pandas)"
            )
        by_arity: dict[int, dict] = {}
        for s, o in overloads.items():
            cur = by_arity.get(len(s))
            if cur is None or o["seq"] > cur["seq"]:
                by_arity[len(s)] = o
        rets = {o["ret"] for o in overloads.values()}
        if len(rets) == 1:
            ret = next(iter(rets))
        elif all(r in self._NUM_RANK for r in rets):
            ret = max(rets, key=self._NUM_RANK.get)
        else:
            ret = max(overloads.values(), key=lambda o: o["seq"])["ret"]
        mangled = self._udf_spark_name(schema, name)

        def disp(*vals):
            o = by_arity.get(len(vals))
            if o is None:
                raise ValueError(
                    f"no overload of {schema}.{name} takes "
                    f"{len(vals)} arguments"
                )
            return o["fn"](*vals)

        if kinds == {"pandas"}:
            from pyspark.sql.functions import pandas_udf

            self.spark.udf.register(mangled, pandas_udf(disp, ret))
        else:
            self.spark.udf.register(mangled, disp, ret)

    def _drop_function(self, st: Statement) -> DataFrame:
        """DROP FUNCTION [IF EXISTS] [schema.]name[(argtypes)]
        (drop-function.rst): with an argument list, drop exactly that
        overload; without one, drop every overload of the name. The
        mangled registration means Spark builtins are never touched."""
        m = st.match(
            r"DROP\s+FUNCTION\s+(?:(IF\s+EXISTS)\s+)?((?:[\w]+\.)?[\w]+)\s*",
            masked=True,
        )
        argspec, end = None, m.end()
        if st.masked.startswith("(", end):
            argspec, end = _arg_list(st, end)
        st.match(r"\s*$", masked=True, pos=end)
        qname, if_exists = m.group(2), bool(m.group(1))
        schema, _, name = qname.rpartition(".")
        schema = (schema or self._search_path()[0]).lower()
        key = (schema, name.strip('`"').lower())
        empty = local_frame(self.spark, [], "dropped string")
        overloads = self._udfs.get(key)
        if overloads is None:
            if if_exists:
                return empty
            raise ValueError(f"Unknown function: {qname}")
        if argspec is not None:
            sig = tuple(
                spark_type(_sig_item_type(a))
                for a in split_args(argspec)
                if a.strip()
            )
            if sig not in overloads:
                if if_exists:
                    return empty
                raise ValueError(
                    f"Unknown function: {qname}({', '.join(sig)})"
                )
            del overloads[sig]
        else:
            overloads.clear()
        if overloads:
            self._register_udf_dispatch(schema, name.strip('`"').lower())
        else:
            del self._udfs[key]
            jvm = self.spark._jvm
            self.spark._jsparkSession.sessionState().functionRegistry().dropFunction(
                jvm.org.apache.spark.sql.catalyst.FunctionIdentifier(
                    self._udf_spark_name(schema, name.lower())
                )
            )
        return local_frame(self.spark, [(qname,)], "dropped string")

    def _explain_analyze(self, body: str) -> DataFrame:
        """EXPLAIN ANALYZE: execute the statement and report per-phase
        wall times plus the output row count (reference
        ``planner/node/management/ExplainPlan.java:56`` — its profile
        has Parse/Analyze/Plan/Execute phases; here Catalyst's
        parse+analyze+optimize collapse into the 'plan' phase and
        'execute' times a full run of the physical plan)."""
        import time

        t0 = time.perf_counter()
        df = self._sql(body)
        # force analysis + optimization (lazy otherwise)
        plan_text = df._jdf.queryExecution().optimizedPlan().toString()
        t1 = time.perf_counter()
        rows = df.count()
        t2 = time.perf_counter()
        physical = df._jdf.queryExecution().executedPlan().toString()
        out = [
            ("plan", plan_text.strip().split("\n")[0], (t1 - t0) * 1000.0, None),
            ("execute", physical.strip().split("\n")[0], (t2 - t1) * 1000.0, rows),
        ]
        return local_frame(
            self.spark, out, "phase string, detail string, millis double, rows bigint"
        )

    def explain(self, sql: str) -> str:
        """EXPLAIN — formatted physical plan (ExplainPlan.java:56)."""
        df = self._sql(sql)
        return df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )

    def analyze(self, table: str) -> DataFrame:
        """ANALYZE <table>: persist the view as a managed table snapshot
        is out of scope — for temp-view catalogs Spark cannot collect
        stats, so this is a no-op marker kept for API parity; with a
        real metastore it issues COMPUTE STATISTICS FOR ALL COLUMNS."""
        try:
            self.spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR ALL COLUMNS")
            status = "analyzed"
        except Exception:
            status = "skipped (temp view)"
        return local_frame(self.spark, [(table, status)], "table string, status string")


def _flat(props: dict, prefix: str = ""):
    """SET GLOBAL assignments as (dotted key, value): a nested object
    ``stats = {jobs_log_size = 2048}`` names ``stats.jobs_log_size``
    (runtime-config.rst:53-57); unquoted booleans and integers typed."""
    for k, v in props.items():
        if isinstance(v, dict):
            yield from _flat(v, f"{prefix}{k}.")
        else:
            yield f"{prefix}{k}", typed(v)


def _arg_list(st: Statement, open_idx: int) -> tuple[str, int]:
    """The argument list opening at ``open_idx`` of the masked statement
    (types nest to any depth: ``array(numeric(10,2))``) and the index
    after its closing parenthesis."""
    close = find_close(st.masked, open_idx)
    if close < 0:
        raise st.unsupported()
    return st.masked[open_idx + 1 : close], close + 1


def _sig_item_type(item: str) -> str:
    """One signature item -> its bare type spelling, dropping an
    optional leading argument name (create-function.rst: names in
    signatures are allowed and ignored for identity): an item that is
    not one whole type spelling is ``name type``."""
    item = item.strip()
    return item if read_type(item) else item.split(None, 1)[-1]


class _JsMath:
    """``Math`` namespace for translated JS UDF bodies. JS silently
    ignores surplus call arguments (the reference docs' own
    calculate_distance example passes two args to Math.sqrt), so the
    wrappers are lenient."""

    import math as _m

    PI = _m.pi
    E = _m.e
    sqrt = staticmethod(lambda x, *_: _JsMath._m.sqrt(x))
    pow = staticmethod(lambda a, b, *_: a ** b)
    log = staticmethod(lambda x, *_: _JsMath._m.log(x))
    log10 = staticmethod(lambda x, *_: _JsMath._m.log10(x))
    log2 = staticmethod(lambda x, *_: _JsMath._m.log2(x))
    exp = staticmethod(lambda x, *_: _JsMath._m.exp(x))
    floor = staticmethod(lambda x, *_: _JsMath._m.floor(x))
    ceil = staticmethod(lambda x, *_: _JsMath._m.ceil(x))
    trunc = staticmethod(lambda x, *_: _JsMath._m.trunc(x))
    sin = staticmethod(lambda x, *_: _JsMath._m.sin(x))
    cos = staticmethod(lambda x, *_: _JsMath._m.cos(x))
    tan = staticmethod(lambda x, *_: _JsMath._m.tan(x))
    asin = staticmethod(lambda x, *_: _JsMath._m.asin(x))
    acos = staticmethod(lambda x, *_: _JsMath._m.acos(x))
    atan = staticmethod(lambda x, *_: _JsMath._m.atan(x))
    atan2 = staticmethod(lambda y, x, *_: _JsMath._m.atan2(y, x))
    hypot = staticmethod(lambda *a: _JsMath._m.hypot(*a))
    abs = staticmethod(lambda x, *_: abs(x))
    round = staticmethod(lambda x, *_: round(x))
    max = staticmethod(lambda *a: max(a))
    min = staticmethod(lambda *a: min(a))


class _JsObject(dict):
    """JS-object view of a dict: property access (``obj.y``) and
    subscript (``obj['y']``) both work; missing keys read as None
    (undefined), like GraalVM's host access in the reference's
    lang-js extension (JavascriptUserDefinedFunctionTest
    f_dot/f_brackets)."""

    def __getattribute__(self, name):
        # a stored key wins over dict methods for TRANSLATED-BODY
        # attribute access (o.rows[0].get reads the member, GraalVM
        # host-access style). Library consumers (json.dumps, pyspark
        # StructType.toInternal) never see a _JsObject: stringify and
        # the UDF return boundary unwrap to plain dicts first.
        if not name.startswith("__") and dict.__contains__(self, name):
            return dict.get(self, name)
        return super().__getattribute__(name)

    def __getattr__(self, name):
        return dict.get(self, name)

    def __getitem__(self, key):
        return dict.get(self, key)


class _JsArray(list):
    """JS-array view of a list: ``.length`` property plus the common
    read-only Array methods, so chained access (``o.tags[0].length``)
    behaves like GraalVM host access."""

    @property
    def length(self):
        return len(self)

    def indexOf(self, x):  # noqa: N802 - JS spelling
        try:
            return self.index(x)
        except ValueError:
            return -1

    def includes(self, x):
        return x in self

    def join(self, sep=","):
        return _js_str(sep).join("" if e is None else _js_str(e) for e in self)


def _js_unwrap(v):
    """Recursively convert _JsObject/_JsArray views back to plain
    dicts/lists at the UDF boundary so downstream dict/list-protocol
    consumers are safe."""
    if isinstance(v, dict):
        return {k: _js_unwrap(x) for k, x in dict.items(v)}
    if isinstance(v, (list, tuple)):
        return [_js_unwrap(x) for x in v]
    return v


class _JsAbsent:
    """Missing-member sentinel for destructuring defaults: JS fires a
    default only for ABSENT keys / out-of-range indexes (undefined),
    never for an explicit null — `const {a = 1} = {a: null}` is null
    under GraalVM (ADVICE r9). The CLASS object itself is the
    sentinel: cloudpickle ships a bare ``object()`` instance BY VALUE
    to Spark workers (breaking ``is``), but a module-level class
    travels by reference and keeps its identity."""


_JS_ABSENT = _JsAbsent


def _js_rest_obj(obj, taken):
    """``{a, ...rest} = o``: the remaining OWN keys as a new object
    (GraalVM object rest)."""
    if isinstance(obj, dict):
        return _JsObject(
            {k: v for k, v in obj.items() if k not in taken}
        )
    return _JsObject({})


def _js_rest_arr(arr, start):
    """``[h, ...t] = xs``: the remaining elements as a new array."""
    if arr is None:
        return _JsArray([])
    return _JsArray(list(arr[start:]))


def _js_member_d(obj, name):
    """``_js_member`` for destructuring reads: absent keys return the
    ``_JS_ABSENT`` sentinel (so `= default` fires only on undefined),
    present-but-null values return None and keep the null."""
    if isinstance(obj, dict):
        return dict.get(obj, name, _JS_ABSENT)
    if obj is None:
        return None
    if name == "length" and hasattr(obj, "__len__"):
        return len(obj)
    return getattr(obj, name, _JS_ABSENT)


def _js_member(obj, name):
    """Translated ``obj.name`` property access: a stored key wins over
    any dict method (GraalVM host access reads the member), missing
    members read as undefined/None — and because the TRANSLATOR routes
    property access here, real dict protocol (json.dumps, pyspark's
    StructType.toInternal calling .get/.items) is never shadowed."""
    if isinstance(obj, dict):
        # JS objects have no implicit .length — undefined unless the
        # key exists; dict.get bypasses any shadowed method
        return dict.get(obj, name)
    if obj is None:
        return None
    if name == "length" and hasattr(obj, "__len__"):
        return len(obj)  # arrays and strings
    return getattr(obj, name, None)


def _js_wrap_value(v):
    """Recursively convert dict/Row/list values into JS-friendly
    shapes so translated bodies can use property access."""
    try:
        from pyspark.sql import Row as _Row

        if isinstance(v, _Row):
            v = v.asDict(recursive=True)
    except Exception:
        pass
    if isinstance(v, dict):
        return _JsObject({k: _js_wrap_value(x) for k, x in v.items()})
    if isinstance(v, (list, tuple)):
        return _JsArray(_js_wrap_value(x) for x in v)
    return v


def _js_number(v) -> float:
    """JS ``Number()`` coercion: null/''/false -> 0, true -> 1,
    numeric strings parse, everything else -> NaN (never raises)."""
    if v is None:
        return 0.0
    if v is True:
        return 1.0
    if v is False:
        return 0.0
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, str):
        s = v.strip()
        if not s:
            return 0.0
        try:
            return float(s)
        except ValueError:
            return float("nan")
    return float("nan")


def _js_parse_int(s, base=None) -> float:
    """JS ``parseInt``: parse the leading valid-digit prefix in the
    given base ('12px' -> 12, parseInt('ff', 16) -> 255, '0x1A' ->
    26), NaN when there is none."""
    import re as _re

    text = str(s).strip()
    sign = 1
    if text[:1] in ("+", "-"):
        if text[0] == "-":
            sign = -1
        text = text[1:]
    if base is not None:
        try:
            base = int(base)
        except (TypeError, ValueError):
            return float("nan")
        if base == 0:
            base = None  # JS radix 0 == unspecified (auto-detect)
        elif not 2 <= base <= 36:
            return float("nan")
    if (base in (None, 16)) and text[:2].lower() == "0x":
        base, text = 16, text[2:]
    if base is None:
        base = 10
    digits = _re.escape("0123456789abcdefghijklmnopqrstuvwxyz"[:base])
    m = _re.match(rf"[{digits}]+", text, _re.IGNORECASE)
    if not m:
        return float("nan")
    return float(sign * int(m.group(0), base))


def _js_parse_float(s) -> float:
    """JS ``parseFloat``: leading float prefix, NaN when absent."""
    import re as _re

    m = _re.match(r"\s*([+-]?(?:\d+(?:\.\d*)?|\.\d+)(?:[eE][+-]?\d+)?)", str(s))
    return float(m.group(1)) if m else float("nan")


def _js_str(v) -> str:
    """JS string conversion: booleans lowercase, null -> 'null',
    integral floats render without the trailing .0."""
    if v is None:
        return "null"
    if v is True:
        return "true"
    if v is False:
        return "false"
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


# ---- JS method dispatch -----------------------------------------------------
# The translator routes every `receiver.method(...)` call through
# __js_method, which dispatches JS-named methods on strings, arrays
# and numbers to these shims (GraalVM evaluates them natively;
# Python's str/list surface differs — str.replace replaces ALL
# occurrences where JS replaces the FIRST, lists have no push, etc.).
# Anything not shimmed falls back to real attribute access (so
# _JsRegex.test/.exec, Math.*, JSON.* and stored callable object keys
# keep working), and a missing method raises the JS-shaped
# "TypeError: <name> is not a function" at EVALUATE time, matching
# GraalVM's deferred resolution.


def _js_idx(v, default=0) -> int:
    """JS index coercion: undefined -> default, NaN -> 0, floats
    truncate toward zero."""
    n = _js_number(default if v is None else v)
    return 0 if n != n else int(n)


def _call_cb(fn, *args):
    """Invoke a JS callback with as many of (value, index, container)
    as its translated lambda declares."""
    import inspect

    try:
        want = len(inspect.signature(fn).parameters)
    except (TypeError, ValueError):
        want = 1
    return fn(*args[: max(1, want)])


def _js_substring(s, a=None, b=None):
    i, j = max(0, _js_idx(a)), len(s) if b is None else max(0, _js_idx(b))
    i, j = min(i, len(s)), min(j, len(s))
    if i > j:
        i, j = j, i
    return s[i:j]


def _js_slice_str(s, a=None, b=None):
    return s[slice(_js_idx(a) if a is not None else None,
                   _js_idx(b) if b is not None else None)]


def _js_replace(s, pat, repl, count):
    if isinstance(pat, _JsRegex):
        n = 0 if "g" in pat.flags or count == 0 else 1
        # JS $1..$9 group refs -> Python \1..\9
        py_repl = re.sub(r"\$(\d)", r"\\\1", _js_str(repl))
        return pat._re.sub(py_repl, _js_str(s), count=n)
    return s.replace(_js_str(pat), _js_str(repl), count if count else -1)


def _js_split(s, sep=None, limit=None):
    if sep is None:
        out = [s]
    elif isinstance(sep, _JsRegex):
        out = sep._re.split(s)
    elif sep == "":
        out = list(s)
    else:
        out = s.split(_js_str(sep))
    if limit is not None:
        out = out[: _js_idx(limit)]
    return _JsArray(out)


_JS_STR_METHODS = {
    "toUpperCase": lambda s: s.upper(),
    "toLowerCase": lambda s: s.lower(),
    "trim": lambda s: s.strip(),
    "trimStart": lambda s: s.lstrip(),
    "trimEnd": lambda s: s.rstrip(),
    "substring": _js_substring,
    "substr": lambda s, a=None, ln=None: (
        lambda start: s[start:] if ln is None
        else s[start : start + max(0, _js_idx(ln))]
    )(max(0, len(s) + _js_idx(a)) if _js_idx(a) < 0 else _js_idx(a)),
    "slice": _js_slice_str,
    "charAt": lambda s, i=0: s[_js_idx(i)] if 0 <= _js_idx(i) < len(s) else "",
    "charCodeAt": lambda s, i=0: (
        float(ord(s[_js_idx(i)])) if 0 <= _js_idx(i) < len(s) else float("nan")
    ),
    "indexOf": lambda s, sub="", frm=0: s.find(_js_str(sub), _js_idx(frm)),
    "lastIndexOf": lambda s, sub="": s.rfind(_js_str(sub)),
    "includes": lambda s, sub="", frm=0: s.find(_js_str(sub), _js_idx(frm)) >= 0,
    "startsWith": lambda s, p="", frm=0: s.startswith(_js_str(p), _js_idx(frm)),
    "endsWith": lambda s, p="", end=None: s.endswith(
        _js_str(p), 0, len(s) if end is None else _js_idx(end)
    ),
    # JS replace: FIRST occurrence for string patterns (regex honors g)
    "replace": lambda s, pat, repl="": _js_replace(s, pat, repl, 1),
    "replaceAll": lambda s, pat, repl="": _js_replace(s, pat, repl, 0),
    "split": _js_split,
    "repeat": lambda s, n=0: s * max(0, _js_idx(n)),
    "padStart": lambda s, n=0, p=" ": s if len(s) >= _js_idx(n) or not p
    else (_js_str(p) * _js_idx(n))[: _js_idx(n) - len(s)] + s,
    "padEnd": lambda s, n=0, p=" ": s if len(s) >= _js_idx(n) or not p
    else s + (_js_str(p) * _js_idx(n))[: _js_idx(n) - len(s)],
    "concat": lambda s, *xs: s + "".join(_js_str(x) for x in xs),
    "toString": lambda s: s,
}


def _js_arr_reduce(arr, fn, *init):
    it = list(arr)
    if init:
        acc = init[0]
    else:
        if not it:
            raise _JsThrown("TypeError: Reduce of empty array with no initial value")
        acc, it = it[0], it[1:]
    # continue original indexing when the first element seeds the fold
    offset = 0 if init else 1
    for i, x in enumerate(it):
        acc = _call_cb(fn, acc, x, i + offset, arr)
    return acc


def _js_arr_sort(arr, cmp=None):
    import functools as _ft

    if cmp is None:
        arr.sort(key=_js_str)  # JS default sort compares as strings
    else:
        arr.sort(key=_ft.cmp_to_key(
            lambda a, b: (-1 if _js_number(cmp(a, b)) < 0
                          else (1 if _js_number(cmp(a, b)) > 0 else 0))
        ))
    return arr


def _js_find_index(arr, fn):
    for i, x in enumerate(arr):
        if _call_cb(fn, x, i, arr):
            return i
    return -1


_JS_ARR_METHODS = {
    "push": lambda a, *xs: (a.extend(xs), len(a))[1],
    "pop": lambda a: a.pop() if a else None,
    "shift": lambda a: a.pop(0) if a else None,
    "unshift": lambda a, *xs: (a.__setitem__(slice(0, 0), list(xs)), len(a))[1],
    "indexOf": lambda a, x, frm=0: (
        a.index(x, _js_idx(frm)) if x in a[_js_idx(frm):] else -1
    ),
    "lastIndexOf": lambda a, x: (
        len(a) - 1 - a[::-1].index(x) if x in a else -1
    ),
    "includes": lambda a, x: x in a,
    "join": lambda a, sep=",": _js_str(sep).join(
        "" if e is None else _js_str(e) for e in a
    ),
    "slice": lambda a, i=None, j=None: _JsArray(
        a[slice(_js_idx(i) if i is not None else None,
                _js_idx(j) if j is not None else None)]
    ),
    "concat": lambda a, *xs: _JsArray(
        list(a) + [y for x in xs for y in (x if isinstance(x, list) else [x])]
    ),
    "map": lambda a, fn: _JsArray(_call_cb(fn, x, i, a) for i, x in enumerate(a)),
    "filter": lambda a, fn: _JsArray(
        x for i, x in enumerate(a) if _call_cb(fn, x, i, a)
    ),
    "reduce": _js_arr_reduce,
    "forEach": lambda a, fn: ([_call_cb(fn, x, i, a) for i, x in enumerate(a)], None)[1],
    "some": lambda a, fn: any(_call_cb(fn, x, i, a) for i, x in enumerate(a)),
    "every": lambda a, fn: all(_call_cb(fn, x, i, a) for i, x in enumerate(a)),
    "find": lambda a, fn: next(
        (x for i, x in enumerate(a) if _call_cb(fn, x, i, a)), None
    ),
    "findIndex": _js_find_index,
    "reverse": lambda a: (a.reverse(), a)[1],
    "sort": _js_arr_sort,
    "flat": lambda a, d=1: _JsArray(
        y for x in a for y in (x if isinstance(x, list) and _js_idx(d, 1) > 0 else [x])
    ),
    "toString": lambda a: ",".join("" if e is None else _js_str(e) for e in a),
}

_JS_NUM_METHODS = {
    "toFixed": lambda v, n=0: f"{float(v):.{_js_idx(n)}f}",
    "toString": lambda v: _js_str(v),
}


def _js_method(obj, name):
    """Resolve ``obj.name`` for a CALL site. JS-named shims first
    (keyed by receiver type), stored callable keys on objects, then
    real attributes; a miss raises the GraalVM-shaped TypeError at
    evaluate time."""
    table = None
    if isinstance(obj, str):
        table = _JS_STR_METHODS
    elif isinstance(obj, list):
        table = _JS_ARR_METHODS
    elif isinstance(obj, (int, float)) and not isinstance(obj, bool):
        table = _JS_NUM_METHODS
    if table is not None:
        fn = table.get(name)
        if fn is not None:
            return lambda *a: fn(obj, *a)
    if isinstance(obj, dict):
        v = dict.get(obj, name)
        if callable(v):
            return v
    meth = getattr(obj, name, None)
    if meth is None or not callable(meth):
        raise _JsThrown(f"TypeError: {name} is not a function")
    return meth


def _js_forin(obj):
    """``for (k in obj)`` enumeration: object keys, array/string
    index STRINGS (GraalVM/ECMA for-in semantics)."""
    if isinstance(obj, dict):
        return list(dict.keys(obj))
    if isinstance(obj, (list, str)):
        return [str(i) for i in range(len(obj))]
    return []


class _JsObjectNS:
    """The global ``Object`` namespace surface the subset supports."""

    @staticmethod
    def keys(o):
        return _JsArray(dict.keys(o)) if isinstance(o, dict) else _JsArray()

    @staticmethod
    def values(o):
        return _JsArray(dict.values(o)) if isinstance(o, dict) else _JsArray()

    @staticmethod
    def entries(o):
        if not isinstance(o, dict):
            return _JsArray()
        return _JsArray(_JsArray([k, v]) for k, v in dict.items(o))


class _JsJSON:
    """``JSON.parse`` / ``JSON.stringify`` for translated JS UDF
    bodies (JavascriptUserDefinedFunctionTest
    testObjectReturnType)."""

    @staticmethod
    def parse(s):
        import json as _json

        return _js_wrap_value(_json.loads(s))

    @staticmethod
    def stringify(v, *_):
        import json as _json

        return _json.dumps(_js_unwrap(v))


class _JsDate:
    """``Date.UTC`` for translated JS UDF bodies: 0-based months,
    epoch MILLISECONDS return — the semantics the reference's
    "Working with NUMBERS" doc section depends on."""

    @staticmethod
    def UTC(year, month=0, day=1, hour=0, minute=0, second=0, ms=0):
        import datetime as _dt

        y, mo = int(year), int(month)
        y += mo // 12
        mo %= 12
        base = _dt.datetime(y, mo + 1, 1, tzinfo=_dt.timezone.utc)
        base += _dt.timedelta(
            days=int(day) - 1, hours=int(hour), minutes=int(minute),
            seconds=int(second), milliseconds=int(ms),
        )
        return base.timestamp() * 1000.0


class _JsRegex:
    """JS regex literal (``/pat/flags``) — the RegExp surface the
    translated subset supports: ``.test``, ``.exec``, ``.source``,
    ``.flags``. Stateless (no lastIndex), so ``g`` only affects flag
    echo; ``u``/``y`` are accepted and ignored. JS named groups
    ``(?<n>...)`` translate to Python's ``(?P<n>...)``."""

    def __init__(self, pattern: str, flags: str = ""):
        f = 0
        if "i" in flags:
            f |= re.IGNORECASE
        if "m" in flags:
            f |= re.MULTILINE
        if "s" in flags:
            f |= re.DOTALL
        self.source, self.flags = pattern, flags
        py_pat = re.sub(r"\(\?<(?![=!])", "(?P<", pattern)
        self._re = re.compile(py_pat, f)

    def test(self, s) -> bool:
        return s is not None and self._re.search(_js_str(s)) is not None

    def exec(self, s):  # noqa: A003 - JS method name
        m = None if s is None else self._re.search(_js_str(s))
        if m is None:
            return None
        return [m.group(0), *m.groups()]


import functools


@functools.lru_cache(maxsize=256)
def _js_regex(pattern: str, flags: str = "") -> _JsRegex:
    # cached: the inline __js_regex(...) expression in translated code
    # then costs a dict lookup per row, not a re.compile
    return _JsRegex(pattern, flags)


#: after these keywords a '/' starts a regex literal even though the
#: preceding character is alphanumeric
_JS_REGEX_KEYWORDS = {
    "return", "typeof", "case", "in", "of", "new", "void", "delete",
    "do", "else", "instanceof",
}


def _js_mask_literals(body: str) -> tuple[str, list[str]]:
    """One lexer pass masking BOTH string literals and regex literals
    of a JS function body as ``__JSBODY{n}__`` placeholders, BEFORE any
    statement parsing — so a ``;``/``,``/paren/quote INSIDE a literal
    can never confuse the statement splitters (review r7).

    Strings are stored verbatim (JS quoting is Python-compatible for
    the supported escapes); regex literals are stored as their
    translated ``__js_regex(...)`` call. A ``/`` starts a regex only
    in operand position: after an operator/opening bracket, at the
    start, or after a keyword like ``return`` — after an identifier,
    number, ')' or ']' it is division. Inside a regex, ``[...]``
    character classes may contain an unescaped ``/``. Patterns are
    compiled HERE so an unsupported pattern fails at CREATE time."""
    lits: list[str] = []
    out: list[str] = []
    i, n = 0, len(body)
    last_sig, last_word = "", ""
    while i < n:
        ch = body[i]
        if ch in "'\"":
            j = i + 1
            while j < n:
                if body[j] == "\\":
                    j += 2
                    continue
                if body[j] == ch:
                    break
                j += 1
            lits.append(body[i : j + 1])
            out.append(f"__JSBODY{len(lits) - 1}__")
            i = j + 1
            last_sig, last_word = ")", ""  # a string is value-like
            continue
        if ch == "`":
            # template literal: scan to the closing backtick, skipping
            # escapes and balanced ${...} spans; store the TRANSLATED
            # Python concatenation so errors (and unsupported inner
            # constructs) surface at CREATE time like regex literals
            j, depth = i + 1, 0
            while j < n:
                c = body[j]
                if c == "\\":
                    j += 2
                    continue
                if body.startswith("${", j):
                    depth += 1
                    j += 2
                    continue
                if c == "}" and depth:
                    depth -= 1
                elif c == "`" and not depth:
                    break
                j += 1
            if j >= n:
                raise ValueError("unterminated template literal in UDF body")
            lits.append(_js_template_to_python(body[i + 1 : j]))
            out.append(f"__JSBODY{len(lits) - 1}__")
            i = j + 1
            last_sig, last_word = ")", ""
            continue
        if ch == "/" and (
            last_sig == ""
            or last_sig in "([{,=!&|+-*%?:;<>"
            or last_word in _JS_REGEX_KEYWORDS
        ):
            j, in_class, closed = i + 1, False, False
            while j < n:
                c = body[j]
                if c == "\\":
                    j += 2
                    continue
                if c == "[":
                    in_class = True
                elif c == "]":
                    in_class = False
                elif c == "/" and not in_class:
                    closed = True
                    break
                elif c == "\n":
                    break
                j += 1
            if closed and j > i + 1:
                k = j + 1
                while k < n and body[k] in "gimsuy":
                    k += 1
                pat, flags = body[i + 1 : j], body[j + 1 : k]
                try:
                    _js_regex(pat, flags)
                except re.error as e:
                    raise ValueError(
                        f"unsupported JavaScript regex literal "
                        f"/{pat}/{flags}: {e}"
                    ) from None
                lits.append(f"__js_regex({pat!r}, {flags!r})")
                out.append(f"__JSBODY{len(lits) - 1}__")
                i = k
                last_sig, last_word = ")", ""
                continue
        out.append(ch)
        if not ch.isspace():
            last_sig = ch
            last_word = (
                last_word + ch if (ch.isalnum() or ch in "_$") else ""
            )
        i += 1
    return "".join(out), lits


def _js_template_to_python(tpl: str) -> str:
    """Inner text of a ```...``` template literal -> a Python string
    concatenation ``('a' + __js_str(expr) + 'b')``. Each ``${...}``
    span is masked and translated like a standalone expression, so
    nested string literals and operators inside it behave exactly as
    they would elsewhere in the body."""
    parts: list[str] = []
    buf: list[str] = []
    esc = {"n": "\n", "t": "\t", "r": "\r"}

    def flush():
        if buf:
            parts.append(repr("".join(buf)))
            buf.clear()

    i, n = 0, len(tpl)
    while i < n:
        c = tpl[i]
        if c == "\\" and i + 1 < n:
            nxt = tpl[i + 1]
            buf.append(esc.get(nxt, nxt))
            i += 2
            continue
        if tpl.startswith("${", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if tpl[j] == "{":
                    depth += 1
                elif tpl[j] == "}":
                    depth -= 1
                j += 1
            if depth:
                raise ValueError("unterminated ${...} in template literal")
            inner = tpl[i + 2 : j - 1]
            masked, inner_lits = _js_mask_literals(inner)
            flush()
            parts.append(f"__js_str({_js_expr_to_python(masked, inner_lits)})")
            i = j
            continue
        buf.append(c)
        i += 1
    flush()
    if not parts:
        return "''"
    return "(" + " + ".join(parts) + ")"


def _js_unmask_literals(text: str, lits: list[str]) -> str:
    for i in range(len(lits) - 1, -1, -1):
        text = text.replace(f"__JSBODY{i}__", lits[i])
    return text


def _js_ternary_to_python(expr: str) -> str:
    """``cond ? a : b`` -> ``((a) if (cond) else (b))``. Rightmost-?
    first (its branches are then ternary-free), scope delimited by the
    nearest enclosing paren/bracket/brace/comma — nested ternaries
    resolve over successive iterations. Braces are tracked so object
    literals inside a branch (``cond ? {a: 1} : {b: 2}``) don't steal
    the ternary's ':'."""
    while "?" in expr:
        q = expr.rindex("?")
        # scope start: nearest unmatched opener or depth-0 comma left of q
        depth, start = 0, 0
        for i in range(q - 1, -1, -1):
            ch = expr[i]
            if ch in ")]}":
                depth += 1
            elif ch in "([{":
                if depth == 0:
                    start = i + 1
                    break
                depth -= 1
            elif ch == "," and depth == 0:
                start = i + 1
                break
        # the ':' matching this '?' (branches of the rightmost ? hold
        # no ternaries; a ':' inside braces is an object-literal key)
        depth, colon = 0, -1
        for i in range(q + 1, len(expr)):
            ch = expr[i]
            if ch in "([{":
                depth += 1
            elif ch in ")]}":
                depth -= 1
            elif ch == ":" and depth == 0:
                colon = i
                break
        if colon < 0:
            return expr
        # scope end: nearest unmatched closer or depth-0 comma after ':'
        depth, end = 0, len(expr)
        for i in range(colon + 1, len(expr)):
            ch = expr[i]
            if ch in "([{":
                depth += 1
            elif ch in ")]}":
                if depth == 0:
                    end = i
                    break
                depth -= 1
            elif ch == "," and depth == 0:
                end = i
                break
        # a lambda header inside the scope (arrow-function body holding
        # the ternary) stays OUTSIDE the rewritten region: its ':' is
        # the lambda's, and its params must keep binding the condition
        lam = None
        for lam in re.finditer(r"lambda[\w\s,$]*:", expr[start:q]):
            pass
        if lam is not None:
            start = start + lam.end()
        cond = expr[start:q].strip()
        a = expr[q + 1:colon].strip()
        b = expr[colon + 1:end].strip()
        expr = expr[:start] + f"(({a}) if ({cond}) else ({b}))" + expr[end:]
    return expr


#: identifier property chain (no trailing call) — shared by the member
#: pass in _js_expr_to_python and the method-call base translation
_JS_MEMBER_CHAIN_RE = re.compile(
    r"\b(?!(?:Math|Date|JSON|math|Object|__js\w*)\b)"
    r"[A-Za-z_$][\w$]*(?:\s*\.\s*[A-Za-z_$][\w$]*)+(?![\w$])(?!\s*\()(?!\s*\.)"
)

#: namespaces whose method calls stay plain Python attribute access
_JS_CALL_NAMESPACES = {"Math", "Date", "JSON", "math", "Object", "String", "Number"}


def _js_member_chain_sub(m: re.Match) -> str:
    path = m.group(0).split(".")
    out = path[0]
    for p in path[1:]:
        out = f"__js_member({out}, '{p.strip()}')"
    return out


def _js_route_method_calls(expr: str) -> str:
    """Rewrite ``receiver.meth(`` to ``__js_method(<receiver>, 'meth')(``.
    The receiver may be an identifier chain (with subscripts) or a
    call/subscript RESULT (walks back over balanced ()/[] spans), so
    chains like ``s.trim().toUpperCase()`` dispatch at every link.
    Namespace receivers (Math., JSON., ...) keep plain attribute
    access. Dotted receiver segments go through __js_member like any
    other property read."""
    i = 0
    while True:
        m = re.compile(r"\.\s*([\w$]+)\s*\(").search(expr, i)
        if not m:
            return expr
        meth = m.group(1)
        # walk back from the '.' over the receiver span
        k = m.start() - 1
        while k >= 0 and expr[k].isspace():
            k -= 1
        p, is_value = k, False
        while p >= 0:
            c = expr[p]
            if c in ")]":
                is_value = is_value or c == ")"
                depth = 0
                while p >= 0:
                    if expr[p] in ")]":
                        depth += 1
                    elif expr[p] in "([":
                        depth -= 1
                        if depth == 0:
                            break
                    p -= 1
                if depth:  # unbalanced: bail on this call site
                    p = k
                    break
                p -= 1
                continue
            if c.isalnum() or c in "_$":
                while p >= 0 and (expr[p].isalnum() or expr[p] in "_$"):
                    p -= 1
                if p >= 0 and expr[p] == ".":
                    p -= 1
                    continue
                break
            break
        start = p + 1
        base = expr[start : k + 1].strip()
        if not base:
            i = m.end()
            continue
        head = re.match(r"[\w$]+", base)
        if (
            not is_value
            and head
            and (head.group(0) in _JS_CALL_NAMESPACES
                 or head.group(0).startswith("__js_"))
        ):
            i = m.end()
            continue
        tbase = _JS_MEMBER_CHAIN_RE.sub(_js_member_chain_sub, base)
        repl = f"__js_method({tbase}, '{meth}')("
        expr = expr[:start] + repl + expr[m.end():]
        i = start + len(repl)


def _js_spread_to_python(expr: str) -> str:
    """Spread in expression position (r11): ``[...xs, 9]`` -> Python
    ``[*xs, 9]``, ``f(...xs)`` -> ``f(*xs)``, ``{...o, a: 1}`` ->
    ``{**o, "a": 1}`` — the nearest enclosing bracket decides * vs **
    (JS objects are dicts in this runtime)."""
    if "..." not in expr:
        return expr
    out: list[str] = []
    stack: list[str] = []
    i = 0
    while i < len(expr):
        if expr.startswith("...", i):
            out.append("**" if (stack and stack[-1] == "{") else "*")
            i += 3
            continue
        ch = expr[i]
        if ch in "([{":
            stack.append(ch)
        elif ch in ")]}" and stack:
            stack.pop()
        out.append(ch)
        i += 1
    return "".join(out)


def _js_block_arrow_unwrap(text: str) -> str:
    """Multi-statement block-body arrows in expression position whose
    body is a sequence of declarations / reassignments of OWN names
    plus a trailing return (r11): compile to a walrus chain —
    ``x => { var y = x * 2; y = y + 1; return y; }`` becomes
    ``x => ((y := x * 2), (y := y + 1), (y))[-1]``. Assignments to
    ENCLOSING names stay rejections (a Python lambda cannot rebind
    its closure)."""

    def sub(m: re.Match) -> str:
        body = m.group(1)
        stmts = [s.strip() for s in body.split(";") if s.strip()]
        if len(stmts) < 2 or not re.match(r"return\b", stmts[-1]):
            return m.group(0)
        declared: set[str] = set()
        parts: list[str] = []
        for st in stmts[:-1]:
            dm = re.fullmatch(
                r"(?:var|let|const)\s+([\w$]+)\s*=\s*(.+)", st, re.DOTALL
            )
            if dm:
                declared.add(dm.group(1))
                parts.append(f"({dm.group(1)} := {dm.group(2)})")
                continue
            am = re.fullmatch(
                r"([\w$]+)\s*([-+*/]?)=\s*(.+)", st, re.DOTALL
            )
            if am and am.group(1) in declared:
                tgt, op, rhs = am.groups()
                rhs = f"{tgt} {op} ({rhs})" if op else rhs
                parts.append(f"({tgt} := {rhs})")
                continue
            return m.group(0)  # anything else: leave for the reject path
        ret = stmts[-1][len("return"):].strip()
        parts.append(f"({ret})")
        return "=> ({},)[-1]".format(", ".join(parts))

    return re.sub(r"=>\s*\{([^{}]*)\}", sub, text)


def _js_expr_to_python(expr: str, body_lits: list[str] | None = None) -> str:
    """Translate one JS expression to Python. String/regex literals
    arrive MASKED as ``__JSBODY{n}__`` placeholders (``body_lits``
    from ``_js_mask_literals``) — every caller is a statement handler
    in ``_js_block_to_python`` — so operator rewrites below can never
    touch text inside a literal."""
    expr = expr.strip()
    expr = expr.replace("!==", "!=").replace("===", "==")
    expr = _js_spread_to_python(expr)
    expr = _js_block_arrow_unwrap(expr)
    # fn.apply(null, xs) -> fn(*xs) (Math.max.apply in the reference's
    # arr_max integration test)
    expr = re.sub(
        r"\.\s*apply\(\s*null\s*,\s*([\w$]+(?:\[[^\]]*\])*)\s*\)",
        r"(*\1)",
        expr,
    )
    # arr.join(sep) -> helper (JS stringifies elements; default ','):
    # the receiver may be a member path (obj.tags.join)
    expr = re.sub(
        r"([\w$]+(?:\.[\w$]+|\[[^\]]*\])*)\s*\.\s*join\(",
        r"__js_join(\1, ",
        expr,
    )
    expr = re.sub(r", \)", ")", expr)  # join() with no separator
    # block-body arrows whose body is EXACTLY one return statement
    # unwrap to the expression form (r9: `xs.map(x => { return x*2; })`
    # was a CREATE-time rejection; multi-statement block bodies still
    # fail at the compile like any other untranslatable construct)
    expr = re.sub(
        r"=>\s*\{\s*return\b([^{};]*);?\s*\}",
        r"=> (\1)",
        expr,
    )
    # expression-body arrow functions -> Python lambdas (JS callbacks:
    # xs.map(x => x * 2), sort((a, b) => a - b))
    expr = re.sub(
        r"\(\s*([\w$]*(?:\s*,\s*[\w$]+)*)\s*\)\s*=>\s*(?!\{)",
        r"lambda \1: ",
        expr,
    )
    expr = re.sub(r"(?<![\w$])([\w$]+)\s*=>\s*(?!\{)", r"lambda \1: ", expr)
    # method calls route through __js_method (JS-semantics shims for
    # string/array/number receivers; attribute fallback for the rest)
    expr = _js_route_method_calls(expr)
    # object literals: quote bare keys so {x: 1} becomes a dict
    # literal, not a Python set/annotation error (already-quoted keys
    # are masked placeholders — leave those alone). Lambda headers
    # from the arrow rewrite are masked first: `lambda a, b:` would
    # otherwise read as `, b:` -> a bare key.
    lam_spans: list[str] = []

    def _protect_lambda(m: re.Match) -> str:
        lam_spans.append(m.group(0))
        return f"__JSLAM{len(lam_spans) - 1}__"

    expr = re.sub(r"\blambda[\w\s,$]*:", _protect_lambda, expr)
    expr = re.sub(
        r"([{,]\s*)(?!__JSBODY\d+__)([A-Za-z_$][\w$]*)\s*:",
        r'\1"\2":',
        expr,
    )
    for _i, _s in enumerate(lam_spans):
        expr = expr.replace(f"__JSLAM{_i}__", _s)
    # property access on identifier chains -> __js_member (never on
    # the Math/Date/JSON/math namespaces, never on a method call's
    # final segment): obj.l1.l2 nests left-to-right. Routing through
    # the helper instead of Python attribute access keeps dict
    # protocol intact for library consumers of the same objects.
    expr = _JS_MEMBER_CHAIN_RE.sub(_js_member_chain_sub, expr)
    expr = re.sub(r"&&", " and ", expr)
    expr = re.sub(r"\|\|", " or ", expr)
    expr = re.sub(r"!(?![=])", " not ", expr)
    expr = re.sub(r"\bnull\b", "None", expr)
    expr = re.sub(r"\bundefined\b", "None", expr)
    expr = re.sub(r"\btrue\b", "True", expr)
    expr = re.sub(r"\bfalse\b", "False", expr)
    expr = re.sub(r"\b([\w$]+)\s*\.\s*length\b", r"len(\1)", expr)
    expr = _js_ternary_to_python(expr)
    if body_lits:
        expr = _js_unmask_literals(expr, body_lits)
    return expr


def _js_balanced(s: str, start: int) -> tuple[str, int]:
    """s[start] == '(' -> (inner text, index after the closer)."""
    depth = 0
    for i in range(start, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return s[start + 1:i], i + 1
    raise ValueError("unbalanced parentheses in JavaScript UDF body")


def _js_brace_block(s: str, start: int) -> tuple[str, int]:
    """Block after position start: `{ ... }` -> inner text, or a
    single unbraced statement up to ';'."""
    j = start
    while j < len(s) and s[j] in " \t\r\n":
        j += 1
    if j < len(s) and s[j] == "{":
        depth = 0
        for i in range(j, len(s)):
            if s[i] == "{":
                depth += 1
            elif s[i] == "}":
                depth -= 1
                if depth == 0:
                    return s[j + 1:i], i + 1
        raise ValueError("unbalanced braces in JavaScript UDF body")
    k = s.find(";", j)
    if k < 0:
        k = len(s) - 1
    return s[j:k + 1], k + 1


class _JsThrown(Exception):
    """A value thrown by a translated JS UDF body — surfaces at
    EVALUATE time (the reference compiles `throw` fine at CREATE and
    GraalVM raises io.crate.exceptions.ScriptException on the first
    evaluation, message "Error: <msg>")."""


def _js_throw(kind: str, *args):
    msg = _js_str(args[0]) if args else ""
    raise _JsThrown(f"{kind}: {msg}" if msg else kind)


def _js_split_decls(s: str) -> list[str]:
    """Split a declaration list on TOP-LEVEL commas, tracking (), []
    and {} so commas inside object/array literals never split
    (``var o = {a: 1, b: 2}, n = 3``)."""
    parts, buf, depth = [], [], 0
    for ch in s:
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return parts


def _js_strip_fn_bodies(block: str) -> str:
    """Replace the BODIES of directly- and deeper-nested function
    declarations with ``{}`` so scope scans over ``block`` see only
    this function's own declarations and writes — a grand-nested
    function's locals must not shadow or trigger this scope's
    nonlocal analysis."""
    out, i = [], 0
    while True:
        m = re.search(r"\bfunction\s+[\w$]+\s*\([^)]*\)\s*", block[i:])
        if not m:
            out.append(block[i:])
            return "".join(out)
        start = i + m.end()
        if start >= len(block) or block[start] != "{":
            out.append(block[i : start])
            i = start
            continue
        _body, after = _js_brace_block(block[i:], m.end())
        out.append(block[i : start] + "{}")
        i += after
    return "".join(out)


def _js_declared_names(block: str) -> set[str]:
    """Names bound in THIS function scope of a (literal-masked,
    fn-body-stripped) JS block: var/let/const declarations incl. comma
    lists, and the NAMES of directly-nested function declarations."""
    out: set[str] = set()
    for dm in re.finditer(r"\b(?:var|let|const)\b([^;]*)", block):
        for d in _js_split_decls(dm.group(1)):
            nm = re.match(r"\s*([\w$]+)", d)
            if nm:
                out.add(nm.group(1))
    for fm in re.finditer(r"\bfunction\s+([\w$]+)\s*\(", block):
        out.add(fm.group(1))
    return out


def _js_block_to_python(
    src: str,
    depth: int,
    lines: list[str],
    lits: list[str] | None = None,
    scope_names: set[str] | None = None,
    loop: tuple | None = None,
) -> None:
    """Translate a JS statement block to indented Python lines.
    Covers the reference-doc UDF subset: var/let/const declarations
    (incl. comma lists), assignments (`=`, `+=`, ..., `++`/`--`),
    if / else if / else, while, C-style for, break, nested function
    declarations (hoisted, like JS; closure writes become nonlocal),
    bare helper calls, and return. ``src`` must have string/regex
    literals masked (``_js_mask_literals``) so statement splitting
    never reads into a literal. Anything else raises — at CREATE
    FUNCTION time, not first call."""
    pad = "    " * depth
    # function declarations hoist to the top of their block (JS
    # semantics: callable before their textual position)
    fn_lines: list[str] = []
    body_lines: list[str] = []
    i, n = 0, len(src)
    while i < n:
        while i < n and src[i] in " \t\r\n;":
            i += 1
        if i >= n:
            break
        rest = src[i:]
        m = re.match(r"(?:var|let|const)\b(.*?);", rest, re.DOTALL)
        if m:
            for decl in _js_split_decls(m.group(1)):
                # destructuring declarations: `const {a, b: c = 1} = o`
                # / `const [x, y = 2] = arr`, incl. NESTED patterns and
                # rest elements (r10). Balanced-bracket scan finds the
                # pattern's true close (a lazy regex would cut
                # `{a: {b} = {}} = o` at the wrong brace).
                dm0 = re.match(r"\s*([\[{])", decl)
                if dm0:
                    open_ch = dm0.group(1)
                    close_ch = "]" if open_ch == "[" else "}"
                    d2, j2 = 0, dm0.end() - 1
                    while j2 < len(decl):
                        if decl[j2] in "([{":
                            d2 += 1
                        elif decl[j2] in ")]}":
                            d2 -= 1
                            if d2 == 0:
                                break
                        j2 += 1
                    after = decl[j2 + 1 :].lstrip() if j2 < len(decl) else ""
                    if (
                        j2 < len(decl)
                        and decl[j2] == close_ch
                        and after.startswith("=")
                        and not after.startswith("==")
                    ):
                        tmp = f"__destr{depth}"
                        bindings = _js_destructure_bindings(
                            open_ch,
                            decl[dm0.end() : j2],
                            tmp,
                            pad,
                            lits,
                        )
                        if bindings is not None:
                            body_lines.append(
                                f"{pad}{tmp} = "
                                f"{_js_expr_to_python(after[1:], lits)}"
                            )
                            body_lines.extend(bindings)
                            continue
                dm = re.match(
                    r"\s*([\w$]+)\s*(?:=\s*(.*))?$", decl, re.DOTALL
                )
                if not dm:
                    raise ValueError(
                        f"unsupported JavaScript declaration: {decl[:60]!r}"
                    )
                val = (
                    _js_expr_to_python(dm.group(2), lits)
                    if dm.group(2)
                    else "None"
                )
                body_lines.append(f"{pad}{dm.group(1)} = {val}")
            i += m.end()
            continue
        m = re.match(r"return\b\s*(.*?)\s*(?:;|$)", rest, re.DOTALL)
        if m:
            val = _js_expr_to_python(m.group(1), lits) if m.group(1) else "None"
            body_lines.append(f"{pad}return {val}")
            i += m.end()
            continue
        m = re.match(r"if\s*\(", rest)
        if m:
            cond, j = _js_balanced(rest, m.end() - 1)
            block, j = _js_brace_block(rest, j)
            body_lines.append(f"{pad}if {_js_expr_to_python(cond, lits)}:")
            _js_block_to_python(block, depth + 1, body_lines, lits, scope_names, loop)
            while True:
                em = re.match(r"\s*else\s+if\s*\(", rest[j:])
                if em:
                    cond, k = _js_balanced(rest[j:], em.end() - 1)
                    block, k = _js_brace_block(rest[j:], k)
                    body_lines.append(
                        f"{pad}elif {_js_expr_to_python(cond, lits)}:"
                    )
                    _js_block_to_python(block, depth + 1, body_lines, lits, scope_names, loop)
                    j += k
                    continue
                em = re.match(r"\s*else\b", rest[j:])
                if em:
                    block, k = _js_brace_block(rest[j:], em.end())
                    body_lines.append(f"{pad}else:")
                    _js_block_to_python(block, depth + 1, body_lines, lits, scope_names, loop)
                    j += k
                break
            i += j
            continue
        m = re.match(r"while\s*\(", rest)
        if m:
            cond, j = _js_balanced(rest, m.end() - 1)
            block, j = _js_brace_block(rest, j)
            body_lines.append(f"{pad}while {_js_expr_to_python(cond, lits)}:")
            _js_block_to_python(
                block, depth + 1, body_lines, lits, scope_names, ("while",)
            )
            i += j
            continue
        m = re.match(r"for\s*\(", rest)
        if m:
            head, j = _js_balanced(rest, m.end() - 1)
            # for...of / for...in (ES6 iteration; for-in enumerates
            # keys / index strings via __js_forin, ECMA semantics)
            fm = re.match(
                r"\s*(?:var\s+|let\s+|const\s+)?([\w$]+)\s+(of|in)\s+(.+)$",
                head,
                re.DOTALL,
            )
            if fm:
                block, j = _js_brace_block(rest, j)
                it = _js_expr_to_python(fm.group(3), lits)
                if fm.group(2) == "in":
                    it = f"__js_forin({it})"
                body_lines.append(f"{pad}for {fm.group(1)} in {it}:")
                _js_block_to_python(
                    block, depth + 1, body_lines, lits, scope_names, ("while",)
                )
                if not block.strip():
                    body_lines.append(f"{pad}    pass")
                i += j
                continue
            parts = head.split(";")
            if len(parts) != 3:
                raise ValueError(
                    "only C-style `for (init; cond; step)` and "
                    "`for (x of/in expr)` loops are supported in "
                    "JavaScript UDF bodies"
                )
            init, cond, step = (p.strip() for p in parts)
            block, j = _js_brace_block(rest, j)
            if init:
                _js_block_to_python(init + ";", depth, body_lines, lits, scope_names)
            body_lines.append(
                f"{pad}while "
                f"{_js_expr_to_python(cond, lits) if cond else 'True'}:"
            )
            _js_block_to_python(
                block, depth + 1, body_lines, lits, scope_names, ("cfor", step)
            )
            if step:
                _js_block_to_python(step + ";", depth + 1, body_lines, lits, scope_names)
            i += j
            continue
        m = re.match(r"break\s*(?:;|$)", rest)
        if m:
            body_lines.append(f"{pad}break")
            i += m.end()
            continue
        m = re.match(r"continue\s*(?:;|$)", rest)
        if m:
            # JS continue still runs a C-style for's STEP; the loop is
            # translated to `while`, so emit the step before Python's
            # continue (loop context threads through if/else blocks;
            # nested functions reset it)
            if loop is None:
                raise ValueError(
                    "continue outside of a loop in JavaScript UDF body"
                )
            if loop[0] == "cfor" and loop[1]:
                _js_block_to_python(
                    loop[1] + ";", depth, body_lines, lits, scope_names
                )
            body_lines.append(f"{pad}continue")
            i += m.end()
            continue
        m = re.match(r"switch\s*\(", rest)
        if m:
            # switch -> index dispatch with full JS semantics: an
            # if/elif chain on strict equality picks the starting arm,
            # then arms execute sequentially from that index until a
            # terminal break (fallthrough supported, r9); consecutive
            # bare `case a: case b:` labels (shared body) and a
            # mid-switch default position all behave like GraalVM.
            subject, j = _js_balanced(rest, m.end() - 1)
            block, j = _js_brace_block(rest, j)
            body_lines.append(
                f"{pad}__switch{depth} = "
                f"{_js_expr_to_python(subject, lits)}"
            )
            arms = []  # (values | None for default, stmts-text)
            pos, blen = 0, len(block)
            while pos < blen:
                while pos < blen and block[pos] in " \t\r\n;":
                    pos += 1
                if pos >= blen:
                    break
                cm = re.match(
                    r"(?:case\s+(.+?)|default)\s*:", block[pos:], re.DOTALL
                )
                if not cm:
                    raise ValueError(
                        "unsupported statement inside switch near: "
                        f"{block[pos:pos + 40]!r}"
                    )
                labels = []
                while cm:
                    labels.append(cm.group(1))  # None for default
                    pos += cm.end()
                    while pos < blen and block[pos] in " \t\r\n":
                        pos += 1
                    cm = re.match(
                        r"(?:case\s+(.+?)|default)\s*:", block[pos:], re.DOTALL
                    )
                # statements run to the next case/default label at
                # this brace depth, or the block end
                stmt_start, d = pos, 0
                while pos < blen:
                    ch2 = block[pos]
                    if ch2 in "{(":
                        d += 1
                    elif ch2 in "})":
                        d -= 1
                    elif d == 0 and re.match(
                        r"(?:case\s|default\s*:)", block[pos:]
                    ):
                        break
                    pos += 1
                stmts = block[stmt_start:pos]
                arms.append((labels, stmts))
            def _arm_terminated(stmts: str) -> bool:
                frags = [f.strip() for f in stmts.split(";") if f.strip()]
                return bool(frags) and re.match(
                    r"(break|return|throw)\b", frags[-1]
                ) is not None

            def _check_no_inner_break(stmts: str) -> None:
                # any `break` in the arm body NOT caught by a nested
                # loop/switch would compile to a bare Python break —
                # which exits an enclosing translated loop instead of
                # the switch (or SyntaxErrors without one), diverging
                # from GraalVM. Reject at CREATE like fallthrough
                # (ADVICE r8/r9: braces opened by if/else/try do NOT
                # legitimize a break, so recurse into them — only
                # for/while/do/switch braces catch one).
                stack: list[bool] = []  # True => brace catches break
                k, n = 0, len(stmts)
                while k < n:
                    c = stmts[k]
                    if c in "'\"`":
                        q = c
                        k += 1
                        while k < n and stmts[k] != q:
                            k += 2 if stmts[k] == "\\" else 1
                        k += 1
                        continue
                    if c == "{":
                        head = stmts[:k].rstrip()
                        catching = False
                        if head.endswith(")"):
                            d2, j2 = 0, len(head) - 1
                            while j2 >= 0:
                                if head[j2] == ")":
                                    d2 += 1
                                elif head[j2] == "(":
                                    d2 -= 1
                                    if d2 == 0:
                                        break
                                j2 -= 1
                            kw = re.search(r"([\w$]+)\s*$", head[:j2])
                            catching = kw is not None and kw.group(1) in (
                                "for", "while", "switch"
                            )
                        elif re.search(r"(?<![\w$])do\s*$", head):
                            catching = True
                        stack.append(catching)
                        k += 1
                        continue
                    if c == "}":
                        if stack:
                            stack.pop()
                        k += 1
                        continue
                    if (
                        stmts[k : k + 5] == "break"
                        and (k == 0 or not (stmts[k - 1].isalnum()
                                            or stmts[k - 1] in "_$"))
                        and not re.match(r"break[\w$]", stmts[k:])
                        and not any(stack)
                    ):
                        raise ValueError(
                            "unsupported JavaScript construct: break "
                            "before the end of a switch case (only a "
                            "terminal break is supported)"
                        )
                    k += 1

            # Full JS dispatch semantics, fallthrough included: pick
            # the starting arm index (first matching case, else the
            # default arm's TEXTUAL position, else past-the-end), then
            # execute arms sequentially from that index until a
            # terminal break sets the break flag (return/throw exit on
            # their own). Case expressions evaluate in order, like JS.
            default_idx = next(
                (k for k, a in enumerate(arms)
                 if any(v is None for v in a[0])),
                len(arms),
            )
            first = True
            for idx, (labels, stmts) in enumerate(arms):
                conds = " or ".join(
                    f"__switch{depth} == ({_js_expr_to_python(v, lits)})"
                    for v in labels
                    if v is not None
                )
                if not conds:
                    continue  # pure default arm: the else below
                body_lines.append(
                    f"{pad}{'if' if first else 'elif'} {conds}:"
                )
                body_lines.append(f"{pad}    __swidx{depth} = {idx}")
                first = False
            if first:
                body_lines.append(f"{pad}__swidx{depth} = {default_idx}")
            else:
                body_lines.append(f"{pad}else:")
                body_lines.append(f"{pad}    __swidx{depth} = {default_idx}")
            body_lines.append(f"{pad}__swbrk{depth} = False")
            for idx, (labels, stmts) in enumerate(arms):
                body_lines.append(
                    f"{pad}if not __swbrk{depth} "
                    f"and __swidx{depth} <= {idx}:"
                )
                # strip the terminal break; it becomes the break flag
                inner = re.sub(r"\bbreak\s*;?\s*$", "", stmts)
                had_break = inner != stmts and _arm_terminated(stmts)
                _check_no_inner_break(inner)
                before_len = len(body_lines)
                _js_block_to_python(
                    inner, depth + 1, body_lines, lits, scope_names, loop
                )
                if had_break:
                    body_lines.append(f"{pad}    __swbrk{depth} = True")
                elif len(body_lines) == before_len:
                    body_lines.append(f"{pad}    pass")
            i += j
            continue
        # throw: compiles at CREATE, raises at evaluate (GraalVM
        # semantics — the reference's ScriptException carries
        # "Error: <msg>"). `new <Kind>(arg)` (any nesting depth, via
        # balanced-paren extraction), `throw(expr)` and bare-value
        # forms all translate.
        m = re.match(r"throw\b\s*(.+?)\s*(?:;|$)", rest, re.DOTALL)
        if m:
            val = m.group(1).strip()
            # strip redundant wrapping parens: throw(new Error(x));
            while (
                val.startswith("(")
                and _js_balanced(val, 0)[1] == len(val)
            ):
                val = val[1:-1].strip()
            nm = re.match(r"new\s+([A-Za-z_$][\w$]*)\s*\(", val)
            if nm and _js_balanced(val, nm.end() - 1)[1] == len(val):
                arg = _js_balanced(val, nm.end() - 1)[0].strip()
                body_lines.append(
                    f"{pad}__js_throw('{nm.group(1)}'"
                    + (f", {_js_expr_to_python(arg, lits)})" if arg else ")")
                )
            else:
                body_lines.append(
                    f"{pad}__js_throw('Error', "
                    f"{_js_expr_to_python(val, lits)})"
                )
            i += m.end()
            continue
        m = re.match(r"function\s+([\w$]+)\s*\(([^)]*)\)\s*", rest)
        if m:
            # nested function declaration -> Python def; writes to
            # names from the ENCLOSING scope become `nonlocal`, so
            # closures over mutable state work like GraalVM's. Names
            # declared var/let/const (or as params) inside stay local.
            block, j = _js_brace_block(rest, m.end())
            fname = m.group(1)
            params = [p.strip() for p in m.group(2).split(",") if p.strip()]
            # scope scans run on the block with deeper-nested fn
            # BODIES stripped, so a grand-nested function's locals
            # neither shadow this scope's names nor register as its
            # writes (each nesting level re-analyzes its own block)
            stripped = _js_strip_fn_bodies(block)
            declared = _js_declared_names(stripped) | set(params) | {fname}
            assigned = set(
                re.findall(
                    r"(?<![\w$.])([\w$]+)\s*"
                    r"(?:=(?!=)|\+=|-=|\*=|/=|%=|\+\+|--)",
                    stripped,
                )
            )
            sig = ", ".join(f"{p}=None" for p in params)
            fn_lines.append(f"{pad}def {fname}({sig}):")
            # nonlocal ONLY for names actually bound in an enclosing
            # translated scope — a JS implicit-global write stays a
            # plain local (GraalVM accepts such bodies; an unbindable
            # nonlocal would reject them at CREATE)
            for nl in sorted((assigned - declared) & (scope_names or set())):
                fn_lines.append(f"{pad}    nonlocal {nl}")
            before = len(fn_lines)
            _js_block_to_python(
                block, depth + 1, fn_lines, lits,
                (scope_names or set()) | declared,
            )
            if len(fn_lines) == before:
                fn_lines.append(f"{pad}    return None")
            i += j
            continue
        m = re.match(r"([\w$]+)\s*\+\+\s*(?:;|$)", rest)
        if m:
            body_lines.append(f"{pad}{m.group(1)} += 1")
            i += m.end()
            continue
        m = re.match(r"([\w$]+)\s*--\s*(?:;|$)", rest)
        if m:
            body_lines.append(f"{pad}{m.group(1)} -= 1")
            i += m.end()
            continue
        m = re.match(
            r"([\w$]+(?:\[[^\]]*\])*)\s*(=(?!=)|\+=|-=|\*=|/=|%=)\s*(.*?)\s*(?:;|$)",
            rest,
            re.DOTALL,
        )
        if m:
            body_lines.append(
                f"{pad}{m.group(1)} {m.group(2)} "
                f"{_js_expr_to_python(m.group(3), lits)}"
            )
            i += m.end()
            continue
        # forEach in STATEMENT position translates to a Python for
        # loop (r11), so callback bodies may freely rebind enclosing
        # names (`xs.forEach(x => s += x)`) or run multi-statement
        # blocks — the expression-position limitation (a Python
        # lambda cannot rebind its closure) does not apply to the
        # common imperative spelling
        m = re.match(
            r"([\w$]+(?:\s*\.\s*[\w$]+|\[[^\]]*\])*)\s*\.\s*forEach\s*\(",
            rest,
        )
        if m:
            call, j = _js_balanced(rest, m.end() - 1)
            am = re.match(
                r"(?:\(([^)]*)\)|([\w$]+))\s*=>\s*(.*)$",
                call.strip(),
                re.DOTALL,
            )
            fe_params = (
                [
                    p.strip()
                    for p in (am.group(1) or am.group(2) or "").split(",")
                    if p.strip()
                ]
                if am
                else []
            )
            fe_body = am.group(3).strip() if am else ""
            was_block = fe_body.startswith("{") and fe_body.endswith("}")
            if was_block:
                fe_body = fe_body[1:-1]
            # only block bodies and plain assignment/increment bodies
            # take the loop path; anything else (method calls,
            # already-unwrapped walrus chains) keeps the
            # expression-position translation
            if (
                am
                and 1 <= len(fe_params) <= 2
                and all(re.fullmatch(r"[\w$]+", p) for p in fe_params)
                and (
                    was_block
                    or re.match(
                        r"[\w$]+(?:\[[^\]]*\])*\s*"
                        r"(?:=(?!=)|\+=|-=|\*=|/=|%=|\+\+|--)",
                        fe_body,
                    )
                )
                # a callback `return` means "next element" in JS, not
                # function exit — leave those to the reject path
                and not re.search(r"\breturn\b", fe_body)
            ):
                seq = f"__fe{depth}"
                recv = _js_expr_to_python(m.group(1), lits)
                body_lines.append(f"{pad}{seq} = {recv}")
                body_lines.append(f"{pad}for {seq}_i in range(len({seq})):")
                body_lines.append(f"{pad}    {fe_params[0]} = {seq}[{seq}_i]")
                if len(fe_params) == 2:
                    body_lines.append(f"{pad}    {fe_params[1]} = {seq}_i")
                before = len(body_lines)
                _js_block_to_python(
                    fe_body, depth + 1, body_lines, lits,
                    (scope_names or set()) | set(fe_params),
                )
                if len(body_lines) == before:
                    body_lines.append(f"{pad}    pass")
                i += j
                continue
        # bare call statement — a user-declared helper OR a member
        # call (arr.push(x), out.sort(...)): method calls dispatch
        # through __js_method, whose string/array shims carry JS
        # mutation semantics (push returns the new length, reverse
        # mutates in place)
        m = re.match(
            r"(?!(?:if|while|for|return|function|throw)\b)"
            r"([\w$]+(?:\s*\.\s*[\w$]+|\[[^\]]*\])*"
            r"\s*\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\))"
            r"\s*(?:;|$)",
            rest,
        )
        if m:
            body_lines.append(f"{pad}{_js_expr_to_python(m.group(1), lits)}")
            i += m.end()
            continue
        raise ValueError(
            "unsupported JavaScript construct in UDF body near: "
            f"{_js_unmask_literals(rest[:60], lits or [])!r} "
            "(supported: declarations, assignments, if/else, while, "
            "C-style for, nested functions, return)"
        )
    lines.extend(fn_lines)
    lines.extend(body_lines)


#: temp-name counter for nested destructuring sources
_DS_COUNTER = itertools.count()


def _js_destructure_target(target, val_plain, val_d, default, pad, lits,
                           lines):
    """Emit bindings for ONE destructuring target: a plain identifier,
    or a nested ``{...}``/``[...]`` pattern (r10 — the verdict's next
    translator tier). ``val_plain`` reads the member as undefined->
    None; ``val_d`` (object members only) reads with the _JS_ABSENT
    sentinel so a default fires only for absent keys. Returns False
    when the target is out of subset."""
    nested = re.fullmatch(r"([\[{])(.*)([\]}])", target, re.DOTALL)
    if nested and (nested.group(1), nested.group(3)) in {
        ("[", "]"), ("{", "}")
    }:
        tmp = f"__ds{next(_DS_COUNTER)}"
        if default is not None:
            dv = _js_expr_to_python(default, lits)
            if val_d is not None:
                lines.append(f"{pad}{tmp} = {val_d}")
                lines.append(
                    f"{pad}if {tmp} is __JS_ABSENT: {tmp} = ({dv})"
                )
            else:
                lines.append(
                    f"{pad}{tmp} = ({val_plain}) if ({val_plain}) "
                    f"is not None else ({dv})"
                )
        else:
            lines.append(f"{pad}{tmp} = {val_plain}")
        inner = _js_destructure_bindings(
            nested.group(1), nested.group(2), tmp, pad, lits
        )
        if inner is None:
            return False
        lines.extend(inner)
        return True
    if not re.fullmatch(r"[\w$]+", target):
        return False
    if default is not None:
        dv = _js_expr_to_python(default, lits)
        if val_d is not None:
            # the sentinel read distinguishes absent from null
            lines.append(f"{pad}{target} = {val_d}")
            lines.append(
                f"{pad}if {target} is __JS_ABSENT: {target} = ({dv})"
            )
        else:
            lines.append(
                f"{pad}{target} = {val_plain} if {val_plain} "
                f"is not None else ({dv})"
            )
    else:
        lines.append(f"{pad}{target} = {val_plain}")
    return True


def _js_split_target_default(s: str):
    """Split ``<target> [= <default>]`` at the TOP-LEVEL ``=`` (not
    ==/=>, not inside brackets) -> (target, default|None)."""
    depth = 0
    for i, ch in enumerate(s):
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif (
            ch == "="
            and depth == 0
            and (i + 1 >= len(s) or s[i + 1] not in "=>")
            and (i == 0 or s[i - 1] not in "=<>!+-*/%&|^")
        ):
            return s[:i].strip(), s[i + 1 :].strip()
    return s.strip(), None


def _js_destructure_bindings(kind, body, src, pad, lits):
    """Python binding lines for one ``{...}``/``[...]`` destructuring
    pattern: plain identifiers, ``key: target`` renames (objects),
    ``= default`` values (GraalVM semantics: a default fires only
    when the member reads UNDEFINED — an absent key or out-of-range
    index — never for an explicit null, which stays null; ADVICE r9),
    NESTED patterns (``const [a, [b]] = xs``, ``{a: {b}} = o``; r10),
    and a trailing REST element (``{a, ...rest}`` / ``[h, ...t]``;
    r10). None when the pattern is out of subset (computed keys,
    elisions, non-final rest)."""
    lines = []
    elems = _js_split_decls(body)
    obj_keys: list[str] = []
    for k, elem in enumerate(elems):
        elem = elem.strip()
        if not elem:
            return None  # elision: out of subset
        rm = re.fullmatch(r"\.\.\.\s*([\w$]+)", elem)
        if rm:
            if k != len(elems) - 1:
                return None  # rest must be final (JS SyntaxError)
            if kind == "{":
                keys = ", ".join(f"'{x}'" for x in obj_keys)
                comma = "," if obj_keys else ""
                lines.append(
                    f"{pad}{rm.group(1)} = "
                    f"__js_rest_obj({src}, ({keys}{comma}))"
                )
            else:
                lines.append(
                    f"{pad}{rm.group(1)} = __js_rest_arr({src}, {k})"
                )
            continue
        if kind == "{":
            km = re.match(r"([\w$]+)\s*", elem)
            if not km:
                return None
            key = km.group(1)
            obj_keys.append(key)
            rest = elem[km.end():]
            if rest.startswith(":"):
                target, default = _js_split_target_default(rest[1:])
            else:
                target, default = _js_split_target_default(elem)
            val_plain = f"__js_member({src}, '{key}')"
            val_d = f"__js_member_d({src}, '{key}')"
            if not _js_destructure_target(
                target, val_plain, val_d, default, pad, lits, lines
            ):
                return None
        else:
            target, default = _js_split_target_default(elem)
            # out-of-range index is undefined -> default fires; an
            # in-range null element stays null
            val_plain = (
                f"({src}[{k}] if {src} is not None "
                f"and len({src}) > {k} else None)"
            )
            if default is not None:
                dv = _js_expr_to_python(default, lits)
                val_plain = (
                    f"({src}[{k}] if {src} is not None "
                    f"and len({src}) > {k} else ({dv}))"
                )
                default = None  # already folded into the read
            if not _js_destructure_target(
                target, val_plain, None, default, pad, lits, lines
            ):
                return None
    return lines


def _js_function(body: str, env: dict) -> tuple[list[str], object]:
    """``function name(params) { statements }`` -> (params, Python
    callable). Translation + compilation happen HERE, at CREATE
    FUNCTION time, so unsupported constructs fail loudly up front.
    The reference runs full GraalVM ECMAScript
    (extensions/lang-js JavaScriptLanguage.java:28); this covers the
    documented UDF subset. Params default to None — JS treats missing
    arguments as undefined."""
    # arrow-function assignment is valid GraalVM input
    # (JavascriptUserDefinedFunctionTest.testValidateCatchesAssertionError:
    # `var f = (a) => a * a;` validates null on JDK>=9): normalize both
    # the expression-body and block-body forms to the function form
    body = re.sub(
        r"^\s*(?:var|let|const)\s+([\w$]+)\s*=\s*\(([^)]*)\)\s*=>\s*"
        r"\{(.*)\}\s*;?\s*$",
        r"function \1(\2) {\3}",
        body,
        flags=re.DOTALL,
    )
    body = re.sub(
        r"^\s*(?:var|let|const)\s+([\w$]+)\s*=\s*\(([^)]*)\)\s*=>\s*"
        r"([^;{].*?)\s*;?\s*$",
        r"function \1(\2) { return \3; }",
        body,
        flags=re.DOTALL,
    )
    m = re.match(
        r"\s*function\s+[\w$]+\s*\(([^)]*)\)\s*\{(.*)\}\s*;?\s*$",
        body,
        re.DOTALL,
    )
    if not m:
        raise ValueError(
            "LANGUAGE JAVASCRIPT bodies must be a single "
            "`function name(args) { ... }` definition"
        )
    raw_params = [p.strip() for p in _js_split_decls(m.group(1)) if p.strip()]
    params: list[str] = []
    preamble: list[str] = []
    bound: list[str] = []
    rest_name: str | None = None
    for k, p in enumerate(raw_params):
        # rest parameter (r11): `function f(a, ...xs)` collects the
        # remaining arguments as a JS Array; GraalVM rejects a
        # non-final rest
        rm = re.fullmatch(r"\.\.\.\s*([\w$]+)", p)
        if rm:
            if k != len(raw_params) - 1:
                raise ValueError(
                    "unsupported JavaScript construct: rest parameter "
                    "must be the last formal parameter"
                )
            rest_name = rm.group(1)
            preamble.append(f"    {rest_name} = [*{rest_name}]")
            bound.append(rest_name)
            continue
        # destructuring parameters: `function f([a, b = 1])` /
        # `function f({x, y: z = 2})` — identifier lists with optional
        # renames/defaults (r9; nesting and rest params still reject)
        dp = re.fullmatch(r"([\[{])(.*?)([\]}])", p, re.DOTALL)
        if dp and (dp.group(1), dp.group(3)) in {("[", "]"), ("{", "}")}:
            synth = f"__arg{k}"
            bindings = _js_destructure_bindings(
                dp.group(1), dp.group(2), synth, "    ", None
            )
            if bindings is None:
                raise ValueError(
                    f"unsupported JavaScript construct: parameter {p!r}"
                )
            params.append(synth)
            preamble.extend(bindings)
            bound.extend(
                ln.split("=", 1)[0].strip() for ln in bindings
            )
        elif re.fullmatch(r"[\w$]+", p):
            params.append(p)
        else:
            raise ValueError(
                f"unsupported JavaScript construct: parameter {p!r}"
            )
    sig = [f"{p}=None" for p in params]
    if rest_name is not None:
        sig.append(f"*{rest_name}")
    lines = ["def __js_udf({}):".format(", ".join(sig))]
    lines.extend(preamble)
    # mask string + regex literals ONCE over the whole body, before
    # any statement parsing (a ';', ',' or paren inside a literal must
    # never split a statement)
    masked, body_lits = _js_mask_literals(m.group(2))
    # block-body arrows unwrap to expression form BEFORE statement
    # splitting (the `;` inside `x => { ... }` would otherwise cut
    # the enclosing statement mid-expression): first the
    # decl+return walrus form (r11), then the single-return form
    masked = _js_block_arrow_unwrap(masked)
    masked = re.sub(
        r"=>\s*\{\s*return\b([^{};]*);?\s*\}", r"=> (\1)", masked
    )
    # the top scope's bound names (params + destructured names + this
    # body's declarations, nested fn bodies excluded) seed the closure
    # nonlocal analysis
    top_scope = (
        set(params) | set(bound)
        | _js_declared_names(_js_strip_fn_bodies(masked))
    )
    _js_block_to_python(masked, 1, lines, body_lits, top_scope)
    if len(lines) == 1:
        lines.append("    return None")
    src = "\n".join(lines)
    try:
        code = compile(src, "<js-udf>", "exec")
    except SyntaxError as e:
        raise ValueError(
            f"unsupported JavaScript construct in UDF body: {e.msg} "
            f"(translated line: {e.text!r})"
        ) from None
    ns: dict = {}
    # the destructuring sentinel helpers are translator-internal —
    # inject them here so every caller-built env has them
    env.setdefault("__js_member_d", _js_member_d)
    env.setdefault("__JS_ABSENT", _JS_ABSENT)
    env.setdefault("__js_rest_obj", _js_rest_obj)
    env.setdefault("__js_rest_arr", _js_rest_arr)
    exec(code, env, ns)  # noqa: S102 - trusted-caller surface by design
    fn = ns["__js_udf"]
    # Unresolvable globals (Java.type, start_point in the docs' line()
    # example) resolve at CALL time, like GraalVM: CREATE succeeds,
    # the first evaluation raises "<name> is not defined"
    # (JavascriptUserDefinedFunctionTest testDisableEvalAndExit...
    # asserts the ScriptException on evaluate, and
    # user-defined-functions.rst:307 CREATEs a body whose identifiers
    # never resolve). Python's NameError carries the identical
    # message shape, so no extra machinery is needed.

    def _wrapped(*vals, _fn=fn):
        # object/Row args become attr-accessible (obj.y), like
        # GraalVM's host access in the reference's lang-js extension;
        # the RESULT unwraps to plain dicts so pyspark's return-type
        # coercion (StructType.toInternal calls .get) is never handed
        # a key-shadowed view
        return _js_unwrap(_fn(*[_js_wrap_value(v) for v in vals]))

    return params, _wrapped

"""Per-layer tracing for the benchmark server.

Wrappers around the public entry points of each engine module, installed
from the benchmark's own files: product code is not edited. Every
front-door statement gets a context on the thread that serves it; the
wrappers add their time and counts to that context, and the finished
contexts are kept in memory until the client asks for them.

Layers and what is timed:

- ``http_sql``: ``execute_request`` (``request_ms``)
- ``pg_wire``: ``_PgHandler._simple_query`` opens the context and
  ``_PgHandler._exec`` is timed (lock wait plus ``CrateSession.execute``)
- ``engine``: ``CrateSession.execute`` (outermost call only)
- ``dialect``: ``rewrite`` as bound in ``crate_spark.engine`` and
  ``crate_spark.sql_dml``, which import it by name
- ``spark``: ``SparkSession.sql`` (analysis), ``DataFrame.collect``, and
  jobs and tasks per statement from a per-statement job group read back
  through ``statusTracker``
- ``py4j``: ``ClientServerConnection.send_command``, counted only on the
  thread that runs the statement
- ``sql_dml``: ``SqlDmlRouter.route``; ``dml``: ``CrateTable.insert`` and
  ``CrateTable.read``
"""

from __future__ import annotations

import re
import threading
import time
import uuid

CLASSES = ("ping", "point", "agg", "write", "kv_point", "kv_agg")

_WRITE_RE = re.compile(r"^\s*INSERT\b", re.I)
_AGG_RE = re.compile(r"\bGROUP\s+BY\b|\bcount\s*\(", re.I)
_POINT_RE = re.compile(r"\bWHERE\b", re.I)
_KV_RE = re.compile(r"\bFROM\s+kv\b", re.I)


def classify(stmt: str) -> str:
    """Operation class of one of the benchmark's own statements; reads of
    the ingested table ``kv`` are classes of their own."""
    if _WRITE_RE.search(stmt):
        return "write"
    if _AGG_RE.search(stmt):
        cls = "agg"
    elif _POINT_RE.search(stmt):
        cls = "point"
    else:
        return "ping"
    return f"kv_{cls}" if _KV_RE.search(stmt) else cls


class _Ctx:
    __slots__ = (
        "cls", "front", "t", "py4j_calls", "py4j_s", "engine_depth",
        "rewrite_calls", "jobs", "tasks", "group", "error",
    )

    def __init__(self, cls: str, front: str):
        self.cls = cls
        self.front = front
        self.t: dict[str, float] = {}
        self.py4j_calls = 0
        self.py4j_s = 0.0
        self.engine_depth = 0
        self.rewrite_calls = 0
        self.jobs = 0
        self.tasks = 0
        self.group = f"perfbench-{uuid.uuid4().hex}"
        self.error = False

    def add(self, key: str, seconds: float) -> None:
        self.t[key] = self.t.get(key, 0.0) + seconds


class Tracer:
    """Installs the wrappers and keeps the finished statement contexts."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._local = threading.local()
        self._lock = threading.Lock()
        self.records: list[dict] = []
        self._saved: list[tuple[object, str, object]] = []

    # -- context plumbing ----------------------------------------------
    def _ctx(self) -> _Ctx | None:
        return getattr(self._local, "ctx", None)

    def _untracked(self) -> bool:
        return getattr(self._local, "quiet", False)

    def _begin(self, stmt: str, front: str) -> _Ctx | None:
        if self._ctx() is not None:
            return None  # nested: the outer statement owns the context
        ctx = _Ctx(classify(stmt), front)
        self._local.ctx = ctx
        self._local.quiet = True
        try:
            self.sc.setJobGroup(ctx.group, "perfbench", False)
        finally:
            self._local.quiet = False
        return ctx

    def _end(self, ctx: _Ctx) -> None:
        self._local.quiet = True
        try:
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(ctx.group)
            ctx.jobs = len(jobs)
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    stage = tracker.getStageInfo(sid)
                    if stage is not None:
                        ctx.tasks += stage.numTasks
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        finally:
            self._local.quiet = False
            self._local.ctx = None
        rec = {
            "cls": ctx.cls,
            "front": ctx.front,
            "py4j_calls": ctx.py4j_calls,
            "py4j_ms": ctx.py4j_s * 1e3,
            "rewrite_calls": ctx.rewrite_calls,
            "jobs": ctx.jobs,
            "tasks": ctx.tasks,
            "error": ctx.error,
        }
        rec.update({k: v * 1e3 for k, v in ctx.t.items()})
        with self._lock:
            self.records.append(rec)

    def drain(self) -> list[dict]:
        with self._lock:
            out, self.records = self.records, []
        return out

    # -- installation --------------------------------------------------
    def _patch(self, owner, name: str, make) -> None:
        orig = getattr(owner, name)
        self._saved.append((owner, name, orig))
        setattr(owner, name, make(orig))

    def _timed(self, key: str):
        """Wrapper factory: add the call's wall time to ``key``."""
        tracer = self

        def make(orig):
            def wrapper(*args, **kwargs):
                ctx = tracer._ctx()
                if ctx is None:
                    return orig(*args, **kwargs)
                t0 = time.perf_counter()
                try:
                    return orig(*args, **kwargs)
                finally:
                    ctx.add(key, time.perf_counter() - t0)

            return wrapper

        return make

    def install(self) -> None:
        import py4j.clientserver
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.session import SparkSession

        import crate_spark.engine as engine
        import crate_spark.http_sql as http_sql
        import crate_spark.pg_wire as pg_wire
        import crate_spark.sql_dml as sql_dml
        from crate_spark.dml import CrateTable

        tracer = self

        def wrap_request(orig):
            def execute_request(session, payload, **kwargs):
                ctx = tracer._begin(str(payload.get("stmt") or ""), "http")
                if ctx is None:
                    return orig(session, payload, **kwargs)
                t0 = time.perf_counter()
                resp = None
                try:
                    resp = orig(session, payload, **kwargs)
                    return resp
                finally:
                    ctx.add("request", time.perf_counter() - t0)
                    ctx.error = not isinstance(resp, dict) or "error" in resp
                    tracer._end(ctx)
                    if isinstance(resp, dict):
                        # the client subtracts this from its round trip
                        resp["perfbench_request_ms"] = ctx.t["request"] * 1e3

            return execute_request

        def wrap_simple_query(orig):
            def _simple_query(handler, sock, sql):
                ctx = tracer._begin(sql, "pg")
                if ctx is None:
                    return orig(handler, sock, sql)
                t0 = time.perf_counter()
                try:
                    return orig(handler, sock, sql)
                finally:
                    ctx.add("pg_query", time.perf_counter() - t0)
                    tracer._end(ctx)

            return _simple_query

        def wrap_engine(orig):
            def execute(session, sql, params=None):
                ctx = tracer._ctx()
                if ctx is None:
                    return orig(session, sql, params)
                ctx.engine_depth += 1
                t0 = time.perf_counter()
                try:
                    return orig(session, sql, params)
                except Exception:
                    ctx.error = True
                    raise
                finally:
                    ctx.engine_depth -= 1
                    if ctx.engine_depth == 0:
                        ctx.add("engine", time.perf_counter() - t0)

            return execute

        def wrap_rewrite(orig):
            def rewrite(*args, **kwargs):
                ctx = tracer._ctx()
                if ctx is None:
                    return orig(*args, **kwargs)
                t0 = time.perf_counter()
                try:
                    return orig(*args, **kwargs)
                finally:
                    ctx.add("rewrite", time.perf_counter() - t0)
                    ctx.rewrite_calls += 1

            return rewrite

        def wrap_send(orig):
            def send_command(conn, command, *args, **kwargs):
                ctx = tracer._ctx()
                if ctx is None or tracer._untracked():
                    return orig(conn, command, *args, **kwargs)
                t0 = time.perf_counter()
                try:
                    return orig(conn, command, *args, **kwargs)
                finally:
                    ctx.py4j_calls += 1
                    ctx.py4j_s += time.perf_counter() - t0

            return send_command

        self._patch(http_sql, "execute_request", wrap_request)
        self._patch(pg_wire._PgHandler, "_simple_query", wrap_simple_query)
        self._patch(pg_wire._PgHandler, "_exec", self._timed("pg_exec"))
        self._patch(engine.CrateSession, "execute", wrap_engine)
        self._patch(engine, "rewrite", wrap_rewrite)
        self._patch(sql_dml, "rewrite", wrap_rewrite)
        self._patch(SparkSession, "sql", self._timed("analyze"))
        self._patch(DataFrame, "collect", self._timed("collect"))
        self._patch(py4j.clientserver.ClientServerConnection, "send_command", wrap_send)
        self._patch(sql_dml.SqlDmlRouter, "route", self._timed("route"))
        self._patch(CrateTable, "insert", self._timed("insert"))
        self._patch(CrateTable, "read", self._timed("read"))

    def uninstall(self) -> None:
        while self._saved:
            owner, name, orig = self._saved.pop()
            setattr(owner, name, orig)

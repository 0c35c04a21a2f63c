"""Benchmark server launcher: the engine in its own process.

Started by ``run.py``; not meant to be run by hand. It builds the Spark
session, sets the engine up ``ROUNDS`` times (each round on a fresh
``SparkSession.newSession()``: ``CrateSession()``, the workload's
catalog, one warm-up statement per class) and reports the round times.
The ``frontdoor`` workload is then served over HTTP ``/_sql`` and
pg-wire on free localhost ports by the last round's session;
``analytics`` runs its query passes in this process on request.

Control protocol: one JSON object per line on stdin, one JSON reply per
line on the original stdout. Everything else the process or the JVM
prints goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import uuid
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from workloads import (  # noqa: E402
    ANALYTICS_QUERIES,
    INGEST_DDL,
    IngestKeys,
    PING,
    agg_sql,
    ingest_agg_sql,
    ingest_point_sql,
    point_sql,
    write_sql,
)


#: engine set-ups per run; ``setup_s`` is their median
ROUNDS = 3


def _warm_statements(workload: str) -> list[str]:
    if workload == "frontdoor":
        rows = IngestKeys(0).batch()
        return [
            *PING, point_sql(1), agg_sql(0, 50),
            write_sql("kv_warm", rows),
            ingest_point_sql("kv_warm", rows[0][0]),
            ingest_agg_sql("kv_warm"),
        ]
    return ["SELECT count(*) FROM lineitem"]


def _set_up(spark, workload: str, data_dir: str, storage_dir: str):
    """One engine set-up; returns (session, catalog_s, warmup_s)."""
    from crate_spark.engine import CrateSession

    t0 = time.perf_counter()
    session = CrateSession(spark, data_dir=data_dir, storage_dir=storage_dir)
    if workload == "frontdoor":
        session.execute(INGEST_DDL.format(name="kv"))
        session.execute(INGEST_DDL.format(name="kv_warm"))
    t1 = time.perf_counter()
    for stmt in _warm_statements(workload):
        df = session.execute(stmt)
        if df is not None:
            df.collect()
    return session, t1 - t0, time.perf_counter() - t1


class PassRunner:
    """One analytics pass: every query built, then forced with the
    ``noop`` sink; the row count rides the same job as an observed
    metric."""

    def __init__(self, spark, data_dir: str):
        from crate_spark.queries import load_all

        self.spark = spark
        self.data_dir = data_dir
        self.registry = load_all()
        self.batches_ms: list[float] = []
        self._listener = None

    def listen(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        runner = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                runner.batches_ms.append(float(event.progress.batchDuration))

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self._listener = _Progress()
        self.spark.streams.addListener(self._listener)

    def unlisten(self) -> None:
        self.spark.streams.removeListener(self._listener)
        self._listener = None

    def run(self, traced: bool) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        sc = self.spark.sparkContext
        group = f"perfbench-pass-{uuid.uuid4().hex}"
        if traced:
            sc.setJobGroup(group, "perfbench pass", False)
        self.batches_ms.clear()
        out: dict = {"queries": {}}
        t_pass = time.perf_counter()
        for name in ANALYTICS_QUERIES:
            obs = Observation(f"rows_{uuid.uuid4().hex[:8]}")
            t0 = time.perf_counter()
            df = self.registry[name].fn(self.spark, self.data_dir)
            t1 = time.perf_counter()
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
                "overwrite"
            ).format("noop").save()
            t2 = time.perf_counter()
            out["queries"][name] = {
                "build_ms": (t1 - t0) * 1e3,
                "run_ms": (t2 - t1) * 1e3,
                "rows": int(obs.get["n"]),
            }
        out["pass_s"] = time.perf_counter() - t_pass
        if traced:
            # listener events arrive asynchronously; give them a moment
            time.sleep(0.2)
            tracker = sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(group)
            tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    stage = tracker.getStageInfo(sid)
                    tasks += stage.numTasks if stage else 0
            sc.setLocalProperty("spark.jobGroup.id", None)
            out["jobs"] = len(jobs)
            out["tasks"] = tasks
            out["stream_batches_ms"] = list(self.batches_ms)
        return out


def _table_files(session, table: str) -> dict:
    path = Path(session._dml.crate_tables[table].path)
    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    return {"files": len(files), "bytes": sum(p.stat().st_size for p in files)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--workdir", required=True)
    args = ap.parse_args()

    proto = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    def reply(obj: dict) -> None:
        proto.write(json.dumps(obj) + "\n")
        proto.flush()

    t0 = time.perf_counter()
    from crate_spark.session import get_spark

    spark = get_spark("perfbench", cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
    spark.sparkContext.setLogLevel("ERROR")
    spark_start_s = time.perf_counter() - t0

    rounds, catalog, warmup = [], [], []
    sessions = []  # keep every round's session alive (cache keys use id())
    for r in range(ROUNDS):
        t = time.perf_counter()
        sp = spark if r == 0 else spark.newSession()
        session, cat_s, warm_s = _set_up(
            sp, args.workload, args.data, os.path.join(args.workdir, f"tables{r}")
        )
        rounds.append(time.perf_counter() - t)
        catalog.append(cat_s)
        warmup.append(warm_s)
        sessions.append(session)
    session = sessions[-1]
    setup = {
        "setup_s": statistics.median(rounds),
        "rounds_s": rounds,
        "spark_start_s": spark_start_s,
        "catalog_s": statistics.median(catalog),
        "warmup_s": statistics.median(warmup),
    }

    servers = []
    runner = None
    ports = {}
    if args.workload == "analytics":
        runner = PassRunner(session.spark, args.data)
        t = time.perf_counter()
        setup["warm_pass"] = runner.run(traced=False)
        setup["warm_pass_s"] = time.perf_counter() - t
    else:
        from crate_spark import http_sql, pg_wire

        servers = [http_sql.serve(session, port=0), pg_wire.serve(session, port=0)]
        ports = {
            "http_port": servers[0].server_address[1],
            "pg_port": servers[1].server_address[1],
        }
    reply({"ready": True, "setup": setup, **ports})

    tracer = None
    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd["op"]
        if op == "trace":
            from tracing import Tracer

            tracer = Tracer(session.spark)
            tracer.install()
            if runner is not None:
                runner.listen()
            reply({"ok": True})
        elif op == "untrace":
            records = tracer.drain()
            tracer.uninstall()
            tracer = None
            if runner is not None:
                runner.unlisten()
            reply({"records": records})
        elif op == "pass":
            reply(runner.run(traced=tracer is not None))
        elif op == "files":
            reply(_table_files(session, cmd["table"]))
        elif op == "quit":
            break
    for srv in servers:
        srv.shutdown()
        srv.server_close()
    if tracer is not None:
        tracer.uninstall()
    spark.stop()
    reply({"bye": True})


if __name__ == "__main__":
    main()

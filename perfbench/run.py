#!/usr/bin/env python3
"""The repository's benchmark: two workloads against the engine served
from its own process.

    python3 perfbench/run.py --workload frontdoor --seed 1 --seconds 12 --trace 0

Workloads (closed loops; see README.md for why each exists):

- ``frontdoor``: 3 clients. Two readers (one over HTTP ``/_sql``, one
  over pg-wire) send ``ping``/``point``/``agg`` statements against orders
  (15k rows); one HTTP writer cycles a 200-row ``INSERT`` into a table
  with a primary key, a point read of a key just written, and a
  ``GROUP BY`` over that table.
- ``analytics``: repeated passes over registry queries, run in the
  server process and forced with the ``noop`` sink.

All inputs (tables, keys, values, statement order) derive from
``--seed``. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it is a report with every metric's sample count and the run context.
With ``--trace 1`` the run measures an untraced, a traced and another
untraced window of ``--seconds`` each, and prints the per-layer metrics
of the traced window, the per-class metrics of the first window and the
tracing overhead (traced minus the mean of the two untraced windows).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import numpy as np  # noqa: E402

from clients import (  # noqa: E402
    HttpClient, IngestState, PgClient, reader_loop, run_closed_loops, writer_loop,
)
from datagen import write_tables  # noqa: E402
from tracing import CLASSES  # noqa: E402
from workloads import (  # noqa: E402
    ANALYTICS_QUERIES, PING_ANSWERS, SCALE, WRITE_ROWS, ingest_agg_expected, rows_equal,
)

WORKLOADS = ("frontdoor", "analytics")
#: the engine's 16g default exceeds small hosts; with 3g, G1 heap growth
#: made peak RSS bimodal (1.75 or 2.25 GB in a fifth of the runs)
DRIVER_MEM = "2g"
READY_TIMEOUT_S = 150
#: unmeasured traffic before the timed window of ``frontdoor``
WARM_SECONDS = 3
#: nominal length of one analytics pass on 4 cores; --seconds / this
#: gives the number of measured passes
PASS_SECONDS = 6
MIN_CLASS_SAMPLES = 5  # a class run fewer times than this reports nothing
MIN_TAIL_SAMPLES = 30  # below this a tail would sit next to the median


# -- statistics ----------------------------------------------------------
def tail(values: list[float]) -> tuple[float, float] | None:
    """Highest percentile with at least 10 samples beyond it, as
    (value, percentile); None below 11 samples."""
    if len(values) < 11:
        return None
    xs = sorted(values)
    idx = len(xs) - 11
    return xs[idx], 100.0 * (idx + 1) / len(xs)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def mean_or_zero(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


def control_ms(reps: int = 5) -> float:
    """Host calibration: a fixed pure-Python loop touching no repo code."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


# -- the server process ----------------------------------------------------
class Server:
    """``server.py`` in its own process group, driven over stdin/stdout."""

    def __init__(self, workload: str, data_dir: str, workdir: Path):
        env = dict(os.environ)
        cpus = str(os.cpu_count() or 4)
        tmp = workdir / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        env.update({
            "SPARK_GRAFT_CPUS": env.get("SPARK_GRAFT_CPUS", cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": str(workdir / "spark-local"),
            "TMPDIR": str(tmp),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYTHONDONTWRITEBYTECODE": "1",
        })
        self.cpus = env["SPARK_GRAFT_CPUS"]
        self.log = open(workdir / "server.log", "wb")
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "server.py"), "--workload", workload,
             "--data", data_dir, "--workdir", str(workdir)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            cwd=workdir, env=env, start_new_session=True, text=True,
        )
        self.lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self.lines.put(line)
        self.lines.put(None)

    def recv(self, timeout: float) -> dict:
        try:
            line = self.lines.get(timeout=timeout)
        except queue.Empty:
            raise RuntimeError(f"server gave no reply within {timeout:.0f} s") from None
        if line is None:
            raise RuntimeError("server exited; see server.log")
        return json.loads(line)

    def call(self, op: str, timeout: float = 120, **kw) -> dict:
        self.proc.stdin.write(json.dumps({"op": op, **kw}) + "\n")
        self.proc.stdin.flush()
        return self.recv(timeout)

    def peak_rss_mb(self) -> float:
        """Sum of VmHWM over the server's process tree (Python, JVM,
        Python workers)."""
        children: dict[int, list[int]] = {}
        for d in Path("/proc").iterdir():
            if not d.name.isdigit():
                continue
            try:
                ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d.name))
        total_kb, todo = 0, [self.proc.pid]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
            except OSError:
                continue
        return total_kb / 1024.0

    def stop(self) -> None:
        try:
            if self.proc.poll() is None:
                self.call("quit", timeout=60)
            self.proc.wait(timeout=30)
        except (RuntimeError, OSError, subprocess.TimeoutExpired, ValueError):
            pass
        finally:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            self.proc.wait()
            self.log.close()


# -- one measured phase ------------------------------------------------------
class Phase:
    """Samples of one timed window, grouped by operation class."""

    def __init__(self, samples, elapsed: float, *, passes=None, rows_acked: int = 0):
        self.samples = samples
        self.elapsed = elapsed
        self.passes = passes or []
        self.rows_acked = rows_acked

    @property
    def attempted(self) -> int:
        if self.passes:
            return sum(len(p["queries"]) for p in self.passes)
        return len(self.samples)

    @property
    def failed(self) -> int:
        return sum(not s.ok for s in self.samples)

    def latencies(self) -> dict[str, list[float]]:
        """Per class, latencies of the operations that succeeded."""
        out: dict[str, list[float]] = {}
        if self.passes:
            for p in self.passes:
                for name, q in p["queries"].items():
                    out.setdefault(name, []).append(q["build_ms"] + q["run_ms"])
            return out
        for s in self.samples:
            if s.ok:
                out.setdefault(s.cls, []).append(s.ms)
        return out

    def e2e(self) -> dict[str, tuple[float, int]]:
        """Workload-independent end-to-end metrics as (value, samples)."""
        lat = self.latencies()
        done = self.attempted - self.failed
        p50 = geomean([statistics.median(v) for v in lat.values()])
        return {
            "ops_per_s": (done / self.elapsed, done),
            "p50_ms": (p50, sum(len(v) for v in lat.values())),
        }


def class_metrics(workload: str, ph: Phase, stored: dict | None) -> dict:
    """The per-class metrics of the issue's table as (value, unit, samples,
    note); a class or tail without enough samples is left out."""
    out: dict = {}
    if workload == "analytics":
        ps = [p["pass_s"] for p in ph.passes]
        out["pass_s"] = (statistics.median(ps), "s", len(ps), "median pass")
        return out
    done = ph.attempted - ph.failed
    out["stmts_per_s"] = (done / ph.elapsed, "1/s", done, "statements")
    for cls, xs in ph.latencies().items():
        if len(xs) < MIN_CLASS_SAMPLES:
            continue
        out[f"{cls}_p50_ms"] = (statistics.median(xs), "ms", len(xs), "p50")
        if len(xs) >= MIN_TAIL_SAMPLES:
            value, pct = tail(xs)
            out[f"{cls}_tail_ms"] = (value, "ms", len(xs), f"p{pct:.1f}")
    if ph.rows_acked:
        out["rows_per_s"] = (ph.rows_acked / ph.elapsed, "rows/s", ph.rows_acked, "acknowledged")
        if stored:
            out["stored_bytes_per_row"] = (
                stored["bytes"] / stored["rows"], "bytes/row", stored["rows"], "parquet on disk",
            )
    return out


# -- answer checks (outside the timed windows) ----------------------------------
def check_reads(samples, data_dir: Path) -> list[str]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE TABLE orders AS SELECT * FROM read_parquet('{data_dir / 'orders.parquet'}')"
        )
        expected: dict[str, list] = {}
        bad = []
        for s in samples:
            if not s.ok or s.cls not in ("ping", "point", "agg"):
                continue
            if s.stmt not in expected:
                expected[s.stmt] = PING_ANSWERS.get(s.stmt) or [
                    list(r) for r in con.execute(s.stmt).fetchall()
                ]
            if not rows_equal(s.rows, expected[s.stmt]):
                bad.append(f"{s.front} {s.stmt[:80]}: {s.rows[:3]} != {expected[s.stmt][:3]}")
        return bad
    finally:
        con.close()


def check_writer(samples, acked, client) -> list[str]:
    bad = []
    for s in samples:
        if not s.ok:
            if "uplicate" in str(s.rows):
                bad.append(f"duplicate-key error: {s.rows[0][:120]}")
            continue
        if s.cls == "kv_point" and not rows_equal(s.rows, s.expected):
            bad.append(f"kv_point {s.stmt[-40:]}: {s.rows} != {s.expected}")
        if s.cls == "kv_agg" and not rows_equal(s.rows, ingest_agg_expected(acked[: s.expected])):
            bad.append(f"agg after {s.expected} rows: {s.rows}")
    ok, rows, _ = client.query("SELECT count(*) FROM kv")
    if not ok or int(rows[0][0]) != len(acked):
        bad.append(f"count(*) {rows} != {len(acked)} acknowledged")
    ok, rows, _ = client.query("SELECT k FROM kv")
    if not ok or sorted(int(r[0]) for r in rows) != sorted(k for k, *_ in acked):
        bad.append("the stored keys differ from the acknowledged keys")
    return bad


def check_analytics(passes) -> list[str]:
    bad = []
    first = {n: q["rows"] for n, q in passes[0]["queries"].items()}
    for p in passes[1:]:
        for n, q in p["queries"].items():
            if q["rows"] != first[n]:
                bad.append(f"{n}: {q['rows']} rows, first pass {first[n]}")
    return bad


# -- per-layer metrics from a traced phase ------------------------------------------
def layer_metrics(traced: Phase, records: list[dict], setup: dict,
                  files: dict | None) -> dict[str, tuple[float, str, int]]:
    """Per-layer metrics as (value, unit, samples); 0 with 0 samples for a
    layer the workload does not exercise."""
    m: dict[str, tuple[float, str, int]] = {}

    def med(name, xs, unit="ms"):
        m[name] = (median_or_zero(xs), unit, len(xs))

    def avg(name, xs, unit="count"):
        m[name] = (mean_or_zero(xs), unit, len(xs))

    http = [r for r in records if r["front"] == "http"]
    pg = [r for r in records if r["front"] == "pg"]

    def g(r, k):
        return r.get(k, 0.0)

    med("http_sql.request_ms", [g(r, "request") for r in http])
    med("http_sql.transport_ms", [
        s.ms - s.server_ms for s in traced.samples if s.front == "http" and s.server_ms is not None
    ])
    med("http_sql.serialize_ms", [
        g(r, "request") - g(r, "engine") - g(r, "collect") for r in http
    ])
    m["http_sql.errors"] = (float(sum(r["error"] for r in http)), "count", len(http))
    med("pg_wire.lock_wait_ms", [g(r, "pg_exec") - g(r, "engine") for r in pg])
    m["pg_wire.errors"] = (float(sum(r["error"] for r in pg)), "count", len(pg))
    for cls in CLASSES:
        rs = [r for r in records if r["cls"] == cls]
        med(f"engine.execute_ms.{cls}", [g(r, "engine") for r in rs])
        avg(f"spark.jobs_per_stmt.{cls}", [r["jobs"] for r in rs])
        avg(f"spark.tasks_per_stmt.{cls}", [r["tasks"] for r in rs])
        avg(f"py4j.calls_per_stmt.{cls}", [r["py4j_calls"] for r in rs])
        med(f"py4j.ms_per_stmt.{cls}", [r["py4j_ms"] for r in rs])
    m["engine.errors"] = (float(sum(r["error"] for r in records)), "count", len(records))
    med("dialect.rewrite_ms", [g(r, "rewrite") for r in records])
    avg("dialect.rewrite_calls", [r["rewrite_calls"] for r in records])
    med("spark.analyze_ms", [g(r, "analyze") for r in records])
    med("spark.collect_ms", [g(r, "collect") for r in records])
    writes = [r for r in records if r["cls"] == "write"]
    med("sql_dml.route_ms", [g(r, "route") - g(r, "insert") for r in writes])
    med("dml.insert_ms", [g(r, "insert") for r in writes])
    avg("dml.jobs_per_insert", [r["jobs"] for r in writes])
    med("dml.read_ms", [g(r, "read") for r in writes])
    m["dml.files"] = (float(files["files"]) if files else 0.0, "count", 1 if files else 0)
    for key in ("spark_start_s", "catalog_s", "warmup_s"):
        m[f"session.{key}"] = (setup[key], "s", 1 if key == "spark_start_s" else 3)
    for name in ANALYTICS_QUERIES:
        for part in ("build_ms", "run_ms"):
            med(f"queries.{name}.{part}", [p["queries"][name][part] for p in traced.passes])
    m["queries.errors"] = (0.0, "count", len(traced.passes))
    avg("spark.jobs_per_pass", [p["jobs"] for p in traced.passes])
    avg("spark.tasks_per_pass", [p["tasks"] for p in traced.passes])
    avg("streaming.batches_per_pass", [len(p["stream_batches_ms"]) for p in traced.passes])
    med("streaming.batch_ms", [b for p in traced.passes for b in p["stream_batches_ms"]])
    return m


# -- the run --------------------------------------------------------------------
def measure(workload: str, server: Server, seconds: float, loops) -> Phase:
    if workload == "analytics":
        # a fixed pass count: a count that depended on the host's speed
        # would change which passes the medians are taken over
        start = time.perf_counter()
        passes = [server.call("pass", timeout=170)
                  for _ in range(max(1, round(seconds / PASS_SECONDS)))]
        return Phase([], time.perf_counter() - start, passes=passes)
    samples, elapsed = run_closed_loops(loops, seconds)
    rows = sum(WRITE_ROWS for s in samples if s.cls == "write" and s.ok)
    return Phase(samples, elapsed, rows_acked=rows)


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    workdir = ROOT / ".perfbench_work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)
    workdir.mkdir(parents=True)
    server = None
    clients = []
    t_start = time.perf_counter()
    timeline: dict[str, float] = {}
    try:
        control = [control_ms()]
        data_dir = workdir / "data"
        sizes = write_tables(str(data_dir), seed, SCALE)
        server = Server(workload, str(data_dir), workdir)
        ready = server.recv(READY_TIMEOUT_S)
        setup = ready["setup"]
        timeline["ready_s"] = time.perf_counter() - t_start
        loops, state = [], IngestState(seed)
        if workload == "frontdoor":
            clients = [HttpClient(ready["http_port"]), PgClient(ready["pg_port"]),
                       HttpClient(ready["http_port"])]
            loops = [reader_loop(c, np.random.default_rng([seed, 3, i]), sizes)
                     for i, c in enumerate(clients[:2])]
            loops.append(writer_loop(clients[2], state))
        warm: list = []  # analytics ran its warm-up pass in set-up
        if workload == "frontdoor":
            warm = measure(workload, server, WARM_SECONDS, loops).samples
        phases = [measure(workload, server, seconds, loops)]
        records: list[dict] = []
        if trace:
            # untraced, traced, untraced: the overhead compares the traced
            # window with the mean of the two around it, which cancels the
            # engine's steady warming over a run
            server.call("trace")
            phases.append(measure(workload, server, seconds, loops))
            records = server.call("untrace")["records"]
            phases.append(measure(workload, server, seconds, loops))
        timeline["measured_s"] = time.perf_counter() - t_start
        control.append(control_ms())

        # answer checks, outside the timed windows
        bad = [f"warm-up {s.cls} failed: {s.rows[:1]}" for s in warm if not s.ok]
        files = None
        if workload == "frontdoor":
            all_samples = warm + [s for p in phases for s in p.samples]
            bad += check_reads(all_samples, data_dir)
            bad += check_writer(all_samples, state.acked, clients[2])
            files = server.call("files", table="kv")
            files["rows"] = len(state.acked)
        else:
            bad += check_analytics([setup["warm_pass"]] + [p for ph in phases for p in ph.passes])
        rss = server.peak_rss_mb()
        timeline["checked_s"] = time.perf_counter() - t_start
    finally:
        for c in clients:
            c.close()
        if server is not None:
            server.stop()
        shutil.rmtree(workdir, ignore_errors=True)
        timeline["stopped_s"] = time.perf_counter() - t_start
        try:
            workdir.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass

    base = phases[0]
    e2e = base.e2e()
    metrics = {
        "setup_s": (setup["setup_s"], "s", len(setup["rounds_s"])),
        "peak_rss_mb": (rss, "MB", 1),
        "ops_per_s": (e2e["ops_per_s"][0], "1/s", e2e["ops_per_s"][1]),
        "p50_ms": (e2e["p50_ms"][0], "ms", e2e["p50_ms"][1]),
    }
    per_class = class_metrics(workload, base, files)
    report = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "context": {
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": server.cpus,
            "driver_memory": DRIVER_MEM,
            "pyspark": _pyspark_version(),
            "python": sys.version.split()[0],
            "host.control_ms": control,
        },
        "end_to_end": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in metrics.items()},
        "per_class": {k: {"value": v, "unit": u, "samples": n, "stat": note}
                      for k, (v, u, n, note) in per_class.items()},
        "setup": {k: v for k, v in setup.items() if k != "warm_pass"},
        "timeline_s": timeline,
        "latencies_ms": {k: sorted(v) for k, v in base.latencies().items()},
        "checks_failed": bad[:20],
    }
    result = {
        "correct": not bad,
        "attempted": sum(p.attempted for p in phases),
        "failed": sum(p.failed for p in phases),
    }
    if not trace:
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u, _n) in metrics.items()}
        return report, result

    traced = phases[1]
    layers = layer_metrics(traced, records, setup, files)
    t_e2e, after = traced.e2e(), phases[2].e2e()
    for k in ("ops_per_s", "p50_ms"):
        untraced = (e2e[k][0] + after[k][0]) / 2
        layers[f"overhead.{k}"] = (t_e2e[k][0] - untraced, metrics[k][1], t_e2e[k][1])
    layers["host.control_ms"] = (statistics.median(control), "ms", len(control))
    for name, unit in PER_CLASS_UNITS.items():
        v = per_class.get(name)
        layers[name] = (v[0], unit, v[2]) if v else (0.0, unit, 0)
    report["per_layer"] = {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in layers.items()}
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u, _n) in layers.items()}
    return report, result


#: the issue's per-class metrics, emitted under --trace 1 from the
#: untraced phase (0 with 0 samples where a workload has no such class)
PER_CLASS_UNITS = {
    "stmts_per_s": "1/s",
    "ping_p50_ms": "ms", "ping_tail_ms": "ms",
    "point_p50_ms": "ms", "point_tail_ms": "ms",
    "agg_p50_ms": "ms", "agg_tail_ms": "ms",
    "write_p50_ms": "ms", "write_tail_ms": "ms",
    "kv_point_p50_ms": "ms", "kv_point_tail_ms": "ms",
    "kv_agg_p50_ms": "ms", "kv_agg_tail_ms": "ms",
    "rows_per_s": "rows/s",
    "stored_bytes_per_row": "bytes/row",
    "pass_s": "s",
}


def _pyspark_version() -> str:
    import pyspark

    return pyspark.__version__


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its server (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "crate_spark" / "engine.py").is_file():
        print(f"no engine source under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    report, result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

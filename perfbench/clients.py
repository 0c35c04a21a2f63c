"""Front-door clients and the closed loops of the ``frontdoor`` workload.

Every loop sends its next statement only after the previous reply, and
records one ``Sample`` per statement: its class, latency, whether it
failed, and the rows it returned (checked against expected answers after
the timed window).
"""

from __future__ import annotations

import http.client
import json
import socket
import struct
import threading
import time
from dataclasses import dataclass, field

from workloads import (
    INTERACTIVE_CLASSES,
    IngestKeys,
    ingest_agg_sql,
    ingest_point_sql,
    interactive_statement,
    write_sql,
)


@dataclass
class Sample:
    cls: str
    front: str
    ms: float
    ok: bool
    stmt: str = ""
    rows: list = field(default_factory=list)
    server_ms: float | None = None  # request_ms reported by a traced server
    expected: object = None  # answer to check, when known at send time


class HttpClient:
    """``POST /_sql`` over one keep-alive connection."""

    front = "http"

    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def query(self, stmt: str) -> tuple[bool, list, float | None]:
        body = json.dumps({"stmt": stmt})
        self.conn.request(
            "POST", "/_sql", body, {"Content-Type": "application/json"}
        )
        resp = json.loads(self.conn.getresponse().read())
        if "error" in resp:
            return False, [resp["error"].get("message", "")], None
        return True, resp.get("rows", []), resp.get("perfbench_request_ms")

    def close(self) -> None:
        self.conn.close()


class PgClient:
    """PostgreSQL v3 simple-query protocol, text format, user ``crate``."""

    front = "pg"

    def __init__(self, port: int):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=120)
        params = b"user\x00crate\x00database\x00doc\x00\x00"
        self.sock.sendall(struct.pack("!II", 8 + len(params), 196608) + params)
        self._until_ready()

    def _read(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("pg-wire connection closed")
            buf += chunk
        return buf

    def _until_ready(self) -> tuple[bool, list]:
        rows, ok, err = [], True, ""
        while True:
            tag = self._read(1)
            (length,) = struct.unpack("!I", self._read(4))
            body = self._read(length - 4)
            if tag == b"D":
                (n,) = struct.unpack("!H", body[:2])
                off, row = 2, []
                for _ in range(n):
                    (ln,) = struct.unpack("!i", body[off : off + 4])
                    off += 4
                    if ln < 0:
                        row.append(None)
                    else:
                        row.append(body[off : off + ln].decode())
                        off += ln
                rows.append(row)
            elif tag == b"E":
                ok, err = False, body.decode(errors="replace")
            elif tag == b"Z":
                return ok, rows if ok else [err]

    def query(self, stmt: str) -> tuple[bool, list, float | None]:
        payload = stmt.encode() + b"\x00"
        self.sock.sendall(b"Q" + struct.pack("!I", 4 + len(payload)) + payload)
        ok, rows = self._until_ready()
        return ok, rows, None

    def close(self) -> None:
        try:
            self.sock.sendall(b"X" + struct.pack("!I", 4))
        finally:
            self.sock.close()


def _timed(client, cls: str, stmt: str) -> Sample:
    t0 = time.perf_counter()
    try:
        ok, rows, server_ms = client.query(stmt)
    except (OSError, ValueError) as e:  # transport failure counts as failed
        ok, rows, server_ms = False, [repr(e)], None
    ms = (time.perf_counter() - t0) * 1e3
    return Sample(cls, client.front, ms, ok, stmt, rows, server_ms)


def reader_loop(client, rng, sizes: dict[str, int]):
    """``ping``/``point``/``agg`` over orders, classes drawn uniformly."""

    def step() -> list[Sample]:
        cls = INTERACTIVE_CLASSES[int(rng.integers(len(INTERACTIVE_CLASSES)))]
        stmt = interactive_statement(rng, cls, sizes["orders"], sizes["customer"])
        return [_timed(client, cls, stmt)]

    return step


class IngestState:
    """Rows acknowledged so far; carried across the phases of a run."""

    def __init__(self, seed: int):
        self.keys = IngestKeys(seed)
        self.acked: list[tuple] = []


def writer_loop(client, state: IngestState):
    """One cycle: a 200-row write into ``kv``, a point read of a key just
    written, an aggregate over the table. A point read expects the
    written row; an aggregate expects the first ``expected`` acknowledged
    rows."""

    def step() -> list[Sample]:
        rows = state.keys.batch()
        write = _timed(client, "write", write_sql("kv", rows))
        if write.ok:
            state.acked.extend(rows)
        k, g, v, sv = rows[int(state.keys.rng.integers(len(rows)))]
        point = _timed(client, "kv_point", ingest_point_sql("kv", k))
        point.expected = [[k, g, v, sv]] if write.ok else []
        agg = _timed(client, "kv_agg", ingest_agg_sql("kv"))
        agg.expected = len(state.acked)
        return [write, point, agg]

    return step


def run_closed_loops(steps, seconds: float) -> tuple[list[Sample], float]:
    """Run each step function on its own thread until ``seconds`` have
    passed; a step starts only after the previous one has finished."""
    results: list[list[Sample]] = [[] for _ in steps]
    errors: list[BaseException] = []
    barrier = threading.Barrier(len(steps) + 1)
    start = [0.0]

    def loop(i: int) -> None:
        barrier.wait()
        try:
            while time.perf_counter() < start[0] + seconds:
                results[i].extend(steps[i]())
        except BaseException as e:  # surfaced to the caller below
            errors.append(e)

    threads = [threading.Thread(target=loop, args=(i,)) for i in range(len(steps))]
    for t in threads:
        t.start()
    start[0] = time.perf_counter()
    barrier.wait()
    for t in threads:
        t.join()
    elapsed = time.perf_counter() - start[0]
    if errors:
        raise errors[0]
    return [s for r in results for s in r], elapsed

"""Statements and expected answers of the three workloads.

Everything here is derived from the run's seed; the engine receives only
the generated SQL text. Shared by the client (``run.py``) and the server
launcher (``server.py``, which uses the same statements to warm up).
"""

from __future__ import annotations

import math

import numpy as np

#: data scale of ``interactive`` and ``analytics``: orders has 15k rows
SCALE = 0.01
#: rows per ``write`` statement of ``ingest``
WRITE_ROWS = 200
#: the analytics pass: the headline queries of ``bench.HEADLINE`` whose
#: warm run takes under a second at SCALE on 4 cores, plus the
#: streaming rollup so that one query of each pass runs micro-batches
#: (``streaming_sessionize_events`` alone takes about 10 s, more than a
#: whole run can spend)
ANALYTICS_QUERIES = (
    "q1_pricing_summary",
    "join_q5_regional_revenue",
    "agg_group_having",
    "window_topk_per_group",
    "scalar_date_bin",
    "ts_topk_event_values",
    "text_stats",
    "vector_knn_exact",
    "streaming_rollup_events",
)

PING = ("SELECT 1", "SELECT current_user")
PING_ANSWERS = {"SELECT 1": [[1]], "SELECT current_user": [["crate"]]}


def point_sql(key: int) -> str:
    return (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
        f"FROM orders WHERE o_orderkey = {key}"
    )


def agg_sql(lo: int, hi: int) -> str:
    return (
        "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total "
        f"FROM orders WHERE o_custkey BETWEEN {lo} AND {hi} "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )


INTERACTIVE_CLASSES = ("ping", "point", "agg")


def interactive_statement(rng, cls: str, n_orders: int, n_cust: int) -> str:
    """A fresh statement of ``cls``: keys and ranges are drawn anew for
    every statement, as from many users, so no run finds its plans
    compiled by an earlier identical statement."""
    if cls == "ping":
        return PING[int(rng.integers(len(PING)))]
    if cls == "point":
        return point_sql(int(rng.integers(n_orders)))
    lo = int(rng.integers(0, n_cust - 60))
    return agg_sql(lo, lo + 50)


# -- ingest ------------------------------------------------------------
INGEST_DDL = "CREATE TABLE {name} (k BIGINT PRIMARY KEY, g INTEGER, v DOUBLE, s TEXT)"
INGEST_GROUPS = 8
_P = 2_147_483_647  # prime: idx -> (a * idx + b) mod P is a bijection


class IngestKeys:
    """Distinct seeded keys and values for the rows of ``ingest``."""

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 2])
        self.a = int(rng.integers(1, _P - 1))
        self.b = int(rng.integers(0, _P - 1))
        self.rng = rng
        self.next_idx = 0

    def batch(self, n: int = WRITE_ROWS) -> list[tuple[int, int, float, str]]:
        rows = []
        values = np.round(self.rng.uniform(0.0, 1000.0, n), 3)
        for i in range(n):
            k = (self.a * (self.next_idx + i) + self.b) % _P
            rows.append((k, k % INGEST_GROUPS, float(values[i]), f"s{k}"))
        self.next_idx += n
        return rows


def write_sql(table: str, rows) -> str:
    vals = ",".join(f"({k},{g},{v!r},'{s}')" for k, g, v, s in rows)
    return f"INSERT INTO {table} (k, g, v, s) VALUES {vals}"


def ingest_point_sql(table: str, key: int) -> str:
    return f"SELECT k, g, v, s FROM {table} WHERE k = {key}"


def ingest_agg_sql(table: str) -> str:
    return (
        f"SELECT g, count(*) AS n, sum(v) AS total FROM {table} "
        "GROUP BY g ORDER BY g"
    )


def ingest_agg_expected(rows) -> list[list]:
    n = [0] * INGEST_GROUPS
    tot = [0.0] * INGEST_GROUPS
    for _k, g, v, _s in rows:
        n[g] += 1
        tot[g] += v
    return [[g, n[g], tot[g]] for g in range(INGEST_GROUPS) if n[g]]


# -- answer comparison ---------------------------------------------------
def _norm(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float)):
        return float(v)
    if hasattr(v, "item"):  # numpy scalar from DuckDB
        return float(v.item())
    try:
        return float(v)
    except (TypeError, ValueError):
        return str(v)


def rows_equal(got, want, rel: float = 1e-9) -> bool:
    """Row lists equal, numbers to a relative tolerance (sums of doubles
    depend on summation order)."""
    if len(got) != len(want):
        return False
    for gr, wr in zip(got, want):
        if len(gr) != len(wr):
            return False
        for g, w in zip(gr, wr):
            g, w = _norm(g), _norm(w)
            if isinstance(g, float) and isinstance(w, float):
                if not math.isclose(g, w, rel_tol=rel, abs_tol=1e-9):
                    return False
            elif g != w:
                return False
    return True

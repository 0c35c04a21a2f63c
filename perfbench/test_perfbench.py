"""Steadiness guard of the benchmark itself.

    python3 -m pytest perfbench/ -q

Short runs of each workload check that the output keeps the rules the
metrics rest on: every metric carries its unit and sample count, a tail
has at least ten samples beyond it and never sits on the median, a class
run too rarely reports nothing, and every answer check passes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402

BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def _run(workload: str, seconds: float, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=400, check=True,
    )
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def test_tail_has_ten_samples_beyond():
    xs = list(range(1, 101))
    value, pct = run.tail(xs)
    assert sum(x > value for x in xs) == 10
    assert pct == 90.0
    assert run.tail(xs[:10]) is None


def _check_report(report: dict) -> None:
    for section in ("end_to_end", "per_class"):
        for name, m in report[section].items():
            assert {"value", "unit", "samples"} <= set(m), name
            assert m["samples"] >= 1, name
    per_class = report["per_class"]
    for name, m in per_class.items():
        if name.endswith("_p50_ms"):
            assert m["samples"] >= run.MIN_CLASS_SAMPLES, name
        if name.endswith("_tail_ms"):
            assert m["samples"] >= run.MIN_TAIL_SAMPLES, name
            pct = float(m["stat"].lstrip("p"))
            assert m["samples"] * (100 - pct) / 100 >= 10 - 1e-9, name
            p50 = per_class[name.replace("_tail_ms", "_p50_ms")]
            assert m["value"] != p50["value"], name


@pytest.mark.parametrize("workload", ["frontdoor", "analytics"])
def test_untraced_run(workload):
    report, result = _run(workload, 6, 0)
    assert result["correct"], report["checks_failed"]
    assert result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    for m in BENCH["end_to_end"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert result["metrics"][m["name"]]["value"] > 0
    _check_report(report)
    latencies = report["latencies_ms"]
    for name in report["per_class"]:
        if name.endswith("_p50_ms"):
            assert len(latencies[name[: -len("_p50_ms")]]) >= run.MIN_CLASS_SAMPLES
    for cls, xs in latencies.items():
        if len(xs) < run.MIN_CLASS_SAMPLES:  # a class run this rarely reports nothing
            assert f"{cls}_p50_ms" not in report["per_class"]


def test_traced_run_reports_layers_and_overhead():
    report, result = _run("frontdoor", 6, 1)
    assert result["correct"], report["checks_failed"]
    assert set(result["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    for m in BENCH["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    _check_report(report)
    layers = report["per_layer"]
    assert layers["http_sql.request_ms"]["samples"] > 0
    assert layers["pg_wire.lock_wait_ms"]["samples"] > 0
    assert layers["py4j.calls_per_stmt.ping"]["value"] > 0
    assert layers["dml.insert_ms"]["samples"] > 0
    assert "overhead.p50_ms" in layers


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "frontdoor", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0
    assert out.stdout == ""

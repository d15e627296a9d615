"""Smoke test of the benchmark at tiny scale.

    python3 -m pytest perfbench/test_smoke.py -q

Each case runs ``perfbench/run.py --tiny`` the way the benchmark is driven
and checks that every metric ``BENCHMARK.json`` names is printed with its
unit, that the correctness gate passes, and that traced runs leave a
well-formed span tree. A run takes about a minute (Spark start-up).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload: str, trace: int, cwd: str = ROOT, seed: int = 7):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def check_result(res: dict, wanted: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"])


def check_spans(path: str) -> None:
    with open(path) as f:
        doc = json.load(f)
    spans = {s["id"]: s for s in doc["spans"]}
    assert spans
    for s in spans.values():
        assert s["end"] is not None and s["end"] >= s["start"], s
        assert s["self"] >= -1e-9, s
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (p, s)
            assert p["op"] == s["op"], (p, s)
    assert "tracing_overhead" in doc["detail"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]] + ["backfill"])
def test_workload_emits_every_metric(workload):
    plain = run(workload, 0)
    assert plain.returncode == 0, plain.stderr[-3000:]
    res = last_json(plain.stdout)
    check_result(res, SPEC["end_to_end"])
    assert all(res["metrics"][m["name"]]["value"] > 0 for m in SPEC["end_to_end"])

    traced = run(workload, 1)
    assert traced.returncode == 0, traced.stderr[-3000:]
    check_result(last_json(traced.stdout), SPEC["per_layer"])
    check_spans(os.path.join(OUT_DIR, f"spans-{workload}-seed7-tiny.json"))


def test_refuses_without_the_engine(tmp_path):
    """With only the benchmark's own files present it fails, printing nothing."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = run("stream", 0, cwd=str(tmp_path))
    assert out.returncode != 0
    assert out.stdout == ""

"""Self-test of the benchmark at sf0.001: every metric named in
BENCHMARK.json is printed with its unit, no op fails, and in the traced
run the per-layer self times of each op sum to no more than its wall
time.

    python3 -m pytest perfbench/tests -q

Each case starts its own JVM; the whole file takes a few minutes."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace)]
    if workload != "dml_mix":
        cmd += ["--scale", "0.001"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_metrics_printed_and_no_errors(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    listed = _spec()["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in listed}
    for m in listed:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0, m["name"]
    if trace:
        path = os.path.join(BENCH_DIR, ".cache", "traces",
                            f"{workload}-seed7.json")
        with open(path) as f:
            ops = json.load(f)["ops"]
        assert ops
        for op in ops:
            assert sum(op["self_s"].values()) <= op["wall_s"] + 1e-9, op["op"]

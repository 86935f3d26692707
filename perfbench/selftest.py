"""Benchmark self-test: a tiny-size run of every workload, untraced
and traced, asserting that each named metric is printed with its
unit and that the output checks pass; plus a run outside a full
checkout, which must fail without printing a result.

    python3 perfbench/selftest.py [workload ...]

Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import measure  # noqa: E402
from inputs import CACHE_DIR  # noqa: E402

RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "1", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=400)


def check_run(workload: str, trace: int) -> None:
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, f"{workload} t{trace}: exit {p.returncode}\n{p.stderr[-3000:]}"
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == RESULT_KEYS, result.keys()
    assert result["correct"] and result["failed"] == 0, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    want = measure.metric_units(bool(trace))
    got = result["metrics"]
    assert set(got) == set(want), set(got) ^ set(want)
    for name, unit in want.items():
        assert got[name]["unit"] == unit, (name, got[name])
        assert isinstance(got[name]["value"], (int, float)), (name, got[name])
    print(f"ok  {workload} trace={trace} attempted={result['attempted']}")


def check_benchmark_json() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert [w["name"] for w in spec["workloads"]] == list(measure.WORKLOADS)
    assert e2e == measure.metric_units(False), set(e2e)
    assert layer == measure.metric_units(True), set(layer)
    print("ok  BENCHMARK.json names the metrics each workload prints")


def check_refuses_without_engine() -> None:
    """A directory holding only BENCHMARK.json and perfbench/ must make
    the benchmark fail, without printing a result."""
    bare = os.path.join(CACHE_DIR, "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".cache", "__pycache__"))
    try:
        p = _run(bare, "extract_pooled", 0)
        assert p.returncode != 0, p.stdout
        assert '"metrics"' not in p.stdout, p.stdout
    finally:
        shutil.rmtree(bare)
    print("ok  refuses to run outside a full checkout")


def main() -> int:
    workloads = sys.argv[1:] or measure.WORKLOADS
    check_benchmark_json()
    check_refuses_without_engine()
    for w in workloads:
        for trace in (0, 1):
            check_run(w, trace)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

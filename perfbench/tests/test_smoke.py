"""Benchmark self-test at the tiny smoke size (sf0.001 tables, a few Bang
batches, a 2k-row table).

Run from the repository root (about three minutes on 4 cores):

    python3 -m pytest perfbench/tests -q

Each workload runs once untraced and once traced. The test checks that
the last stdout line is the result object, that every metric named in
BENCHMARK.json prints with its unit, and that in the traced run the
layer spans under each operation account for the operation's wall time:
the runner's own time between engine calls (the op span's self time) is
at most 5% of the op plus 10 ms.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
TRACES = os.path.join(BUILD, "traces")
WORKLOADS = ("curation_memo", "etl_write")
SELF_TIME_SHARE = 0.05
SELF_TIME_FLOOR_S = 0.010


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, seed: int, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, RUN if cwd == ROOT else os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace), "--size", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_prints_with_its_unit(workload, trace):
    seed = 900 + 10 * WORKLOADS.index(workload) + trace
    proc = _run(workload, seed, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1
    section = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in _bench()[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float), name
    if not trace:
        for name, m in result["metrics"].items():
            assert m["value"] > 0, f"end-to-end metric {name} reads 0"
        return
    if workload == "etl_write":  # the control: no Python nodes, no operators
        for name in ("python.nodes", "python.total_s", "operators.build_s"):
            assert result["metrics"][name]["value"] == 0, name
    else:
        assert result["metrics"]["caches.stale_failures"]["value"] >= 0
    with open(os.path.join(TRACES, f"{workload}-seed{seed}.json")) as f:
        spans = json.load(f)["spans"]
    ops = [s for s in spans if s["name"] == "op"]
    assert ops
    for op in ops:
        children = sum(s["end"] - s["start"] for s in spans if s["parent"] == op["id"])
        wall = op["end"] - op["start"]
        assert wall - children <= SELF_TIME_SHARE * wall + SELF_TIME_FLOOR_S, op


def test_refuses_without_the_engine():
    """In a directory holding only BENCHMARK.json and the benchmark, the
    runner exits non-zero and prints no result."""
    os.makedirs(BUILD, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=BUILD)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run("etl_write", 1, 0, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert not proc.stdout.strip()

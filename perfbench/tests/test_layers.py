"""Traced runs report every per-layer metric, and attribution is complete.

Runs ``perfbench/run.py --trace 1`` once per workload with a one-second
measuring window (two untraced and two traced jobs after the pilot, then
the workload's share of the queries), so the whole file takes a few
minutes:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)


def _layer_names() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)["per_layer"]]


@pytest.mark.parametrize("workload", ["zipf_head", "curation_docs"])
def test_traced_run_reports_every_layer(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert sorted(metrics) == sorted(_layer_names())
    # every stage's CPU lands in a named layer, up to a small remainder
    assert metrics["executor.cpu_s"] > 0
    assert metrics["unattributed.cpu_s"] <= 0.05 * metrics["executor.cpu_s"]
    # the workload's share of the queries ran and matched the DuckDB oracle
    # (a mismatch fails the run above); the other share reports 0
    sys.path.insert(0, BENCH)
    from workloads import WORKLOADS

    timed = {n for n in metrics if n.startswith("query.") and metrics[n] > 0}
    assert timed == {f"query.{n}_s" for n in WORKLOADS[workload].queries}
    if workload == "zipf_head":
        assert metrics["dictionary.signatures"] == 96
        assert metrics["dictionary.templates"] == 53
        assert metrics["route.files"] > 0 and metrics["parse.cpu_s"] > 0
    else:
        assert metrics["curation.jobs"] > 0 and metrics["curation.cc_s"] > 0


def test_run_refuses_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run fails without a result."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "zipf_head",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""

"""Smoke self-test of the benchmark: each workload runs one short window.

    python3 -m pytest perfbench/tests -q

Checks that every end-to-end metric is printed with its unit, that a traced
run writes well-formed spans with non-negative self times, and that the
benchmark refuses to run without the program beside it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import harness  # noqa: E402

SEED = 0


def run_bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
           "--seconds", "1", "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result_line(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["plumber_loop", "index_serve", "corpus_curation"])
def test_end_to_end_metrics_printed_with_units(workload):
    result = result_line(run_bench(workload, 0))
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: m["unit"] for k, m in result["metrics"].items()} == harness.END_TO_END_UNITS
    assert all(m["value"] > 0 for m in result["metrics"].values())


# a layer each traced workload must report as run, not as the 0 of a layer
# it does not touch
LAYER_RUN = {"plumber_loop": ("metrics.profile_ms", "llm.run_ms"), "index_serve": ("segments.read_ms", "similarity.read_ms")}


@pytest.mark.parametrize("workload", ["plumber_loop", "index_serve"])
def test_traced_run_writes_well_formed_spans(workload):
    result = result_line(run_bench(workload, 1))
    assert set(harness.LAYER_UNITS) <= set(result["metrics"])
    assert all(result["metrics"][m]["value"] > 0 for m in LAYER_RUN[workload])
    with open(os.path.join(BENCH, ".run", workload, f"spans_s{SEED}.json")) as fh:
        spans = json.load(fh)
    assert spans
    for i, s in enumerate(spans):
        assert {"name", "start", "end", "parent", "op", "jobs", "counters", "self_ms"} <= set(s)
        assert s["end"] >= s["start"]
        assert s["self_ms"] >= -1e-6
        assert s["parent"] is None or 0 <= s["parent"] < i
    assert any(s["name"].startswith("op.") for s in spans)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".run", ".cache", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = run_bench("plumber_loop", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout

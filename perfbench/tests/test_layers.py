"""Layer-coverage self-test of the benchmark (slow: starts Spark once per run).

    python3 -m pytest perfbench/tests -q

Runs every workload at sf0.001, untraced and traced, and checks that
each workload exercises the layers it is chosen for and that tracing
leaves every query result unchanged.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import workloads  # noqa: E402


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "0", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    prefix = f"{workload} record: "
    path = next(line[len(prefix):] for line in out.stdout.splitlines()
                if line.startswith(prefix))
    path = os.path.join(ROOT, path)
    with open(path) as fh:
        record = json.load(fh)
    os.remove(path)  # records/ keeps full-scale runs only
    return record


@pytest.fixture(scope="module", params=sorted(workloads.WORKLOADS))
def runs(request):
    return request.param, _run(request.param, 0), _run(request.param, 1)


def test_runs_are_correct_and_tracing_keeps_results(runs):
    _, plain, traced = runs
    assert plain["failures"] == [] and traced["failures"] == []

    def hashes(record):
        return {r["query"]: r["hash"] for r in record["oracle"]}

    assert hashes(plain) == hashes(traced)


def test_workload_exercises_its_layers(runs):
    name, _, traced = runs
    layers = traced["per_layer"]
    assert layers["execute.jobs"] > 0
    assert layers["sources.table_calls"] > 0
    if name.startswith("eager"):
        assert layers["streaming.batches"] > 0
        assert layers["plans.build_jobs"] > 0
        assert layers["scratch.checkpoints"] > 0
    if name.startswith("trajectory"):
        assert layers["plans.build_jobs"] == 0
        assert layers["operators.calls"] > 0

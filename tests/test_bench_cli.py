"""bench.py as the one measurement loop: per-query runs, pass count and
the event-log job attribution.

The attribution tests are Spark-free over a handwritten event log in
Spark 4's rolling layout (``eventlog_v2_<app>/events_<n>_<app>``); one
subprocess test drives the CLI end to end on sf0.001 with a small
session, since the suite's own session already holds one JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import bench
from tests.conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _job(job_id, submit_ms, stages, description=None):
    ev = {"Event": "SparkListenerJobStart", "Job ID": job_id,
          "Submission Time": submit_ms, "Stage IDs": stages}
    if description is not None:
        ev["Properties"] = {"spark.job.description": description}
    return ev


def _task(stage, shuffle_write=0, input_bytes=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Shuffle Write Metrics":
                             {"Shuffle Bytes Written": shuffle_write},
                             "Input Metrics": {"Bytes Read": input_bytes}}}


@pytest.fixture
def event_log(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    events = [
        # q_a: build 1000-2000, write 2000-3000
        _job(0, 1500, [0]),                      # untagged, like a stream drain
        _job(1, 2500, [1, 2], description="q_a"),
        _task(0), _task(1, 1024, 4096), _task(1, 2048),
        # between the two windows: counts for neither query
        _job(2, 4000, [3]), _task(3, 8192, 8192),
        # q_b: build 5000-6000, write 6000-7000
        _job(3, 5500, [4], description="q_b"), _task(4),
        _job(4, 6500, [5, 6]), _job(5, 6600, [6]), _task(6, 0, 2048),
    ]
    (app / "events_1_local-1").write_text(
        "".join(json.dumps(e) + "\n" for e in events))
    return str(tmp_path)


WINDOWS = [("q_a", 1000, 2000, 3000), ("q_b", 5000, 6000, 7000)]


def test_untagged_job_inside_a_window_counts_for_that_query(event_log):
    rows = bench.job_rows(event_log, WINDOWS, 1)
    assert rows["q_a"]["build_jobs"] == 1   # job 0 has no description
    assert rows["q_b"]["jobs"] == 2         # job 4 has no description


def test_job_between_windows_counts_for_neither(event_log):
    rows = bench.job_rows(event_log, WINDOWS, 1)
    assert sum(r["build_jobs"] + r["jobs"] for r in rows.values()) == 5
    assert sum(r["shuffle_write_KB"] for r in rows.values()) == 3
    assert rows["q_a"]["input_KB"] == 4 and rows["q_b"]["input_KB"] == 2


def test_build_and_write_jobs_are_reported_separately(event_log):
    a, b = (bench.job_rows(event_log, WINDOWS, 1)[n] for n in ("q_a", "q_b"))
    assert (a["build_jobs"], a["jobs"], a["stages"], a["tasks"]) == (1, 1, 1, 2)
    # stage 6 is listed by both write jobs and stage 5 ran no task:
    # one executed stage; the build job's stage 4 is not a write stage
    assert (b["build_jobs"], b["jobs"], b["stages"], b["tasks"]) == (1, 2, 1, 1)
    assert a["sec"] == b["sec"] == 2


def test_rows_average_over_passes(event_log):
    rows = bench.job_rows(event_log, WINDOWS + [("q_a", 3500, 3600, 3700)], 2)
    assert rows["q_a"]["build_jobs"] == 0.5 and rows["q_a"]["jobs"] == 0.5


def test_unknown_query_name_fails_before_spark_starts(capsys):
    assert bench.main(["q_stream_tumbling", "q_no_such_query"]) != 0
    err = capsys.readouterr().err
    assert "q_no_such_query" in err and "q_stream_tumbling" not in err


def test_eventlog_run_of_one_query(tmp_path):
    history = os.path.join(ROOT, "BENCH_HISTORY.jsonl")
    with open(history, "rb") as fh:
        before = fh.read()
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    sf0001 = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf0001, SPARK_GRAFT_CPUS="2",
               SPARK_DRIVER_MEM="1g", TMPDIR=str(tmp))
    proc = subprocess.run(
        [sys.executable, "bench.py", "--passes", "1", "--eventlog",
         "q_stream_tumbling"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    last = json.loads(lines[-1])
    assert list(last) == ["metric", "value", "unit", "n", "sf", "load1"]
    assert last["n"] == 1
    # the stream drains while the DataFrame is built, on untagged jobs
    row = next(line.split() for line in lines if line.startswith("q_stream_tumbling"))
    assert float(row[1]) >= 1
    with open(history, "rb") as fh:
        assert fh.read() == before
    left = [os.path.join(d, n) for d, dirs, _ in os.walk(tmp) for n in dirs
            if n.startswith(("spark_evlog_", "eventlog_v2_"))]
    assert left == []

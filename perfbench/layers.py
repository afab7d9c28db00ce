"""Per-layer tracing, recorded from outside the program.

Three sources feed the per-layer metrics of a traced run:

* spans: wrappers installed around the public layer functions of
  ``sources``, ``operators``, ``streaming`` and ``scratch`` (every module
  of the package that imported one of them sees the wrapper);
* a ``StreamingQueryListener`` on the session and on every stream twin
  session, for micro-batch counts and per-phase ``durationMs``;
* Spark's own event log, for jobs, stages, tasks, shuffle, spill, input
  and GC.  Jobs are attributed to a phase by their submission time,
  because stream drains run their jobs on other threads and job groups.
"""

from __future__ import annotations

import functools
import glob
import json
import sys
import threading
import time
from collections import defaultdict

PKG = "nfl26_bigdatabowl_prediction_spark"

# layer → (module, function) pairs wrapped with a span
LAYER_FUNCS: dict[str, tuple[tuple[str, str], ...]] = {
    "sources.table": ((f"{PKG}.sources.io", "table"),),
    "sources.spread_scan": ((f"{PKG}.sources.io", "spread_scan"),),
    "operators": (
        (f"{PKG}.operators.asof", "asof_join"),
        (f"{PKG}.operators.pairwise", "pairwise_features_grouped"),
        (f"{PKG}.operators.components", "connected_components"),
        (f"{PKG}.operators.skew", "salted_join"),
        (f"{PKG}.operators.ranking", "exact_global_rank"),
    ),
    "streaming.drain": (
        (f"{PKG}.streaming.run", "run_available_now"),
        (f"{PKG}.streaming.run", "run_two_phase"),
    ),
    "scratch.dir": ((f"{PKG}.scratch", "scratch_dir"),),
    "scratch.checkpoint": ((f"{PKG}.scratch", "checkpoint_parquet"),),
}

# every per-layer metric a traced run reports, with its unit
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "sources.table_calls": "count", "sources.table_s": "s",
    "sources.spread_scan_calls": "count", "sources.spread_scan_s": "s",
    "operators.calls": "count", "operators.s": "s", "operators.jobs": "count",
    "streaming.drains": "count", "streaming.drain_s": "s",
    "streaming.batches": "count", "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s", "streaming.query_planning_s": "s",
    "scratch.dirs": "count", "scratch.checkpoints": "count",
    "scratch.checkpoint_s": "s",
    "catalyst.plan_s": "s",
    "execute.s": "s", "execute.jobs": "count", "execute.stages": "count",
    "execute.tasks": "count", "execute.shuffle_write_mb": "MB",
    "execute.spill_mb": "MB", "execute.input_mb": "MB", "execute.task_s": "s",
    "execute.gc_s": "s", "execute.slot_util": "ratio",
    "oracle.check_s": "s", "oracle.mismatches": "count",
    "trace.overhead_s": "s",
}

# StreamingQueryProgress.durationMs key → metric name
DURATION_KEYS = {
    "triggerExecution": "streaming.trigger_s",
    "addBatch": "streaming.add_batch_s",
    "walCommit": "streaming.wal_commit_s",
    "commitOffsets": "streaming.commit_offsets_s",
    "queryPlanning": "streaming.query_planning_s",
}


def _replace_everywhere(old, new) -> None:
    """Point every package-module attribute bound to ``old`` at ``new``."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PKG or name.startswith(PKG + ".")):
            continue
        for attr, value in list(vars(mod).items()):
            if value is old:
                setattr(mod, attr, new)


def _progress_listener(tracer: "Tracer"):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            if tracer.recording:
                with tracer.lock:
                    tracer.stream_runs.add(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            with tracer.lock:
                if str(p.runId) in tracer.stream_runs:
                    tracer.progress.append(dict(p.durationMs))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with tracer.lock:
                tracer.stream_done.add(str(event.runId))

    return _Listener()


class Tracer:
    """Installs the wrappers and the listener; collects spans while
    ``recording`` is set.  Use as a context manager: the wrappers are
    removed on exit."""

    def __init__(self, spark):
        self.spark = spark
        self.recording = False
        self.lock = threading.Lock()
        self.spans: list[tuple[str, float, float]] = []  # (layer, t0_ms, t1_ms)
        self.progress: list[dict] = []
        self.stream_runs: set[str] = set()
        self.stream_done: set[str] = set()
        self._restore: list[tuple[object, object]] = []
        self._listener = None
        self._listened: set[int] = set()

    def _span(self, layer: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.time() * 1000
            try:
                return fn(*args, **kwargs)
            finally:
                if self.recording:
                    with self.lock:
                        self.spans.append((layer, t0, time.time() * 1000))

        return wrapper

    def _listen(self, session) -> None:
        if id(session) not in self._listened:
            self._listened.add(id(session))
            session.streams.addListener(self._listener)

    def __enter__(self):
        import importlib

        self._listener = _progress_listener(self)
        self._listen(self.spark)
        for layer, funcs in LAYER_FUNCS.items():
            for module, name in funcs:
                orig = getattr(importlib.import_module(module), name)
                self._patch(orig, self._span(layer, orig))
        # stream twins are separate sessions with their own listener bus
        src = importlib.import_module(f"{PKG}.streaming.source")
        orig_twin = src.stream_exec_session

        @functools.wraps(orig_twin)
        def twin(*args, **kwargs):
            session = orig_twin(*args, **kwargs)
            self._listen(session)
            return session

        self._patch(orig_twin, twin)
        return self

    def _patch(self, orig, new) -> None:
        _replace_everywhere(orig, new)
        self._restore.append((new, orig))

    def __exit__(self, *exc):
        for new, orig in reversed(self._restore):
            _replace_everywhere(new, orig)
        self._restore.clear()
        return False

    def wait_for_streams(self, timeout_s: float = 10.0) -> None:
        """Progress events arrive asynchronously; wait for the last ones."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            with self.lock:
                if self.stream_runs <= self.stream_done:
                    break
            time.sleep(0.05)
        time.sleep(0.2)  # the terminated event can overtake the last progress

    def span_metrics(self, n_passes: int) -> dict[str, float]:
        per: dict[str, list[float]] = defaultdict(lambda: [0, 0.0])
        for layer, t0, t1 in self.spans:
            per[layer][0] += 1
            per[layer][1] += (t1 - t0) / 1000
        out = {
            "sources.table_calls": per["sources.table"][0],
            "sources.table_s": per["sources.table"][1],
            "sources.spread_scan_calls": per["sources.spread_scan"][0],
            "sources.spread_scan_s": per["sources.spread_scan"][1],
            "operators.calls": per["operators"][0],
            "operators.s": per["operators"][1],
            "streaming.drains": per["streaming.drain"][0],
            "streaming.drain_s": per["streaming.drain"][1],
            "scratch.dirs": per["scratch.dir"][0],
            "scratch.checkpoints": per["scratch.checkpoint"][0],
            "scratch.checkpoint_s": per["scratch.checkpoint"][1],
            "streaming.batches": len(self.progress),
        }
        for key, metric in DURATION_KEYS.items():
            out[metric] = sum(p.get(key, 0) for p in self.progress) / 1000
        return {k: v / n_passes for k, v in out.items()}

    def operator_windows(self) -> list[tuple[float, float]]:
        return [(t0, t1) for layer, t0, t1 in self.spans if layer == "operators"]


def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """Jobs (id, submit_ms, stages) and per-stage task totals from the
    uncompressed event log Spark wrote under ``log_dir``."""
    jobs: list[dict] = []
    stages: dict[int, dict] = defaultdict(
        lambda: {"tasks": 0, "run_ms": 0, "gc_ms": 0, "shuffle_write": 0,
                 "spill": 0, "input": 0}
    )
    # Spark 4 writes rolling logs: <log_dir>/eventlog_v2_<app>/events_<n>_<app>
    for path in sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True)):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({
                        "id": ev["Job ID"],
                        "submit_ms": ev["Submission Time"],
                        "stages": ev.get("Stage IDs", []),
                    })
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    s = stages[ev["Stage ID"]]
                    s["tasks"] += 1
                    s["run_ms"] += m.get("Executor Run Time", 0)
                    s["gc_ms"] += m.get("JVM GC Time", 0)
                    s["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    s["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    s["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return jobs, dict(stages)


def _inside(t: float, windows: list[tuple[float, float]]) -> bool:
    return any(a <= t <= b for a, b in windows)


def job_metrics(
    log_dir: str,
    phases: list[tuple[str, float, float]],
    operator_windows: list[tuple[float, float]],
    n_passes: int,
    slots: int,
) -> dict[str, float]:
    """Attribute event-log jobs to the traced phases by submission time.

    ``phases`` holds (phase, t0_ms, t1_ms) for every build / plan /
    execute call of the traced passes."""
    jobs, stages = read_event_log(log_dir)
    by_phase: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for phase, t0, t1 in phases:
        by_phase[phase].append((t0, t1))
    build = [j for j in jobs if _inside(j["submit_ms"], by_phase["build"])]
    execute = [j for j in jobs if _inside(j["submit_ms"], by_phase["execute"])]
    ops = [j for j in jobs if _inside(j["submit_ms"], operator_windows)]
    # stages that ran tasks, each once (a stage can be listed by two jobs)
    run_ids = dict.fromkeys(s for j in execute for s in j["stages"] if s in stages)
    run = [stages[s] for s in run_ids]

    def busy(phase: str) -> float:
        return sum(t1 - t0 for t0, t1 in by_phase[phase]) / 1000

    execute_s = busy("execute")
    task_s = sum(s["run_ms"] for s in run) / 1000
    mb = 1024 * 1024
    out = {
        "plans.build_s": busy("build"),
        "plans.build_jobs": len(build),
        "operators.jobs": len(ops),
        "catalyst.plan_s": busy("plan"),
        "execute.s": execute_s,
        "execute.jobs": len(execute),
        "execute.stages": len(run),
        "execute.tasks": sum(s["tasks"] for s in run),
        "execute.shuffle_write_mb": sum(s["shuffle_write"] for s in run) / mb,
        "execute.spill_mb": sum(s["spill"] for s in run) / mb,
        "execute.input_mb": sum(s["input"] for s in run) / mb,
        "execute.task_s": task_s,
        "execute.gc_s": sum(s["gc_ms"] for s in run) / 1000,
    }
    out = {k: v / n_passes for k, v in out.items()}
    out["execute.slot_util"] = task_s / (execute_s * slots) if execute_s else 0.0
    return out

"""Benchmark harness (driver contract).

Runs every registered query at $SPARK_GRAFT_SF_DIR (default: the sf0.1
test data) on local[$SPARK_GRAFT_CPUS] — one warmup pass at sf0.001,
then --passes measured passes (default 3) — and prints JSON
lines ending in the compact one: {"metric": ..., "value": total_sec,
"unit": "sec", "n": ..., "sf": ..., "load1": ...}; the full line
carries "queries": {name: min sec}.

    python bench.py [--passes N] [--eventlog] [q_name ...]

Named queries run alone, and only a full-registry run appends its
full line to BENCH_HISTORY.jsonl.

Each query is forced end-to-end with the noop sink (full physical
execution, no driver-side collect cost).  No plan leaves an
intermediate in the session cache, so a measured pass reads nothing an
earlier pass or query computed: every per-query min pays the query's
whole cost (tests/test_materialization.py pins that).

--eventlog runs the session with a Spark event log in a temp dir and,
before the JSON lines, prints one row per query averaged over the
measured passes: jobs submitted while the DataFrame was built
(build_jobs), then jobs, executed stages, tasks, shuffle-write and
input KB of the write, and wall seconds.  Jobs are attributed by
submission time, so stream-drain jobs (which run on the stream's own
threads, untagged) count for the query that drained them.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import re
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.abspath(__file__))


def run_query(spark, name: str, fn, sf_dir: str) -> tuple[float, float, float]:
    """Build and noop-write one query tagged with its name; return the
    epoch-ms stamps (build start, build end, write end)."""
    spark.sparkContext.setJobDescription(name)
    try:
        t0 = time.time() * 1000
        df = fn(spark, sf_dir)
        t1 = time.time() * 1000
        df.write.mode("overwrite").format("noop").save()
        return t0, t1, time.time() * 1000
    finally:
        spark.sparkContext.setJobDescription(None)


def job_rows(
    log_dir: str, windows: list[tuple[str, float, float, float]], passes: int
) -> dict[str, dict[str, float]]:
    """Per-query execution shape from the event log under ``log_dir``.

    ``windows`` holds (name, build start, build end, write end) epoch-ms
    stamps per query and pass.  A job counts for the window it was
    submitted in, whatever its description; a job outside every window
    (session warmup, sf0.001 warmup) counts for none."""
    spec = importlib.util.spec_from_file_location(
        "layers", os.path.join(ROOT, "perfbench", "layers.py"))
    layers = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(layers)
    jobs, stages = layers.read_event_log(log_dir)

    rows: dict[str, dict[str, float]] = {}
    for name, t0, t1, t2 in windows:
        row = rows.setdefault(name, dict.fromkeys(
            ("build_jobs", "jobs", "stages", "tasks", "shuffle_write_KB",
             "input_KB", "sec"), 0.0))
        write = [j for j in jobs if t1 < j["submit_ms"] <= t2]
        # stages that ran tasks, each once (a stage can be listed by two jobs)
        run = [stages[s] for s in dict.fromkeys(
            s for j in write for s in j["stages"] if s in stages)]
        row["build_jobs"] += sum(t0 <= j["submit_ms"] <= t1 for j in jobs)
        row["jobs"] += len(write)
        row["stages"] += len(run)
        row["tasks"] += sum(s["tasks"] for s in run)
        row["shuffle_write_KB"] += sum(s["shuffle_write"] for s in run) / 1024
        row["input_KB"] += sum(s["input"] for s in run) / 1024
        row["sec"] += (t2 - t0) / 1000
    return {n: {k: v / passes for k, v in r.items()} for n, r in rows.items()}


def compact_line(timings: dict[str, float], sf: float, load1: float, **extra) -> str:
    return json.dumps({"metric": "headline_queries_total",
                       "value": round(sum(timings.values()), 3), "unit": "sec",
                       "n": len(timings), "sf": sf, "load1": load1, **extra})


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="queries to run (default: all)")
    ap.add_argument("--passes", type=int, default=3, help="measured passes")
    ap.add_argument("--eventlog", action="store_true",
                    help="print per-query jobs/stages/tasks from the event log")
    args = ap.parse_args(argv)
    if args.passes < 1:
        ap.error("--passes must be at least 1")

    # 1-minute load average BEFORE Spark starts — external contention
    # at launch, not the bench's own load.  A uniformly-inflated
    # round (like r4's 1.31×) is machine noise, and this makes it
    # self-documenting in the recorded BENCH json.
    load1 = round(os.getloadavg()[0], 2) if hasattr(os, "getloadavg") else -1.0
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from nfl26_bigdatabowl_prediction_spark.plans.registry import QUERIES
    from nfl26_bigdatabowl_prediction_spark.session import get_spark

    unknown = [n for n in args.names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}", file=sys.stderr)
        return 2
    names = list(dict.fromkeys(args.names)) or sorted(QUERIES)

    warm_dir = "/root/testdata/sf0.001"
    log_dir = tempfile.mkdtemp(prefix="spark_evlog_") if args.eventlog else None
    conf = {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"file://{log_dir}"} if log_dir else None
    timings: dict[str, float] = {}
    windows: list[tuple[str, float, float, float]] = []
    try:
        spark = get_spark(app_name="nfl26-bench", extra_conf=conf)
        try:
            # JVM/codegen warmup on a trivial action so query timings
            # measure the plan, not classloading.
            spark.read.parquet(f"{sf_dir}/region.parquet").count()

            # Per-query warmup at the smallest SF: compiles every plan's
            # whole-stage-codegen classes and JITs the hot paths so the
            # measured pass times the PLAN, not first-call compilation.
            if os.path.isdir(warm_dir) and warm_dir != sf_dir:
                for name in names:
                    try:
                        run_query(spark, name, QUERIES[name], warm_dir)
                    except Exception:
                        pass  # a warmup failure must not sink the bench

            # Measured passes, report the min: the host shows bursty CPU
            # steal, and min-of-N isolates the plan's cost from neighbor
            # noise.  A cumulative compact line is FLUSHED after every
            # pass so a run killed by an external timeout still leaves
            # one valid JSON line on stdout (pass 1 alone is the minimum
            # viable result).
            for pass_no in range(args.passes):
                for name in names:
                    t0, t1, t2 = run_query(spark, name, QUERIES[name], sf_dir)
                    windows.append((name, t0, t1, t2))
                    elapsed = round((t2 - t0) / 1000, 3)
                    if name not in timings or elapsed < timings[name]:
                        timings[name] = elapsed
                print(compact_line(timings, sf, load1, passes=pass_no + 1),
                      flush=True)
        finally:
            spark.stop()  # flushes the event log
        if log_dir:
            rows = job_rows(log_dir, windows, args.passes)
            cols = list(rows[names[0]])
            print(f"{'query':32s} " + " ".join(f"{c:>16s}" for c in cols))
            for n in names:
                print(f"{n:32s} " + " ".join(f"{rows[n][c]:16.6g}" for c in cols))
    finally:
        if log_dir:
            shutil.rmtree(log_dir, ignore_errors=True)

    compact = compact_line(timings, sf, load1)
    # Compact line BOTH before and after the ~10 KB per-query line:
    # the driver keeps only the LAST ~2000 chars of stdout, so the
    # compact line must come last to survive the tail capture (the
    # r02/r03 "compact line first" ordering scrolled it out and left
    # BENCH parsed=null); printing it first as well keeps it visible
    # to head-style captures and humans.
    full = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "load1": load1,
            "ts": round(time.time(), 1),
        }
    )
    print(compact)
    print(full)
    print(compact)
    # Per-query history survives only here: the driver's BENCH capture
    # keeps the last ~2000 chars (compact line only), so r01 is the
    # only round with recorded per-query timings — which made the r4
    # noise diagnosis needlessly hard.  Append-only; one line per
    # full-registry run.
    if not args.names:
        try:
            with open(os.path.join(ROOT, "BENCH_HISTORY.jsonl"), "a") as fh:
                fh.write(full + "\n")
        except OSError:
            pass  # a read-only checkout must not sink the bench
    return 0


if __name__ == "__main__":
    sys.exit(main())

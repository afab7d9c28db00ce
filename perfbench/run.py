"""Benchmark of the query registry: build / plan / execute per query.

    python3 perfbench/run.py --workload NAME [--seed N] [--seconds S] [--trace 0|1]
    python3 perfbench/run.py --workload all   # every workload in turn

One run generates (or reuses) the workload's synthetic tables, starts
``session.get_spark`` with one task slot per CPU, runs WARMUP_PASSES
passes over the workload's queries, then times warm passes for
``--seconds`` seconds (at least MIN_PASSES), in an order the seed
permutes for each pass.  Each query is timed as three calls: build
(``queries()[name](spark, sf_dir)`` of the project's ``__spark_entry__``),
plan (``executedPlan()``) and execute (a noop-sink write).  Afterwards
every query is checked against its DuckDB twin from ``oracle_sql()``.

With ``--trace 1`` the run then repeats the timed passes with the layer
tracing of ``layers.py`` switched on and reports per-layer metrics; the
difference between the traced and the untraced suite time is the
tracing overhead.

Human-readable metric lines go to stdout, the full run record to
``perfbench/records/``, and the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import importlib.util
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()

from layers import PER_LAYER_UNITS

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
DRIVER_MEM = "2g"
MIN_PASSES = 2
# the first pass after a single warmup still runs ~30% slower (JIT, the
# Python workers' imports), so two passes count as set-up
WARMUP_PASSES = 2
# A fixed, pre-touched driver heap: no heap resizing and no first-touch
# page faults inside the timed passes, whose CPU seconds are bounded.
JVM_FLAGS = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"

# The metrics BENCHMARK.json bounds.  Printed and recorded, but not
# bounded: the wall times suite_s, query_p50_s and query_p90_s, which on
# a shared virtual machine follow the CPU time the host steals (a whole
# run moves by 10-30%) while the CPU seconds of the same pass move far
# less; failed_frac, which is 0 while the program is correct; and
# peak_rss_mb, a sum of RSS over the process tree that counts the pages
# forked Python workers share once per worker, so it jumps with the
# number of workers Spark happens to fork.
END_TO_END_UNITS = {
    "setup_s": "s",
    "suite_cpu_s": "s",
}
MIN_TAIL_SAMPLES = 10


def _slots() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Spark's
    Python workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_slots())
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _load_driver_sim():
    """The repo's type-tagged result canonicalisation (tools/driver_sim.py)."""
    path = os.path.join(ROOT, "tools", "driver_sim.py")
    spec = importlib.util.spec_from_file_location("driver_sim", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ---------------------------------------------------------------- memory

def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], [pid]
    while stack:
        for child in children.get(stack.pop(), []):
            out.append(child)
            stack.append(child)
    return out


def _rss_mb(pids: list[int]) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total / (1024 * 1024)


def _cpu_s() -> float:
    """CPU seconds used so far by this process, its descendants and the
    children they have reaped (Spark's exited Python workers)."""
    tick = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    total = 0
    for pid in (me, *_descendants(me)):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


def _host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


class RssSampler:
    """Peak of (this process + all descendants) RSS while running."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, _rss_mb([me, *_descendants(me)]))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


# ---------------------------------------------------------------- timing

def _time_query(spark, fn, sf_dir: str, phases: list | None):
    """Build, plan and execute one query; return the DataFrame and the
    three wall times.
    When ``phases`` is a list, append (phase, t0_ms, t1_ms) wall stamps."""
    stamps = [time.time() * 1000]
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    stamps.append(time.time() * 1000)
    df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    stamps.append(time.time() * 1000)
    df.write.mode("overwrite").format("noop").save()
    t3 = time.perf_counter()
    stamps.append(time.time() * 1000)
    if phases is not None:
        for i, phase in enumerate(("build", "plan", "execute")):
            phases.append((phase, stamps[i], stamps[i + 1]))
    return df, t1 - t0, t2 - t1, t3 - t2


class Runner:
    def __init__(self, spark, queries: dict, names: list[str], sf_dir: str, seed: int):
        self.spark = spark
        self.queries = queries
        self.names = names
        self.sf_dir = sf_dir
        self.rng = random.Random(seed)
        self.failures: list[dict] = []
        self.frames: dict = {}  # name → DataFrame built by the latest pass

    def one_pass(self, stage: str, phases: list | None = None) -> dict:
        """Run every query once; the CPU seconds of the process tree and the
        host's steal share are kept to tell slow code from a busy host."""
        order = list(self.names)
        self.rng.shuffle(order)
        times: dict[str, list[float]] = {}
        cpu0, (steal0, ticks0) = _cpu_s(), _host_ticks()
        t0 = time.perf_counter()
        for name in order:
            try:
                df, *walls = _time_query(self.spark, self.queries[name], self.sf_dir, phases)
                self.frames[name] = df
                times[name] = [round(x, 6) for x in walls]
            except Exception as ex:  # noqa: BLE001 - a failing query is recorded, not fatal
                self.failures.append({"query": name, "stage": stage,
                                      "error": f"{type(ex).__name__}: {str(ex)[:300]}"})
        wall = time.perf_counter() - t0
        steal1, ticks1 = _host_ticks()
        return {"wall_s": wall, "cpu_s": _cpu_s() - cpu0,
                "steal_frac": (steal1 - steal0) / max(1, ticks1 - ticks0),
                "order": order, "queries": times}

    def timed_passes(self, seconds: float, stage: str, phases: list | None = None) -> list[dict]:
        """Warm passes until ``seconds`` is used up (at least MIN_PASSES)."""
        passes: list[dict] = []
        start = time.perf_counter()
        while True:
            passes.append(self.one_pass(stage, phases))
            elapsed = time.perf_counter() - start
            if len(passes) >= MIN_PASSES and elapsed + passes[-1]["wall_s"] > seconds:
                return passes


def _tail_percentile(n: int) -> float | None:
    """p90, or the highest percentile with at least MIN_TAIL_SAMPLES
    samples beyond it; None when that percentile would not lie above
    the median."""
    q = min(0.9, 1 - MIN_TAIL_SAMPLES / n)
    return q if q > 0.5 else None


def _percentile(values: list[float], q: float) -> float:
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def suite_metrics(passes: list[dict]) -> dict:
    walls = [sum(t) for p in passes for t in p["queries"].values()]
    q_tail = _tail_percentile(len(walls))
    return {
        "suite_s": statistics.median(p["wall_s"] for p in passes),
        "suite_cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "query_p50_s": statistics.median(walls),
        "query_p90_s": None if q_tail is None else _percentile(walls, q_tail),
        "query_samples": len(walls),
        "query_p90_percentile": q_tail,
    }


# ---------------------------------------------------------------- oracle

def oracle_check(frames: dict, names: list[str], sf_dir: str, work: str) -> list[dict]:
    """Compare each query's DataFrame from the last timed pass with its
    DuckDB twin, using the type-tagged canonical rows of
    tools/driver_sim.py.  A query without a twin (the registry's
    rows-only queries) counts as a mismatch: a workload takes only
    queries it can check.  Collecting re-executes the plan but does not
    rebuild it, so a build that drains a stream is not paid twice."""
    import duckdb

    import __spark_entry__ as entry

    sim = _load_driver_sim()
    oracles = entry.oracle_sql()
    duck = duckdb.connect()
    duck.execute(f"SET threads={_slots()}")
    duck.execute("SET memory_limit='2GB'")
    duck.execute(f"SET temp_directory='{os.path.join(work, 'duckdb')}'")
    for t in sim.TABLES:
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    results = []
    try:
        for name in names:
            t0 = time.perf_counter()
            res = {"query": name}
            try:
                if name not in oracles:
                    raise LookupError("no DuckDB twin in oracle_sql()")
                sdf = frames[name]
                s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
                o_rows = duck.execute(oracles[name]).fetchall()
                o_cols = [d[0] for d in duck.description]
                _, s_canon = sim.canon_rows(s_cols, s_rows)
                _, o_canon = sim.canon_rows(o_cols, o_rows)
                res["ok"] = sorted(s_cols) == sorted(o_cols) and s_canon == o_canon
                res["detail"] = (f"{len(s_rows)} rows" if res["ok"] else
                                 f"spark {len(s_rows)} rows, oracle {len(o_rows)} rows, "
                                 f"columns equal: {sorted(s_cols) == sorted(o_cols)}")
                res["hash"] = hashlib.sha256(repr(s_canon).encode()).hexdigest()[:16]
            except Exception as ex:  # noqa: BLE001 - recorded as a mismatch
                res.update(ok=False, detail=f"{type(ex).__name__}: {str(ex)[:300]}", hash=None)
            res["check_s"] = time.perf_counter() - t0
            results.append(res)
    finally:
        duck.close()
    return results


# ---------------------------------------------------------------- session

def _stop_spark(spark) -> None:
    """Stop the session, the py4j gateway and the JVM, and wait for every
    process they started."""
    from pyspark import SparkContext

    pids = _descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 15
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)
    for pid in pids:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def run_workload(name: str, seed: int, seconds: float, trace: bool, sf: float | None = None) -> dict:
    import datagen
    import workloads

    wl = workloads.WORKLOADS[name]
    sf = wl.sf if sf is None else sf
    work = os.path.join(BENCH, ".work", f"run-{os.getpid()}")
    _prepare_env(work)
    load1 = os.getloadavg()[0]

    import pyspark

    import __spark_entry__ as entry
    from nfl26_bigdatabowl_prediction_spark.session import get_spark

    names = workloads.resolve(wl)
    sf_dir = datagen.ensure(sf, os.path.join(BENCH, ".data"))
    slots = _slots()
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData {JVM_FLAGS}",
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = os.path.join(work, "eventlog")
    if trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false"})

    record: dict = {
        "workload": name, "why": wl.why, "sf": sf, "seed": seed, "trace": int(trace),
        "seconds": seconds, "queries": names, "query_set_hash": workloads.query_set_hash(names),
        "host": {
            "nproc": os.cpu_count(), "slots": slots, "load1": load1,
            "driver_memory": DRIVER_MEM, "spark": pyspark.__version__,
            "python": platform.python_version(), "platform": platform.platform(),
        },
        "started": datetime.datetime.now(datetime.timezone.utc).isoformat(),
    }
    t_setup = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    try:
        record["session_start_s"] = time.perf_counter() - t_setup
        runner = Runner(spark, entry.queries(), names, sf_dir, seed)
        record["warmup"] = [runner.one_pass("warmup") for _ in range(WARMUP_PASSES)]
        record["setup_s"] = time.perf_counter() - t_setup

        with RssSampler() as rss:
            passes = runner.timed_passes(seconds, "timed")
        record["passes"] = passes
        record["peak_rss_mb"] = rss.peak_mb
        record.update(suite_metrics(passes))

        tracer = None
        if trace:
            from layers import Tracer, job_metrics

            phases: list = []
            with Tracer(spark) as tracer:
                tracer.recording = True
                traced = runner.timed_passes(seconds, "traced", phases)
                tracer.recording = False
                tracer.wait_for_streams()
                oracle = oracle_check(runner.frames, names, sf_dir, work)
            record["traced_passes"] = traced
            traced_suite = suite_metrics(traced)["suite_s"]
            record["trace_overhead_s"] = traced_suite - record["suite_s"]
        else:
            oracle = oracle_check(runner.frames, names, sf_dir, work)
        record["oracle"] = oracle
    finally:
        t_stop = time.perf_counter()
        _stop_spark(spark)
        record["teardown_s"] = time.perf_counter() - t_stop

    if trace:
        layers = {"session.start_s": record["session_start_s"]}
        layers.update(tracer.span_metrics(len(traced)))
        layers.update(job_metrics(log_dir, phases, tracer.operator_windows(),
                                  len(traced), slots))
        layers["oracle.check_s"] = sum(r["check_s"] for r in oracle)
        layers["oracle.mismatches"] = sum(not r["ok"] for r in oracle)
        layers["trace.overhead_s"] = record["trace_overhead_s"]
        record["per_layer"] = {k: layers[k] for k in PER_LAYER_UNITS}

    mismatches = [r for r in oracle if not r["ok"]]
    record["failures"] = runner.failures + [
        {"query": r["query"], "stage": "oracle", "error": r["detail"]} for r in mismatches
    ]
    # a query fails if it raised in any pass or mismatched its twin
    record["failing_queries"] = sorted({f["query"] for f in record["failures"]})
    record["attempted"] = len(names)
    record["failed"] = len(record["failing_queries"])
    record["failed_frac"] = record["failed"] / record["attempted"]
    shutil.rmtree(work, ignore_errors=True)
    record["run_wall_s"] = time.perf_counter() - T_START
    return record


def _write_record(record: dict) -> str:
    out_dir = os.path.join(BENCH, "records")
    os.makedirs(out_dir, exist_ok=True)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S")
    path = os.path.join(
        out_dir,
        f"{record['workload']}_seed{record['seed']}_trace{record['trace']}_{stamp}_{os.getpid()}.json",
    )
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1)
    return path


def _report(record: dict, path: str) -> dict:
    wl = record["workload"]
    print(f"# {wl}: {len(record['queries'])} queries at sf{record['sf']}, "
          f"query set {record['query_set_hash']}, {len(record['passes'])} timed passes, "
          f"{record['host']['slots']} slots, load1 {record['host']['load1']:.2f}")
    for metric, unit in END_TO_END_UNITS.items():
        print(f"{wl} {metric} = {record[metric]:.4f} {unit}")
    print(f"{wl} suite_s = {record['suite_s']:.4f} s")
    print(f"{wl} query_p50_s = {record['query_p50_s']:.4f} s")
    n = record["query_samples"]
    if record["query_p90_s"] is None:
        print(f"{wl} query_p90_s = unavailable  (n={n}: fewer than "
              f"{MIN_TAIL_SAMPLES} samples lie above the median)")
    else:
        print(f"{wl} query_p90_s = {record['query_p90_s']:.4f} s  (percentile "
              f"{record['query_p90_percentile']:.2f} of n={n})")
    print(f"{wl} failed_frac = {record['failed_frac']:.4f} ratio  "
          f"({record['failed']} of {record['attempted']} queries; failing: "
          f"{', '.join(record['failing_queries']) or 'none'})")
    print(f"{wl} peak_rss_mb = {record['peak_rss_mb']:.1f} MB")
    print(f"{wl} host steal during timed passes = "
          f"{statistics.mean(p['steal_frac'] for p in record['passes']):.3f}")
    if record["trace"]:
        for metric, value in record["per_layer"].items():
            print(f"{wl} {metric} = {value:.4f}")
    print(f"{wl} record: {os.path.relpath(path, ROOT)}")
    if record["trace"]:
        metrics, units = record["per_layer"], PER_LAYER_UNITS
    else:
        metrics = {k: record[k] for k in END_TO_END_UNITS}
        units = END_TO_END_UNITS
    return {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*workloads.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="run the workload's queries at this scale instead "
                         "(the layer self-test uses 0.001)")
    args = ap.parse_args(argv)

    if args.workload == "all":
        rc = 0
        for wl in workloads.WORKLOADS:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace)]
            if args.sf is not None:
                cmd += ["--sf", str(args.sf)]
            rc = max(rc, subprocess.run(cmd).returncode)
        return rc

    record = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), args.sf)
    result = _report(record, _write_record(record))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

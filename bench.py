"""Benchmark harness (driver contract).

Runs every registered query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with the noop sink (full physical
execution, no driver-side collect cost).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def main() -> None:
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

    spark = get_spark(app_name="nfl26-bench")

    # JVM/codegen warmup on a trivial action so query timings measure
    # the plan, not classloading.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    headline = sorted(QUERIES)

    # Per-query warmup at the smallest SF: compiles every plan's
    # whole-stage-codegen classes and JITs the hot paths so the
    # measured pass times the PLAN, not first-call compilation.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name in headline:
            try:
                QUERIES[name](spark, warm_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
            except Exception:
                pass  # a warmup failure must not sink the bench

    # Three measured passes, report the min: the host shows bursty CPU
    # steal, and min-of-N isolates the plan's cost from neighbor noise.
    # A cumulative compact line is FLUSHED after every pass so a run
    # killed by an external timeout still leaves one valid JSON line
    # on stdout (the suite is ~280 queries now; pass 1 alone is the
    # minimum viable result).
    timings: dict[str, float] = {}
    for pass_no in range(3):
        for name in headline:
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            elapsed = round(time.perf_counter() - t0, 3)
            if name not in timings or elapsed < timings[name]:
                timings[name] = elapsed
        print(
            json.dumps(
                {
                    "metric": "headline_queries_total",
                    "value": round(sum(timings.values()), 3),
                    "unit": "sec",
                    "n": len(timings),
                    "sf": sf,
                    "load1": load1,
                    "passes": pass_no + 1,
                }
            ),
            flush=True,
        )

    total = round(sum(timings.values()), 3)
    compact = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "n": len(timings),
            "sf": sf,
            "load1": load1,
        }
    )
    # Compact line BOTH before and after the ~10 KB per-query line:
    # the driver keeps only the LAST ~2000 chars of stdout, so the
    # compact line must come last to survive the tail capture (the
    # r02/r03 "compact line first" ordering scrolled it out and left
    # BENCH parsed=null); printing it first as well keeps it visible
    # to head-style captures and humans.
    full = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": total,
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
    # noise diagnosis needlessly hard.  Append-only; one line per run.
    try:
        hist = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "BENCH_HISTORY.jsonl")
        with open(hist, "a") as fh:
            fh.write(full + "\n")
    except OSError:
        pass  # a read-only checkout must not sink the bench
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())

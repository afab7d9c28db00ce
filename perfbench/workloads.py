"""Workload definitions: which registry queries run, at which scale.

Each workload is cut along operator-family lines so an optimisation
lands mostly in one of them.  A workload names its plan modules and the
queries it takes from them; the names are checked against the live
registry at run time (a missing name fails the run loudly), and the run
record stores the resolved list and its hash, so two runs over
different query sets are never compared silently.

The query counts are set by the run budget: one run (JVM start, warmup
pass, timed passes, oracle check) has to finish in about a minute on a
4-core host, where a single streaming or graph query costs 1-8 s.
"""

from __future__ import annotations

import hashlib
import importlib
from dataclasses import dataclass

PLANS = "nfl26_bigdatabowl_prediction_spark.plans"


@dataclass(frozen=True)
class Workload:
    sf: float
    modules: tuple[str, ...]  # plan modules the names are taken from
    names: tuple[str, ...]
    why: str


WORKLOADS: dict[str, Workload] = {
    "trajectory_sf0.01": Workload(
        sf=0.01,
        modules=("events_windows", "trajectory"),
        names=("q_asof_join", "q_pairwise_kernel", "q_ewm", "q_rolling",
               "q_lag", "q_sessionize"),
        why="keyed-time-series feature library (as-of join, pairwise pandas "
            "kernel, EWM, rolling, lag, sessions) at sf0.01: execute-dominated, "
            "builds launch no jobs",
    ),
    # q_rfm (analytics) is the one query outside vectors whose build
    # materialises scratch parquet, which streaming_q, graph and
    # lakehouse never do
    "eager_sf0.1": Workload(
        sf=0.1,
        modules=("streaming_q", "graph", "lakehouse", "analytics"),
        names=("q_stream_sliding", "q_kcore", "q_mv_incremental", "q_rfm"),
        why="stream drain, fixed-round graph loop, incremental view and "
            "scratch-parquet checkpoint at sf0.1: the build calls launch Spark jobs",
    ),
}


def resolve(workload: Workload) -> list[str]:
    """Query names of ``workload``, checked against the live registry."""
    pool = {
        name for module in workload.modules
        for name in importlib.import_module(f"{PLANS}.{module}").QUERIES
    }
    missing = [n for n in workload.names if n not in pool]
    if missing:
        raise ValueError(f"not in {workload.modules}: {missing}")
    return list(workload.names)


def query_set_hash(names: list[str]) -> str:
    return hashlib.sha256("\n".join(sorted(names)).encode()).hexdigest()[:16]

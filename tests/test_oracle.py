"""Differential test: every registered query vs its DuckDB oracle.

Each query goes through the repo's one result comparator,
``tools/driver_sim.check``: column names and row count, the type
family of every column, then the type-tagged row multisets, bitwise.
The four rows-only queries (no SQL twin) are executed, not compared.

The heavy work happens ONCE in a session-scoped fixture that sweeps
all registered queries through a thread pool (Spark schedules
concurrent actions from multiple driver threads across the same
executors; DuckDB cursors share the session's view catalog).  The
parametrized tests then just assert their query's verdict, so the
per-name granularity — which query failed, and why — is unchanged
while the suite wall drops ~4× vs the old one-query-at-a-time loop.
Set SPARK_GRAFT_ORACLE_POOL=1 to run the sweep single-threaded when
debugging a flaky interaction.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pytest

from nfl26_bigdatabowl_prediction_spark.plans.registry import ORACLES, QUERIES
from tools.driver_sim import check


def all_query_names():
    return sorted(QUERIES.keys())


@pytest.fixture(scope="session")
def oracle_verdicts(spark, duck, sf_dir) -> dict[str, str | None]:
    """name → failure message (None = green).  Safe to parallelize:
    every registry query uses query-unique temp-view/UDF names and
    process-scoped scratch paths, and Spark/DuckDB both accept
    concurrent read actions from multiple driver threads."""

    def run(name: str) -> str | None:
        try:
            if name not in ORACLES:
                # rows-only contract (non-SQL-expressible op)
                QUERIES[name](spark, sf_dir).collect()
                return None
            ok, msg, _ = check(
                name, QUERIES[name], ORACLES[name], spark, duck.cursor(), sf_dir
            )
            return None if ok else msg
        except Exception as exc:  # surface as a per-name failure
            return f"exception: {exc!r}"

    names = all_query_names()
    # Width measured round-8 (post datasink-affinity fix, which is what
    # made >8 safe to even try); min-of-repeated-runs on a drifting
    # host: 8 → 113 s, 12 → 103 s, 16 → 92 s (spread up to 2× between
    # identical runs, so widths are within noise of each other past 8).
    # 12 picked as the default: the measurable step past 8 without
    # soaking all 32 cpus the rest of the suite shares.
    # SPARK_GRAFT_ORACLE_POOL overrides it; 1 is the serial sweep.
    workers = int(os.environ.get("SPARK_GRAFT_ORACLE_POOL", "12"))
    with ThreadPoolExecutor(max_workers=workers) as ex:
        return dict(zip(names, ex.map(run, names)))


@pytest.mark.parametrize("name", all_query_names())
def test_query_matches_oracle(name, oracle_verdicts):
    problem = oracle_verdicts[name]
    assert problem is None, f"{name}: {problem}"

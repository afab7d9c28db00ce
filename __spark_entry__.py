"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All implementations live in ``nfl26_bigdatabowl_prediction_spark``;
this module only wires the registry into the contract and orders it
for the driver's verification window.  The order is derived from the
committed ``CORRECTNESS_r*.json`` records next to this file, so
committing a round's record is all the bookkeeping a round needs.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from nfl26_bigdatabowl_prediction_spark.plans.registry import ORACLES, QUERIES

_ROOT = os.path.dirname(os.path.abspath(__file__))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the multi-aggregate pricing summary
    (SURVEY.md §2.4 A2 — the reference's 14-named-agg groupBy,
    main_cuda.py:365-380) over sf0.001."""
    return QUERIES["q_groupby_multi"](spark, "/root/testdata/sf0.001")


def fully_green(rows: dict[str, dict]) -> set[str]:
    """Names whose driver row matched on rows, schema and value hash,
    with no error.  A row with ``hash_match: null`` (no hash computed)
    counts as green on rows + schema."""
    return {
        n
        for n, r in rows.items()
        if r.get("rows_match")
        and r.get("schema_match")
        and (r.get("hash_match") or r.get("hash_match") is None)
        and not r.get("err")
    }


def green_rounds(root: str = _ROOT) -> dict[str, int]:
    """name → the LATEST round N whose ``CORRECTNESS_r{N}.json`` under
    ``root`` records the name as fully green."""
    rounds: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path)[1])
        with open(path) as f:
            for n in fully_green(json.load(f)):
                rounds[n] = max(rounds.get(n, 0), rnd)
    return rounds


# Drift slots (≤ 8, tests/test_registry.py): names whose engine code
# changed since their last green record.
# - operators/multimodal.py: the seven real-codec queries now run one
#   shared payload generator and one shared parser kernel.
# - operators/ranking.py + plans/analytics.py: q_rfm's exact global
#   rank rewrite (last fully green before it).
_DRIFT_REVERIFY: tuple[str, ...] = (
    "q_audio_features", "q_image_decode", "q_png_decode", "q_gif_decode",
    "q_spectral_bins", "q_pgm_decode", "q_qoi_decode",
    "q_rfm",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry ordered for the driver's 50-slot verification window:

    1. drift-reverify slots (≤ 8): names recent code churn touched;
    2. every oracle-backed name, STALEST evidence first: oldest latest
       green round first (never green counts as round 0, so it leads),
       name as tie-break.  With ~42 rotation slots per round and 368
       oracle-backed names the full surface re-proves on a ~9-round
       cadence without hand-picking;
    3. the rows-only names (no oracle) last: their driver rows can't
       improve.
    """
    rounds = green_rounds()
    rest = [n for n in QUERIES if n not in _DRIFT_REVERIFY]
    stalest_first = sorted(
        (n for n in rest if n in ORACLES), key=lambda n: (rounds.get(n, 0), n)
    )
    rows_only = [n for n in rest if n not in ORACLES]
    return {n: QUERIES[n] for n in [*_DRIFT_REVERIFY, *stalest_first, *rows_only]}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)

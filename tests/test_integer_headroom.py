"""Adversarial-scale regressions for the integer head-room rules
(SCALING.md "Integer head-room").

The round-8 8x full-registry differential exposed three honest
boundaries of the integer-exact oracle strategy; each fix is pinned
here ON THE REGISTERED QUERY by synthesizing a table that sits PAST
the boundary at unit-test size, then running the repo's one result
comparator (tools/driver_sim.check) over a DuckDB oracle of it:

- q_group_corr: power sums past int64 (sum of ~6e18 squares) must
  accumulate in DECIMAL(38,0) / int128.
- q_spearman: rank products past int32 (row_number() is int32 in
  Spark; ranks >= 46341 overflow the per-row product).
- q_expanding: an exact .5 tie at the 6th decimal of the expanding
  mean must round HALF AWAY FROM ZERO on both engines (the double
  path tie-broke apart across engines one-in-millions).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E
from tools.driver_sim import check, oracle_db

pytestmark = pytest.mark.usefixtures("spark")


def _differential(spark, name: str, sf_dir: str) -> None:
    qs, osql = E.queries(), E.oracle_sql()
    with oracle_db(sf_dir) as con:
        ok, msg, _ = check(name, qs[name], osql[name], spark, con, sf_dir)
    assert ok, f"{name}: {msg}"


def test_group_corr_power_sums_survive_int64(spark, tmp_path):
    """Three rows of ~2.5e9-cent prices: each square (~6.3e18) fits
    int64 per-row, but the 3-row SUM (~1.9e19) does not — only the
    DECIMAL(38,0) accumulation (and DuckDB's int128) stays exact."""
    sf = str(tmp_path)
    rows = [
        ("A", 10.0, 25_000_000.00),
        ("A", 20.0, 25_000_000.01),
        ("A", 30.0, 25_000_000.02),
        ("R", 1.0, 1.0),
        ("R", 2.0, 2.0),
    ]
    spark.createDataFrame(
        rows, "l_returnflag string, l_quantity double, l_extendedprice double"
    ).coalesce(1).write.parquet(f"{sf}/lineitem.parquet")
    _differential(spark, "q_group_corr", sf)


def test_spearman_rank_products_survive_int32(spark, tmp_path):
    """50k rows in ONE event_type group: top rank products reach
    ~2.5e9 > int32 — the widened bigint ranks must stay exact (and
    value==time order makes the exact answer rho == 1.0)."""
    import pandas as pd

    n = 50_000
    pdf = pd.DataFrame(
        {
            "event_id": range(1, n + 1),
            "user_id": [1] * n,
            "event_type": ["click"] * n,
            "ts": pd.to_datetime(range(1, n + 1), unit="s"),
            "value": [float(i) for i in range(1, n + 1)],
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        f"{tmp_path}/events.parquet"
    )
    sf = str(tmp_path)
    qs = E.queries()
    out = {
        r["event_type"]: r
        for r in qs["q_spearman"](spark, sf).collect()
    }
    assert out["click"]["n"] == n
    assert out["click"]["spearman_rho"] == 1.0
    _differential(spark, "q_spearman", sf)


def test_ols_power_sums_survive_int64(spark, tmp_path):
    """10k events of ~2.5e9 cents in one type: each y² (~6.3e18) fits
    int64 per-row but Σy² does not, and n·Σxy-scale terms stress the
    exact decimal normal-equation path.  Values vary linearly with
    the hour regressor so slope/r² are non-degenerate."""
    import pandas as pd

    n = 10_000
    hours = [(i % 24) for i in range(n)]
    pdf = pd.DataFrame(
        {
            "event_id": range(1, n + 1),
            "user_id": [i % 5 for i in range(n)],  # both parity variants
            "event_type": ["click"] * n,
            "ts": pd.to_datetime([h * 3600 for h in hours], unit="s"),
            "value": [25_000_000.0 + 7.0 * h + (i % 3) for i, h in enumerate(hours)],
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        f"{tmp_path}/events.parquet"
    )
    _differential(spark, "q_ols_by_group", str(tmp_path))
    _differential(spark, "q_welch_ttest", str(tmp_path))


def test_expanding_mean_rounds_half_away_on_exact_tie(spark, tmp_path):
    """One user, 32 events summing to an ODD 65 cents: the expanding
    mean at row 32 is 65e4/32 = 20312.5 micro-dollars — an EXACT .5
    tie.  Half-away-from-zero must yield 0.020313 on both engines
    (banker's rounding would give 0.020312: the discriminator)."""
    import pandas as pd

    vals = [0.03] + [0.02] * 31
    pdf = pd.DataFrame(
        {
            "event_id": range(1, 33),
            "user_id": [7] * 32,
            "event_type": ["click"] * 32,
            "ts": pd.to_datetime(range(1, 33), unit="s"),
            "value": vals,
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        f"{tmp_path}/events.parquet"
    )
    sf = str(tmp_path)
    qs = E.queries()
    last = [
        r
        for r in qs["q_expanding"](spark, sf).collect()
        if r["n"] == 32
    ]
    assert len(last) == 1
    assert last[0]["exp_mean"] == 0.020313
    _differential(spark, "q_expanding", sf)

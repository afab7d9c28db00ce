"""Arrow pairwise kernel ≡ relational self-join plan.

Two physical strategies for the same logical operator (SURVEY §2.9
U3 vs §2.3 J4) must return identical results — including NULL
placement for singleton groups and the packed-argmin tiebreak — for
every Arrow batch size, since a bucket cut by a batch boundary is
carried into the next batch.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.errors import PythonException

from nfl26_bigdatabowl_prediction_spark.operators.pairwise import (
    PAIRWISE_SCHEMA,
    _pairwise_batches,
    pairwise_features_grouped,
)
from nfl26_bigdatabowl_prediction_spark.plans.registry import QUERIES
from nfl26_bigdatabowl_prediction_spark.sources.io import table

SF_DIR = "/root/testdata/sf0.001"
BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _assert_matches_relational(spark):
    relational = QUERIES["q_pairwise"](spark, SF_DIR).toPandas()
    kernel = pairwise_features_grouped(table(spark, SF_DIR, "events")).toPandas()

    assert len(relational) == len(kernel) > 0
    cols = list(relational.columns)
    assert set(cols) == set(kernel.columns)

    r = relational.sort_values("event_id").reset_index(drop=True)
    k = kernel[cols].sort_values("event_id").reset_index(drop=True)
    for c in cols:
        rv, kv = r[c], k[c]
        assert (rv.isna() == kv.isna()).all(), f"null placement differs in {c}"
        mask = ~rv.isna()
        # exact equality — both strategies run the same integer-scaled
        # arithmetic, so not even float tolerance is needed.
        assert (
            rv[mask].to_numpy(float) == kv[mask].to_numpy(float)
        ).all(), f"values differ in {c}"


def test_kernel_matches_relational_plan(spark):
    _assert_matches_relational(spark)


@pytest.mark.parametrize("batch_rows", ["1", "7"])
def test_kernel_matches_relational_plan_small_batches(spark, batch_rows):
    # ~1 and ~7 rows per Arrow batch: almost every bucket spans several
    # batches, so the carry path runs on real data.
    old = spark.conf.get(BATCH_CONF, "10000")
    spark.conf.set(BATCH_CONF, batch_rows)
    try:
        _assert_matches_relational(spark)
    finally:
        spark.conf.set(BATCH_CONF, old)


def test_kernel_singleton_group_nulls(spark):
    ev = table(spark, SF_DIR, "events").limit(1)
    out = pairwise_features_grouped(ev).toPandas()
    assert len(out) == 1
    row = out.iloc[0]
    assert row["n_pairs"] == 0 and row["n_ally"] == 0
    assert pd.isna(row["mean_dist_ally"]) and pd.isna(row["nearest_event_id"])


def test_kernel_empty_input(spark):
    out = pairwise_features_grouped(table(spark, SF_DIR, "events").limit(0))
    assert out.collect() == []
    assert out.schema == spark.createDataFrame([], PAIRWISE_SCHEMA).schema


@pytest.mark.parametrize("null_col", ["value", "event_type", "ts"])
def test_kernel_refuses_null_inputs(spark, null_col):
    # numpy would pair None == None as allies where SQL NULL = NULL
    # does not: the kernel refuses instead of silently diverging.
    rows = [
        {"user_id": 1, "event_id": 1, "value": 1.0, "event_type": "a", "ts": 0},
        {"user_id": 2, "event_id": 2, "value": 2.0, "event_type": "a", "ts": 1},
    ]
    rows[1][null_col] = None
    ev = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, value double, event_type string, ts bigint"
    )
    with pytest.raises(PythonException, match=f"column '{null_col}' has NULLs"):
        pairwise_features_grouped(ev).collect()


# ---------------------------------------------------------------- carry
# The per-partition generator, fed hand-cut batches without Spark: any
# cut of the bucket-sorted rows must give the single-batch result.

_ROWS = pa.table(
    {
        # bucket 10: five rows, with a nearest-neighbour distance tie
        # for event 4; 11: singleton; 12: a pair with no ally (NULL
        # mean); 13: trailing singleton
        "user_id": [1, 2, 3, 1, 2, 3, 4, 5, 6],
        "event_id": [1, 2, 3, 4, 5, 6, 7, 8, 9],
        "value": [2.0, 1.0, 3.0, 2.5, 7.25, 4.0, 0.5, 0.75, 9.0],
        "event_type": ["a", "b", "a", "a", "b", "a", "a", "b", "c"],
        "bucket": [10, 10, 10, 10, 10, 11, 12, 12, 13],
    }
)


def _cut(bounds: list[int]) -> list[pa.RecordBatch]:
    """Batches of _ROWS between consecutive ``bounds`` (equal bounds
    give an empty batch)."""
    rb = _ROWS.combine_chunks().to_batches()[0]
    return [rb.slice(lo, hi - lo) for lo, hi in zip(bounds, bounds[1:])]


def _run(batches: list[pa.RecordBatch]) -> list[dict]:
    out = list(_pairwise_batches(batches))
    if not out:
        return []
    return pa.Table.from_batches(out).sort_by("event_id").to_pylist()


@pytest.mark.parametrize(
    "bounds",
    [
        [0, 2, 2, 3, 9],  # bucket 10 over 3 batches, an empty one between
        [0, 0, 9, 9],  # leading and trailing empty batches
        list(range(10)),  # one-row batches
        [0, 5, 6, 9],  # singleton bucket 11 alone in its batch
        [0, 6, 9],  # ... last in a batch
        [0, 5, 9],  # ... first in a batch
        [0, 8, 9],  # trailing singleton in a one-row batch
    ],
)
def test_batch_cuts_match_single_batch(bounds):
    assert _run(_cut(bounds)) == _run(_cut([0, 9]))


def test_single_batch_result():
    by_id = {r["event_id"]: r for r in _run(_cut([0, 9]))}
    assert len(by_id) == 9
    # value 2.0: nearest is 2.5 (id 4); allies 3.0 and 2.5, mean 0.75
    assert by_id[1]["nearest_event_id"] == 4 and by_id[1]["n_pairs"] == 4
    assert by_id[1]["n_ally"] == 2 and by_id[1]["mean_dist_ally"] == 0.75
    # value 2.5: 2.0 (id 1) and 3.0 (id 3) tie at 0.5 -> lower id wins
    assert by_id[4]["nearest_event_id"] == 1 and by_id[4]["nearest_value"] == 2.0
    for singleton in (6, 9):
        row = by_id[singleton]
        assert row["n_pairs"] == 0 and row["n_ally"] == 0
        assert row["mean_dist_ally"] is None and row["min_dist"] is None
        assert row["nearest_event_id"] is None and row["nearest_value"] is None
    assert by_id[7]["n_ally"] == 0 and by_id[7]["mean_dist_ally"] is None
    assert by_id[7]["min_dist"] == by_id[7]["max_dist"] == 0.25


def test_no_batches_no_output():
    assert _run([]) == []
    assert _run(_cut([0, 0])) == []

"""Focused pins for the round-11 Lloyd-assignment argmin rewrites
(plans/vectors.py::_argmin_assign / _argmin_assign_agg).

Both helpers replaced the crossJoin -> Exchange(vec_id) -> ROW_NUMBER
(dist ASC, sid ASC) window argmin; these tests pin the exact contract
that rewrite relied on, against an independent pure-Python reference
that reproduces Spark's arithmetic (left-fold dot products, half-up
rounding, lexicographic (dist, sid) tie-break):

* winner per vector == the (dist ASC, sid ASC) argmin, bitwise on the
  frozen integer micros — including deliberate distance TIES (duplicate
  centroids), where the smaller sid must win;
* payload columns ride through unchanged;
* the cell-keyed form scores a vector ONLY against its own cell's
  candidates and drops vectors whose cell has no candidate (the inner
  join the window form also did);
* both forms agree with each other on the same input.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from nfl26_bigdatabowl_prediction_spark.plans.vectors import (
    _argmin_assign,
    _argmin_assign_agg,
)


def _vec(seed: int, dim: int = 8) -> list[float]:
    # deterministic, float-exact values (multiples of 1/64)
    return [((seed * 7 + i * 13) % 65 - 32) / 64.0 for i in range(dim)]


def _dot(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y  # strict left fold, like the Spark aggregate()
    return acc


def _dist_micro(v: list[float], s: list[float]) -> int:
    x = (_dot(v, v) - 2 * _dot(v, s) + _dot(s, s)) * 1000000
    # Spark round(x, 0) is half-up; distances are non-negative
    return int(math.floor(x + 0.5))


def _expected(vecs: dict[int, list[float]], cands: list[tuple[int, list[float]]]):
    out = {}
    for vid, v in vecs.items():
        out[vid] = min((_dist_micro(v, se), sid) for sid, se in cands)[1]
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, _vec(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    return df, {i: _vec(i) for i in range(40)}


def _cents(spark, sids):
    rows = [(s, _vec(100 + s)) for s in sids]
    return (
        spark.createDataFrame(rows, "sid bigint, se array<double>"),
        [(s, _vec(100 + s)) for s in sids],
    )


def test_packed_hof_matches_reference_argmin(spark, corpus):
    df, vecs = corpus
    cents, cand_list = _cents(spark, [0, 1, 2, 3, 4])
    got = {
        r["vec_id"]: r["sid"]
        for r in _argmin_assign(df, "embedding", cents, "sid", "se", "sid").collect()
    }
    assert got == _expected(vecs, cand_list)


def test_minagg_matches_reference_argmin_and_keeps_payload(spark, corpus):
    df, vecs = corpus
    df = df.withColumn("tag", F.col("vec_id") * 10)
    cents, cand_list = _cents(spark, [0, 1, 2, 3, 4])
    rows = _argmin_assign_agg(
        df, "vec_id", "embedding", cents, "sid", "se", "sid"
    ).collect()
    got = {r["vec_id"]: r["sid"] for r in rows}
    assert got == _expected(vecs, cand_list)
    # payload rides through unchanged (it is group-constant)
    assert all(r["tag"] == r["vec_id"] * 10 for r in rows)
    assert all(r["embedding"] == _vec(r["vec_id"]) for r in rows)


def test_tie_breaks_on_smaller_sid(spark, corpus):
    df, vecs = corpus
    # two IDENTICAL centroids -> every vector's best dist ties across
    # sids 7 and 3; the (dist ASC, sid ASC) contract demands sid 3
    dup = _vec(999)
    cents = spark.createDataFrame(
        [(7, dup), (3, dup)], "sid bigint, se array<double>"
    )
    for helper in (
        lambda: _argmin_assign(df, "embedding", cents, "sid", "se", "sid"),
        lambda: _argmin_assign_agg(
            df, "vec_id", "embedding", cents, "sid", "se", "sid"
        ),
    ):
        assert {r["sid"] for r in helper().collect()} == {3}


def test_cell_keyed_form_scopes_and_drops_like_the_inner_join(spark, corpus):
    df, vecs = corpus
    # cells: vec_id % 3; cell 2 has NO candidates -> its vectors drop
    df2 = df.withColumn("cid", F.col("vec_id") % 3)
    cand_rows = [(s, _vec(100 + s), s % 2) for s in range(6)]  # cells 0,1 only
    cents = spark.createDataFrame(
        cand_rows, "sid bigint, se array<double>, cid bigint"
    )
    rows = _argmin_assign(
        df2, "embedding", cents, "sid", "se", "sid", cell_key="cid"
    ).collect()
    got = {r["vec_id"]: r["sid"] for r in rows}
    # vectors in cell 2 are absent (no candidates there)
    assert set(got) == {i for i in range(40) if i % 3 != 2}
    # each vector scored ONLY against its own cell's candidates
    for vid, sid in got.items():
        cell = vid % 3
        in_cell = [(s, se) for s, se, c in cand_rows if c == cell]
        assert got[vid] == _expected({vid: vecs[vid]}, in_cell)[vid]


def test_reserved_internal_names_are_rejected(spark, corpus):
    # round-12 guard (round-11 ADVICE): an input already carrying one
    # of the helpers' fixed internal columns must raise loudly instead
    # of being silently overwritten / made ambiguous.
    df, _ = corpus
    cents, _ = _cents(spark, [0, 1, 2])
    poisoned = df.withColumn("_dvv", F.lit(0.0))
    with pytest.raises(ValueError, match="reserved internal column"):
        _argmin_assign(poisoned, "embedding", cents, "sid", "se", "sid")
    with pytest.raises(ValueError, match="reserved internal column"):
        _argmin_assign_agg(
            poisoned, "vec_id", "embedding", cents, "sid", "se", "sid"
        )
    bad_cents = cents.withColumn("_cands", F.lit(1))
    with pytest.raises(ValueError, match="reserved internal column"):
        _argmin_assign(df, "embedding", bad_cents, "sid", "se", "sid")
    # an existing out_col would be silently replaced by withColumn
    with pytest.raises(ValueError, match="reserved internal column"):
        _argmin_assign(df, "embedding", cents, "sid", "se", "vec_id")
    with pytest.raises(ValueError, match="reserved internal column"):
        _argmin_assign_agg(
            df, "vec_id", "embedding", cents, "sid", "se", "embedding"
        )


def test_both_forms_agree(spark, corpus):
    df, _ = corpus
    cents, _ = _cents(spark, [0, 1, 2, 3, 4, 5, 6])
    a = {
        r["vec_id"]: r["sid"]
        for r in _argmin_assign(df, "embedding", cents, "sid", "se", "sid").collect()
    }
    b = {
        r["vec_id"]: r["sid"]
        for r in _argmin_assign_agg(
            df, "vec_id", "embedding", cents, "sid", "se", "sid"
        ).collect()
    }
    assert a == b

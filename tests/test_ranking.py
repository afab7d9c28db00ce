"""operators/ranking.py — exact distributed global rank + NTILE
reconstruction (the q_rfm scale rewrite, round 6).

The contract: exact_global_rank must equal an unpartitioned
ROW_NUMBER() window for ANY total order, and ntile_from_rank must
equal SQL NTILE(k) for every (n, k) remainder shape — including the
n < k edge where some buckets are empty.  The rank must not depend on
how the session partitions or plans the sort.
"""

from __future__ import annotations

import contextlib

import pytest

from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from pyspark.sql.window import Window as W

from nfl26_bigdatabowl_prediction_spark.operators.ranking import (
    exact_global_rank,
    ntile_from_rank,
)


@pytest.mark.parametrize("n", [1, 3, 5, 7, 100, 257])
def test_exact_rank_matches_single_partition_window(spark, n):
    df = spark.range(n).select(
        F.col("id"),
        ((F.col("id") * 7919) % 101).alias("key"),  # duplicate-heavy key
    )
    got = exact_global_rank(
        df, F.desc("key"), F.col("id"), rank_col="r", partitions=4
    )
    want = df.withColumn(
        "r_ref", F.row_number().over(W.orderBy(F.desc("key"), F.col("id")))
    )
    joined = got.join(want, ["id", "key"]).select("r", "r_ref").collect()
    assert len(joined) == n
    assert all(row.r == row.r_ref for row in joined)


@contextlib.contextmanager
def _confs(spark, confs: dict[str, str]):
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _assert_rank_is_row_number(df, *order):
    """exact_global_rank with the session's own partitioning equals a
    single-partition row_number over the same order (``id`` unique)."""
    got = exact_global_rank(df, *order, rank_col="r")
    want = df.select("id", F.row_number().over(W.orderBy(*order)).alias("r_ref"))
    rows = got.join(want, "id").select("id", "r", "r_ref").collect()
    assert len(rows) == df.count()
    assert all(r.r == r.r_ref for r in rows), sorted(
        (r.id, r.r, r.r_ref) for r in rows if r.r != r.r_ref
    )


_KEYED = ("id", "(id * 7919) % 101 AS key")  # duplicate-heavy key


@pytest.mark.parametrize(
    "confs,n",
    [
        ({"spark.sql.shuffle.partitions": "1"}, 257),
        ({"spark.sql.shuffle.partitions": "8"}, 257),
        ({"spark.sql.shuffle.partitions": "200"}, 257),
        ({"spark.sql.adaptive.enabled": "false"}, 257),
        # 3 rows over 200 range partitions, none coalesced away: the
        # empty partitions must add 0 to the offsets
        ({"spark.sql.shuffle.partitions": "200",
          "spark.sql.adaptive.enabled": "false"}, 3),
    ],
    ids=["shuffle1", "shuffle8", "shuffle200", "aqe_off", "empty_partitions"],
)
def test_exact_rank_is_configuration_invariant(spark, confs, n):
    with _confs(spark, confs):
        df = spark.range(n).selectExpr(*_KEYED)
        _assert_rank_is_row_number(df, F.desc("key"), F.col("id"))


def test_exact_rank_of_empty_input(spark):
    df = spark.range(0).selectExpr(*_KEYED)
    got = exact_global_rank(df, F.desc("key"), F.col("id"), rank_col="r")
    assert got.collect() == []
    assert got.schema.fields[:-1] == df.schema.fields
    assert (got.schema[-1].name, got.schema[-1].dataType) == ("r", LongType())


def test_exact_rank_sorts_null_keys_last_under_desc(spark):
    df = spark.range(40).selectExpr(
        "id", "IF(id % 3 = 0, NULL, (id * 7919) % 11) AS key"
    )
    _assert_rank_is_row_number(df, F.desc("key"), F.col("id"))
    last = exact_global_rank(df, F.desc("key"), F.col("id"), rank_col="r")
    tail = last.where(F.col("r") > 40 - 14).collect()
    assert all(r.key is None for r in tail)  # ids 0,3,…,39: 14 NULLs


def test_exact_rank_rejects_clashing_columns(spark):
    df = spark.range(4).selectExpr("id", "id AS _pid", "id AS r")
    with pytest.raises(ValueError, match="_pid"):
        exact_global_rank(df.drop("r"), F.col("id"), rank_col="rank")
    with pytest.raises(ValueError, match=r"\['r'\]"):
        exact_global_rank(df.drop("_pid"), F.col("id"), rank_col="r")
    for name in ("_pos", "_off"):
        with pytest.raises(ValueError, match=name):
            exact_global_rank(
                spark.range(4).selectExpr("id", f"id AS {name}"), F.col("id")
            )


def test_exact_rank_fails_loudly_on_a_lost_checkpoint_block(spark):
    # the numbered rows live only in the block manager: losing a block
    # must fail the read, never re-run the range sort with new bounds
    got = exact_global_rank(spark.range(50), F.col("id"), rank_col="r")
    assert got.count() == 50
    leaves = got._jdf.queryExecution().analyzed().collectLeaves().iterator()
    lost = 0
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.nodeName() == "LogicalRDD":
            leaf.rdd().unpersist(True)
            lost += 1
    assert lost >= 1
    with pytest.raises(Py4JJavaError, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        got.collect()


@pytest.mark.parametrize("n,k", [(10, 5), (11, 5), (14, 5), (3, 5), (1, 5),
                                 (100, 7), (6, 6)])
def test_ntile_from_rank_matches_sql_ntile(spark, n, k):
    df = spark.range(n).select(F.col("id"))
    ref = df.select(
        "id", F.ntile(k).over(W.orderBy("id")).cast("bigint").alias("b_ref")
    )
    got = df.select(
        "id",
        ntile_from_rank(F.col("id") + 1, F.lit(n), k).alias("b"),
    )
    rows = got.join(ref, "id").collect()
    assert len(rows) == n
    assert all(r.b == r.b_ref for r in rows), sorted(
        (r.id, r.b, r.b_ref) for r in rows if r.b != r.b_ref
    )

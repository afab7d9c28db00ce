"""Composed trajectory pipelines (SURVEY.md §2.3 J3/J4/J7, §2.10 M1/M3).

These re-express the reference's *composite* operators — the ones that
chain joins, windows, and aggregations — on the events analog
(FIXTURES.md §5): user_id ↔ trajectory, hour-bucket(ts) ↔ frame,
value ↔ coordinate, event_type ↔ player_side.

Scale design notes:
* The "frame" group key (hour bucket) bounds every self-join: the
  pairwise join is equi on the bucket key, so it is a hash/sort-merge
  join whose per-group fanout is |group|², exactly like the
  reference's per-frame 22×22 matrices (add.txt comment: "keep
  matrices tiny").  Catalyst never sees a cartesian product.
* The GNN-lite chain reuses ONE partitioning (by ego key) across
  rank → softmax → aggregate → pivot, so the whole feature block
  costs a single shuffle after the join.
* Float determinism: exp() is libm ⇒ softmax weights are rounded to
  6 dp on both engines *before* they enter weighted sums, and the
  weighted sums are integer-scaled (see plans/relational.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.portable import knuth_fold_expr, knuth_fold_sql
from ..sources.io import table
from .registry import registrar

QUERIES: dict = {}
ORACLES: dict = {}
q = registrar(QUERIES, ORACLES)

HOUR_US = 3600 * 10**6
RADIUS = 50.0  # neighbor radius (reference RADIUS=30 yd, main_cuda.py:336)
K_NEIGH = 5  # top-K neighbors (reference K_NEIGH=6/5, main_cuda.py:344)
TAU = 10.0  # softmax temperature (reference τ, main_cuda.py:350)
COGROUP_BUCKETS = 64  # users per cogroup kernel call: invocation-count knob


def _events(spark, sf_dir):
    return table(spark, sf_dir, "events")


def _last_per_user(ev: DataFrame, input_only: bool = False) -> DataFrame:
    """A1 last-row-per-group (main_cuda.py:306-310): the reference's
    'state at the last observed frame'."""
    if input_only:
        ev = ev.filter(F.col("event_type") != "purchase")
    wd = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
            F.col("event_type").alias("last_type"),
        )
    )


_LAST_INPUT_CTE = """
    last_input AS (
        SELECT user_id, last_ts_us, last_event_id, last_value, last_type FROM (
            SELECT user_id, epoch_us(ts) AS last_ts_us, event_id AS last_event_id,
                   value AS last_value, event_type AS last_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
            FROM events WHERE event_type <> 'purchase')
        WHERE rn = 1
    )
"""


# --------------------------------------------------------------------------
# J7 — the as-of label build (main_cuda.py:404-431): every "output"
# row (purchase events ↔ post-throw frames) pairs with the LAST
# "input" row of its trajectory; Δt = output_time − last_input_time,
# clipped at 0.  Left join keeps outputs whose trajectory has no
# input rows (FIXTURES §3 null path).
# --------------------------------------------------------------------------
@q(
    "q_asof",
    f"""
    WITH {_LAST_INPUT_CTE}
    SELECT o.user_id, o.event_id, o.value AS target_value,
           l.last_event_id, l.last_value,
           greatest(0.0, (epoch_us(o.ts) - l.last_ts_us) / 1000000.0) AS delta_s
    FROM (SELECT * FROM events WHERE event_type = 'purchase') o
    LEFT JOIN last_input l ON o.user_id = l.user_id
    """,
)
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    out = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", F.col("value").alias("target_value")
    )
    last = _last_per_user(ev, input_only=True).select(
        "user_id", "last_ts", "last_event_id", "last_value"
    )
    j = out.join(last, "user_id", "left")
    return j.select(
        "user_id",
        "event_id",
        "target_value",
        "last_event_id",
        "last_value",
        F.greatest(
            F.lit(0.0), (F.col("ts") - F.col("last_ts")) / F.lit(1000000.0)
        ).alias("delta_s"),
    )


# --------------------------------------------------------------------------
# M3/M4 — constant-velocity physics baseline + residual label
# (main_cuda.py:433-439, 1403-1406): rate from the last two input
# frames, dead-reckon to each output time, clip to bounds, residual =
# target − baseline.  Pure column arithmetic — IEEE-exact, no rounding.
# --------------------------------------------------------------------------
@q(
    "q_physics_baseline",
    f"""
    WITH base AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        FROM events WHERE event_type <> 'purchase'
    ), state AS (
        SELECT l.user_id, l.ts_us AS last_ts_us, l.value AS last_value,
               CASE WHEN p.ts_us IS NULL OR l.ts_us = p.ts_us THEN 0.0
                    ELSE (l.value - p.value) / ((l.ts_us - p.ts_us) / 1000000.0)
               END AS rate
        FROM (SELECT * FROM base WHERE rn = 1) l
        LEFT JOIN (SELECT * FROM base WHERE rn = 2) p ON l.user_id = p.user_id
    )
    SELECT o.user_id, o.event_id, o.value AS target_value,
           greatest(0.0, least(400.0,
               s.last_value + s.rate * greatest(0.0, (epoch_us(o.ts) - s.last_ts_us) / 1000000.0)
           )) AS baseline,
           o.value - greatest(0.0, least(400.0,
               s.last_value + s.rate * greatest(0.0, (epoch_us(o.ts) - s.last_ts_us) / 1000000.0)
           )) AS residual
    FROM (SELECT * FROM events WHERE event_type = 'purchase') o
    JOIN state s ON o.user_id = s.user_id
    """,
)
def q_physics_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    inp = ev.filter(F.col("event_type") != "purchase")
    wd = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    base = inp.withColumn("rn", F.row_number().over(wd)).select(
        "user_id", "ts", "event_id", "value", "rn"
    )
    last = base.filter(F.col("rn") == 1).select(
        "user_id", F.col("ts").alias("last_ts"), F.col("value").alias("last_value")
    )
    prev = base.filter(F.col("rn") == 2).select(
        "user_id", F.col("ts").alias("prev_ts"), F.col("value").alias("prev_value")
    )
    state = last.join(prev, "user_id", "left").select(
        "user_id",
        "last_ts",
        "last_value",
        F.when(
            F.col("prev_ts").isNull() | (F.col("last_ts") == F.col("prev_ts")),
            F.lit(0.0),
        )
        .otherwise(
            (F.col("last_value") - F.col("prev_value"))
            / ((F.col("last_ts") - F.col("prev_ts")) / F.lit(1000000.0))
        )
        .alias("rate"),
    )
    out = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", F.col("value").alias("target_value")
    )
    j = out.join(state, "user_id", "inner")
    delta_s = F.greatest(
        F.lit(0.0), (F.col("ts") - F.col("last_ts")) / F.lit(1000000.0)
    )
    pred = F.greatest(
        F.lit(0.0), F.least(F.lit(400.0), F.col("last_value") + F.col("rate") * delta_s)
    )
    return j.select(
        "user_id",
        "event_id",
        "target_value",
        pred.alias("baseline"),
        (F.col("target_value") - pred).alias("residual"),
    )


# --------------------------------------------------------------------------
# J3 — self-join neighbor expansion at the last frame
# (main_cuda.py:313-323): each ego's last observed state × all events
# in the same hour bucket from other users.
# --------------------------------------------------------------------------
@q(
    "q_self_join",
    f"""
    WITH ego AS (
        SELECT user_id, last_ts_us, last_value, bucket FROM (
            SELECT user_id, epoch_us(ts) AS last_ts_us, value AS last_value,
                   epoch_us(ts) // {HOUR_US} AS bucket,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
            FROM events)
        WHERE rn = 1
    )
    SELECT e.user_id, n.user_id AS nb_user_id, n.event_id AS nb_event_id,
           abs(e.last_value - n.value) AS dist
    FROM ego e
    JOIN (SELECT user_id, event_id, value, epoch_us(ts) // {HOUR_US} AS bucket
          FROM events) n
      ON e.bucket = n.bucket AND e.user_id <> n.user_id
    """,
)
def q_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    bucket = F.expr(f"ts div {HOUR_US}")
    wd = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    ego = (
        ev.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("value").alias("last_value"),
            bucket.alias("bucket"),
        )
    )
    nb = ev.select(
        F.col("user_id").alias("nb_user_id"),
        F.col("event_id").alias("nb_event_id"),
        F.col("value").alias("nb_value"),
        bucket.alias("bucket"),
    )
    j = ego.join(
        nb, (ego.bucket == nb.bucket) & (ego.user_id != nb.nb_user_id), "inner"
    )
    return j.select(
        "user_id",
        "nb_user_id",
        "nb_event_id",
        F.abs(F.col("last_value") - F.col("nb_value")).alias("dist"),
    )


# --------------------------------------------------------------------------
# The full GNN-lite neighbor-embedding block (main_cuda.py:301-398):
# J3 self-join → P5/P3 finite+radius filters → W8 top-K rank →
# A6 softmax(τ) weights → A2/A3/A7/A8 masked weighted aggs →
# A9 pivot of d1..d3 → J6 join-back → P8 per-column fills.
# One query proving operator composition end-to-end.
# --------------------------------------------------------------------------
@q(
    "q_gnn_lite",
    f"""
    WITH ego AS (
        SELECT user_id, last_value, last_type, bucket FROM (
            SELECT user_id, value AS last_value, event_type AS last_type,
                   epoch_us(ts) // {HOUR_US} AS bucket,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
            FROM events)
        WHERE rn = 1
    ), nb AS (
        SELECT e.user_id, e.last_value, e.last_type,
               n.event_id AS nb_event_id, n.value AS nb_value,
               n.event_type AS nb_type,
               abs(e.last_value - n.value) AS dist
        FROM ego e
        JOIN (SELECT user_id, event_id, value, event_type,
                     epoch_us(ts) // {HOUR_US} AS bucket
              FROM events) n
          ON e.bucket = n.bucket AND e.user_id <> n.user_id
        WHERE abs(e.last_value - n.value) > 0.000001
          AND abs(e.last_value - n.value) <= {RADIUS}
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY dist ASC, nb_event_id ASC) AS rnk
        FROM nb
    ), topk AS (
        SELECT * FROM ranked WHERE rnk <= {K_NEIGH}
    ), weighted AS (
        SELECT *,
               round(exp(-dist / {TAU}) / SUM(exp(-dist / {TAU})) OVER (PARTITION BY user_id), 6) AS wn,
               CASE WHEN nb_type = last_type THEN 1 ELSE 0 END AS is_ally
        FROM topk
    ), agg AS (
        SELECT user_id,
               COUNT(*) AS gnn_cnt,
               SUM(is_ally) AS ally_cnt,
               COUNT(*) - SUM(is_ally) AS opp_cnt,
               SUM(CAST(round(nb_value * wn * 1000000, 0) AS BIGINT)) / 1000000.0 AS wmean_value,
               MIN(CASE WHEN is_ally = 1 THEN dist END) AS min_dist_ally,
               SUM(CASE WHEN is_ally = 1 THEN CAST(round(dist * 1000000, 0) AS BIGINT) ELSE 0 END)
                 / NULLIF(SUM(is_ally), 0) / 1000000.0 AS mean_dist_ally,
               MAX(CASE WHEN rnk = 1 THEN dist END) AS d1,
               MAX(CASE WHEN rnk = 2 THEN dist END) AS d2,
               MAX(CASE WHEN rnk = 3 THEN dist END) AS d3
        FROM weighted GROUP BY user_id
    )
    SELECT e.user_id, e.last_value,
           COALESCE(a.gnn_cnt, 0) AS gnn_cnt,
           CAST(COALESCE(a.ally_cnt, 0) AS BIGINT) AS ally_cnt,
           CAST(COALESCE(a.opp_cnt, 0) AS BIGINT) AS opp_cnt,
           COALESCE(a.wmean_value, 0.0) AS wmean_value,
           a.min_dist_ally,
           a.mean_dist_ally,
           COALESCE(a.d1, {RADIUS}) AS d1,
           COALESCE(a.d2, {RADIUS}) AS d2,
           COALESCE(a.d3, {RADIUS}) AS d3
    FROM ego e LEFT JOIN agg a ON e.user_id = a.user_id
    """,
)
def q_gnn_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    bucket = F.expr(f"ts div {HOUR_US}")
    wd = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    ego = (
        ev.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("value").alias("last_value"),
            F.col("event_type").alias("last_type"),
            bucket.alias("bucket"),
        )
    )
    nb_src = ev.select(
        F.col("user_id").alias("nb_user_id"),
        F.col("event_id").alias("nb_event_id"),
        F.col("value").alias("nb_value"),
        F.col("event_type").alias("nb_type"),
        bucket.alias("nb_bucket"),
    )
    dist = F.abs(F.col("last_value") - F.col("nb_value"))
    nb = (
        ego.join(
            nb_src,
            (ego.bucket == nb_src.nb_bucket) & (ego.user_id != nb_src.nb_user_id),
            "inner",
        )
        .withColumn("dist", dist)
        .filter((F.col("dist") > 0.000001) & (F.col("dist") <= RADIUS))
    )
    wrank = W.partitionBy("user_id").orderBy(
        F.col("dist").asc(), F.col("nb_event_id").asc()
    )
    topk = nb.withColumn("rnk", F.row_number().over(wrank)).filter(
        F.col("rnk") <= K_NEIGH
    )
    w_raw = F.exp(-F.col("dist") / TAU)
    weighted = topk.withColumn(
        "wn", F.round(w_raw / F.sum(w_raw).over(W.partitionBy("user_id")), 6)
    ).withColumn(
        "is_ally",
        F.when(F.col("nb_type") == F.col("last_type"), F.lit(1)).otherwise(F.lit(0)),
    )
    micro = lambda c: F.round(c * F.lit(1000000.0), 0).cast("bigint")  # noqa: E731
    agg = weighted.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("gnn_cnt"),
        F.sum("is_ally").alias("ally_cnt"),
        (F.count(F.lit(1)) - F.sum("is_ally")).alias("opp_cnt"),
        (F.sum(micro(F.col("nb_value") * F.col("wn"))) / 1000000.0).alias("wmean_value"),
        F.min(F.when(F.col("is_ally") == 1, F.col("dist"))).alias("min_dist_ally"),
        (
            F.sum(
                F.when(F.col("is_ally") == 1, micro(F.col("dist"))).otherwise(F.lit(0))
            )
            / F.nullif(F.sum("is_ally"), F.lit(0))
            / 1000000.0
        ).alias("mean_dist_ally"),
        F.max(F.when(F.col("rnk") == 1, F.col("dist"))).alias("d1"),
        F.max(F.when(F.col("rnk") == 2, F.col("dist"))).alias("d2"),
        F.max(F.when(F.col("rnk") == 3, F.col("dist"))).alias("d3"),
    )
    joined = ego.select("user_id", "last_value").join(agg, "user_id", "left")
    return joined.select(
        "user_id",
        "last_value",
        F.coalesce(F.col("gnn_cnt"), F.lit(0)).alias("gnn_cnt"),
        F.coalesce(F.col("ally_cnt"), F.lit(0)).alias("ally_cnt"),
        F.coalesce(F.col("opp_cnt"), F.lit(0)).alias("opp_cnt"),
        F.coalesce(F.col("wmean_value"), F.lit(0.0)).alias("wmean_value"),
        "min_dist_ally",
        "mean_dist_ally",
        F.coalesce(F.col("d1"), F.lit(RADIUS)).alias("d1"),
        F.coalesce(F.col("d2"), F.lit(RADIUS)).alias("d2"),
        F.coalesce(F.col("d3"), F.lit(RADIUS)).alias("d3"),
    )


# --------------------------------------------------------------------------
# J4 + A11 + A13 — pairwise within-frame interaction features
# (nn-mps.py:321-426, add.txt): all (i,j) pairs inside a frame group,
# i≠j, masked mean/min/max distances + nearest-neighbor attributes.
# Relational form (equi-join on the group key); its physical
# alternative is the Arrow kernel q_pairwise_kernel
# (operators/pairwise.py), checked against the same oracle.  This form
# also serves nullable input, which the kernel refuses.  Base rows
# left-join the aggregates so singleton groups keep their NULL row
# (nn-mps.py:326-353 NaN path).
# --------------------------------------------------------------------------
@q(
    "q_pairwise",
    f"""
    WITH ev AS (
        SELECT user_id, event_id, value, event_type,
               epoch_us(ts) // {HOUR_US} AS bucket
        FROM events
    ), pairs AS (
        SELECT a.event_id, a.user_id,
               b.event_id AS nb_event_id, b.value AS nb_value,
               abs(a.value - b.value) AS dist,
               CASE WHEN a.event_type = b.event_type THEN 1 ELSE 0 END AS is_ally
        FROM ev a JOIN ev b
          ON a.bucket = b.bucket AND a.event_id <> b.event_id
    ), pair_agg AS (
        SELECT event_id,
               COUNT(*) AS n_pairs,
               SUM(is_ally) AS n_ally,
               SUM(CASE WHEN is_ally = 1 THEN CAST(round(dist * 1000000, 0) AS BIGINT) ELSE 0 END)
                 / NULLIF(SUM(is_ally), 0) / 1000000.0 AS mean_dist_ally,
               MIN(dist) AS min_dist,
               MAX(dist) AS max_dist
        FROM pairs GROUP BY event_id
    ), nearest AS (
        -- nearest ordered by integer-scaled distance (micros), matching
        -- the Spark side's packed-long min exactly; ties on micros break
        -- by neighbor id on both engines.
        SELECT event_id, nb_event_id AS nearest_event_id, nb_value AS nearest_value FROM (
            SELECT event_id, nb_event_id, nb_value,
                   ROW_NUMBER() OVER (PARTITION BY event_id
                                      ORDER BY CAST(round(dist * 1000000, 0) AS BIGINT) ASC,
                                               nb_event_id ASC) AS rn
            FROM pairs)
        WHERE rn = 1
    )
    SELECT e.event_id, e.user_id,
           COALESCE(p.n_pairs, 0) AS n_pairs,
           CAST(COALESCE(p.n_ally, 0) AS BIGINT) AS n_ally,
           p.mean_dist_ally, p.min_dist, p.max_dist,
           n.nearest_event_id, n.nearest_value
    FROM ev e
    LEFT JOIN pair_agg p ON e.event_id = p.event_id
    LEFT JOIN nearest n ON e.event_id = n.event_id
    """,
)
def q_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", "value", "event_type", F.expr(f"ts div {HOUR_US}").alias("bucket")
    )
    a = ev.alias("a")
    b = ev.select(
        F.col("event_id").alias("nb_event_id"),
        F.col("value").alias("nb_value"),
        F.col("event_type").alias("nb_type"),
        F.col("bucket").alias("nb_bucket"),
    ).alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("nb_bucket"))
            & (F.col("a.event_id") != F.col("nb_event_id")),
            "inner",
        )
        .select(
            F.col("a.event_id").alias("event_id"),
            F.col("a.user_id").alias("user_id"),
            "nb_event_id",
            "nb_value",
            F.abs(F.col("a.value") - F.col("nb_value")).alias("dist"),
            F.when(F.col("a.event_type") == F.col("nb_type"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_ally"),
        )
    )
    # Pair-less events survive the aggregation via a null SEED row per
    # event unioned under the same groupBy — the union is absorbed by
    # the aggregation's own shuffle, replacing the left join back to
    # the full event table (two extra exchanges + a join stage) that a
    # fanout-only plan would need.  At fact scale that join-back is a
    # second full-table shuffle; the seed union is free.
    seeds = ev.select(
        "event_id",
        "user_id",
        F.lit(None).cast("bigint").alias("nb_event_id"),
        F.lit(None).cast("double").alias("nb_value"),
        F.lit(None).cast("double").alias("dist"),
        F.lit(0).alias("is_ally"),
    )
    pairs = pairs.unionByName(seeds)
    micro = lambda c: F.round(c * F.lit(1000000.0), 0).cast("bigint")  # noqa: E731
    # Single aggregation pass over the pair fanout: argmin-with-carry
    # as a PACKED-LONG min — (dist_micros << 32) | nb_event_id — so the
    # nearest-neighbor selection stays inside whole-stage codegen with
    # map-side partial agg (min(struct) would fall back to an
    # interpreted object aggregate: measured 9.6 s vs 2.5 s on the same
    # fanout; a row_number window would re-shuffle the whole fanout).
    # Bounds: dist_micros < 2^31 and event_id < 2^32; wider domains
    # re-pack into two longs or fall back to min(struct).
    # Rejected alternative: a single-shuffle groupBy(bucket)+collect
    # with per-member HOF aggregates (the q_embed_neardup shape) —
    # measured 9.9 s vs 2.4 s here, because array-lambda evaluation is
    # interpreted per element and this fanout has ~100k tiny groups;
    # HOF collection only wins when per-pair work is heavy enough to
    # amortize it (64-dim dots) or the row count is small.
    packed = micro(F.col("dist")) * F.lit(4294967296) + F.col("nb_event_id")
    # min_by carries the winning neighbor's VALUE through the same
    # aggregation (MaxMinBy is a declarative aggregate — stays in
    # whole-stage codegen, unlike min(struct)), so no join back to the
    # event table is needed to recover it; packed is unique per
    # neighbor within a group, so the argmin is tie-free, and rows
    # with a NULL ordering (the seeds) are ignored — pair-less events
    # surface NULL nearest_* exactly like the oracle's left join.
    pair_agg = pairs.groupBy("event_id").agg(
        F.max("user_id").alias("user_id"),
        F.count("nb_event_id").alias("n_pairs"),
        F.sum("is_ally").alias("n_ally"),
        (
            F.sum(F.when(F.col("is_ally") == 1, micro(F.col("dist"))).otherwise(F.lit(0)))
            / F.nullif(F.sum("is_ally"), F.lit(0))
            / 1000000.0
        ).alias("mean_dist_ally"),
        F.min("dist").alias("min_dist"),
        F.max("dist").alias("max_dist"),
        F.min(packed).alias("_np"),
        F.min_by("nb_value", packed).alias("nearest_value"),
    )
    return pair_agg.select(
        "event_id",
        "user_id",
        "n_pairs",
        "n_ally",
        "mean_dist_ally",
        "min_dist",
        "max_dist",
        (F.col("_np") % F.lit(4294967296)).alias("nearest_event_id"),
        "nearest_value",
    )


# --------------------------------------------------------------------------
# M1 — leakage-safe grouped K-fold assignment (main_cuda.py:596-604,
# 728-737, 1465-1467 GroupKFold): deterministic hash-mod fold column.
# --------------------------------------------------------------------------
@q(
    "q_fold_assign",
    f"""
    SELECT fold, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
    FROM (SELECT user_id, {knuth_fold_sql('user_id', 5)} AS fold FROM events)
    GROUP BY fold
    """,
)
def q_fold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.select("user_id", knuth_fold_expr(F.col("user_id"), 5).alias("fold"))
        .groupBy("fold")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# --------------------------------------------------------------------------
# M9 sequence prep — last-8-frame input windows per trajectory
# (nn-mps.py:616-623 tail(8) + 593-660 ragged matrices): W11 last-N +
# J8 ordered collect, integer-scaled.
# --------------------------------------------------------------------------
@q(
    "q_seq_prep",
    f"""
    SELECT user_id,
           array_to_string(list(CAST(round(value * 100, 0) AS BIGINT)
                                ORDER BY ts_us, event_id), ',') AS seq_c,
           COUNT(*) AS n_frames
    FROM (
        SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        FROM events)
    WHERE rn <= 8
    GROUP BY user_id
    """,
)
def q_seq_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    wd = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    last8 = ev.withColumn("rn", F.row_number().over(wd)).filter(F.col("rn") <= 8)
    # string-encoded sequence: see q_collect_traj for why the array
    # column is emitted as text for the differential check.
    return last8.groupBy("user_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(ts, event_id, value))), "
            "x -> cast(round(x.value * 100, 0) as bigint)), ',')"
        ).alias("seq_c"),
        F.count(F.lit(1)).alias("n_frames"),
    )


# --------------------------------------------------------------------------
# General as-of join (operators/asof.py) — merge_asof generalization
# of the reference's degenerate last-frame pairing (J7).  For every
# purchase event: the most recent click event at-or-before it, per
# user.  Oracle: DuckDB's native ASOF LEFT JOIN, with the right side
# deduped to one row per (user, ts) so both engines are well-defined
# under ties.  Spark plan: union + ordered window fill — ONE shuffle
# on user_id, no range-join explosion.
# --------------------------------------------------------------------------
@q(
    "q_asof_join",
    """
    WITH r0 AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts)
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click'
    ), r AS (
        SELECT user_id, ts_us, event_id, value FROM r0 WHERE rn = 1
    ), l AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT l.user_id, l.event_id, l.value AS target_value,
           r.event_id AS click_event_id, r.value AS click_value,
           r.ts_us AS click_ts_us
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value", "event_type")
    left = ev.filter(F.col("event_type") == "purchase").drop("event_type")
    right = ev.filter(F.col("event_type") == "click").drop("event_type")
    j = asof_join(
        left,
        right,
        on="ts",
        by=["user_id"],
        right_cols=["event_id", "value"],
        tiebreak="event_id",
        dedup_right=True,
    )
    return j.select(
        "user_id",
        "event_id",
        F.col("value").alias("target_value"),
        F.col("event_id_asof").alias("click_event_id"),
        F.col("value_asof").alias("click_value"),
        F.col("ts_asof").alias("click_ts_us"),
    )


# --------------------------------------------------------------------------
# Tolerance-bounded as-of join (pandas merge_asof(tolerance=...)):
# same single-shuffle union+fill plan as q_asof_join, but a match
# older than 2 h is nulled out — the staleness bound every
# feature-store lookup needs.  Oracle: DuckDB ASOF JOIN with a CASE
# that voids stale payloads; the match itself is unchanged, so the
# deduped right side keeps both engines well-defined.
# --------------------------------------------------------------------------
ASOF_TOL_US = 2 * 3600 * 1_000_000


@q(
    "q_asof_tolerance",
    f"""
    WITH r0 AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts)
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click'
    ), r AS (
        SELECT user_id, ts_us, event_id, value FROM r0 WHERE rn = 1
    ), l AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
        FROM events WHERE event_type = 'purchase'
    ), m AS (
        SELECT l.user_id, l.event_id, l.value AS target_value, l.ts_us,
               r.event_id AS click_event_id, r.value AS click_value,
               r.ts_us AS click_ts_us
        FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
    )
    SELECT user_id, event_id, target_value,
           CASE WHEN ts_us - click_ts_us > {ASOF_TOL_US} THEN NULL ELSE click_event_id END AS click_event_id,
           CASE WHEN ts_us - click_ts_us > {ASOF_TOL_US} THEN NULL ELSE click_value END AS click_value,
           CASE WHEN ts_us - click_ts_us > {ASOF_TOL_US} THEN NULL ELSE click_ts_us END AS click_ts_us
    FROM m
    """,
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value", "event_type")
    left = ev.filter(F.col("event_type") == "purchase").drop("event_type")
    right = ev.filter(F.col("event_type") == "click").drop("event_type")
    j = asof_join(
        left,
        right,
        on="ts",
        by=["user_id"],
        right_cols=["event_id", "value"],
        tiebreak="event_id",
        dedup_right=True,
        tolerance_us=ASOF_TOL_US,
    )
    return j.select(
        "user_id",
        "event_id",
        F.col("value").alias("target_value"),
        F.col("event_id_asof").alias("click_event_id"),
        F.col("value_asof").alias("click_value"),
        F.col("ts_asof").alias("click_ts_us"),
    )


# --------------------------------------------------------------------------
# q_pairwise's Arrow-kernel physical alternative (SURVEY §2.9 U3),
# judged against the IDENTICAL oracle: the |group|² fanout stays
# inside a numpy matrix per bucket instead of materializing as join
# rows, with one mapInArrow kernel call per bucket-sorted partition
# (not one per bucket) — the honest port of the reference's per-frame
# kernel (nn-mps.py:321-426).  Bitwise-equal to the relational plan
# for every Arrow batch size (tests/test_pairwise_kernel.py).
# --------------------------------------------------------------------------
@q("q_pairwise_kernel", ORACLES["q_pairwise"])
def q_pairwise_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pairwise import pairwise_features_grouped

    return pairwise_features_grouped(_events(spark, sf_dir))


# --------------------------------------------------------------------------
# Range join WITHOUT an equi key — the bucket-decomposition pattern
# (brief: "an operator Spark lacks (… range join) … as a composition
# of existing DataFrame ops").  Windows = per event type, the hour
# following its first occurrence; every event joins every window
# containing its timestamp.  A naive BETWEEN join has no equi key and
# degenerates to a nested loop (forbidden by tests/test_plans.py);
# decomposing each window into the hour buckets it covers turns it
# into a plain hash join on the bucket — each event's bucket is
# unique, so no dedup pass is needed.  At 100 TB the windows side is
# dimension-sized (broadcast hint) and the fact side never shuffles:
# bucket derivation is scan-side arithmetic.
# --------------------------------------------------------------------------
@q(
    "q_range_join",
    f"""
    WITH w AS (
        SELECT event_type AS wtype,
               MIN(epoch_us(ts)) AS w_start,
               MIN(epoch_us(ts)) + {HOUR_US} AS w_end
        FROM events GROUP BY event_type
    )
    SELECT w.wtype,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users,
           SUM(CAST(round(e.value * 100, 0) AS BIGINT)) / 100.0 AS value_sum
    FROM events e JOIN w
      ON epoch_us(e.ts) >= w.w_start AND epoch_us(e.ts) <= w.w_end
    GROUP BY w.wtype
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = ev.groupBy(F.col("event_type").alias("wtype")).agg(
        F.min("ts").alias("w_start"),
        (F.min("ts") + F.lit(HOUR_US)).alias("w_end"),
    )
    # explode each window into the hour buckets it covers (a 1-hour
    # window spans at most 2 buckets); the range predicate then only
    # refines within the matched bucket.
    wb = w.select(
        "wtype",
        "w_start",
        "w_end",
        F.explode(
            F.sequence(
                F.expr(f"w_start div {HOUR_US}"), F.expr(f"w_end div {HOUR_US}")
            )
        ).alias("bucket"),
    )
    eb = ev.select(
        "user_id", "ts", "value", F.expr(f"ts div {HOUR_US}").alias("bucket")
    )
    j = eb.join(F.broadcast(wb), "bucket").filter(
        (F.col("ts") >= F.col("w_start")) & (F.col("ts") <= F.col("w_end"))
    )
    return j.groupBy("wtype").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        (F.sum(F.round(F.col("value") * 100, 0).cast("bigint")) / 100.0).alias(
            "value_sum"
        ),
    )


# --------------------------------------------------------------------------
# Composed ensemble-feature pipeline (main_cuda.py:237-294
# add_ensemble_features): per-side formation stats broadcast to rows
# (A5), cyclical time encoding (F10), arithmetic feature crosses and
# normalized deviation (F9) — the §7 step-6 composition proof for the
# block that q_team_stats / q_softmax_group cover piecewise.  ONE
# window shuffle on (user_id, event_type) carries all four stat
# columns; every other feature is row-local arithmetic fused into the
# same whole-stage-codegen stage.  Mean exact via integer cents; std
# and the libm trig rounded to 6 like the rest of the suite; the
# deviation z-score divides by the ROUNDED std so both engines agree
# bitwise.
# --------------------------------------------------------------------------
@q(
    "q_ensemble_features",
    """
    SELECT event_id, user_id, event_type,
           SUM(CAST(round(value * 100, 0) AS BIGINT)) OVER w / COUNT(*) OVER w / 100.0 AS grp_mean,
           round(stddev_samp(value) OVER w, 6) AS grp_std,
           MIN(value) OVER w AS grp_min,
           MAX(value) OVER w AS grp_max,
           round(sin(2 * pi() * ((epoch_us(ts) // 3600000000) % 24) / 24.0), 6) + 0.0 AS hour_sin,
           round(cos(2 * pi() * ((epoch_us(ts) // 3600000000) % 24) / 24.0), 6) + 0.0 AS hour_cos,
           value * (SUM(CAST(round(value * 100, 0) AS BIGINT)) OVER w / COUNT(*) OVER w / 100.0) AS value_x_mean,
           round((value - SUM(CAST(round(value * 100, 0) AS BIGINT)) OVER w / COUNT(*) OVER w / 100.0)
                 / round(stddev_samp(value) OVER w, 6), 6) + 0.0 AS value_dev
    FROM events
    WINDOW w AS (PARTITION BY user_id, event_type)
    """,
)
def q_ensemble_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    wp = W.partitionBy("user_id", "event_type")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    grp_mean = F.sum(cents).over(wp) / F.count(F.lit(1)).over(wp) / 100.0
    grp_std = F.round(F.stddev_samp("value").over(wp), 6)
    hour = (F.expr(f"ts div {HOUR_US}") % 24).cast("double")
    two_pi = 2 * 3.141592653589793
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        grp_mean.alias("grp_mean"),
        grp_std.alias("grp_std"),
        F.min("value").over(wp).alias("grp_min"),
        F.max("value").over(wp).alias("grp_max"),
        # `+ 0.0` collapses IEEE -0.0 to +0.0: round() preserves the
        # sign of a tiny negative input, and the two engines disagree
        # on which side of zero cos/sin land for exact quarter-turns —
        # identical values, but a repr-style value hash sees -0.0.
        (F.round(F.sin(F.lit(two_pi) * hour / 24.0), 6) + 0.0).alias("hour_sin"),
        (F.round(F.cos(F.lit(two_pi) * hour / 24.0), 6) + 0.0).alias("hour_cos"),
        (F.col("value") * grp_mean).alias("value_x_mean"),
        (F.round((F.col("value") - grp_mean) / grp_std, 6) + 0.0).alias("value_dev"),
    )


# --------------------------------------------------------------------------
# Cogrouped pandas kernel (U-family extension): the two-sided
# grouped-map — ``cogroup(...).applyInPandas`` pairs each user's
# purchases with their clicks and runs pandas ``merge_asof`` per
# group.  Physical twin of q_asof_join (same oracle): both sides
# shuffle once on user_id into co-located groups, then the kernel is
# per-group python.  Like operators/pairwise.py vs q_pairwise, this
# exists to pin the cogroup plumbing — when the per-group logic IS
# expressible relationally, the union+window form (operators/asof.py)
# stays JVM-side and wins; cogroup is for kernels that are not.
# --------------------------------------------------------------------------
@q(
    "q_cogroup_asof",
    """
    WITH r0 AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts)
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click'
    ), r AS (
        SELECT user_id, ts_us, event_id, value FROM r0 WHERE rn = 1
    ), l AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT l.user_id, l.event_id, l.value AS target_value,
           r.event_id AS click_event_id, r.value AS click_value,
           r.ts_us AS click_ts_us
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
    """,
)
def q_cogroup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogroup key = ``pmod(user_id, COGROUP_BUCKETS)``, not user_id:
    per-group python invocation cost dominates tiny groups (~10k users
    at sf0.1 cost ~9 s of kernel startup; 64 buckets bring the same
    work to ~invocation parity with the relational twin).  Inside the
    kernel ``merge_asof(by='user_id')`` restores exact per-user
    matching, so the oracle is unchanged.  At cluster scale, bucket
    count is the parallelism knob: set it to a small multiple of the
    executor-core count; per-bucket data stays ~n/buckets."""
    ev = _events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "value", "event_type"
    )
    left = ev.filter(F.col("event_type") == "purchase").drop("event_type")
    right = ev.filter(F.col("event_type") == "click").drop("event_type")
    bucketed = lambda df: df.withColumn(  # noqa: E731
        "bkt", F.pmod(F.col("user_id"), F.lit(COGROUP_BUCKETS))
    )

    def kernel(l, r):
        import pandas as pd

        # Under a count-only plan Catalyst prunes the cogroup children
        # down to the grouping attributes (no output column is read,
        # so no input column is owed): the kernel must stay callable
        # on pruned inputs.  Output cardinality is len(l) either way —
        # merge_asof is a left join — so emit null-valued rows of the
        # right SHAPE and let the unread values be unread.
        needed = {"user_id", "ts", "event_id", "value"}
        if not needed <= set(l.columns):
            n = len(l)
            return pd.DataFrame(
                {
                    "user_id": pd.Series([None] * n, dtype="Int64"),
                    "event_id": pd.Series([None] * n, dtype="Int64"),
                    "target_value": pd.Series([None] * n, dtype="Float64"),
                    "click_event_id": pd.Series([None] * n, dtype="Int64"),
                    "click_value": pd.Series([None] * n, dtype="Float64"),
                    "click_ts_us": pd.Series([None] * n, dtype="Int64"),
                }
            )
        r_usable = len(r) > 0 and needed <= set(r.columns)

        if len(l) == 0:
            m = l.assign(click_event_id=None, click_value=None, click_ts_us=None)
        else:
            l = l.sort_values(["ts", "user_id", "event_id"], kind="mergesort")
            if r_usable:
                # last event_id per (user, ts): merge_asof needs a
                # unique right key per by-group, and the oracle dedups
                # the same way (rn=1 by event_id DESC)
                r = (
                    r.sort_values(["user_id", "ts", "event_id"])
                    .groupby(["user_id", "ts"], as_index=False)
                    .last()
                )
                r2 = pd.DataFrame(
                    {
                        "user_id": r["user_id"],
                        "ts": r["ts"],
                        "click_event_id": r["event_id"],
                        "click_value": r["value"],
                        "click_ts_us": r["ts"],
                    }
                ).sort_values("ts", kind="mergesort")
                m = pd.merge_asof(
                    l, r2, on="ts", by="user_id", direction="backward"
                )
            else:
                m = l.assign(click_event_id=None, click_value=None, click_ts_us=None)
        return pd.DataFrame(
            {
                "user_id": m["user_id"].astype("int64"),
                "event_id": m["event_id"].astype("int64"),
                "target_value": m["value"].astype("float64"),
                "click_event_id": m["click_event_id"].astype("Int64"),
                "click_value": m["click_value"].astype("Float64"),
                "click_ts_us": m["click_ts_us"].astype("Int64"),
            }
        )

    schema = (
        "user_id bigint, event_id bigint, target_value double, "
        "click_event_id bigint, click_value double, click_ts_us bigint"
    )
    return (
        bucketed(left).groupBy("bkt")
        .cogroup(bucketed(right).groupBy("bkt"))
        .applyInPandas(kernel, schema)
    )


# --------------------------------------------------------------------------
# Forward as-of join (merge_asof direction='forward'): each purchase
# pairs with the EARLIEST click at-or-after it — the attribution
# shape for "next action after conversion".  Same union+window
# operator as the backward twin (operators/asof.py), mirrored frame:
# first(ignorenulls) over current-row-to-unbounded-following, left
# sorted before right at equal ts for exact-match inclusion.  One
# shuffle on the by key, no range join.
# --------------------------------------------------------------------------
@q(
    "q_asof_forward",
    """
    WITH r0 AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts)
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click'
    ), r AS (
        SELECT user_id, ts_us, event_id, value FROM r0 WHERE rn = 1
    ), l AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT l.user_id, l.event_id, l.value AS target_value,
           r.event_id AS click_event_id, r.value AS click_value,
           r.ts_us AS click_ts_us
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_us <= r.ts_us
    """,
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value", "event_type")
    left = ev.filter(F.col("event_type") == "purchase").drop("event_type")
    right = ev.filter(F.col("event_type") == "click").drop("event_type")
    j = asof_join(
        left,
        right,
        on="ts",
        by=["user_id"],
        right_cols=["event_id", "value"],
        tiebreak="event_id",
        dedup_right=True,
        direction="forward",
    )
    return j.select(
        "user_id",
        "event_id",
        F.col("value").alias("target_value"),
        F.col("event_id_asof").alias("click_event_id"),
        F.col("value_asof").alias("click_value"),
        F.col("ts_asof").alias("click_ts_us"),
    )


# --------------------------------------------------------------------------
# Top-k trajectory similarity search — which users' daily activity
# profiles most resemble a query user's (REPOSE, ICDE 2021, frames
# the distributed shape: compact per-trajectory signatures first,
# exact distance only against the pruned candidate set; here the
# signature IS the distance domain — a 24-dim hourly mean-value
# profile — so one pass suffices).  The query profile is a 24-row
# broadcast; each user's squared L2 distance decomposes as
# Σ_h∈obs[(p_uh−p_0h)² − p_0h²] + Σ_h p_0h², so users missing hours
# need NO grid completion — the constant rides a 1-row broadcast.
# Per-term products are frozen to integer micros before the per-user
# sum; top-10 compiles to TakeOrderedAndProject.
# --------------------------------------------------------------------------
@q(
    "q_traj_similarity",
    """
    WITH prof AS (
        SELECT user_id, (epoch_us(ts) // 3600000000) % 24 AS h,
               1.0 * SUM(CAST(round(value * 100, 0) AS BIGINT)) / COUNT(*) / 100.0
                 AS p
        FROM events GROUP BY 1, 2
    ), qprof AS (
        SELECT h, p AS p0 FROM prof WHERE user_id = 0
    ), qconst AS (
        SELECT CAST(SUM(CAST(round(p0 * p0 * 1000000, 0) AS BIGINT)) AS BIGINT)
                 AS c_micro
        FROM qprof
    ), partial AS (
        SELECT prof.user_id,
               CAST(SUM(CAST(round(((prof.p - COALESCE(q.p0, 0.0))
                                    * (prof.p - COALESCE(q.p0, 0.0))
                                    - COALESCE(q.p0, 0.0) * COALESCE(q.p0, 0.0))
                                   * 1000000, 0) AS BIGINT)) AS BIGINT) AS s_micro
        FROM prof LEFT JOIN qprof q ON prof.h = q.h
        WHERE prof.user_id <> 0
        GROUP BY prof.user_id
    )
    SELECT user_id,
           round((s_micro + (SELECT c_micro FROM qconst)) / 1000000.0, 6) AS dist2
    FROM partial
    ORDER BY dist2 ASC, user_id ASC
    LIMIT 10
    """,
)
def q_traj_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    vc = F.round(F.col("value") * 100, 0).cast("bigint")
    prof = (
        ev.groupBy(
            "user_id", (F.expr("ts div 3600000000") % 24).alias("h")
        )
        .agg(
            (F.lit(1.0) * F.sum(vc) / F.count(F.lit(1)) / 100.0).alias("p")
        )
    )
    qprof = prof.filter(F.col("user_id") == 0).select(
        "h", F.col("p").alias("p0")
    )
    c_micro = qprof.agg(
        F.sum(F.round(F.col("p0") * F.col("p0") * 1000000, 0).cast("bigint"))
        .cast("bigint")
        .alias("c_micro")
    )
    p0 = F.coalesce(F.col("p0"), F.lit(0.0))
    term_u = F.round(
        ((F.col("p") - p0) * (F.col("p") - p0) - p0 * p0) * 1000000, 0
    ).cast("bigint")
    partial = (
        prof.filter(F.col("user_id") != 0)
        .join(F.broadcast(qprof), "h", "left")
        .groupBy("user_id")
        .agg(F.sum(term_u).cast("bigint").alias("s_micro"))
    )
    return (
        partial.crossJoin(F.broadcast(c_micro))
        .select(
            "user_id",
            F.round(
                (F.col("s_micro") + F.col("c_micro")) / 1000000.0, 6
            ).alias("dist2"),
        )
        .orderBy(F.col("dist2").asc(), F.col("user_id").asc())
        .limit(10)
    )


HOLT_ALPHA = 0.5
HOLT_BETA = 0.25
HOLT_BUCKETS = 64  # kernel-invocation coarsening, the q_cogroup_asof lesson


# --------------------------------------------------------------------------
# Holt double-exponential smoothing (level + trend) per user — the
# coupled recurrence l_t = αx_t + (1−α)(l_{t−1}+b_{t−1}),
# b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1} that single-state EWM (q_ewm)
# cannot express: TWO interleaved states per key, the canonical
# "genuinely stateful" operator.  Physical form: Arrow-batched
# applyInPandas with 64-user buckets (per-group invocation cost —
# the q_cogroup_asof lesson), a float64 left-to-right scan per user.
# The oracle replays the SAME recurrence with a recursive CTE
# stepping rank-by-rank across all users at once; both engines run
# the identical IEEE op sequence, so level/trend round-6 match
# bitwise.  Scale: one user-keyed exchange; state is O(1) per key —
# the same recurrence runs unmodified under
# applyInPandasWithState on a stream.
# --------------------------------------------------------------------------
@q(
    "q_holt",
    f"""
    WITH RECURSIVE rows_r AS (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id) AS rn
        FROM events
    ), holt AS (
        SELECT user_id, event_id, value, rn,
               value AS lvl, CAST(0.0 AS DOUBLE) AS trend
        FROM rows_r WHERE rn = 1
        UNION ALL
        SELECT r.user_id, r.event_id, r.value, r.rn,
               {HOLT_ALPHA} * r.value
                 + (1.0 - {HOLT_ALPHA}) * (h.lvl + h.trend) AS lvl,
               {HOLT_BETA} * (({HOLT_ALPHA} * r.value
                               + (1.0 - {HOLT_ALPHA}) * (h.lvl + h.trend))
                              - h.lvl)
                 + (1.0 - {HOLT_BETA}) * h.trend AS trend
        FROM holt h JOIN rows_r r
          ON r.user_id = h.user_id AND r.rn = h.rn + 1
    )
    SELECT user_id, event_id, round(lvl, 6) AS level,
           round(trend, 6) AS trend
    FROM holt
    """,
)
def q_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value")

    def kernel(pdf):
        import math

        import pandas as pd

        def r6(x):
            # half-AWAY-from-zero at 6 decimals — matching DuckDB's
            # round() (and Spark's F.round); python round() is
            # half-even and diverges on exact .5 boundaries.
            return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6

        needed = {"user_id", "ts", "event_id", "value"}
        if not needed <= set(pdf.columns):  # count-only pruned plan
            n = len(pdf)
            return pd.DataFrame(
                {
                    "user_id": pd.Series([None] * n, dtype="Int64"),
                    "event_id": pd.Series([None] * n, dtype="Int64"),
                    "level": pd.Series([None] * n, dtype="Float64"),
                    "trend": pd.Series([None] * n, dtype="Float64"),
                }
            )
        pdf = pdf.sort_values(["user_id", "ts", "event_id"], kind="mergesort")
        out_u, out_e, out_l, out_b = [], [], [], []
        for _, g in pdf.groupby("user_id", sort=False):
            lvl = trend = None
            for uid, eid, x in zip(g["user_id"], g["event_id"], g["value"]):
                x = float(x)
                if lvl is None:
                    lvl, trend = x, 0.0
                else:
                    prev = lvl
                    lvl = HOLT_ALPHA * x + (1.0 - HOLT_ALPHA) * (lvl + trend)
                    trend = (
                        HOLT_BETA * (lvl - prev) + (1.0 - HOLT_BETA) * trend
                    )
                out_u.append(uid)
                out_e.append(eid)
                out_l.append(r6(lvl))
                out_b.append(r6(trend))
        return pd.DataFrame(
            {"user_id": out_u, "event_id": out_e, "level": out_l, "trend": out_b}
        )

    return (
        ev.withColumn("bkt", F.pmod(F.col("user_id"), F.lit(HOLT_BUCKETS)))
        .groupBy("bkt")
        .applyInPandas(
            kernel, "user_id bigint, event_id bigint, level double, trend double"
        )
    )


# --------------------------------------------------------------------------
# Nearest as-of join — completes the as-of family (backward, forward,
# tolerance, cogroup): match each purchase to its temporally CLOSEST
# click, whichever side it falls on (pandas merge_asof
# direction='nearest'; ties prefer the backward match, its
# convention).  Composed from the engine's own backward+forward
# as-of operator (operators/asof.py) — two union-window passes —
# then one deterministic CASE pick; the oracle composes DuckDB's two
# ASOF JOIN directions identically.  Scale: same two sort-keyed
# exchanges as q_asof_forward, no new shuffle shapes.
# --------------------------------------------------------------------------
@q(
    "q_asof_nearest",
    """
    WITH r0 AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts)
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click'
    ), r AS (
        SELECT user_id, ts_us, event_id, value FROM r0 WHERE rn = 1
    ), l AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
        FROM events WHERE event_type = 'purchase'
    ), b AS (
        SELECT l.user_id, l.ts_us, l.event_id, l.value,
               r.event_id AS b_eid, r.value AS b_val, r.ts_us AS b_ts
        FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
    ), f AS (
        SELECT l.user_id, l.event_id,
               r.event_id AS f_eid, r.value AS f_val, r.ts_us AS f_ts
        FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_us <= r.ts_us
    )
    SELECT b.user_id, b.event_id, b.value AS target_value,
           CASE WHEN b.b_ts IS NOT NULL AND (f.f_ts IS NULL
                     OR b.ts_us - b.b_ts <= f.f_ts - b.ts_us)
                THEN b.b_eid ELSE f.f_eid END AS click_event_id,
           CASE WHEN b.b_ts IS NOT NULL AND (f.f_ts IS NULL
                     OR b.ts_us - b.b_ts <= f.f_ts - b.ts_us)
                THEN b.b_val ELSE f.f_val END AS click_value,
           CASE WHEN b.b_ts IS NOT NULL AND (f.f_ts IS NULL
                     OR b.ts_us - b.b_ts <= f.f_ts - b.ts_us)
                THEN b.ts_us - b.b_ts ELSE f.f_ts - b.ts_us END AS gap_us,
           CASE WHEN b.b_ts IS NULL AND f.f_ts IS NULL THEN NULL
                WHEN b.b_ts IS NOT NULL AND (f.f_ts IS NULL
                     OR b.ts_us - b.b_ts <= f.f_ts - b.ts_us)
                THEN 'backward' ELSE 'forward' END AS side
    FROM b JOIN f ON f.user_id = b.user_id AND f.event_id = b.event_id
    """,
)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = _events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "value", "event_type"
    )
    left = ev.filter(F.col("event_type") == "purchase").drop("event_type")
    right = ev.filter(F.col("event_type") == "click").drop("event_type")
    j = asof_join(
        left,
        right,
        on="ts",
        by=["user_id"],
        right_cols=["event_id", "value"],
        tiebreak="event_id",
        dedup_right=True,
        direction="nearest",
    )
    matched = F.col("ts_asof").isNotNull()
    return j.select(
        "user_id",
        "event_id",
        F.col("value").alias("target_value"),
        F.col("event_id_asof").alias("click_event_id"),
        F.col("value_asof").alias("click_value"),
        F.abs(F.col("ts_asof") - F.col("ts")).alias("gap_us"),
        F.when(~matched, F.lit(None))
        .when(F.col("ts_asof") <= F.col("ts"), F.lit("backward"))
        .otherwise(F.lit("forward"))
        .alias("side"),
    )

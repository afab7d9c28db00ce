"""Window / sequence operator suite over `events` (SURVEY.md §2.5).

The reference's core: per-trajectory lags, rolling stats, derivatives,
EWMs, ranks, cumulative sums (main_cuda.py:208-233, main_mps.py:185-240,
nn-mps.py:195-238).  `events` is the tracking-table analog (FIXTURES.md
§5): user_id ↔ trajectory key, ts ↔ frame time, value ↔ measure.

`ts` is int64 epoch-micros (see sources.io.table) — exact integer time.
Every window orders by (ts, event_id): the unique tiebreaker makes all
rank/lag/frame results deterministic (SURVEY §7 "what's hard" — pandas
rank(method='first') nondeterminism fixed by construction).

Scale: all windows partition by user_id — one shuffle keyed on the
trajectory key, then every per-trajectory operator (lag, rolling,
diff, EWM, cumsum, top-K) runs inside the same sorted partition with
no further exchange.  That partitioning reuse is the whole design: at
100 TB you pay one sort-shuffle for the entire sequence-feature
pipeline.  Skew = one hot user; bounded by trajectory length in the
reference's domain (≤ a few hundred frames), so no salting needed.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.scalar import cents as _cents
from ..sources.io import table
from .registry import registrar

QUERIES: dict = {}
ORACLES: dict = {}
q = registrar(QUERIES, ORACLES)

# DuckDB twins of the canonical trajectory window.
DW = "PARTITION BY user_id ORDER BY epoch_us(ts), event_id"
DW_ROWS = f"{DW} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
DW_FULL = f"{DW} ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"


def _w():
    return W.partitionBy("user_id").orderBy("ts", "event_id")


# --------------------------------------------------------------------------
# W2 — lag k (main_cuda.py:212-215: shift(lag) for lag 1..5 × 6 cols;
# main_mps.py:185-188 extends to 1..8).  Representative k ∈ {1,2,3}.
# --------------------------------------------------------------------------
@q(
    "q_lag",
    f"""
    SELECT event_id, user_id, value,
           LAG(value, 1) OVER ({DW}) AS value_lag1,
           LAG(value, 2) OVER ({DW}) AS value_lag2,
           LAG(value, 3) OVER ({DW}) AS value_lag3
    FROM events
    """,
)
def q_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = _w()
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value", 1).over(w).alias("value_lag1"),
        F.lag("value", 2).over(w).alias("value_lag2"),
        F.lag("value", 3).over(w).alias("value_lag3"),
    )


# --------------------------------------------------------------------------
# lead (not used by the reference; trivial coverage per SURVEY §2.5).
# --------------------------------------------------------------------------
@q(
    "q_lead",
    f"""
    SELECT event_id, user_id,
           LEAD(value, 1) OVER ({DW}) AS value_lead1
    FROM events
    """,
)
def q_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        F.lead("value", 1).over(_w()).alias("value_lead1"),
    )


# --------------------------------------------------------------------------
# W3/W4/W13 — rolling mean/std/max/min over bounded row frames
# (main_cuda.py:217-227: rolling(win, min_periods=1); main_mps.py:190-209
# adds max/min and wins {3,5,7,10}).  min_periods=1 ⇒ the frame simply
# shrinks at partition start — Spark/DuckDB row frames do the same.
# stddev of a 1-row frame is NULL in both engines (pandas yields NaN;
# SURVEY §4 normalizes NaN→NULL).  Mean/std rounded to 6: windowed
# float aggregation order is engine-internal (segment trees).
# --------------------------------------------------------------------------
@q(
    "q_rolling",
    f"""
    SELECT event_id, user_id,
           round(avg(value) OVER ({DW} ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS roll3_mean,
           round(stddev_samp(value) OVER ({DW} ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS roll3_std,
           max(value) OVER ({DW} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll5_max,
           min(value) OVER ({DW} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll5_min
    FROM events
    """,
)
def q_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w3 = _w().rowsBetween(-2, 0)
    w5 = _w().rowsBetween(-4, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w3), 6).alias("roll3_mean"),
        F.round(F.stddev_samp("value").over(w3), 6).alias("roll3_std"),
        F.max("value").over(w5).alias("roll5_max"),
        F.min("value").over(w5).alias("roll5_min"),
    )


# --------------------------------------------------------------------------
# W5/W6 — 1st and 2nd discrete derivative (main_cuda.py:229-231 diff;
# main_mps.py:215,222-223 jerk = diff of diff).
# --------------------------------------------------------------------------
@q(
    "q_diff",
    f"""
    SELECT event_id, user_id,
           value - LAG(value, 1) OVER ({DW}) AS value_delta
    FROM events
    """,
)
def q_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value", 1).over(_w())).alias("value_delta"),
    )


@q(
    "q_diff2",
    f"""
    SELECT event_id, user_id,
           d1 - LAG(d1, 1) OVER ({DW}) AS value_delta2
    FROM (
        SELECT event_id, user_id, ts,
               value - LAG(value, 1) OVER ({DW}) AS d1
        FROM events
    )
    """,
)
def q_diff2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = _w()
    d1 = (F.col("value") - F.lag("value", 1).over(w)).alias("d1")
    inner = ev.select("event_id", "user_id", "ts", d1)
    return inner.select(
        "event_id",
        "user_id",
        (F.col("d1") - F.lag("d1", 1).over(_w())).alias("value_delta2"),
    )


# --------------------------------------------------------------------------
# W12 — running cumulative sum (nn-mps.py:758: cumsum decoding of
# predicted deltas).  Integer-scaled: running int64 sums are exact and
# order-independent, so no rounding is needed.
# --------------------------------------------------------------------------
@q(
    "q_cumsum",
    f"""
    SELECT event_id, user_id,
           SUM(CAST(round(value * 100, 0) AS BIGINT)) OVER ({DW_ROWS}) / 100.0 AS value_cumsum
    FROM events
    """,
)
def q_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = _w().rowsBetween(W.unboundedPreceding, 0)
    return ev.select(
        "event_id",
        "user_id",
        (F.sum(_cents(F.col("value"))).over(w) / 100.0).alias("value_cumsum"),
    )


# --------------------------------------------------------------------------
# W9 — cumcount / frames_elapsed (nn-mps.py:235).
# --------------------------------------------------------------------------
@q(
    "q_cumcount",
    f"""
    SELECT event_id, user_id,
           ROW_NUMBER() OVER ({DW}) - 1 AS frames_elapsed
    FROM events
    """,
)
def q_cumcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        (F.row_number().over(_w()) - 1).alias("frames_elapsed"),
    )


# --------------------------------------------------------------------------
# W10 — normalize by group max (nn-mps.py:236-238:
# transform(x / (x.max()+1))).  Max is a selection (exact); the
# division is per-row IEEE — no rounding needed.
# --------------------------------------------------------------------------
@q(
    "q_norm_by_max",
    f"""
    SELECT event_id, user_id,
           value / (MAX(value) OVER (PARTITION BY user_id) + 1) AS value_norm
    FROM events
    """,
)
def q_norm_by_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        (
            F.col("value") / (F.max("value").over(W.partitionBy("user_id")) + 1)
        ).alias("value_norm"),
    )


# --------------------------------------------------------------------------
# W11 — bounded trailing window: last-8-rows-per-trajectory
# (nn-mps.py:616-623 group_df.tail(window_size)).  Spark ≥3.5 rewrites
# rank-then-filter into WindowGroupLimit — no full sort of each group.
# --------------------------------------------------------------------------
@q(
    "q_last_n",
    f"""
    SELECT event_id, user_id, value FROM (
        SELECT event_id, user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        FROM events)
    WHERE rn <= 8
    """,
)
def q_last_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wd = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") <= 8)
        .select("event_id", "user_id", "value")
    )


# --------------------------------------------------------------------------
# W8 — top-K per group by rank-then-filter (main_cuda.py:344-347:
# dist rank → rnk ≤ K).  Tie-broken by event_id (SURVEY §7).
# --------------------------------------------------------------------------
@q(
    "q_topk_per_group",
    f"""
    SELECT user_id, event_id, value, rnk FROM (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rnk
        FROM events)
    WHERE rnk <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wv = W.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        ev.withColumn("rnk", F.row_number().over(wv))
        .filter(F.col("rnk") <= 3)
        .select("user_id", "event_id", "value", "rnk")
    )


# --------------------------------------------------------------------------
# Ranking-function coverage (SURVEY §2.5 last row: "trivial to add").
# --------------------------------------------------------------------------
@q(
    "q_rank_fns",
    f"""
    SELECT event_id, user_id,
           ROW_NUMBER() OVER ({DW}) AS rn,
           RANK() OVER (PARTITION BY user_id ORDER BY event_type) AS rnk,
           DENSE_RANK() OVER (PARTITION BY user_id ORDER BY event_type) AS drnk,
           NTILE(4) OVER ({DW}) AS quartile,
           round(PERCENT_RANK() OVER ({DW}), 6) AS pct_rank
    FROM events
    """,
)
def q_rank_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = _w()
    wt = W.partitionBy("user_id").orderBy("event_type")
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("rn"),
        F.rank().over(wt).alias("rnk"),
        F.dense_rank().over(wt).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


# --------------------------------------------------------------------------
# A1 — last-row-per-group (main_cuda.py:306-310, 406-411, 1424-1428:
# sort + groupby.tail(1) — the reference's most-repeated idiom).
# --------------------------------------------------------------------------
@q(
    "q_last_per_group",
    f"""
    SELECT user_id, event_id AS last_event_id, value AS last_value, event_type AS last_type
    FROM (
        SELECT user_id, event_id, value, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        FROM events)
    WHERE rn = 1
    """,
)
def q_last_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wd = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
            F.col("event_type").alias("last_type"),
        )
    )


# --------------------------------------------------------------------------
# W7 — EWM, adjust=False (main_mps.py:233-240; nn-mps.py:301-309).
# The one operator with no Spark builtin (SURVEY §4, §7): y_0 = x_0,
# y_t = α·x_t + (1−α)·y_{t−1}.  Implemented as a strict left fold
# (`aggregate` HOF) over the time-ordered collected trajectory, then
# re-exploded.  The DuckDB oracle runs the *identical* recurrence via
# a recursive CTE, with identical double literals (0.3 / 0.7, not
# 1−0.3) — so results are bitwise equal, no rounding needed.
# Scale: one shuffle on user_id; trajectory arrays are bounded by
# sequence length (reference domain: ≤ a few hundred frames/player),
# so collect_list stays small; the recurrence is inherently sequential
# per key — this is the honest parallel shape for EWM.
# --------------------------------------------------------------------------
@q(
    "q_ewm",
    f"""
    WITH RECURSIVE base AS (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER ({DW}) AS rn
        FROM events
    ), ewm_rec AS (
        SELECT user_id, event_id, rn, value, value AS ewm03
        FROM base WHERE rn = 1
        UNION ALL
        SELECT b.user_id, b.event_id, b.rn, b.value,
               0.3 * b.value + 0.7 * e.ewm03
        FROM base b JOIN ewm_rec e ON b.user_id = e.user_id AND b.rn = e.rn + 1
    )
    SELECT user_id, event_id, value, ewm03 FROM ewm_rec
    """,
)
def q_ewm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    grouped = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("traj")
    )
    # Left fold producing the EWM array in trajectory order.
    ewm_arr = F.expr(
        """
        aggregate(
            traj,
            cast(array() as array<double>),
            (acc, x) -> case
                when size(acc) = 0 then array(cast(x.value as double))
                else array_append(acc, 0.3d * x.value + 0.7d * element_at(acc, -1))
            end
        )
        """
    ).alias("ewm_arr")
    arr = grouped.select(
        "user_id",
        F.expr("transform(traj, x -> x.event_id)").alias("ids"),
        F.expr("transform(traj, x -> x.value)").alias("vals"),
        ewm_arr,
    )
    z = arr.select(
        "user_id",
        F.explode(F.arrays_zip("ids", "vals", "ewm_arr")).alias("z"),
    )
    return z.select(
        "user_id",
        F.col("z.ids").alias("event_id"),
        F.col("z.vals").alias("value"),
        F.col("z.ewm_arr").alias("ewm03"),
    )


# --------------------------------------------------------------------------
# A4 — grouped transform: group total broadcast back to rows
# (main_cuda.py:351 transform('sum')).  Exact via integer scaling.
# --------------------------------------------------------------------------
@q(
    "q_transform_sum",
    f"""
    SELECT event_id, user_id, value,
           SUM(CAST(round(value * 100, 0) AS BIGINT)) OVER (PARTITION BY user_id) / 100.0 AS user_total
    FROM events
    """,
)
def q_transform_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        (
            F.sum(_cents(F.col("value"))).over(W.partitionBy("user_id")) / 100.0
        ).alias("user_total"),
    )


# --------------------------------------------------------------------------
# A5 — per-side formation stats broadcast to rows (main_cuda.py:253-257:
# groupby([game,play,side]).transform(mean/std/min/max)).  Partition =
# (user_id, event_type).  Mean exact via ints; std rounded.
# --------------------------------------------------------------------------
@q(
    "q_team_stats",
    f"""
    SELECT event_id, user_id, event_type,
           SUM(CAST(round(value * 100, 0) AS BIGINT)) OVER (PARTITION BY user_id, event_type)
             / COUNT(*) OVER (PARTITION BY user_id, event_type) / 100.0 AS grp_mean,
           round(stddev_samp(value) OVER (PARTITION BY user_id, event_type), 6) AS grp_std,
           MIN(value) OVER (PARTITION BY user_id, event_type) AS grp_min,
           MAX(value) OVER (PARTITION BY user_id, event_type) AS grp_max
    FROM events
    """,
)
def q_team_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wp = W.partitionBy("user_id", "event_type")
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        (
            F.sum(_cents(F.col("value"))).over(wp)
            / F.count(F.lit(1)).over(wp)
            / 100.0
        ).alias("grp_mean"),
        F.round(F.stddev_samp("value").over(wp), 6).alias("grp_std"),
        F.min("value").over(wp).alias("grp_min"),
        F.max("value").over(wp).alias("grp_max"),
    )


# --------------------------------------------------------------------------
# A6 — softmax weights within group (main_cuda.py:350-352:
# w = exp(-dist/τ), wn = w / sum(w), 0 if sum ≤ 0).  exp is libm ⇒
# round(…, 6) on both sides.
# --------------------------------------------------------------------------
@q(
    "q_softmax_group",
    f"""
    SELECT event_id, user_id,
           round(exp(-value / 50.0) / SUM(exp(-value / 50.0)) OVER (PARTITION BY user_id), 6) AS wn
    FROM events
    """,
)
def q_softmax_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w_raw = F.exp(-F.col("value") / 50.0)
    return ev.select(
        "event_id",
        "user_id",
        F.round(w_raw / F.sum(w_raw).over(W.partitionBy("user_id")), 6).alias("wn"),
    )


# --------------------------------------------------------------------------
# A3 — conditional (filtered) aggregation (main_cuda.py:362-363,
# 376-379: NaN-masked min/mean = FILTER-clause aggs).  Exact via
# integer scaling + conditional counts.
# --------------------------------------------------------------------------
@q(
    "q_cond_agg",
    """
    SELECT user_id,
           SUM(CASE WHEN event_type = 'click' THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END)
             / NULLIF(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END), 0) / 100.0 AS click_avg,
           MIN(CASE WHEN event_type = 'error' THEN value END) AS err_min,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS err_cnt,
           CAST(COUNT(*) - SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS non_err_cnt
    FROM events
    GROUP BY user_id
    """,
)
def q_cond_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    is_click = F.col("event_type") == "click"
    is_err = F.col("event_type") == "error"
    g = ev.groupBy("user_id").agg(
        F.sum(F.when(is_click, _cents(F.col("value"))).otherwise(F.lit(0))).alias("_cc"),
        F.sum(F.when(is_click, 1).otherwise(0)).alias("_cn"),
        F.min(F.when(is_err, F.col("value"))).alias("err_min"),
        F.sum(F.when(is_err, 1).otherwise(0)).alias("err_cnt"),
        F.count(F.lit(1)).alias("_n"),
    )
    return g.select(
        "user_id",
        (F.col("_cc") / F.nullif(F.col("_cn"), F.lit(0)) / 100.0).alias("click_avg"),
        "err_min",
        "err_cnt",
        (F.col("_n") - F.col("err_cnt")).alias("non_err_cnt"),
    )


# --------------------------------------------------------------------------
# A10 — group-mean imputation (nn-mps.py:575, 626-629: per-trajectory
# mean fills NaNs).  Mean from exact int sums over non-null rows.
# --------------------------------------------------------------------------
@q(
    "q_group_mean_impute",
    """
    SELECT event_id, user_id,
           COALESCE(v,
                    SUM(CASE WHEN v IS NOT NULL THEN CAST(round(v * 100, 0) AS BIGINT) END)
                      OVER (PARTITION BY user_id)
                    / COUNT(v) OVER (PARTITION BY user_id) / 100.0) AS value_imputed
    FROM (
        SELECT event_id, user_id,
               CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        FROM events)
    """,
)
def q_group_mean_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    v = F.when(F.col("event_type") == "error", F.lit(None).cast("double")).otherwise(
        F.col("value")
    )
    base = ev.select("event_id", "user_id", v.alias("v"))
    wp = W.partitionBy("user_id")
    grp_mean = (
        F.sum(F.when(F.col("v").isNotNull(), _cents(F.col("v")))).over(wp)
        / F.count("v").over(wp)
        / 100.0
    )
    return base.select(
        "event_id",
        "user_id",
        F.coalesce(F.col("v"), grp_mean).alias("value_imputed"),
    )


# --------------------------------------------------------------------------
# A12 — circular mean of angles (add.txt sin/cos-sum block):
# atan2(mean(sin θ), mean(cos θ)).  value degrees-ified; libm ⇒ round 6.
# --------------------------------------------------------------------------
@q(
    "q_circular_mean",
    """
    SELECT user_id,
           round(atan2(AVG(sin(radians(value))), AVG(cos(radians(value)))), 6) AS circ_mean,
           COUNT(*) AS n
    FROM events
    GROUP BY user_id
    """,
)
def q_circular_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.round(
            F.atan2(
                F.avg(F.sin(F.radians(F.col("value")))),
                F.avg(F.cos(F.radians(F.col("value")))),
            ),
            6,
        ).alias("circ_mean"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# A13 — argmin within group with carried attributes (nn-mps.py:416-426:
# nanargmin over masked dist; carry the neighbor's angle/speed).
# row_number with explicit tiebreak = deterministic arg_min on any
# engine (min_by/arg_min tie behavior is unspecified).
# --------------------------------------------------------------------------
@q(
    "q_argmin",
    """
    SELECT user_id, event_id AS argmin_event_id, value AS min_value, event_type AS argmin_type
    FROM (
        SELECT user_id, event_id, value, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value ASC, event_id ASC) AS rn
        FROM events)
    WHERE rn = 1
    """,
)
def q_argmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wv = W.partitionBy("user_id").orderBy(F.col("value").asc(), F.col("event_id").asc())
    return (
        ev.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("argmin_event_id"),
            F.col("value").alias("min_value"),
            F.col("event_type").alias("argmin_type"),
        )
    )


# --------------------------------------------------------------------------
# J8/O2 — per-group ordered trajectory collection (nn-mps.py:578-591:
# hand-rolled hash-join build of sorted target lists) →
# array_sort(collect_list(struct)).  Values integer-scaled so the
# array cells hash identically.
# --------------------------------------------------------------------------
@q(
    "q_collect_traj",
    f"""
    SELECT user_id,
           array_to_string(list(CAST(round(value * 100, 0) AS BIGINT)
                                ORDER BY epoch_us(ts), event_id), ',') AS traj_c,
           COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
)
def q_collect_traj(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The ordered-collect list is emitted as a delimited STRING: array
    # cells surface as python lists from Spark but numpy arrays from
    # DuckDB, and any compare/hash that stringifies them sees
    # different reprs for identical data.  Text is typing-ambiguity-
    # free on both engines; the collect/sort semantics are unchanged.
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(ts, event_id, value))), "
            "x -> cast(round(x.value * 100, 0) as bigint)), ',')"
        ).alias("traj_c"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --------------------------------------------------------------------------
# F11 bonus — JSON scalar extraction from the props column
# (SURVEY §2.7 F11: free coverage; the reference has no JSON).
# --------------------------------------------------------------------------
@q(
    "q_json",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def q_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# Batch sessionization — gap-based session assembly (the batch twin of
# streaming/stateful session windows; a core training-data-pipeline
# op for event logs).  lag-flag-cumsum: a boundary row starts a new
# session when its gap from the previous event exceeds 45 min; the
# running sum of boundary flags numbers the sessions; one groupBy
# rolls each session up.  Scale: the flag+cumsum share the one
# trajectory-key shuffle with every other §2.5 window; the session
# rollup re-uses the same partitioning (user_id is a prefix of the
# grouping key) so AQE plans it shuffle-free.
# --------------------------------------------------------------------------
SESSION_GAP_US = 45 * 60 * 1_000_000


@q(
    "q_sessionize",
    f"""
    WITH flagged AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
               CASE WHEN LAG(epoch_us(ts)) OVER ({DW}) IS NULL
                      OR epoch_us(ts) - LAG(epoch_us(ts)) OVER ({DW}) > {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS boundary
        FROM events
    ), numbered AS (
        SELECT user_id, ts_us, value,
               SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        FROM flagged
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           COUNT(*) AS n_events,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) AS session_end_us,
           MAX(ts_us) - MIN(ts_us) AS duration_us,
           SUM(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS value_sum
    FROM numbered
    GROUP BY user_id, session_idx
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = _w()
    prev_ts = F.lag("ts", 1).over(w)
    boundary = F.when(
        prev_ts.isNull() | (F.col("ts") - prev_ts > SESSION_GAP_US), F.lit(1)
    ).otherwise(F.lit(0))
    numbered = ev.select(
        "user_id",
        F.col("ts").alias("ts_us"),
        "value",
        F.sum(boundary)
        .over(_w().rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("session_idx"),
    )
    return numbered.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
        (F.sum(_cents(F.col("value"))) / 100.0).alias("value_sum"),
    )


# --------------------------------------------------------------------------
# W7 extension — the main_mps.py multi-alpha EWM bank
# (main_mps.py:233-240: ewm(alpha, adjust=False) for α∈{0.3,0.5,0.7}):
# ONE fold per trajectory carries all three accumulators, so the cost
# is one collect + one pass regardless of how many alphas the feature
# bank wants.  Same single-shuffle profile as q_ewm.
# --------------------------------------------------------------------------
@q(
    "q_ewm_multi",
    f"""
    WITH RECURSIVE base AS (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER ({DW}) AS rn
        FROM events
    ), rec AS (
        SELECT user_id, event_id, rn, value,
               value AS ewm03, value AS ewm05, value AS ewm07
        FROM base WHERE rn = 1
        UNION ALL
        SELECT b.user_id, b.event_id, b.rn, b.value,
               0.3 * b.value + 0.7 * e.ewm03,
               0.5 * b.value + 0.5 * e.ewm05,
               0.7 * b.value + 0.3 * e.ewm07
        FROM base b JOIN rec e ON b.user_id = e.user_id AND b.rn = e.rn + 1
    )
    SELECT user_id, event_id, value, ewm03, ewm05, ewm07 FROM rec
    """,
)
def q_ewm_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    grouped = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("traj")
    )
    fold = F.expr(
        """
        aggregate(
            traj,
            struct(cast(array() as array<struct<e3:double,e5:double,e7:double>>) as o,
                   cast(null as double) as y3, cast(null as double) as y5,
                   cast(null as double) as y7),
            (acc, x) -> case
                when acc.y3 is null then struct(
                    array_append(acc.o, struct(cast(x.value as double) as e3,
                                               cast(x.value as double) as e5,
                                               cast(x.value as double) as e7)) as o,
                    cast(x.value as double) as y3,
                    cast(x.value as double) as y5,
                    cast(x.value as double) as y7)
                else struct(
                    array_append(acc.o, struct(
                        0.3d * x.value + 0.7d * acc.y3 as e3,
                        0.5d * x.value + 0.5d * acc.y5 as e5,
                        0.7d * x.value + 0.3d * acc.y7 as e7)) as o,
                    0.3d * x.value + 0.7d * acc.y3 as y3,
                    0.5d * x.value + 0.5d * acc.y5 as y5,
                    0.7d * x.value + 0.3d * acc.y7 as y7)
            end,
            acc -> acc.o)
        """
    ).alias("ew")
    arr = grouped.select(
        "user_id",
        F.expr("transform(traj, x -> x.event_id)").alias("ids"),
        F.expr("transform(traj, x -> x.value)").alias("vals"),
        fold,
    )
    z = arr.select(
        "user_id", F.explode(F.arrays_zip("ids", "vals", "ew")).alias("z")
    )
    return z.select(
        "user_id",
        F.col("z.ids").alias("event_id"),
        F.col("z.vals").alias("value"),
        F.col("z.ew.e3").alias("ewm03"),
        F.col("z.ew.e5").alias("ewm05"),
        F.col("z.ew.e7").alias("ewm07"),
    )


# --------------------------------------------------------------------------
# W3 extension — time-based trailing window (RANGE frame).  The whole
# reference suite uses ROWS frames (frame counts ARE time at 10 Hz);
# with irregular event times the hour-trailing aggregate needs a RANGE
# frame over the integer timestamp.  Value-based frames are peer-
# deterministic (ties share a frame), so no tiebreaker is needed —
# and it shares the suite's one user_id shuffle.
# --------------------------------------------------------------------------
@q(
    "q_rolling_time",
    """
    SELECT user_id, event_id,
           COUNT(*) OVER w AS n_1h,
           SUM(CAST(round(value * 100, 0) AS BIGINT)) OVER w / 100.0 AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def q_rolling_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(-3600 * 10**6, W.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        (F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).over(w) / 100.0).alias(
            "sum_1h"
        ),
    )


# --------------------------------------------------------------------------
# Curation extension — per-group z-score outlier detection (the
# measurement-cleaning pass a training pipeline runs before feature
# extraction).  Mean is exact (integer cents over an exact count);
# std is rounded to 6 like every libm-adjacent stat in the suite; the
# filter compares the ROUNDED z on both engines, so the survivor set
# is identical.  Scale: one window shuffle on the trajectory key —
# shares the suite's user_id exchange, no join-back needed.
# --------------------------------------------------------------------------
@q(
    "q_zscore_outliers",
    """
    WITH scored AS (
        SELECT event_id, user_id, value,
               round(stddev_samp(value) OVER (PARTITION BY user_id), 6) AS grp_std,
               round((value -
                      SUM(CAST(round(value * 100, 0) AS BIGINT)) OVER (PARTITION BY user_id)
                        / COUNT(*) OVER (PARTITION BY user_id) / 100.0)
                     / round(stddev_samp(value) OVER (PARTITION BY user_id), 6), 6) AS z
        FROM events
    )
    SELECT event_id, user_id, value, z
    FROM scored WHERE grp_std > 0 AND abs(z) > 2.0
    """,
)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wp = W.partitionBy("user_id")
    mean = F.sum(_cents(F.col("value"))).over(wp) / F.count(F.lit(1)).over(wp) / 100.0
    std = F.round(F.stddev_samp("value").over(wp), 6)
    z = F.round((F.col("value") - mean) / std, 6)
    # std > 0 guard: zero-variance groups diverge across engines
    # (Spark non-ANSI division -> NULL, DuckDB IEEE -> ±inf/NaN), so
    # exclude them identically on both sides.
    return (
        ev.select("event_id", "user_id", "value", std.alias("grp_std"), z.alias("z"))
        .filter((F.col("grp_std") > 0) & (F.abs(F.col("z")) > 2.0))
        .drop("grp_std")
    )


# --------------------------------------------------------------------------
# Curation extension — per-group winsorization: clamp each value to
# its group's [p05, p95] band (quantile-based outlier treatment; the
# robust alternative to the z-score drop above).  Bounds are exact
# sort-based percentiles rounded to 4 (the q_quantile convention);
# clamped values are either the original double (bit-identical on
# both engines) or a rounded bound — deterministic either way.
# Scale: bounds are one groupBy over event_type (dimension-sized
# output), broadcast back onto the fact scan — no fact-side shuffle
# at all; at 100 TB swap percentile → approx_percentile (t-digest)
# and keep the identical plan shape.
# --------------------------------------------------------------------------
@q(
    "q_winsorize",
    """
    WITH bounds AS (
        SELECT event_type,
               round(quantile_cont(value, 0.05), 4) AS lo,
               round(quantile_cont(value, 0.95), 4) AS hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           greatest(b.lo, least(b.hi, e.value)) AS value_winsorized
    FROM events e JOIN bounds b ON e.event_type = b.event_type
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.05)), 4).alias("lo"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("hi"),
    )
    return ev.join(F.broadcast(bounds), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("value"))).alias(
            "value_winsorized"
        ),
    )


# --------------------------------------------------------------------------
# Forward fill (LOCF) — gap repair for sensor/trajectory streams:
# nulls inherit the last observed value in event order.  Nulls are
# manufactured deterministically (event_id % 7) since the synthetic
# feed has none.  One window on the suite's shared user_id exchange;
# last(ignorenulls) is the running-carry primitive the reference's
# pandas ffill maps to.
# --------------------------------------------------------------------------
@q(
    "q_ffill",
    f"""
    WITH base AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us,
               CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
        FROM events
    )
    SELECT event_id, user_id, v,
           LAST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
    FROM base
    """,
)
def q_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    v = F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("value"))
    w = _w().rowsBetween(W.unboundedPreceding, W.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        v.alias("v"),
        F.last(v, ignorenulls=True).over(w).alias("v_ffill"),
    )


# --------------------------------------------------------------------------
# Gap-filling hourly resample — the time-series regularization step
# (hypertable family): every user gets a dense hourly grid across
# their own observed span, empty hours filled with zeros.  Grid =
# per-user span agg (dimension-sized) + sequence/explode; the join
# back to the hourly partials is equi on (user, hour).  At 100 TB the
# grid side stays |users|×|span| — orders smaller than the fact scan
# — and the hourly partials reuse the rollup's aggregation.
# --------------------------------------------------------------------------
@q(
    "q_resample",
    """
    WITH e AS (
        SELECT user_id, epoch_us(ts) // 3600000000 AS hb,
               CAST(round(value * 100, 0) AS BIGINT) AS vc
        FROM events
    ), spans AS (
        SELECT user_id, MIN(hb) AS h0, MAX(hb) AS h1 FROM e GROUP BY user_id
    ), grid AS (
        SELECT user_id, unnest(range(h0, h1 + 1)) AS hb FROM spans
    ), agg AS (
        SELECT user_id, hb, COUNT(*) AS n_events,
               CAST(SUM(vc) AS BIGINT) AS cents
        FROM e GROUP BY user_id, hb
    )
    SELECT g.user_id, g.hb AS hour_bucket,
           COALESCE(a.n_events, 0) AS n_events,
           COALESCE(a.cents, 0) / 100.0 AS value_sum
    FROM grid g LEFT JOIN agg a ON g.user_id = a.user_id AND g.hb = a.hb
    """,
)
def q_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    hour_us = 3600 * 10**6
    ev = table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.expr(f"ts div {hour_us}").alias("hb"),
        _cents(F.col("value")).alias("vc"),
    )
    spans = e.groupBy("user_id").agg(
        F.min("hb").alias("h0"), F.max("hb").alias("h1")
    )
    grid = spans.select(
        "user_id", F.explode(F.sequence("h0", "h1")).alias("hb")
    )
    agg = e.groupBy("user_id", "hb").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("vc").alias("cents")
    )
    return grid.join(agg, ["user_id", "hb"], "left").select(
        "user_id",
        F.col("hb").alias("hour_bucket"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        (F.coalesce("cents", F.lit(0)) / 100.0).alias("value_sum"),
    )


# --------------------------------------------------------------------------
# Value-RANGE window frame (completes the frame-type surface: ROWS
# frames throughout the suite, time-RANGE in q_rolling_time, value-
# RANGE here): per user, aggregate over all events whose VALUE lies
# within ±5.00 of the current row's — the peer-inclusive semantics
# only RANGE frames give.  Ordering key is exact integer cents, so
# frame boundaries are deterministic; same single user_id exchange as
# the rest of the suite.
# --------------------------------------------------------------------------
@q(
    "q_range_frame",
    """
    SELECT event_id, user_id, value,
           SUM(CAST(round(value * 100, 0) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY CAST(round(value * 100, 0) AS BIGINT)
               RANGE BETWEEN 500 PRECEDING AND 500 FOLLOWING) / 100.0 AS near_sum,
           COUNT(*) OVER (
               PARTITION BY user_id ORDER BY CAST(round(value * 100, 0) AS BIGINT)
               RANGE BETWEEN 500 PRECEDING AND 500 FOLLOWING) AS near_n
    FROM events
    """,
)
def q_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    vc = _cents(F.col("value"))
    w = W.partitionBy("user_id").orderBy(vc.alias("vc")).rangeBetween(-500, 500)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        (F.sum(vc).over(w) / 100.0).alias("near_sum"),
        F.count(F.lit(1)).over(w).alias("near_n"),
    )


# --------------------------------------------------------------------------
# Pandas GROUPED_AGG UDAF — exact weighted median per event type
# (order statistics are the one agg family native SQL aggregates
# can't compose).  The kernel is Arrow-batched, one call per group
# (|event_type| calls total — never per-row Python).  All-integer
# kernel: cents values, integer weights, crossing rule
# 2·cumweight ≥ totalweight, so the result is deterministic under
# any intra-tie ordering and hash-matches the oracle's window
# formulation bitwise.
# --------------------------------------------------------------------------
@q(
    "q_udaf_weighted_median",
    """
    WITH x AS (
        SELECT event_type,
               CAST(round(value * 100, 0) AS BIGINT) AS vc,
               event_id % 5 + 1 AS w
        FROM events
    ), o AS (
        SELECT event_type, vc,
               SUM(w) OVER (PARTITION BY event_type ORDER BY vc
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cumw,
               SUM(w) OVER (PARTITION BY event_type) AS totw
        FROM x
    )
    SELECT event_type,
           MIN(CASE WHEN 2 * cumw >= totw THEN vc END) / 100.0
             AS weighted_median,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MAX(totw) AS BIGINT) AS total_weight
    FROM o GROUP BY event_type
    """,
)
def q_udaf_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.pandas_udf("long")
    def wmedian_cents(vc: pd.Series, w: pd.Series) -> int:
        import numpy as np

        order = np.argsort(vc.values, kind="stable")
        v = vc.values[order]
        cw = w.values[order].cumsum()
        return int(v[(2 * cw >= cw[-1]).argmax()])

    ev = table(spark, sf_dir, "events")
    x = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("vc"),
        (F.col("event_id") % 5 + 1).alias("w"),
    )
    # A grouped-agg pandas UDF cannot share an agg() with native
    # aggregates (INVALID_PANDAS_UDF_PLACEMENT) — run the two keyed
    # aggregations separately and join the dimension-sized results.
    med = x.groupBy("event_type").agg(
        (wmedian_cents("vc", "w") / 100.0).alias("weighted_median")
    )
    stats = x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("w").alias("total_weight"),
    )
    return med.join(F.broadcast(stats), "event_type").select(
        "event_type", "weighted_median", "n_rows", "total_weight"
    )


# --------------------------------------------------------------------------
# Grouped-map Arrow kernel (applyInArrow, Spark 4) — the zero-copy
# sibling of applyInPandas (U3): the group arrives as a pyarrow
# Table, the kernel runs pyarrow.compute reductions, no pandas
# materialization.  One output row per group; all-integer outputs.
# --------------------------------------------------------------------------
@q(
    "q_arrow_grouped",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(CAST(round(value * 100, 0) AS BIGINT)) AS vmin_c,
           MAX(CAST(round(value * 100, 0) AS BIGINT)) AS vmax_c,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS vsum_c
    FROM events GROUP BY event_type
    """,
)
def q_arrow_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    def kern(t):
        import pyarrow as pa
        import pyarrow.compute as pc

        vc = t.column("vc")
        return pa.table(
            {
                "event_type": [t.column("event_type")[0].as_py()],
                "n": [t.num_rows],
                "vmin_c": [pc.min(vc).as_py()],
                "vmax_c": [pc.max(vc).as_py()],
                "vsum_c": [pc.sum(vc).as_py()],
            },
            schema=pa.schema(
                [
                    ("event_type", pa.string()),
                    ("n", pa.int64()),
                    ("vmin_c", pa.int64()),
                    ("vmax_c", pa.int64()),
                    ("vsum_c", pa.int64()),
                ]
            ),
        )

    ev = table(spark, sf_dir, "events")
    x = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("vc"),
    )
    return x.groupBy("event_type").applyInArrow(
        kern,
        schema="event_type string, n bigint, vmin_c bigint, vmax_c bigint, vsum_c bigint",
    )


# --------------------------------------------------------------------------
# Row-pattern detection (the MATCH_RECOGNIZE shape): find every
# click → click → purchase run in a user's event sequence whose span
# fits inside one hour — sequence mining beyond q_funnel's first-
# click summary.  Pure lead() composition on the canonical trajectory
# window: rides the SAME single user-keyed exchange as the rest of
# the §2.5 suite, zero extra shuffles, and each match is anchored at
# its first click so patterns never double-count.
# --------------------------------------------------------------------------
# 24 h: the 1 h span matched nothing below sf0.1 — a vacuous pattern
# detector proves nothing, and the operator shape is span-invariant.
PATTERN_SPAN_US = 24 * 3600 * 1_000_000


@q(
    "q_seq_pattern",
    f"""
    WITH s AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
               lead(event_type, 1) OVER w AS t1,
               lead(event_type, 2) OVER w AS t2,
               lead(event_id, 2)   OVER w AS end_event_id,
               lead(epoch_us(ts), 2) OVER w AS end_ts_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    )
    SELECT user_id, event_id AS start_event_id, end_event_id,
           end_ts_us - ts_us AS span_us
    FROM s
    WHERE event_type = 'click' AND t1 = 'click' AND t2 = 'purchase'
      AND end_ts_us - ts_us <= {PATTERN_SPAN_US}
    """,
)
def q_seq_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead("event_id", 2).over(w).alias("end_event_id"),
        F.lead("ts", 2).over(w).alias("end_ts_us"),
    )
    return s.filter(
        (F.col("event_type") == "click")
        & (F.col("t1") == "click")
        & (F.col("t2") == "purchase")
        & (F.col("end_ts_us") - F.col("ts") <= PATTERN_SPAN_US)
    ).select(
        "user_id",
        F.col("event_id").alias("start_event_id"),
        "end_event_id",
        (F.col("end_ts_us") - F.col("ts")).alias("span_us"),
    )


# --------------------------------------------------------------------------
# Native session windows — the same sessionization semantics as
# q_sessionize, but through Spark's built-in ``session_window``
# grouping expression (batch mode; identical API in Structured
# Streaming, where it is the scalable path because state merges
# incrementally instead of re-windowing history).  Physical shape is
# ONE user_id-keyed exchange + Spark's session-merge aggregation —
# no lag/cumsum window pass at all.  Boundary rule of the native
# operator: an event at exactly start+gap begins a NEW session
# (window end is exclusive), hence the oracle's ``>=`` where
# q_sessionize's lag-flag uses ``>``.
# --------------------------------------------------------------------------
@q(
    "q_session_window",
    f"""
    WITH flagged AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
               CASE WHEN LAG(epoch_us(ts)) OVER ({DW}) IS NULL
                      OR epoch_us(ts) - LAG(epoch_us(ts)) OVER ({DW}) >= {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS boundary
        FROM events
    ), numbered AS (
        SELECT user_id, ts_us, value,
               SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
    )
    SELECT user_id,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) + {SESSION_GAP_US} AS session_end_us,
           COUNT(*) AS n_events,
           SUM(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS value_sum
    FROM numbered
    GROUP BY user_id, sid
    """,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    gap_s = SESSION_GAP_US // 1_000_000
    return (
        ev.select(
            "user_id",
            F.timestamp_micros(F.col("ts")).alias("ts_t"),
            "value",
        )
        .groupBy(
            "user_id",
            F.session_window(F.col("ts_t"), f"{gap_s} seconds").alias("sw"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(_cents(F.col("value"))) / 100.0).alias("value_sum"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            F.unix_micros(F.col("sw.end")).alias("session_end_us"),
            "n_events",
            "value_sum",
        )
    )


# --------------------------------------------------------------------------
# Linear interpolation — the gap-repair step between q_ffill (carry
# last) and q_resample (zero-fill): masked values are reconstructed
# from the straight line through the nearest non-null observation on
# each side, time-weighted in exact integer micros.  Both bracketing
# lookups ride the SAME user-keyed exchange as the whole window
# suite (two frames over one sort); leading/trailing gaps fall back
# to the single available side.  The lerp is one deterministic
# double expression rounded once.
# --------------------------------------------------------------------------
@q(
    "q_interpolate",
    f"""
    WITH base AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us,
               CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
        FROM events
    ), brk AS (
        SELECT event_id, user_id, ts_us, v,
               LAST_VALUE(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
               LAST_VALUE(CASE WHEN v IS NOT NULL THEN ts_us END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
               FIRST_VALUE(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
               FIRST_VALUE(CASE WHEN v IS NOT NULL THEN ts_us END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt
        FROM base
    )
    SELECT event_id, user_id, ts_us, v,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt <> pt
                  THEN round(pv + (nv - pv) * ((ts_us - pt) * 1.0 / (nt - pt)), 6)
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN pv
                ELSE COALESCE(pv, nv) END AS v_interp
    FROM brk
    """,
)
def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    v = F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("value"))
    vt = F.when(v.isNotNull(), F.col("ts"))
    wp = _w().rowsBetween(W.unboundedPreceding, -1)
    wn = _w().rowsBetween(1, W.unboundedFollowing)
    base = ev.select(
        "event_id",
        "user_id",
        F.col("ts").alias("ts_us"),
        v.alias("v"),
        F.last(v, ignorenulls=True).over(wp).alias("pv"),
        F.last(vt, ignorenulls=True).over(wp).alias("pt"),
        F.first(v, ignorenulls=True).over(wn).alias("nv"),
        F.first(vt, ignorenulls=True).over(wn).alias("nt"),
    )
    lerp = F.round(
        F.col("pv")
        + (F.col("nv") - F.col("pv"))
        * ((F.col("ts_us") - F.col("pt")) * 1.0 / (F.col("nt") - F.col("pt"))),
        6,
    )
    return base.select(
        "event_id",
        "user_id",
        "ts_us",
        "v",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull()
            & F.col("nv").isNotNull()
            & (F.col("nt") != F.col("pt")),
            lerp,
        )
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), F.col("pv"))
        .otherwise(F.coalesce(F.col("pv"), F.col("nv")))
        .alias("v_interp"),
    )


# --------------------------------------------------------------------------
# Window-surface completion — nth_value / first_value / cume_dist on
# the shared trajectory window (the three frame functions the W-suite
# had not yet exercised; q_rank_fns covers the rank family, q_ffill
# the IGNORE NULLS family).  One user-keyed exchange like every §2.5
# query.
# --------------------------------------------------------------------------
@q(
    "q_nth_value",
    """
    SELECT event_id, user_id,
           NTH_VALUE(CAST(round(value * 100, 0) AS BIGINT), 3) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_vc,
           FIRST_VALUE(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_type,
           round(CUME_DIST() OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id), 6) AS cdist
    FROM events
    """,
)
def q_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wf = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    vc = F.round(F.col("value") * 100, 0).cast("bigint")
    return ev.select(
        "event_id",
        "user_id",
        F.nth_value(vc, 3).over(wf).alias("third_vc"),
        F.first("event_type").over(wf).alias("first_type"),
        F.round(F.cume_dist().over(wo), 6).alias("cdist"),
    )


# --------------------------------------------------------------------------
# Path mining — corpus top-10 three-step event-type paths (the
# navigation-analysis aggregate behind "what do users do next-next").
# Two leads on the shared user exchange build the path string; the
# path histogram is map-side combined (≤|event types|³ keys) and the
# top-10 compiles to TakeOrderedAndProject — never a full sort.
# --------------------------------------------------------------------------
@q(
    "q_path_topn",
    """
    WITH steps AS (
        SELECT user_id,
               event_type
                 || '>' || LEAD(event_type, 1) OVER (
                     PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                 || '>' || LEAD(event_type, 2) OVER (
                     PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                 AS path
        FROM events
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM steps WHERE path IS NOT NULL
    GROUP BY path
    ORDER BY n_occurrences DESC, path ASC
    LIMIT 10
    """,
)
def q_path_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    path = F.concat_ws(
        ">",
        F.col("event_type"),
        F.lead("event_type", 1).over(w),
        F.lead("event_type", 2).over(w),
    )
    steps = ev.select(
        "user_id",
        path.alias("path"),
        F.lead("event_type", 2).over(w).alias("l2"),
    ).filter(F.col("l2").isNotNull())
    return (
        steps.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("path").asc())
        .limit(10)
    )


# --------------------------------------------------------------------------
# Arrow scalar pandas_udf (U1's explicit UDF face) — the reference's
# per-element lambdas (height parse main_cuda.py:161, angle wrap
# nn-mps.py:217-219) are expressed as native exprs wherever possible
# (q_str_parse); THIS query exercises the escape hatch itself: a
# vectorized numpy kernel behind @pandas_udf, Arrow-batched, for the
# decayed-oscillation score sin(v/10)·exp(−v/100).  libm-adjacent ⇒
# round 6 on both sides (the house rule).  Scale: scan-side, zero
# shuffle; ArrowEvalPython batches ~10k rows per call — the slow path
# done as fast as the slow path goes.
# --------------------------------------------------------------------------
@q(
    "q_pandas_scalar",
    """
    SELECT event_id, value,
           round(sin(value / 10.0) * exp(-value / 100.0), 6) AS osc_score
    FROM events
    """,
)
def q_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def osc(v: pd.Series) -> pd.Series:
        import numpy as np

        # raw product only — the round-6 freeze happens JVM-side with
        # F.round (half-up), matching the oracle; np.round is
        # half-EVEN and would diverge on exact .5 boundaries.
        return pd.Series(np.sin(v / 10.0) * np.exp(-v / 100.0))

    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id", "value", F.round(osc(F.col("value")), 6).alias("osc_score")
    )


# --------------------------------------------------------------------------
# U1's promised JVM-side migration (SURVEY §2.9 "JVM-side round-6"):
# the SAME decayed-oscillation score as q_pandas_scalar, but as a
# built-in expression — F.sin/F.exp stay inside whole-stage codegen
# (no Arrow hop, no Python worker), which is the production spelling
# once a kernel's math exists as built-ins.  Measured on the sf0.01
# fixture: JVM Math.sin/exp and numpy/DuckDB libm differ in the last
# ulp on ~9% of rows RAW, and agree 10000/10000 after the round-6
# freeze — the house "round 6 after libm" rule is exactly what makes
# the migration safe.  Parity with the pandas_udf twin is pinned in
# tests/test_udf_surface.py.
# --------------------------------------------------------------------------
@q(
    "q_scalar_native",
    """
    SELECT event_id, value,
           round(sin(value / 10.0) * exp(-value / 100.0), 6) AS osc_score
    FROM events
    """,
)
def q_scalar_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "value",
        F.round(
            F.sin(F.col("value") / 10.0) * F.exp(-F.col("value") / 100.0), 6
        ).alias("osc_score"),
    )


# --------------------------------------------------------------------------
# Expanding (cumulative) mean/std per user — the pandas
# `.expanding()` family the reference's rolling/EWM suite implies,
# expressed as exact integer prefix sums on the shared trajectory
# exchange: mean = cumsum/cumcount, variance from the cumulative
# power sums (n·Σx² − (Σx)²)/(n(n−1)).  The squared numerator is
# cast to double before the division (int64 would overflow at
# corpus scale); guard n ≥ 2 for the std.  The mean is rounded in
# INTEGER arithmetic (half away from zero on s·10⁴/n, then one exact
# /1e6 conversion): the double path — 1.0·s/n/100 then round(,6) —
# tie-breaks apart across engines when s/n lands exactly on a 5e-7
# boundary (measured at 8×: one row of 6.4 M).  Σx² rides
# DECIMAL(38,0)/int128 per the power-sum head-room rule.
# --------------------------------------------------------------------------
@q(
    "q_expanding",
    """
    WITH cum AS (
        SELECT event_id, user_id,
               SUM(CAST(round(value * 100, 0) AS BIGINT)) OVER w AS s,
               SUM(CAST(round(value * 100, 0) AS BIGINT)
                   * CAST(round(value * 100, 0) AS BIGINT)) OVER w AS ss,
               COUNT(*) OVER w AS n
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_id, user_id, CAST(n AS BIGINT) AS n,
           CAST(CASE WHEN s >= 0 THEN (s * 20000 + n) // (2 * n)
                     ELSE -(((-s) * 20000 + n) // (2 * n)) END AS DOUBLE)
             / 1000000.0 AS exp_mean,
           CASE WHEN n >= 2 THEN
               round(sqrt(CAST(n * ss - s * s AS DOUBLE)
                          / (CAST(n AS DOUBLE) * (n - 1))) / 100.0, 6)
           END AS exp_std
    FROM cum
    """,
)
def q_expanding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100, 0).cast("bigint")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = ev.select(
        "event_id",
        "user_id",
        F.sum(vc).over(w).alias("s"),
        F.sum((vc * vc).cast("decimal(38,0)")).over(w).alias("ss"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    # n·Σx² − (Σx)² formed EXACTLY (decimal/int128) before ONE double
    # conversion: a constant-value prefix has exact-zero variance, but
    # the term-wise double form leaves a ± cancellation residue whose
    # sqrt(-ε) is NaN — and the residue differs per engine.
    var = (n * ss - s.cast("decimal(38,0)") * s.cast("decimal(38,0)")).cast(
        "double"
    ) / (n.cast("double") * (n - 1))
    # half-away-from-zero in int64 (|s|·2e4 exact to |s| ≈ 4.6e14
    # cents per window); DIV truncates toward zero = floor on the
    # positive operands both branches feed it.
    r_mean = F.expr(
        "CASE WHEN s >= 0 THEN (s * 20000 + n) DIV (2 * n) "
        "ELSE -(((-s) * 20000 + n) DIV (2 * n)) END"
    )
    return cum.select(
        "event_id",
        "user_id",
        n.cast("bigint").alias("n"),
        (r_mean.cast("double") / F.lit(1000000.0)).alias("exp_mean"),
        F.when(n >= 2, F.round(F.sqrt(var) / 100.0, 6)).alias("exp_std"),
    )


# --------------------------------------------------------------------------
# Spearman rank correlation per event type — monotone association
# between event time-order and value: rank both variables inside the
# group (average-rank ties via RANK + COUNT arithmetic would be
# needed for value ties, so value ranks use ROW_NUMBER over the
# (value, event_id) total order — deterministic and identical on both
# engines), then exact Pearson over the integer ranks from power
# sums.  Two windows + one agg on a single event_type exchange.
# Rank power sums grow as n³ (Σr² = n(n+1)(2n+1)/6), so they breach
# int64 near n ≈ 3e6 rows/group — measured at the 8× probe — and
# therefore accumulate in DECIMAL(38,0) (exact through partial agg;
# the oracle's SUM(BIGINT) is already int128).  The n·Σxy − Σx·Σy
# terms are likewise formed exactly in decimal/int128 and converted
# to double ONCE (SCALING.md "Integer head-room").
# --------------------------------------------------------------------------
@q(
    "q_spearman",
    """
    WITH ranked AS (
        SELECT event_type,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY epoch_us(ts), event_id) AS rx,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS ry
        FROM events
    ), sums AS (
        SELECT event_type, COUNT(*) AS n,
               SUM(rx) AS sx, SUM(ry) AS sy,
               SUM(rx * ry) AS sxy, SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
        FROM ranked GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS spearman_rho
    FROM sums WHERE n >= 2
    """,
)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wx = W.partitionBy("event_type").orderBy("ts", "event_id")
    wy = W.partitionBy("event_type").orderBy("value", "event_id")
    # row_number() is int32; ranks reach |group|, so products would
    # overflow int32 per-row near 46k rows/group — widen at the source.
    ranked = ev.select(
        "event_type",
        F.row_number().over(wx).cast("bigint").alias("rx"),
        F.row_number().over(wy).cast("bigint").alias("ry"),
    )
    sums = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum((F.col("rx") * F.col("ry")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("rx") * F.col("rx")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("ry") * F.col("ry")).cast("decimal(38,0)")).alias("syy"),
    )
    n = F.col("n")
    sxd = F.col("sx").cast("decimal(38,0)")
    syd = F.col("sy").cast("decimal(38,0)")
    num = (n * F.col("sxy") - sxd * syd).cast("double")
    dx = (n * F.col("sxx") - sxd * sxd).cast("double")
    dy = (n * F.col("syy") - syd * syd).cast("double")
    return sums.filter(n >= 2).select(
        "event_type",
        n.cast("bigint").alias("n"),
        F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6).alias("spearman_rho"),
    )


# --------------------------------------------------------------------------
# Ordered string aggregation (Spark 4 LISTAGG WITHIN GROUP) — each
# user's full event-type sequence as one delimited string: the
# order-SENSITIVE aggregate class (every other agg in the suite is
# order-free by design; this one declares its order and the engine
# must sort within the group).  The companion of q_collect_traj's
# sorted arrays, for consumers that want flat strings (session
# replay, sequence export).  One hash shuffle on user_id.
# --------------------------------------------------------------------------
@q(
    "q_listagg",
    """
    SELECT user_id,
           string_agg(event_type, ',' ORDER BY epoch_us(ts), event_id) AS type_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
)
def q_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.expr(
            "listagg(event_type, ',') WITHIN GROUP (ORDER BY ts, event_id)"
        ).alias("type_seq"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )

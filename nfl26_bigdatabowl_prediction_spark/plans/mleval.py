"""ML evaluation metrics as distributed one-pass plans.

The reference evaluates its models driver-side (scoring.py:10-52
computes RMSE on collected arrays; the CV loop in main_cuda.py:1389-
1401 prints per-fold metrics).  At 100 TB the scored table never fits
a driver, so the classic evaluation metrics must run as aggregation
plans: AUC from the Mann-Whitney rank-sum over a per-score histogram
(never a global sort of raw rows), calibration as fixed-width score
buckets, and PSI drift as two histograms joined on the bin key.

Determinism: AUC stays INTEGER until the single final division
(2U / 2·n_pos·n_neg — average-rank tie handling folded into the ×2
scaling), so it is bitwise-portable with no rounding at all; PSI's
per-bin ln() term is rounded to 6 decimals before the exact integer
sum (libm last-ulp rule); calibration rates are exact-int ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.portable import portable_hash_sql_duckdb
from ..sources.io import table
from .registry import registrar

QUERIES: dict = {}
ORACLES: dict = {}
q = registrar(QUERIES, ORACLES)


# --------------------------------------------------------------------------
# Exact AUC (Mann-Whitney U with average-rank ties) — "how well does
# `value` rank purchases above other events".  The fact table
# collapses to one row per DISTINCT score (pos/neg counts); the
# cumulative-negatives window runs over that histogram, which is
# |distinct scores|-sized, not |rows|-sized — the standard trick that
# makes exact AUC feasible at any scale.  2U = Σ_s pos_s·(2·neg_<s
# + neg_s) keeps tie handling integer; the one division at the end
# is exact-int / exact-int.
# --------------------------------------------------------------------------
@q(
    "q_auc",
    """
    WITH scored AS (
        SELECT CAST(round(value * 100, 0) AS BIGINT) AS score_c,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
        FROM events
    ), hist AS (
        SELECT score_c,
               SUM(label) AS pos,
               COUNT(*) - SUM(label) AS neg
        FROM scored GROUP BY score_c
    ), cum AS (
        SELECT score_c, pos, neg,
               COALESCE(SUM(neg) OVER (ORDER BY score_c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
        FROM hist
    )
    SELECT CAST(SUM(pos) AS BIGINT) AS n_pos, CAST(SUM(neg) AS BIGINT) AS n_neg,
           CAST(SUM(pos * (2 * neg_below + neg)) AS DOUBLE)
             / (2 * SUM(pos) * SUM(neg)) AS auc
    FROM cum
    """,
)
def q_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    scored = ev.select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("score_c"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
    )
    hist = scored.groupBy("score_c").agg(
        F.sum("label").alias("pos"),
        (F.count(F.lit(1)) - F.sum("label")).alias("neg"),
    )
    w = W.orderBy("score_c").rowsBetween(W.unboundedPreceding, -1)
    cum = hist.select(
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(w), F.lit(0)).alias("neg_below"),
    )
    u2 = F.sum(F.col("pos") * (2 * F.col("neg_below") + F.col("neg")))
    return cum.agg(
        F.sum("pos").alias("n_pos"),
        F.sum("neg").alias("n_neg"),
        (u2.cast("double") / (2 * F.sum("pos") * F.sum("neg"))).alias("auc"),
    )


# --------------------------------------------------------------------------
# Calibration / reliability bins — fixed-width score deciles, each
# bin's mean predicted score vs observed positive rate.  One hash
# aggregation with map-side combine into ≤10 keys; every ratio is an
# exact-int division.
# --------------------------------------------------------------------------
@q(
    "q_calibration",
    """
    SELECT CAST(least(CAST(floor(value) AS BIGINT) // 10, 9) AS BIGINT) AS bin,
           COUNT(*) AS n,
           SUM(CAST(round(value * 100, 0) AS BIGINT)) / COUNT(*) / 100.0 AS mean_score,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS pos_rate
    FROM events
    GROUP BY 1
    """,
)
def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    bin_ = F.least(
        F.expr("floor(value) div 10"), F.lit(9)
    ).cast("bigint")
    pos = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    return (
        ev.groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
                / F.count(F.lit(1))
                / 100.0
            ).alias("mean_score"),
            F.sum(pos).cast("bigint").alias("n_pos"),
            (F.sum(pos).cast("double") / F.count(F.lit(1))).alias("pos_rate"),
        )
    )


# --------------------------------------------------------------------------
# Population stability index — score-distribution drift between the
# two deterministic hash splits, the production check that a serving
# population still looks like training.  Two histograms come out of
# ONE fact aggregation (conditional counts per bin); the PSI sum runs
# over ≤10 joined bins.  Each bin's (p−q)·ln(p/q) term is rounded to
# 6 decimals BEFORE the exact integer sum (the libm rule), so the
# total is order-independent and engine-portable.
# --------------------------------------------------------------------------
@q(
    "q_psi",
    """
    WITH bins AS (
        SELECT CAST(least(CAST(floor(value) AS BIGINT) // 10, 9) AS BIGINT) AS bin,
               SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n0,
               SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS n1
        FROM events GROUP BY 1
    ), tot AS (
        SELECT SUM(n0) AS t0, SUM(n1) AS t1 FROM bins
    ), terms AS (
        SELECT bin,
               CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
               CAST(round((1.0 * n0 / t0 - 1.0 * n1 / t1)
                          * ln((1.0 * n0 / t0) / (1.0 * n1 / t1))
                          * 1000000, 0) AS BIGINT) AS term_micro
        FROM bins CROSS JOIN tot
        WHERE n0 > 0 AND n1 > 0
    )
    SELECT bin, n0, n1, term_micro / 1000000.0 AS psi_term
    FROM terms
    """,
)
def q_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    bin_ = F.least(
        F.expr("floor(value) div 10"), F.lit(9)
    ).cast("bigint")
    bins = ev.groupBy(bin_.alias("bin")).agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)).alias("n1"),
    )
    tot = bins.agg(F.sum("n0").alias("t0"), F.sum("n1").alias("t1"))
    p = 1.0 * F.col("n0") / F.col("t0")
    qq = 1.0 * F.col("n1") / F.col("t1")
    return (
        bins.crossJoin(F.broadcast(tot))
        .filter((F.col("n0") > 0) & (F.col("n1") > 0))
        .select(
            "bin",
            F.col("n0").cast("bigint").alias("n0"),
            F.col("n1").cast("bigint").alias("n1"),
            (
                F.round((p - qq) * F.log(p / qq) * 1000000, 0).cast("bigint")
                / 1000000.0
            ).alias("psi_term"),
        )
    )


# --------------------------------------------------------------------------
# NDCG@5 per user — "does `value` rank this user's purchases first".
# The reference ranks plays by projected gain (main_cuda.py:404-439
# is the same rank→top-K→score shape); NDCG is its standard ranking
# metric.  Both the actual and the ideal ranking come from TWO window
# functions over ONE user_id shuffle (same partition key → Catalyst
# plans one Exchange, two in-partition sorts).  Each rank's discount
# 1/log2(r+1) is frozen to integer micros (round-6 libm rule, ranks
# ≤ 5 so only five constants exist), so DCG/IDCG are exact integer
# sums and the final ratio is one deterministic double division.
# --------------------------------------------------------------------------
@q(
    "q_ndcg",
    """
    WITH ranked AS (
        SELECT user_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel,
               row_number() OVER (PARTITION BY user_id
                   ORDER BY CAST(round(value * 100, 0) AS BIGINT) DESC, event_id) AS rnk,
               row_number() OVER (PARTITION BY user_id
                   ORDER BY (CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) DESC,
                            CAST(round(value * 100, 0) AS BIGINT) DESC, event_id) AS ideal_rnk
        FROM events
    ), gains AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN rnk <= 5
                        THEN rel * CAST(round(1000000 / log2(rnk + 1), 0) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS dcg_micro,
               CAST(SUM(CASE WHEN ideal_rnk <= 5
                        THEN rel * CAST(round(1000000 / log2(ideal_rnk + 1), 0) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS idcg_micro
        FROM ranked GROUP BY user_id
    )
    SELECT user_id, dcg_micro, idcg_micro,
           round(CAST(dcg_micro AS DOUBLE) / idcg_micro, 6) AS ndcg
    FROM gains WHERE idcg_micro > 0
    """,
)
def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    score_c = F.round(F.col("value") * 100, 0).cast("bigint")
    rel = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    ranked = ev.select(
        "user_id",
        rel.alias("rel"),
        F.row_number()
        .over(W.partitionBy("user_id").orderBy(score_c.desc(), "event_id"))
        .alias("rnk"),
        F.row_number()
        .over(
            W.partitionBy("user_id").orderBy(
                rel.desc(), score_c.desc(), "event_id"
            )
        )
        .alias("ideal_rnk"),
    )
    gain = lambda r: F.round(  # noqa: E731
        F.lit(1000000) / F.log2(F.col(r) + 1), 0
    ).cast("bigint")
    gains = ranked.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("rnk") <= 5, F.col("rel") * gain("rnk")).otherwise(0)
        )
        .cast("bigint")
        .alias("dcg_micro"),
        F.sum(
            F.when(
                F.col("ideal_rnk") <= 5, F.col("rel") * gain("ideal_rnk")
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("idcg_micro"),
    )
    return gains.filter(F.col("idcg_micro") > 0).select(
        "user_id",
        "dcg_micro",
        "idcg_micro",
        F.round(
            F.col("dcg_micro").cast("double") / F.col("idcg_micro"), 6
        ).alias("ndcg"),
    )


# --------------------------------------------------------------------------
# Mean reciprocal rank — position of each user's FIRST purchase in
# their value-ranked feed, averaged.  Same single user_id shuffle as
# q_ndcg; reciprocal ranks are frozen to integer micros so the mean
# is an exact-int ratio.
# --------------------------------------------------------------------------
@q(
    "q_mrr",
    """
    WITH ranked AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                   ORDER BY CAST(round(value * 100, 0) AS BIGINT) DESC, event_id) AS rnk
        FROM events
    ), firstpos AS (
        SELECT user_id, MIN(rnk) AS first_rel_rank
        FROM ranked WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CAST(round(1000000.0 / first_rel_rank, 0) AS BIGINT)) AS BIGINT)
             AS rr_micro_sum,
           round(CAST(SUM(CAST(round(1000000.0 / first_rel_rank, 0) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 1000000.0, 6) AS mrr
    FROM firstpos
    """,
)
def q_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    score_c = F.round(F.col("value") * 100, 0).cast("bigint")
    ranked = ev.select(
        "user_id",
        "event_type",
        F.row_number()
        .over(W.partitionBy("user_id").orderBy(score_c.desc(), "event_id"))
        .alias("rnk"),
    )
    firstpos = (
        ranked.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rnk").alias("first_rel_rank"))
    )
    rr = F.round(F.lit(1000000.0) / F.col("first_rel_rank"), 0).cast("bigint")
    return firstpos.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(rr).cast("bigint").alias("rr_micro_sum"),
        F.round(
            F.sum(rr).cast("double") / F.count(F.lit(1)) / 1000000.0, 6
        ).alias("mrr"),
    )


# --------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov statistic — max CDF gap between the
# `value` distributions of the two deterministic user-parity splits.
# Like q_auc, the fact table first collapses to a per-distinct-score
# histogram, so the ordered window runs over |distinct scores| rows,
# not |rows|.  The gap is kept as the INTEGER cross-product
# |c0·t1 − c1·t0| (common denominator t0·t1), so the max — and the
# value hash — involves no floating point until the final division.
# At populations beyond ~3·10^9 rows per split the cross-product
# needs 128-bit math; normalize first (one rounded division per bin)
# at that scale.
# --------------------------------------------------------------------------
@q(
    "q_ks_stat",
    """
    WITH hist AS (
        SELECT CAST(round(value * 100, 0) AS BIGINT) AS score_c,
               CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        FROM events GROUP BY 1
    ), cum AS (
        SELECT CAST(SUM(n0) OVER (ORDER BY score_c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c0,
               CAST(SUM(n1) OVER (ORDER BY score_c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c1,
               CAST(SUM(n0) OVER () AS BIGINT) AS t0,
               CAST(SUM(n1) OVER () AS BIGINT) AS t1
        FROM hist
    )
    SELECT MAX(abs(c0 * t1 - c1 * t0)) AS ks_num,
           MAX(t0) AS n0_total, MAX(t1) AS n1_total,
           round(CAST(MAX(abs(c0 * t1 - c1 * t0)) AS DOUBLE)
                 / (MAX(t0) * MAX(t1)), 6) AS ks
    FROM cum
    """,
)
def q_ks_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    score_c = F.round(F.col("value") * 100, 0).cast("bigint")
    hist = ev.groupBy(score_c.alias("score_c")).agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
    )
    w = W.orderBy("score_c").rowsBetween(W.unboundedPreceding, W.currentRow)
    tot = hist.agg(
        F.sum("n0").cast("bigint").alias("t0"),
        F.sum("n1").cast("bigint").alias("t1"),
    )
    cum = hist.select(
        F.sum("n0").over(w).cast("bigint").alias("c0"),
        F.sum("n1").over(w).cast("bigint").alias("c1"),
    ).crossJoin(F.broadcast(tot))
    gap = F.abs(F.col("c0") * F.col("t1") - F.col("c1") * F.col("t0"))
    return cum.agg(
        F.max(gap).alias("ks_num"),
        F.max("t0").alias("n0_total"),
        F.max("t1").alias("n1_total"),
        F.round(
            F.max(gap).cast("double") / (F.max("t0") * F.max("t1")), 6
        ).alias("ks"),
    )


# --------------------------------------------------------------------------
# Confusion matrix + precision/recall/F1 at a fixed threshold
# (predict positive when value ≥ 50, truth = purchase).  One
# map-side-combined aggregation → one row; every ratio is exact-int
# over exact-int (F1 via the 2TP/(2TP+FP+FN) identity, so no
# intermediate double compounds).
# --------------------------------------------------------------------------
@q(
    "q_confusion",
    """
    WITH m AS (
        SELECT CAST(SUM(CASE WHEN value >= 50 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN value >= 50 AND event_type <> 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN value < 50 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(SUM(CASE WHEN value < 50 AND event_type <> 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS tn
        FROM events
    )
    SELECT tp, fp, fn, tn,
           round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision_,
           round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall_,
           round(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn), 6) AS f1
    FROM m
    """,
)
def q_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    pred = F.col("value") >= 50
    truth = F.col("event_type") == "purchase"
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    m = ev.agg(
        cnt(pred & truth).alias("tp"),
        cnt(pred & ~truth).alias("fp"),
        cnt(~pred & truth).alias("fn"),
        cnt(~pred & ~truth).alias("tn"),
    )
    return m.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 6).alias(
            "precision_"
        ),
        F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fn")), 6).alias(
            "recall_"
        ),
        F.round(
            (2 * F.col("tp")).cast("double")
            / (2 * F.col("tp") + F.col("fp") + F.col("fn")),
            6,
        ).alias("f1"),
    )


# --------------------------------------------------------------------------
# Brier score — mean squared error of the probability forecast
# p = value/100 against the purchase label.  Per-row (p−y)² is pure
# IEEE arithmetic; the sum rides exact integer micros (round(term·1e6))
# so partial-aggregation order is irrelevant.  One scan, one 1-row agg.
# --------------------------------------------------------------------------
@q(
    "q_brier",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round((value / 100.0 - CASE WHEN event_type = 'purchase'
                                                     THEN 1.0 ELSE 0.0 END)
                               * (value / 100.0 - CASE WHEN event_type = 'purchase'
                                                       THEN 1.0 ELSE 0.0 END)
                               * 1000000, 0) AS BIGINT)) AS BIGINT)
             / COUNT(*) / 1000000.0 AS brier
    FROM events
    """,
)
def q_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    y = F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0)
    err = F.col("value") / 100.0 - y
    term_u = F.round(err * err * 1000000, 0).cast("bigint")
    return ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum(term_u).cast("bigint") / F.count(F.lit(1)) / 1000000.0).alias("brier"),
    )


# --------------------------------------------------------------------------
# Log loss (cross-entropy) of the same forecast, probabilities clamped
# to [1e-6, 1−1e-6].  ln() is libm-backed → each row's term is rounded
# to integer micro-nats BEFORE the sum (the module's libm last-ulp
# rule), making the aggregate order-free and bitwise-portable.
# --------------------------------------------------------------------------
@q(
    "q_logloss",
    """
    WITH t AS (
        SELECT least(greatest(value / 100.0, 0.000001), 0.999999) AS p,
               CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
        FROM events
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(-(y * ln(p) + (1.0 - y) * ln(1.0 - p)) * 1000000, 0)
                         AS BIGINT)) AS BIGINT)
             / COUNT(*) / 1000000.0 AS logloss
    FROM t
    """,
)
def q_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    p = F.least(F.greatest(F.col("value") / 100.0, F.lit(0.000001)), F.lit(0.999999))
    y = F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0)
    term = -(y * F.log(p) + (F.lit(1.0) - y) * F.log(F.lit(1.0) - p))
    term_u = F.round(term * 1000000, 0).cast("bigint")
    return ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum(term_u).cast("bigint") / F.count(F.lit(1)) / 1000000.0).alias(
            "logloss"
        ),
    )


# --------------------------------------------------------------------------
# PR-AUC (average precision) — like q_auc, computed over the
# per-distinct-score histogram, never the raw rows: walking scores
# high→low, AP = Σ_s pos_s · precision(s) / n_pos where precision(s)
# = cum_pos(s)/cum_all(s).  The per-score term is forced double with
# ONE shared op sequence then frozen to integer micros, so the final
# sum is order-free.  Window runs over |distinct scores| rows.
# --------------------------------------------------------------------------
@q(
    "q_pr_auc",
    """
    WITH hist AS (
        SELECT CAST(round(value * 100, 0) AS BIGINT) AS score_c,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS pos,
               COUNT(*) AS cnt
        FROM events GROUP BY 1
    ), cum AS (
        SELECT pos,
               SUM(pos) OVER (ORDER BY score_c DESC
                              ROWS UNBOUNDED PRECEDING) AS cum_pos,
               SUM(cnt) OVER (ORDER BY score_c DESC
                              ROWS UNBOUNDED PRECEDING) AS cum_all
        FROM hist
    )
    SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(CASE WHEN pos > 0
                    THEN CAST(round(1000000.0 * pos * cum_pos / cum_all, 0) AS BIGINT)
                    ELSE 0 END) AS BIGINT)
             / CAST(SUM(pos) AS BIGINT) / 1000000.0 AS pr_auc
    FROM cum
    """,
)
def q_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hist = ev.groupBy(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("score_c")
    ).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
        F.count(F.lit(1)).alias("cnt"),
    )
    w = W.orderBy(F.col("score_c").desc()).rowsBetween(W.unboundedPreceding, 0)
    cum = hist.select(
        "pos",
        F.sum("pos").over(w).alias("cum_pos"),
        F.sum("cnt").over(w).alias("cum_all"),
    )
    term_u = F.round(
        F.lit(1000000.0) * F.col("pos") * F.col("cum_pos") / F.col("cum_all"), 0
    ).cast("bigint")
    return cum.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        (
            F.sum(F.when(F.col("pos") > 0, term_u).otherwise(0)).cast("bigint")
            / F.sum("pos").cast("bigint")
            / 1000000.0
        ).alias("pr_auc"),
    )


# --------------------------------------------------------------------------
# Decile lift / cumulative-gains table — rank rows by score, split
# into population deciles, report each decile's positive rate against
# the base rate.  Deciles are assigned on the score HISTOGRAM (each
# distinct score's decile = its cumulative position), so no global
# sort of raw rows ever happens — the same |distinct scores| window
# as q_auc/q_pr_auc, then a ≤10-group aggregate.  The integer gate
# (10·cum_before) div total is exact on both engines.
# --------------------------------------------------------------------------
@q(
    "q_lift",
    """
    WITH hist AS (
        SELECT CAST(round(value * 100, 0) AS BIGINT) AS score_c,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS pos,
               COUNT(*) AS cnt
        FROM events GROUP BY 1
    ), cum AS (
        SELECT pos, cnt,
               COALESCE(SUM(cnt) OVER (ORDER BY score_c DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
               SUM(cnt) OVER () AS total,
               SUM(pos) OVER () AS tot_pos
        FROM hist
    )
    SELECT CAST(least((10 * cum_before) // total, 9) AS BIGINT) AS decile,
           CAST(SUM(cnt) AS BIGINT) AS n,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           round(1.0 * SUM(pos) / SUM(cnt), 6) AS pos_rate,
           round((1.0 * SUM(pos) / SUM(cnt))
                 / (1.0 * MAX(tot_pos) / MAX(total)), 6) AS lift
    FROM cum GROUP BY 1
    """,
)
def q_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hist = ev.groupBy(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("score_c")
    ).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
        F.count(F.lit(1)).alias("cnt"),
    )
    wb = W.orderBy(F.col("score_c").desc()).rowsBetween(W.unboundedPreceding, -1)
    wall = W.orderBy(F.col("score_c").desc()).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = hist.select(
        "pos",
        "cnt",
        F.coalesce(F.sum("cnt").over(wb), F.lit(0)).alias("cum_before"),
        F.sum("cnt").over(wall).alias("total"),
        F.sum("pos").over(wall).alias("tot_pos"),
    )
    decile = F.least(F.expr("(10 * cum_before) div total"), F.lit(9)).cast("bigint")
    return cum.groupBy(decile.alias("decile")).agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.round(F.lit(1.0) * F.sum("pos") / F.sum("cnt"), 6).alias("pos_rate"),
        F.round(
            (F.lit(1.0) * F.sum("pos") / F.sum("cnt"))
            / (F.lit(1.0) * F.max("tot_pos") / F.max("total")),
            6,
        ).alias("lift"),
    )


# --------------------------------------------------------------------------
# Closed-form ridge regression — two features (hour-of-day, day-of-
# week) plus intercept against the value target, trained in ONE scan:
# the 3×3 normal-equation system is assembled from int64 power sums
# (map-side combined into a single row) and solved by Cramer's rule
# driver-free in the projection.  The distributed-training shape
# ml/seqreg.py uses for the M9 sequence model, here as an
# oracle-checkable query: MLlib's LinearRegression iterates to the
# same solution, this computes it exactly.  λ = 1000 cents² on the
# weight diagonal (intercept unpenalized).  All determinant
# arithmetic is double with ONE shared op tree, so the result is
# bitwise-portable.
# --------------------------------------------------------------------------
@q(
    "q_ridge_fit",
    """
    WITH sums AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS a,
               CAST(SUM((epoch_us(ts) // 3600000000) % 24) AS DOUBLE) AS b,
               CAST(SUM((epoch_us(ts) // 86400000000) % 7) AS DOUBLE) AS c,
               CAST(SUM(((epoch_us(ts) // 3600000000) % 24)
                        * ((epoch_us(ts) // 3600000000) % 24)) AS DOUBLE)
                 + 1000.0 AS d,
               CAST(SUM(((epoch_us(ts) // 3600000000) % 24)
                        * ((epoch_us(ts) // 86400000000) % 7)) AS DOUBLE) AS e,
               CAST(SUM(((epoch_us(ts) // 86400000000) % 7)
                        * ((epoch_us(ts) // 86400000000) % 7)) AS DOUBLE)
                 + 1000.0 AS f,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) AS r0,
               CAST(SUM(((epoch_us(ts) // 3600000000) % 24)
                        * CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) AS r1,
               CAST(SUM(((epoch_us(ts) // 86400000000) % 7)
                        * CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) AS r2,
               COUNT(*) AS n
        FROM events
    )
    SELECT CAST(n AS BIGINT) AS n,
           round((r0 * (d * f - e * e) - b * (r1 * f - e * r2)
                  + c * (r1 * e - d * r2))
                 / (a * (d * f - e * e) - b * (b * f - c * e)
                    + c * (b * e - c * d)) / 100.0, 6) AS intercept,
           round((a * (r1 * f - e * r2) - r0 * (b * f - e * c)
                  + c * (b * r2 - r1 * c))
                 / (a * (d * f - e * e) - b * (b * f - c * e)
                    + c * (b * e - c * d)) / 100.0, 6) AS w_hour,
           round((a * (d * r2 - r1 * e) - b * (b * r2 - r1 * c)
                  + r0 * (b * e - d * c))
                 / (a * (d * f - e * e) - b * (b * f - c * e)
                    + c * (b * e - c * d)) / 100.0, 6) AS w_dow
    FROM sums
    """,
)
def q_ridge_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    x1 = (F.expr("ts div 3600000000") % 24).cast("bigint")
    x2 = (F.expr("ts div 86400000000") % 7).cast("bigint")
    y = F.round(F.col("value") * 100, 0).cast("bigint")
    sums = ev.agg(
        F.count(F.lit(1)).cast("double").alias("a"),
        F.sum(x1).cast("double").alias("b"),
        F.sum(x2).cast("double").alias("c"),
        (F.sum(x1 * x1).cast("double") + 1000.0).alias("d"),
        F.sum(x1 * x2).cast("double").alias("e"),
        (F.sum(x2 * x2).cast("double") + 1000.0).alias("f"),
        F.sum(y).cast("double").alias("r0"),
        F.sum(x1 * y).cast("double").alias("r1"),
        F.sum(x2 * y).cast("double").alias("r2"),
        F.count(F.lit(1)).alias("n"),
    )
    a, b, c = F.col("a"), F.col("b"), F.col("c")
    d, e, f = F.col("d"), F.col("e"), F.col("f")
    r0, r1, r2 = F.col("r0"), F.col("r1"), F.col("r2")
    det = a * (d * f - e * e) - b * (b * f - c * e) + c * (b * e - c * d)
    det0 = r0 * (d * f - e * e) - b * (r1 * f - e * r2) + c * (r1 * e - d * r2)
    det1 = a * (r1 * f - e * r2) - r0 * (b * f - e * c) + c * (b * r2 - r1 * c)
    det2 = a * (d * r2 - r1 * e) - b * (b * r2 - r1 * c) + r0 * (b * e - d * c)
    return sums.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(det0 / det / 100.0, 6).alias("intercept"),
        F.round(det1 / det / 100.0, 6).alias("w_hour"),
        F.round(det2 / det / 100.0, 6).alias("w_dow"),
    )


def _logit_sql() -> str:
    """Unrolled 2-iteration IRLS oracle.  Each iteration: per-row
    weights w = p(1−p) and working response z from the previous beta,
    every weighted power sum frozen to integer micros (exp is libm —
    the per-row terms are rounded BEFORE summation), then the 3×3
    weighted normal equations solved by the same Cramer expressions
    as q_ridge_fit.  beta0 = (0,0,0) makes iteration 1's weights
    constant 0.25 — spelled literally so both engines share the op
    tree."""
    x1 = "((epoch_us(ts) // 3600000000) % 24)"
    x2 = "((epoch_us(ts) // 86400000000) % 7)"
    y = "(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END)"

    def sums(prev_b0: str, prev_b1: str, prev_b2: str, tag: str) -> str:
        eta = f"({prev_b0} + {prev_b1} * {x1} + {prev_b2} * {x2})"
        p = f"(1.0 / (1.0 + exp(-{eta})))"
        w = f"round({p} * (1.0 - {p}), 6)"
        wz = f"round({w} * ({eta} + ({y} - {p}) / ({w} + 0.000001)), 6)"
        um = lambda e: f"CAST(SUM(CAST(round(({e}) * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000.0"  # noqa: E731
        return f"""
    s{tag} AS (
        SELECT {um(w)} AS a, {um(f"{w} * {x1}")} AS b, {um(f"{w} * {x2}")} AS c,
               {um(f"{w} * {x1} * {x1}")} + 0.001 AS d,
               {um(f"{w} * {x1} * {x2}")} AS e,
               {um(f"{w} * {x2} * {x2}")} + 0.001 AS f,
               {um(wz)} AS r0, {um(f"{wz} * {x1}")} AS r1, {um(f"{wz} * {x2}")} AS r2,
               COUNT(*) AS n
        FROM events
    ), b{tag} AS (
        SELECT n,
               (r0 * (d * f - e * e) - b * (r1 * f - e * r2) + c * (r1 * e - d * r2))
                 / (a * (d * f - e * e) - b * (b * f - c * e) + c * (b * e - c * d))
                 AS b0,
               (a * (r1 * f - e * r2) - r0 * (b * f - e * c) + c * (b * r2 - r1 * c))
                 / (a * (d * f - e * e) - b * (b * f - c * e) + c * (b * e - c * d))
                 AS b1,
               (a * (d * r2 - r1 * e) - b * (b * r2 - r1 * c) + r0 * (b * e - d * c))
                 / (a * (d * f - e * e) - b * (b * f - c * e) + c * (b * e - c * d))
                 AS b2
        FROM s{tag}
    )"""

    return (
        "WITH"
        + sums("0.0", "0.0", "0.0", "1")
        + ","
        + sums("(SELECT b0 FROM b1)", "(SELECT b1 FROM b1)", "(SELECT b2 FROM b1)", "2")
        + """
    SELECT CAST(n AS BIGINT) AS n,
           round(b0, 6) AS intercept, round(b1, 6) AS w_hour, round(b2, 6) AS w_dow
    FROM b2
    """
    )


# --------------------------------------------------------------------------
# Logistic regression by 2 fixed IRLS iterations — the registry's
# iterative-trainer capstone: each Newton step is ONE scan producing
# integer-frozen weighted power sums, solved driver-free by the same
# Cramer projection as q_ridge_fit; iteration 2's per-row weights use
# iteration 1's beta (a 1-row broadcast).  Bitwise parity holds
# because the sums are exact and every downstream double op shares
# one tree.  MLlib's LogisticRegression runs the same math with
# treeAggregate; this is the transparent twin.  Ridge 0.001 on the
# weight diagonal; w+1e-6 guards the z division.
# --------------------------------------------------------------------------
@q("q_logit_irls", _logit_sql())
def q_logit_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    x1 = (F.expr("ts div 3600000000") % 24).cast("double")
    x2 = (F.expr("ts div 86400000000") % 7).cast("double")
    y = F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0)

    def um(e):
        return F.sum(F.round(e * 1000000, 0).cast("bigint")).cast("double") / 1000000.0

    def step(b0, b1, b2):
        eta = b0 + b1 * x1 + b2 * x2
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
        w = F.round(p * (F.lit(1.0) - p), 6)
        wz = F.round(w * (eta + (y - p) / (w + F.lit(0.000001))), 6)
        s = ev.agg(
            um(w).alias("a"),
            um(w * x1).alias("b"),
            um(w * x2).alias("c"),
            (um(w * x1 * x1) + 0.001).alias("d"),
            um(w * x1 * x2).alias("e"),
            (um(w * x2 * x2) + 0.001).alias("f"),
            um(wz).alias("r0"),
            um(wz * x1).alias("r1"),
            um(wz * x2).alias("r2"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        a_, b_, c_ = s["a"], s["b"], s["c"]
        d_, e_, f_ = s["d"], s["e"], s["f"]
        r0, r1, r2 = s["r0"], s["r1"], s["r2"]
        det = a_ * (d_ * f_ - e_ * e_) - b_ * (b_ * f_ - c_ * e_) + c_ * (
            b_ * e_ - c_ * d_
        )
        nb0 = (
            r0 * (d_ * f_ - e_ * e_)
            - b_ * (r1 * f_ - e_ * r2)
            + c_ * (r1 * e_ - d_ * r2)
        ) / det
        nb1 = (
            a_ * (r1 * f_ - e_ * r2)
            - r0 * (b_ * f_ - e_ * c_)
            + c_ * (b_ * r2 - r1 * c_)
        ) / det
        nb2 = (
            a_ * (d_ * r2 - r1 * e_)
            - b_ * (b_ * r2 - r1 * c_)
            + r0 * (b_ * e_ - d_ * c_)
        ) / det
        return s["n"], nb0, nb1, nb2

    # beta is 3 doubles — the legitimate 1-"row" driver fetch of every
    # fixed-iteration op in this repo (q_pagerank's n, q_bfs' seed).
    _, b0, b1, b2 = step(F.lit(0.0), F.lit(0.0), F.lit(0.0))
    n, b0, b1, b2 = step(F.lit(b0), F.lit(b1), F.lit(b2))

    # Half-AWAY-from-zero, matching DuckDB's round(); Python's builtin
    # round() is half-even and diverges on exact .5 micro boundaries
    # (same r6 convention as q_holt / q_pandas_scalar).
    def r6(x: float) -> float:
        import math

        return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6

    return ev.sparkSession.createDataFrame(
        [(n, r6(b0), r6(b1), r6(b2))],
        "n bigint, intercept double, w_hour double, w_dow double",
    )


# --------------------------------------------------------------------------
# Leakage-safe out-of-fold target encoding — the categorical encoder
# serious tabular pipelines use: category c's encoding for fold f is
# the mean target over every OTHER fold ((Σ_c − Σ_{c,f}) /
# (n_c − n_{c,f})), so a row never sees its own fold's labels.  The
# distributed shape is two tiny hash aggregations (category×fold,
# then category) and a dimension-sized join — the fact table is
# scanned ONCE and nothing row-sized shuffles twice.  The output IS
# the (category, fold) lookup table a pipeline broadcasts at apply
# time.  Exact integer cents; fold = the portable Knuth fold.
# --------------------------------------------------------------------------
@q(
    "q_target_encode",
    """
    WITH base AS (
        SELECT l_returnflag AS cat,
               (((CAST(l_orderkey AS BIGINT) * 2654435761) % 4294967296) % 5)
                 AS fold,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
        FROM lineitem
    ), per_fold AS (
        SELECT cat, fold, SUM(cents) AS s, COUNT(*) AS n
        FROM base GROUP BY cat, fold
    ), tot AS (
        SELECT cat, SUM(s) AS ts, SUM(n) AS tn FROM per_fold GROUP BY cat
    )
    SELECT p.cat AS l_returnflag, CAST(p.fold AS BIGINT) AS fold,
           CAST(p.n AS BIGINT) AS n_in_fold,
           CASE WHEN t.tn > p.n
                THEN CAST(t.ts - p.s AS DOUBLE) / (t.tn - p.n) / 100.0
           END AS oof_mean_price
    FROM per_fold p JOIN tot t ON p.cat = t.cat
    """,
)
def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.portable import knuth_fold_expr

    li = table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("cat"),
        knuth_fold_expr(F.col("l_orderkey"), 5).alias("fold"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("cents"),
    )
    per_fold = base.groupBy("cat", "fold").agg(
        F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n")
    )
    tot = per_fold.groupBy("cat").agg(
        F.sum("s").alias("ts"), F.sum("n").alias("tn")
    )
    return per_fold.join(F.broadcast(tot), "cat").select(
        F.col("cat").alias("l_returnflag"),
        F.col("fold").cast("bigint").alias("fold"),
        F.col("n").cast("bigint").alias("n_in_fold"),
        F.when(
            F.col("tn") > F.col("n"),
            (F.col("ts") - F.col("s")).cast("double")
            / (F.col("tn") - F.col("n"))
            / 100.0,
        ).alias("oof_mean_price"),
    )


# --------------------------------------------------------------------------
# Feature hashing (the "hashing trick") — the fixed-width categorical
# encoder for unbounded vocabularies at 100 TB: each (prefix:value)
# feature string hashes into one of 64 buckets with a ± sign bit, so
# the model dimension is constant regardless of cardinality and no
# vocabulary dictionary is ever built or shipped.  The audit output
# here is the bucket-collision report (distinct features per bucket,
# hit counts, signed sum): the check run before trusting a hash
# width.  One scan-side explode of 3 features/row + one 64-key agg.
# --------------------------------------------------------------------------
@q(
    "q_feature_hash",
    f"""
    WITH feats AS (
        SELECT unnest(['rf:' || l_returnflag, 'ls:' || l_linestatus,
                       'sk:' || CAST(l_suppkey % 7 AS VARCHAR)]) AS feat
        FROM lineitem
    ), hashed AS (
        SELECT feat, {portable_hash_sql_duckdb('feat')} AS h FROM feats
    )
    SELECT h % 64 AS bucket,
           CAST(COUNT(DISTINCT feat) AS BIGINT) AS n_features,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN ((h // 64) % 2) = 1 THEN 1 ELSE -1 END)
                AS BIGINT) AS signed_sum
    FROM hashed GROUP BY h % 64
    """,
)
def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.portable import portable_hash_sql_spark

    li = table(spark, sf_dir, "lineitem")
    feats = li.select(
        F.explode(
            F.array(
                F.concat(F.lit("rf:"), F.col("l_returnflag")),
                F.concat(F.lit("ls:"), F.col("l_linestatus")),
                F.concat(F.lit("sk:"), (F.col("l_suppkey") % 7).cast("string")),
            )
        ).alias("feat")
    )
    # Aggregate to the feature DICTIONARY first, hash second: the
    # per-character polynomial fold runs |vocab| times (13 rows here),
    # not |rows|×3 times — measured 2.54 s → scan-bound at sf0.1.
    # This is the scale shape too: hashing cost must not grow with
    # the fact table.
    feat_counts = feats.groupBy("feat").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    hashed = feat_counts.select(
        "feat", "cnt", F.expr(portable_hash_sql_spark("feat")).alias("h")
    )
    sign = F.when((F.expr("h div 64") % 2) == 1, 1).otherwise(-1)
    return hashed.groupBy((F.col("h") % 64).alias("bucket")).agg(
        F.countDistinct("feat").cast("bigint").alias("n_features"),
        F.sum("cnt").cast("bigint").alias("n_hits"),
        F.sum(sign * F.col("cnt")).cast("bigint").alias("signed_sum"),
    )


# --------------------------------------------------------------------------
# Temporal label preparation (churn) — the leakage-safe shape every
# supervised pipeline on event data needs: features from the history
# PREFIX (ts ≤ cutoff), the label from a disjoint FUTURE horizon
# (cutoff, cutoff + 4 d] — never the same rows.  The history scan
# goes through sources.io.events_asof, so the cutoff reaches the
# parquet footers and a 100 TB log reads only its prefix; the future
# slice reduces to a distinct-user flag (user-dimension-sized →
# broadcast).  churned = no activity inside the horizon.
# --------------------------------------------------------------------------
_LABEL_CUT_US = 1_705_881_600_000_000  # 2024-01-22T00:00Z
_LABEL_HORIZON_US = 345_600_000_000  # 4 days


@q(
    "q_label_horizon",
    f"""
    WITH hist AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purchases,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS spend_cents,
               CAST({_LABEL_CUT_US} - MAX(epoch_us(ts)) AS BIGINT)
                   AS recency_us
        FROM events WHERE epoch_us(ts) <= {_LABEL_CUT_US}
        GROUP BY user_id
    ), fut AS (
        SELECT DISTINCT user_id FROM events
        WHERE epoch_us(ts) > {_LABEL_CUT_US}
          AND epoch_us(ts) <= {_LABEL_CUT_US + _LABEL_HORIZON_US}
    )
    SELECT h.user_id, h.n_events, h.n_purchases, h.spend_cents, h.recency_us,
           CAST(CASE WHEN f.user_id IS NULL THEN 1 ELSE 0 END AS INT)
               AS churned
    FROM hist h LEFT JOIN fut f ON f.user_id = h.user_id
    """,
)
def q_label_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.io import events_asof

    vc = F.round(F.col("value") * 100, 0).cast("bigint")
    hist = (
        events_asof(spark, sf_dir, _LABEL_CUT_US)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("n_purchases"),
            F.sum(vc).cast("bigint").alias("spend_cents"),
            (F.lit(_LABEL_CUT_US) - F.max("ts")).cast("bigint").alias(
                "recency_us"
            ),
        )
    )
    fut = (
        table(spark, sf_dir, "events")
        .filter(
            (F.col("ts") > _LABEL_CUT_US)
            & (F.col("ts") <= _LABEL_CUT_US + _LABEL_HORIZON_US)
        )
        .select("user_id")
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    return hist.join(F.broadcast(fut), "user_id", "left").select(
        "user_id",
        "n_events",
        "n_purchases",
        "spend_cents",
        "recency_us",
        F.when(F.col("seen").isNull(), 1).otherwise(0).cast("int").alias(
            "churned"
        ),
    )


# --------------------------------------------------------------------------
# Per-class precision/recall/F1 + macro-F1 — the multi-class
# extension of q_confusion.  The deterministic pseudo-classifier maps
# value cents mod 5 onto the alphabetical class list (a synthetic
# stand-in; any scored table with (true, pred) columns drops in).
# One fact agg to the ≤|C|² (true, pred) grid; tp/fp/fn re-aggregate
# the grid per class; every rate is exact-int-over-exact-int, macro
# averaged once (the 1-row broadcast joined back onto the per-class
# rows).  Classes never predicted keep P=0 by the 0/0→0 convention
# (greatest(denom, 1) — both engines identically).
# --------------------------------------------------------------------------
_CLASSES = ("click", "error", "purchase", "signup", "view")
_PRED_SQL = (
    "CASE CAST(round(value * 100, 0) AS BIGINT) % 5 "
    + " ".join(f"WHEN {i} THEN '{c}'" for i, c in enumerate(_CLASSES))
    + " END"
)


@q(
    "q_macro_f1",
    f"""
    WITH grid AS (
        SELECT event_type AS t, {_PRED_SQL} AS p, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), per_class AS (
        SELECT c.cls,
               CAST(COALESCE(SUM(CASE WHEN g.t = c.cls AND g.p = c.cls
                                      THEN g.n END), 0) AS BIGINT) AS tp,
               CAST(COALESCE(SUM(CASE WHEN g.p = c.cls AND g.t <> c.cls
                                      THEN g.n END), 0) AS BIGINT) AS fp,
               CAST(COALESCE(SUM(CASE WHEN g.t = c.cls AND g.p <> c.cls
                                      THEN g.n END), 0) AS BIGINT) AS fn
        FROM (SELECT unnest({list(_CLASSES)}) AS cls) c
        LEFT JOIN grid g ON g.t = c.cls OR g.p = c.cls
        GROUP BY c.cls
    ), scored AS (
        SELECT cls, tp, fp, fn,
               round(CAST(tp AS DOUBLE) / greatest(tp + fp, 1), 6) AS precision_,
               round(CAST(tp AS DOUBLE) / greatest(tp + fn, 1), 6) AS recall_,
               round(CAST(2 * tp AS DOUBLE) / greatest(2 * tp + fp + fn, 1), 6)
                 AS f1
        FROM per_class
    )
    SELECT s.cls, s.tp, s.fp, s.fn, s.precision_, s.recall_, s.f1,
           m.macro_f1
    FROM scored s
    CROSS JOIN (SELECT round(AVG(f1), 6) AS macro_f1 FROM scored) m
    """,
)
def q_macro_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    pred = F.expr(_PRED_SQL)
    grid = ev.groupBy(
        F.col("event_type").alias("t"), pred.alias("p")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cls = spark.createDataFrame([(c,) for c in _CLASSES], "cls string")
    z = F.lit(0).cast("bigint")
    per_class = (
        F.broadcast(cls)
        .join(grid, (F.col("t") == F.col("cls")) | (F.col("p") == F.col("cls")), "left")
        .groupBy("cls")
        .agg(
            F.coalesce(
                F.sum(F.when((F.col("t") == F.col("cls")) & (F.col("p") == F.col("cls")), F.col("n"))), z
            ).cast("bigint").alias("tp"),
            F.coalesce(
                F.sum(F.when((F.col("p") == F.col("cls")) & (F.col("t") != F.col("cls")), F.col("n"))), z
            ).cast("bigint").alias("fp"),
            F.coalesce(
                F.sum(F.when((F.col("t") == F.col("cls")) & (F.col("p") != F.col("cls")), F.col("n"))), z
            ).cast("bigint").alias("fn"),
        )
    )
    g1 = lambda c: F.greatest(c, F.lit(1))  # noqa: E731
    scored = per_class.select(
        "cls",
        "tp",
        "fp",
        "fn",
        F.round(F.col("tp").cast("double") / g1(F.col("tp") + F.col("fp")), 6)
        .alias("precision_"),
        F.round(F.col("tp").cast("double") / g1(F.col("tp") + F.col("fn")), 6)
        .alias("recall_"),
        F.round(
            (2 * F.col("tp")).cast("double")
            / g1(2 * F.col("tp") + F.col("fp") + F.col("fn")),
            6,
        ).alias("f1"),
    )
    macro = scored.agg(F.round(F.avg("f1"), 6).alias("macro_f1"))
    return scored.crossJoin(F.broadcast(macro))  # 1-row macro average


# --------------------------------------------------------------------------
# Cohen's kappa — chance-corrected agreement between two binary
# raters (here the two deterministic labelers: value ≥ 50 and the
# user-parity variant; any pair of label columns drops in).  Exact:
# κ = (n·agree − Σ_k a_k·b_k) / (n² − Σ_k a_k·b_k) is an integer
# ratio — the marginal products ride DECIMAL(38,0) since n² breaches
# int64 past ~3e9 rows (the q_gini head-room rule).  One fact scan,
# one 1-row agg, closed form.
# --------------------------------------------------------------------------
@q(
    "q_cohens_kappa",
    """
    WITH m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN (value >= 50) = (user_id % 2 = 0)
                             THEN 1 ELSE 0 END) AS BIGINT) AS agree,
               CAST(SUM(CASE WHEN value >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS a_pos,
               CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS b_pos
        FROM events
    )
    SELECT n, agree, a_pos, b_pos,
           round(CAST(agree AS DOUBLE) / n, 6) AS po,
           round(CAST(CAST(a_pos AS DECIMAL(38, 0)) * b_pos
                      + CAST(n - a_pos AS DECIMAL(38, 0)) * (n - b_pos)
                      AS DOUBLE) / n / n, 6) AS pe,
           round(CAST(CAST(n AS DECIMAL(38, 0)) * agree
                      - CAST(a_pos AS DECIMAL(38, 0)) * b_pos
                      - CAST(n - a_pos AS DECIMAL(38, 0)) * (n - b_pos) AS DOUBLE)
                 / CAST(CAST(n AS DECIMAL(38, 0)) * n
                        - CAST(a_pos AS DECIMAL(38, 0)) * b_pos
                        - CAST(n - a_pos AS DECIMAL(38, 0)) * (n - b_pos)
                        AS DOUBLE), 6) AS kappa
    FROM m
    """,
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    a = F.col("value") >= 50
    b = F.col("user_id") % 2 == 0
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    m = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        cnt(a == b).alias("agree"),
        cnt(a).alias("a_pos"),
        cnt(b).alias("b_pos"),
    )
    dec = "decimal(38,0)"
    n, agree = F.col("n"), F.col("agree")
    ap, bp = F.col("a_pos"), F.col("b_pos")
    pe_num = ap.cast(dec) * bp + (n - ap).cast(dec) * (n - bp)
    k_num = n.cast(dec) * agree - pe_num
    k_den = n.cast(dec) * n - pe_num
    return m.select(
        "n",
        "agree",
        "a_pos",
        "b_pos",
        F.round(agree.cast("double") / n, 6).alias("po"),
        F.round(pe_num.cast("double") / n / n, 6).alias("pe"),
        F.round(k_num.cast("double") / k_den.cast("double"), 6).alias("kappa"),
    )

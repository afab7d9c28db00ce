"""Product-analytics suite over `events` — funnel conversion, cohort
retention, robust (MAD) outlier detection.  The classic engine
workloads a user of the reference's event tables runs daily; none
exist in the reference (pure trajectory ML), so these are engine
extensions under SURVEY §2.7b.

Scale design: every query is two-phase — a per-user (or per-group)
aggregation whose output is dimension-sized, then a join/agg over
that small side.  The fact table is scanned once and shuffles only
for its own keyed aggregation; no windows over the raw feed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.portable import (
    knuth_fold_sql,
    portable_hash_sql_duckdb,
    portable_hash_sql_spark,
)
from ..sources.io import table
from .registry import registrar

QUERIES: dict = {}
ORACLES: dict = {}
q = registrar(QUERIES, ORACLES)

DAY_US = 86400 * 10**6


# --------------------------------------------------------------------------
# Funnel conversion — click → purchase ordered-sequence detection:
# for each user, the first click, whether a purchase follows it, and
# the time-to-convert.  Exact integer micros throughout.  Two hash
# aggregations + one dimension-sized join; the classic funnel over
# N stages repeats the same shape stage by stage.
# --------------------------------------------------------------------------
@q(
    "q_funnel",
    """
    WITH first_click AS (
        SELECT user_id, MIN(epoch_us(ts)) AS c_ts
        FROM events WHERE event_type = 'click' GROUP BY user_id
    ), conv AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_ts
        FROM events e JOIN first_click f ON e.user_id = f.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= f.c_ts
        GROUP BY e.user_id
    )
    SELECT f.user_id, f.c_ts AS first_click_us,
           (p.p_ts IS NOT NULL) AS converted,
           p.p_ts - f.c_ts AS convert_us
    FROM first_click f LEFT JOIN conv p ON f.user_id = p.user_id
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    first_click = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(first_click), "user_id")
        .filter(F.col("ts") >= F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return first_click.join(F.broadcast(conv), "user_id", "left").select(
        "user_id",
        F.col("c_ts").alias("first_click_us"),
        F.col("p_ts").isNotNull().alias("converted"),
        (F.col("p_ts") - F.col("c_ts")).alias("convert_us"),
    )


# --------------------------------------------------------------------------
# Cohort retention — users grouped by their first active day; for
# each (cohort_day, day_offset) the count of distinct users active at
# that offset.  The cohort table is dimension-sized and broadcast
# back onto the fact scan; the distinct-count agg pre-dedups on
# (cohort, offset, user) so no Expand appears.
# --------------------------------------------------------------------------
@q(
    "q_retention",
    """
    WITH days AS (
        SELECT user_id, epoch_us(ts) // 86400000000 AS d FROM events
    ), cohort AS (
        SELECT user_id, MIN(d) AS d0 FROM days GROUP BY user_id
    ), active AS (
        SELECT DISTINCT a.user_id, c.d0, a.d - c.d0 AS offset_d
        FROM days a JOIN cohort c ON a.user_id = c.user_id
    )
    SELECT d0 AS cohort_day, offset_d, COUNT(*) AS n_users
    FROM active GROUP BY d0, offset_d
    """,
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    days = ev.select("user_id", F.expr(f"ts div {DAY_US}").alias("d"))
    cohort = days.groupBy("user_id").agg(F.min("d").alias("d0"))
    active = (
        days.join(F.broadcast(cohort), "user_id")
        .select("user_id", "d0", (F.col("d") - F.col("d0")).alias("offset_d"))
        .distinct()
    )
    return active.groupBy(
        F.col("d0").alias("cohort_day"), "offset_d"
    ).agg(F.count(F.lit(1)).alias("n_users"))


# --------------------------------------------------------------------------
# Rolling 7-day distinct active users (trailing DAU) — the sliding
# COUNT DISTINCT that window functions cannot express (Spark forbids
# DISTINCT in a window frame).  Scale shape: dedup the fact feed to
# (user, day) pairs FIRST (the one fact shuffle; output is
# users x active-days, dimension-sized), then a x7 scan-side explode
# of that small set and a plain distinct-count per target day.  The
# observed-day gate is a broadcast semi join against the tiny
# distinct-day list — no scalar subquery, no NL join.
# --------------------------------------------------------------------------
@q(
    "q_rolling_dau",
    """
    WITH days AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d
        FROM events
    ), contrib AS (
        SELECT u.user_id, u.d + t.off AS day
        FROM days u CROSS JOIN generate_series(0, 6) AS t(off)
    )
    SELECT c.day, COUNT(DISTINCT c.user_id) AS dau_7d
    FROM contrib c
    WHERE c.day IN (SELECT DISTINCT d FROM days)
    GROUP BY c.day
    """,
)
def q_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.expr(f"ts div {DAY_US}").alias("d")
    ).distinct()
    contrib = days.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.col("d") + F.lit(6))).alias("day"),
    )
    observed = days.select(F.col("d").alias("day")).distinct()
    return (
        contrib.join(F.broadcast(observed), "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("dau_7d"))
    )


# --------------------------------------------------------------------------
# Gaps and islands — maximal runs of consecutive active days per
# user (the streak/churn-gap primitive).  Classic d - row_number()
# grouping constant; one fact shuffle to dedup (user, day), then the
# window and the final agg reuse that same hash distribution.
# --------------------------------------------------------------------------
@q(
    "q_gaps_islands",
    """
    WITH days AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d
        FROM events
    ), isl AS (
        SELECT user_id, d,
               d - row_number() OVER (
                   PARTITION BY user_id ORDER BY d
               ) AS grp
        FROM days
    )
    SELECT user_id, MIN(d) AS start_day, MAX(d) AS end_day,
           COUNT(*) AS len_days
    FROM isl GROUP BY user_id, grp
    """,
)
def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.expr(f"ts div {DAY_US}").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn("grp", F.col("d") - F.row_number().over(w))
    return isl.groupBy("user_id", "grp").agg(
        F.min("d").alias("start_day"),
        F.max("d").alias("end_day"),
        F.count(F.lit(1)).alias("len_days"),
    ).select("user_id", "start_day", "end_day", "len_days")


# --------------------------------------------------------------------------
# MAD robust outliers — median absolute deviation per group, the
# robust complement to q_zscore_outliers (mean/std are pulled by the
# very outliers being hunted; medians are not).  Two exact-percentile
# aggregations (group median, then median of |x − med|), each a
# dimension-sized output broadcast back; flag = |x − med| > k·MAD.
# k = 10 (≈6.7σ under normality) so the flag set is small and stable;
# zero-MAD groups are excluded identically on both engines.  At
# 100 TB both medians swap to approx_percentile with the same shape.
# --------------------------------------------------------------------------
@q(
    "q_mad_outliers",
    """
    WITH med AS (
        SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med
        FROM events GROUP BY event_type
    ), dev AS (
        SELECT e.event_id, e.event_type, e.value, m.med,
               abs(e.value - m.med) AS adev
        FROM events e JOIN med m ON e.event_type = m.event_type
    ), mad AS (
        SELECT event_type, round(quantile_cont(adev, 0.5), 4) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, d.value, d.med, m.mad
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    WHERE m.mad > 0 AND d.adev > 10.0 * m.mad
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile("adev", F.lit(0.5)), 4).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter((F.col("mad") > 0) & (F.col("adev") > 10.0 * F.col("mad")))
        .select("event_id", "event_type", "value", "med", "mad")
    )


# --------------------------------------------------------------------------
# Last-touch attribution — the revenue-report composition of the
# as-of join: every purchase is attributed to the user's most recent
# click no older than 2 h, and revenue rolls up by the click's hour
# (NULL hour = unattributed).  Reuses operators/asof.py (one
# union-sort shuffle keyed by user, no per-row probe), then one
# dimension-sized hash agg; revenue sums exact int64 cents so the
# double surfaces only in the final division.  Oracle: DuckDB ASOF
# LEFT JOIN with the same staleness CASE.
# --------------------------------------------------------------------------
ATTR_TOL_US = 2 * 3600 * 1_000_000
HOUR_US = 3600 * 1_000_000


@q(
    "q_attribution",
    f"""
    WITH r0 AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts)
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click'
    ), r AS (
        SELECT user_id, ts_us, event_id FROM r0 WHERE rn = 1
    ), l AS (
        SELECT user_id, epoch_us(ts) AS ts_us, value
        FROM events WHERE event_type = 'purchase'
    ), m AS (
        SELECT l.value, l.ts_us,
               CASE WHEN l.ts_us - r.ts_us > {ATTR_TOL_US} THEN NULL
                    ELSE r.ts_us END AS click_ts_us
        FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
    )
    SELECT click_ts_us // {HOUR_US} AS click_hour,
           COUNT(*) AS n_purchases,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) / 100.0
             AS revenue
    FROM m GROUP BY click_ts_us // {HOUR_US}
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value", "event_type"
    )
    left = ev.filter(F.col("event_type") == "purchase").drop("event_type")
    right = ev.filter(F.col("event_type") == "click").drop(
        "event_type", "value"
    )
    j = asof_join(
        left,
        right,
        on="ts",
        by=["user_id"],
        right_cols=["event_id"],
        tiebreak="event_id",
        dedup_right=True,
        tolerance_us=ATTR_TOL_US,
    )
    cents_sum = F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).cast("bigint")
    return (
        j.select(
            F.expr(f"ts_asof div {HOUR_US}").alias("click_hour"), "value"
        )
        .groupBy("click_hour")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            (cents_sum / 100.0).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Shuffle-skew audit — the observability query behind every
# partitioning decision in this engine: fold the shuffle key through
# the portable hash into 32 synthetic "reducers" and report each
# bucket's row/key load plus its imbalance vs the perfect split.
# At 100 TB this is the first diagnostic run before choosing salting
# (operators/skew.py) or AQE skew-join thresholds; the hash is the
# oracle-portable stand-in for Spark's internal HashPartitioner.
# Two hash aggs (map-side combined) — the fact table is scanned once.
# --------------------------------------------------------------------------
N_AUDIT_BUCKETS = 32


@q(
    "q_skew_audit",
    f"""
    WITH b AS (
        SELECT (((CAST(user_id AS BIGINT) * 2654435761) % 4294967296)
                % {N_AUDIT_BUCKETS}) AS bucket,
               user_id
        FROM events
    ), per AS (
        SELECT bucket, COUNT(*) AS n_rows, COUNT(DISTINCT user_id) AS n_keys
        FROM b GROUP BY bucket
    )
    SELECT bucket, n_rows, n_keys,
           round(CAST(n_rows * {N_AUDIT_BUCKETS} AS DOUBLE)
                 / CAST(SUM(n_rows) OVER () AS BIGINT), 6) AS load_ratio
    FROM per
    """,
)
def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.portable import knuth_fold_expr

    ev = table(spark, sf_dir, "events")
    b = ev.select(
        knuth_fold_expr(F.col("user_id"), N_AUDIT_BUCKETS).alias("bucket"),
        "user_id",
    )
    per = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_keys"),
    )
    # grand total via an empty-frame window over the (≤32-row) bucket
    # table — no scalar join, no second scan of the fact side.
    total = F.sum("n_rows").over(Window.partitionBy()).cast("bigint")
    return per.select(
        "bucket",
        "n_rows",
        "n_keys",
        F.round(
            (F.col("n_rows") * N_AUDIT_BUCKETS).cast("double") / total, 6
        ).alias("load_ratio"),
    )


# --------------------------------------------------------------------------
# Contingency table with chi-square contributions — event_type ×
# day-part cross-tab, expected counts from the marginals, and each
# cell's (O−E)²/E term.  Marginals are two tiny re-aggregations of
# the cell table (never a second fact scan) broadcast back onto the
# ≤|types|×4 cells; the only fact-scale work is the one cell
# aggregation with map-side combine.  Expected counts are exact-int
# ratios evaluated in one deterministic double expression; the chi²
# term is rounded once at the end.
# --------------------------------------------------------------------------
@q(
    "q_crosstab",
    """
    WITH cells AS (
        SELECT event_type,
               (epoch_us(ts) // 3600000000 % 24) // 6 AS day_part,
               COUNT(*) AS observed
        FROM events GROUP BY 1, 2
    ), row_tot AS (
        SELECT event_type, SUM(observed) AS r FROM cells GROUP BY 1
    ), col_tot AS (
        SELECT day_part, SUM(observed) AS c FROM cells GROUP BY 1
    ), tot AS (
        SELECT SUM(observed) AS n FROM cells
    )
    SELECT cells.event_type, cells.day_part, cells.observed,
           round(1.0 * r * c / n, 6) AS expected,
           round((observed - 1.0 * r * c / n) * (observed - 1.0 * r * c / n)
                 / (1.0 * r * c / n), 6) AS chi2_term
    FROM cells
    JOIN row_tot ON cells.event_type = row_tot.event_type
    JOIN col_tot ON cells.day_part = col_tot.day_part
    CROSS JOIN tot
    """,
)
def q_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            ((F.col("ts") / 3600000000 % 24).cast("bigint") / 6)
            .cast("bigint")
            .alias("day_part"),
        )
        .groupBy("event_type", "day_part")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    row_tot = cells.groupBy("event_type").agg(F.sum("observed").alias("r"))
    col_tot = cells.groupBy("day_part").agg(F.sum("observed").alias("c"))
    tot = cells.agg(F.sum("observed").alias("n"))
    e = 1.0 * F.col("r") * F.col("c") / F.col("n")
    return (
        cells.join(F.broadcast(row_tot), "event_type")
        .join(F.broadcast(col_tot), "day_part")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "day_part",
            "observed",
            F.round(e, 6).alias("expected"),
            F.round(
                (F.col("observed") - e) * (F.col("observed") - e) / e, 6
            ).alias("chi2_term"),
        )
    )


# --------------------------------------------------------------------------
# Two-proportion A/B test — deterministic hash split (user_id parity
# as the variant), conversion = user purchased at least once.  Per
# variant the fact table reduces to (n_users, n_converted) — a
# two-level aggregation (per-user flag, then per-variant counts) —
# and the z-statistic is a single deterministic double expression on
# the 2-row result.  The classic experimentation readout at any
# scale: all fact-side work is one user-keyed aggregation.
# --------------------------------------------------------------------------
@q(
    "q_ab_test",
    """
    WITH per_user AS (
        SELECT user_id % 2 AS variant,
               MAX(CASE WHEN event_type = 'purchase' AND value > 90
                        THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY user_id
    ), v AS (
        SELECT variant, COUNT(*) AS n_users,
               CAST(SUM(converted) AS BIGINT) AS n_converted
        FROM per_user GROUP BY variant
    ), wide AS (
        SELECT MAX(CASE WHEN variant = 0 THEN n_users END) AS n0,
               MAX(CASE WHEN variant = 0 THEN n_converted END) AS c0,
               MAX(CASE WHEN variant = 1 THEN n_users END) AS n1,
               MAX(CASE WHEN variant = 1 THEN n_converted END) AS c1
        FROM v
    )
    SELECT n0, c0, n1, c1,
           round(1.0 * c0 / n0, 6) AS rate0,
           round(1.0 * c1 / n1, 6) AS rate1,
           round((1.0 * c1 / n1 - 1.0 * c0 / n0)
                 / sqrt((1.0 * (c0 + c1) / (n0 + n1))
                        * (1 - 1.0 * (c0 + c1) / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1)), 6) AS z_stat
    FROM wide
    """,
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    per_user = (
        ev.groupBy((F.col("user_id") % 2).alias("variant"), "user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("value") > 90),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
    )
    v = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    wide = v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("n_converted"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("n_converted"))).alias("c1"),
    )
    p0 = 1.0 * F.col("c0") / F.col("n0")
    p1 = 1.0 * F.col("c1") / F.col("n1")
    pp = 1.0 * (F.col("c0") + F.col("c1")) / (F.col("n0") + F.col("n1"))
    return wide.select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.round(p0, 6).alias("rate0"),
        F.round(p1, 6).alias("rate1"),
        F.round(
            (p1 - p0)
            / F.sqrt(
                pp * (1 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
            ),
            6,
        ).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Markov transition matrix — P(next event_type | event_type) per the
# user's time-ordered feed: the path-analysis aggregate behind "what
# do users do after X".  One lead() on the shared user-keyed exchange
# collapses the fact table to |types|² transition counts; the row
# marginals re-aggregate from those counts (never a second fact
# scan) and broadcast back for the exact-int probability.
# --------------------------------------------------------------------------
@q(
    "q_markov_transition",
    """
    WITH seq AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS to_type
        FROM events
    ), trans AS (
        SELECT from_type, to_type, COUNT(*) AS n
        FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
    ), marg AS (
        SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot FROM trans GROUP BY 1
    )
    SELECT t.from_type, t.to_type, CAST(t.n AS BIGINT) AS n,
           round(CAST(t.n AS DOUBLE) / m.tot, 6) AS p
    FROM trans t JOIN marg m ON t.from_type = m.from_type
    """,
)
def q_markov_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    trans = (
        seq.filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    marg = trans.groupBy("from_type").agg(
        F.sum("n").cast("bigint").alias("tot")
    )
    return trans.join(F.broadcast(marg), "from_type").select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n").cast("double") / F.col("tot"), 6).alias("p"),
    )


# --------------------------------------------------------------------------
# Week-over-week growth — weekly revenue per event_type with the
# period-over-period percent change, the standard reporting query.
# The fact table folds into a |types|×|weeks| aggregate in one
# map-side-combined pass; lag() runs over that dimension-sized table
# only.  Revenue stays exact int64 cents into the lag, so the pct
# change is one deterministic double expression.
# --------------------------------------------------------------------------
@q(
    "q_wow_growth",
    """
    WITH wk AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS week,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS rev_c
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, week, rev_c / 100.0 AS revenue,
           round((rev_c - lag(rev_c) OVER w) * 100.0 / lag(rev_c) OVER w, 6)
             AS wow_pct
    FROM wk WINDOW w AS (PARTITION BY event_type ORDER BY week)
    """,
)
def q_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    week_us = 7 * 86400 * 10**6
    ev = table(spark, sf_dir, "events")
    wk = ev.groupBy(
        "event_type", F.expr(f"ts div {week_us}").cast("bigint").alias("week")
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("rev_c"))
    w = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("rev_c").over(w)
    return wk.select(
        "event_type",
        "week",
        (F.col("rev_c") / 100.0).alias("revenue"),
        F.round((F.col("rev_c") - prev) * 100.0 / prev, 6).alias("wow_pct"),
    )


# --------------------------------------------------------------------------
# Welch's unequal-variance t-test — does `value` differ between the
# two deterministic hash variants?  The continuous-outcome companion
# of q_ab_test's proportion z-test.  Everything aggregates as exact
# integer cents power sums (Σx² in DECIMAL(38,0)/int128 — the power-
# sum head-room rule; one fact scan, 2 groups); mean/variance/t/df
# are closed forms evaluated with ONE shared op sequence then rounded
# to 6 — no raw-double summation anywhere.
# --------------------------------------------------------------------------
@q(
    "q_welch_ttest",
    """
    WITH v AS (
        SELECT user_id % 2 AS variant, COUNT(*) AS n,
               SUM(CAST(round(value * 100, 0) AS BIGINT)) AS s,
               SUM(CAST(round(value * 100, 0) AS BIGINT)
                   * CAST(round(value * 100, 0) AS BIGINT)) AS ss
        FROM events GROUP BY 1
    ), wide AS (
        SELECT MAX(CASE WHEN variant = 0 THEN n END) AS n0,
               MAX(CASE WHEN variant = 0 THEN s END) AS s0,
               MAX(CASE WHEN variant = 0 THEN ss END) AS ss0,
               MAX(CASE WHEN variant = 1 THEN n END) AS n1,
               MAX(CASE WHEN variant = 1 THEN s END) AS s1,
               MAX(CASE WHEN variant = 1 THEN ss END) AS ss1
        FROM v
    )
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           round(1.0 * s0 / n0 / 100.0, 6) AS mean0,
           round(1.0 * s1 / n1 / 100.0, 6) AS mean1,
           round((1.0 * s1 / n1 - 1.0 * s0 / n0)
                 / sqrt(CAST(n0 * ss0 - s0 * s0 AS DOUBLE) / n0 / (n0 - 1) / n0
                        + CAST(n1 * ss1 - s1 * s1 AS DOUBLE) / n1 / (n1 - 1) / n1),
                 6) AS t_stat,
           round((CAST(n0 * ss0 - s0 * s0 AS DOUBLE) / n0 / (n0 - 1) / n0
                  + CAST(n1 * ss1 - s1 * s1 AS DOUBLE) / n1 / (n1 - 1) / n1)
                 * (CAST(n0 * ss0 - s0 * s0 AS DOUBLE) / n0 / (n0 - 1) / n0
                    + CAST(n1 * ss1 - s1 * s1 AS DOUBLE) / n1 / (n1 - 1) / n1)
                 / (CAST(n0 * ss0 - s0 * s0 AS DOUBLE) / n0 / (n0 - 1) / n0
                    * (CAST(n0 * ss0 - s0 * s0 AS DOUBLE) / n0 / (n0 - 1) / n0)
                    / (n0 - 1)
                    + CAST(n1 * ss1 - s1 * s1 AS DOUBLE) / n1 / (n1 - 1) / n1
                      * (CAST(n1 * ss1 - s1 * s1 AS DOUBLE) / n1 / (n1 - 1) / n1)
                      / (n1 - 1)),
                 6) AS df
    FROM wide
    WHERE n0 > 1 AND n1 > 1
      AND (n0 * ss0 - s0 * s0 > 0 OR n1 * ss1 - s1 * s1 > 0)
    """,
)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100, 0).cast("bigint")
    v = ev.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vc).alias("s"),
        F.sum((vc * vc).cast("decimal(38,0)")).alias("ss"),
    )
    wide = v.agg(
        *[
            F.max(F.when(F.col("variant") == i, F.col(c))).alias(f"{c}{i}")
            for i in (0, 1)
            for c in ("n", "s", "ss")
        ]
    )
    n0, s0, ss0 = F.col("n0"), F.col("s0"), F.col("ss0")
    n1, s1, ss1 = F.col("n1"), F.col("s1"), F.col("ss1")
    # per-variant squared standard error, cents²: vi = s²/(n-1)/n.
    # The n·Σx² − (Σx)² numerator is formed EXACTLY in decimal/int128
    # then converted to double ONCE (term-wise double subtraction
    # cancels catastrophically when variance is tiny vs the mean —
    # the q_group_corr failure-mode-divergence lesson), and the n³
    # denominator stays double (it breaches int64 at 64×).
    s0d, s1d = s0.cast("decimal(38,0)"), s1.cast("decimal(38,0)")
    q0, q1 = n0 * ss0 - s0d * s0d, n1 * ss1 - s1d * s1d
    v0 = q0.cast("double") / n0 / (n0 - 1) / n0
    v1 = q1.cast("double") / n1 / (n1 - 1) / n1
    # n=1 variants make (n-1)=0 — DuckDB and Spark disagree on the
    # zero-denominator result, so exclude identically on both sides;
    # both-variances-zero makes t/df 0/0 — exclude identically too.
    return wide.filter((n0 > 1) & (n1 > 1) & ((q0 > 0) | (q1 > 0))).select(
        n0.cast("bigint").alias("n0"),
        n1.cast("bigint").alias("n1"),
        F.round(F.lit(1.0) * s0 / n0 / 100.0, 6).alias("mean0"),
        F.round(F.lit(1.0) * s1 / n1 / 100.0, 6).alias("mean1"),
        F.round(
            (F.lit(1.0) * s1 / n1 - F.lit(1.0) * s0 / n0) / F.sqrt(v0 + v1), 6
        ).alias("t_stat"),
        F.round(
            (v0 + v1) * (v0 + v1) / (v0 * v0 / (n0 - 1) + v1 * v1 / (n1 - 1)), 6
        ).alias("df"),
    )


# --------------------------------------------------------------------------
# Grouped OLS — per event type, regress value on hour-of-day via the
# closed-form normal equations over exact power sums (n, Σx, Σy, Σxy,
# Σx², Σy²): ONE fact scan, map-side combined into |event_type|
# groups.  Power sums accumulate in DECIMAL(38,0)/int128 and the
# n·Σxy − ΣxΣy normal-equation terms are formed exactly before ONE
# double conversion each (int64 saturates at 64× row counts —
# SCALING.md "Integer head-room").  The distributed-regression shape
# MLlib's LinearRegression iterates for, done exactly in one pass.
# --------------------------------------------------------------------------
@q(
    "q_ols_by_group",
    """
    WITH sums AS (
        SELECT event_type, COUNT(*) AS n,
               SUM((epoch_us(ts) // 3600000000) % 24) AS sx,
               SUM(((epoch_us(ts) // 3600000000) % 24)
                   * ((epoch_us(ts) // 3600000000) % 24)) AS sxx,
               SUM(CAST(round(value * 100, 0) AS BIGINT)) AS sy,
               SUM(((epoch_us(ts) // 3600000000) % 24)
                   * CAST(round(value * 100, 0) AS BIGINT)) AS sxy,
               SUM(CAST(round(value * 100, 0) AS BIGINT)
                   * CAST(round(value * 100, 0) AS BIGINT)) AS syy
        FROM events GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0, 6) AS slope,
           round((1.0 * sy / n
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE)
                    * (1.0 * sx / n)) / 100.0, 6) AS intercept,
           round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
    FROM sums
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
)
def q_ols_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    x = (F.expr("ts div 3600000000") % 24).cast("bigint")
    y = F.round(F.col("value") * 100, 0).cast("bigint")
    # POWER sums ride DECIMAL(38,0) (DuckDB's SUM(BIGINT) is already
    # int128) and the n·Σxy − ΣxΣy terms are formed EXACTLY before the
    # single double conversion: at 64× row counts n·Σxy breaches int64
    # (SCALING.md "Integer head-room").
    sums = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum((x * x).cast("decimal(38,0)")).alias("sxx"),
        F.sum(y).alias("sy"),
        F.sum((x * y).cast("decimal(38,0)")).alias("sxy"),
        F.sum((y * y).cast("decimal(38,0)")).alias("syy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("decimal(38,0)")
    sy = F.col("sy").cast("decimal(38,0)")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    den = (n * F.col("sxx") - sx * sx).cast("double")
    deny = (n * F.col("syy") - sy * sy).cast("double")
    slope_raw = num / den
    # degenerate groups (constant x or constant y) diverge across
    # engines on the zero-denominator division — exclude identically
    # on both sides (the q_zscore_outliers rule).
    return sums.filter((den > 0) & (deny > 0)).select(
        "event_type",
        n.cast("bigint").alias("n"),
        F.round(slope_raw / 100.0, 6).alias("slope"),
        F.round(
            (F.lit(1.0) * F.col("sy") / n - slope_raw * (F.lit(1.0) * F.col("sx") / n))
            / 100.0,
            6,
        ).alias("intercept"),
        F.round(num * num / (den * deny), 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# Lag-1 autocorrelation per user — the serial-dependence diagnostic
# over each user's time-ordered value series.  One user-keyed window
# (the suite's shared trajectory exchange) pairs each value with its
# predecessor; Pearson r then comes from exact cents power sums per
# user (DECIMAL(38,0)/int128, exact closed-form terms, one double
# conversion) — the same exact-corr recipe as q_group_corr, here over
# (prev, cur) pairs.  Users with < 10 pairs or a constant side are
# excluded identically on both engines.
# --------------------------------------------------------------------------
@q(
    "q_autocorr",
    """
    WITH pairs AS (
        SELECT user_id,
               LAG(CAST(round(value * 100, 0) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS x,
               CAST(round(value * 100, 0) AS BIGINT) AS y
        FROM events
    ), sums AS (
        SELECT user_id, COUNT(*) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM pairs WHERE x IS NOT NULL GROUP BY 1
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS acf1
    FROM sums
    WHERE n >= 10 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100, 0).cast("bigint")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        "user_id", F.lag(vc).over(w).alias("x"), vc.alias("y")
    ).filter(F.col("x").isNotNull())
    # power sums and the n·Σxy − ΣxΣy terms ride DECIMAL(38,0)/int128
    # (per-user series reach 1e6+ events at corpus scale, past the
    # int64 power-sum bound — SCALING.md "Integer head-room")
    sums = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
    )
    n = F.col("n")
    sxd = F.col("sx").cast("decimal(38,0)")
    syd = F.col("sy").cast("decimal(38,0)")
    num = n * F.col("sxy") - sxd * syd
    dx = n * F.col("sxx") - sxd * sxd
    dy = n * F.col("syy") - syd * syd
    return (
        sums.filter((n >= 10) & (dx > 0) & (dy > 0))
        .select(
            "user_id",
            n.cast("bigint").alias("n_pairs"),
            F.round(
                num.cast("double")
                / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double"))),
                6,
            ).alias("acf1"),
        )
    )


# --------------------------------------------------------------------------
# CUSUM drift alarms per user — the sequential change-point detector
# S_t = max(0, S_{t-1} + (x_t − target)).  The recursion LOOKS
# stateful but has the classic prefix identity S_t = cs_t −
# min(0, min_{j≤t} cs_j) over the plain cumulative sum, so it runs as
# two stock window functions on ONE user-keyed sort — no iterative
# operator, no UDF.  All arithmetic is int64 cents; alarm rows
# (S > 200.00) surface with their running statistic.
# --------------------------------------------------------------------------
@q(
    "q_cusum",
    """
    WITH d AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us,
               CAST(round(value * 100, 0) AS BIGINT) - 5000 AS dev_c
        FROM events
    ), cs AS (
        SELECT event_id, user_id, ts_us,
               SUM(dev_c) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                ROWS UNBOUNDED PRECEDING) AS cs_c
        FROM d
    ), s AS (
        SELECT event_id, user_id,
               cs_c - least(0, MIN(cs_c) OVER (PARTITION BY user_id
                                               ORDER BY ts_us, event_id
                                               ROWS UNBOUNDED PRECEDING)) AS s_c
        FROM cs
    )
    SELECT event_id, user_id, s_c / 100.0 AS s_stat
    FROM s WHERE s_c > 20000
    """,
)
def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    dev_c = F.round(F.col("value") * 100, 0).cast("bigint") - 5000
    wcs = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cs = ev.select(
        "event_id", "user_id", "ts", F.sum(dev_c).over(wcs).alias("cs_c")
    )
    wmin = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = cs.select(
        "event_id",
        "user_id",
        (F.col("cs_c") - F.least(F.lit(0), F.min("cs_c").over(wmin))).alias("s_c"),
    )
    return s.filter(F.col("s_c") > 20000).select(
        "event_id", "user_id", (F.col("s_c") / 100.0).alias("s_stat")
    )


# --------------------------------------------------------------------------
# Behavioral entropy per user — Shannon entropy of each user's
# event-type distribution (low entropy ⇒ single-purpose bots, high ⇒
# diverse organic use; the per-group face of q_char_entropy).  The
# fact scan collapses to (user, type) counts (map-side combined);
# the per-user total rides a window over that tiny table.  Each ln
# term is rounded to integer micro-nats BEFORE the per-user sum —
# the libm rule — so the aggregate is order-free.
# --------------------------------------------------------------------------
@q(
    "q_group_entropy",
    """
    WITH counts AS (
        SELECT user_id, event_type, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ), tot AS (
        SELECT user_id, event_type, c,
               SUM(c) OVER (PARTITION BY user_id) AS n
        FROM counts
    )
    SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(-(1.0 * c / n) * ln(1.0 * c / n) * 1000000, 0)
                         AS BIGINT)) AS BIGINT) / 1000000.0 AS entropy_nats
    FROM tot GROUP BY user_id
    """,
)
def q_group_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.withColumn(
        "n", F.sum("c").over(Window.partitionBy("user_id"))
    )
    p = F.lit(1.0) * F.col("c") / F.col("n")
    term_u = F.round(-p * F.log(p) * 1000000, 0).cast("bigint")
    return tot.groupBy("user_id").agg(
        F.max("n").cast("bigint").alias("n_events"),
        (F.sum(term_u).cast("bigint") / 1000000.0).alias("entropy_nats"),
    )


# --------------------------------------------------------------------------
# Mutual information between the A/B variant and conversion — the
# information-theoretic companion of q_ab_test's z-test and
# q_crosstab's chi-square: how many nats the variant actually tells
# you about converting.  The 2×2 contingency cells pivot wide into
# ONE row, so the four ln terms evaluate in a single projection with
# a fixed op order — deterministic without per-term rounding.
# --------------------------------------------------------------------------
@q(
    "q_mutual_info",
    """
    WITH per_user AS (
        SELECT user_id % 2 AS variant,
               MAX(CASE WHEN event_type = 'purchase' AND value > 90
                        THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY user_id
    ), cells AS (
        SELECT variant, converted, COUNT(*) AS c
        FROM per_user GROUP BY 1, 2
    ), wide AS (
        SELECT MAX(CASE WHEN variant = 0 AND converted = 0 THEN c ELSE 0 END) AS c00,
               MAX(CASE WHEN variant = 0 AND converted = 1 THEN c ELSE 0 END) AS c01,
               MAX(CASE WHEN variant = 1 AND converted = 0 THEN c ELSE 0 END) AS c10,
               MAX(CASE WHEN variant = 1 AND converted = 1 THEN c ELSE 0 END) AS c11
        FROM cells
    )
    SELECT CAST(c00 + c01 + c10 + c11 AS BIGINT) AS n,
           round(
             (CASE WHEN c00 > 0 THEN (1.0 * c00 / (c00 + c01 + c10 + c11))
                  * ln((1.0 * c00 * (c00 + c01 + c10 + c11))
                       / ((c00 + c01) * (c00 + c10))) ELSE 0 END)
           + (CASE WHEN c01 > 0 THEN (1.0 * c01 / (c00 + c01 + c10 + c11))
                  * ln((1.0 * c01 * (c00 + c01 + c10 + c11))
                       / ((c00 + c01) * (c01 + c11))) ELSE 0 END)
           + (CASE WHEN c10 > 0 THEN (1.0 * c10 / (c00 + c01 + c10 + c11))
                  * ln((1.0 * c10 * (c00 + c01 + c10 + c11))
                       / ((c10 + c11) * (c00 + c10))) ELSE 0 END)
           + (CASE WHEN c11 > 0 THEN (1.0 * c11 / (c00 + c01 + c10 + c11))
                  * ln((1.0 * c11 * (c00 + c01 + c10 + c11))
                       / ((c10 + c11) * (c01 + c11))) ELSE 0 END), 6)
             AS mi_nats
    FROM wide
    """,
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy((F.col("user_id") % 2).alias("variant"), "user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 90), 1
            ).otherwise(0)
        ).alias("converted")
    )
    cells = per_user.groupBy("variant", "converted").agg(
        F.count(F.lit(1)).alias("c")
    )
    wide = cells.agg(
        *[
            F.max(
                F.when(
                    (F.col("variant") == v) & (F.col("converted") == k), F.col("c")
                ).otherwise(0)
            ).alias(f"c{v}{k}")
            for v in (0, 1)
            for k in (0, 1)
        ]
    )
    c00, c01 = F.col("c00"), F.col("c01")
    c10, c11 = F.col("c10"), F.col("c11")
    n = c00 + c01 + c10 + c11
    r0, r1 = c00 + c01, c10 + c11
    k0, k1 = c00 + c10, c01 + c11
    def term(c, r, k):
        return F.when(
            c > 0, (F.lit(1.0) * c / n) * F.log((F.lit(1.0) * c * n) / (r * k))
        ).otherwise(0.0)
    return wide.select(
        n.cast("bigint").alias("n"),
        F.round(
            term(c00, r0, k0) + term(c01, r0, k1)
            + term(c10, r1, k0) + term(c11, r1, k1),
            6,
        ).alias("mi_nats"),
    )


# --------------------------------------------------------------------------
# RFM segmentation — recency / frequency / monetary quintile scores
# per user, the classic CRM partitioning.  Round 6 removed the three
# single-partition NTILE windows (the round-5 verdict's ONE
# conditional allowlist entry): the scores ride
# operators/ranking.exact_global_rank — a range-repartitioned
# positional row numbering whose only unpartitioned window is the
# partition-count-sized offset table — and ntile_from_rank, the
# exact all-integer NTILE(5) reconstruction.  The DuckDB oracle still
# says NTILE(5): the rewrite is plan-only, and the unchanged oracle
# is the regression proof.  The three keys are stacked into
# (user_id, m, k) rows and ranked ONCE by (m, k DESC, user_id): each
# metric has exactly n rows, so a metric-m row's rank within its own
# metric is its global rank minus m·n.  Scale: user-grain relation
# never single-partitions; one range shuffle (3n rows) + one
# user-keyed pivot, all user-grain; the 1-row user count broadcasts
# (allowlisted scalar).
# --------------------------------------------------------------------------
@q(
    "q_rfm",
    """
    WITH per_user AS (
        SELECT user_id,
               MAX(epoch_us(ts)) AS last_ts,
               COUNT(*) AS freq,
               SUM(CAST(round(value * 100, 0) AS BIGINT)) AS monetary_c
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(NTILE(5) OVER (ORDER BY last_ts DESC, user_id) AS BIGINT) AS r_score,
           CAST(NTILE(5) OVER (ORDER BY freq DESC, user_id) AS BIGINT) AS f_score,
           CAST(NTILE(5) OVER (ORDER BY monetary_c DESC, user_id) AS BIGINT)
             AS m_score,
           CAST(freq AS BIGINT) AS freq,
           CAST(monetary_c AS BIGINT) / 100.0 AS monetary
    FROM per_user
    """,
)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import exact_global_rank, ntile_from_rank

    ev = table(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100, 0).cast("bigint")
    # k0 = recency (ts is int64 micros), k1 = frequency, k2 = monetary
    per_user = ev.groupBy("user_id").agg(
        F.max("ts").alias("k0"),
        F.count(F.lit(1)).alias("k1"),
        F.sum(vc).alias("k2"),
    )
    stacked = per_user.select(
        "user_id",
        F.explode(
            F.array(
                *(F.struct(F.lit(m).alias("m"), F.col(f"k{m}").alias("k"))
                  for m in range(3))
            )
        ).alias("_s"),
    ).select("user_id", "_s.m", "_s.k")
    ranked = exact_global_rank(
        stacked, F.col("m"), F.desc("k"), F.col("user_id"), rank_col="_r"
    )

    def pick(m: int, col: str) -> Column:
        return F.max(F.when(F.col("m") == m, F.col(col)))

    wide = ranked.groupBy("user_id").agg(
        pick(0, "_r").alias("_r0"),
        pick(1, "_r").alias("_r1"),
        pick(2, "_r").alias("_r2"),
        pick(1, "k").alias("freq"),
        pick(2, "k").alias("monetary_c"),
    )
    # n = the last recency rank; reading it off ``ranked`` reuses the
    # ranking's broadcast offset table instead of re-aggregating users
    n1 = ranked.where(F.col("m") == 0).agg(F.max("_r").alias("_n"))
    n = F.col("_n")
    return wide.crossJoin(F.broadcast(n1)).select(
        "user_id",
        ntile_from_rank(F.col("_r0"), n, 5).alias("r_score"),
        ntile_from_rank(F.col("_r1") - n, n, 5).alias("f_score"),
        ntile_from_rank(F.col("_r2") - 2 * n, n, 5).alias("m_score"),
        F.col("freq").cast("bigint").alias("freq"),
        (F.col("monetary_c").cast("bigint") / 100.0).alias("monetary"),
    )


# --------------------------------------------------------------------------
# Gini coefficient of spend concentration across customers — the
# inequality statistic over per-user monetary totals, via the sorted
# cumulative-share identity G = (2·Σ i·xᵢ)/(n·Σx) − (n+1)/n with xᵢ
# ascending.  The rank window runs over the USER-sized aggregate
# (never the fact rows); every term is exact int64 until the two
# final divisions, which share one op order across engines.  Scale
# path: like q_auc, the identity also evaluates over the per-distinct-
# value histogram (rank positions from cumulative counts with
# average-rank tie handling) when the user rollup outgrows one
# partition's sort.
# --------------------------------------------------------------------------
@q(
    "q_gini",
    """
    WITH per_user AS (
        SELECT user_id,
               SUM(CAST(round(value * 100, 0) AS BIGINT)) AS x
        FROM events GROUP BY user_id
    ), ranked AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY x, user_id) AS i,
               COUNT(*) OVER () AS n, SUM(x) OVER () AS tot
        FROM per_user
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_users,
           CAST(MAX(tot) AS BIGINT) / 100.0 AS total_spend,
           round(2.0 * CAST(SUM(CAST(i AS HUGEINT) * x) AS DOUBLE)
                   / (CAST(MAX(n) AS DOUBLE) * CAST(MAX(tot) AS DOUBLE))
                 - (1.0 * (MAX(n) + 1)) / MAX(n), 6) AS gini
    FROM ranked
    """,
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100, 0).cast("bigint")
    per_user = ev.groupBy("user_id").agg(F.sum(vc).alias("x"))
    wi = Window.orderBy("x", "user_id")
    wall = Window.orderBy("x", "user_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = per_user.select(
        "x",
        F.row_number().over(wi).alias("i"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("x").over(wall).alias("tot"),
    )
    # SUM(i·x) accumulates in DECIMAL(38,0) (HUGEINT on the oracle
    # side): rank i (up to |users|) times cents totals x overflows
    # int64 near 10^8 users × 10^6 cents — far thinner headroom than
    # the plain cents sums analyzed in SCALING.md.  The denominator
    # n·tot is formed as double×double in BOTH engines (same op
    # order) for the same reason.
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_users"),
        (F.max("tot").cast("bigint") / 100.0).alias("total_spend"),
        F.round(
            F.lit(2.0)
            * F.sum(F.col("i").cast("decimal(38,0)") * F.col("x")).cast("double")
            / (F.max("n").cast("double") * F.max("tot").cast("double"))
            - (F.lit(1.0) * (F.max("n") + 1)) / F.max("n"),
            6,
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# Benford first-digit audit — the fraud/synthetic-data screen: the
# leading-digit distribution of the value column against Benford's
# law.  The first digit comes from STRING arithmetic on the exact
# integer cents (no log10, no float) so both engines agree bitwise;
# the expected Benford share ln(1+1/d)/ln(10) is the one libm term,
# rounded 6.  One scan, 9-key map-side-combined histogram.
# --------------------------------------------------------------------------
@q(
    "q_benford",
    """
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(round(value * 100, 0) AS BIGINT) AS VARCHAR),
                           1, 1) AS BIGINT) AS d
        FROM events WHERE value > 0.005
    )
    SELECT d AS first_digit,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(1.0 * COUNT(*) / (SUM(COUNT(*)) OVER ()), 6) AS observed,
           round(ln(1.0 + 1.0 / d) / ln(10.0), 6) AS benford_expected
    FROM digits GROUP BY d
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    d = F.substring(
        F.round(F.col("value") * 100, 0).cast("bigint").cast("string"), 1, 1
    ).cast("bigint")
    hist = (
        ev.filter(F.col("value") > 0.005)
        .select(d.alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return hist.select(
        F.col("d").alias("first_digit"),
        "n",
        F.round(F.lit(1.0) * F.col("n") / F.sum("n").over(wall), 6).alias(
            "observed"
        ),
        F.round(
            F.log(F.lit(1.0) + F.lit(1.0) / F.col("d")) / F.log(F.lit(10.0)), 6
        ).alias("benford_expected"),
    )


# --------------------------------------------------------------------------
# Kaplan-Meier survival curve — time from first click to purchase,
# with non-converters right-censored at the corpus horizon: the
# survival-analysis estimator S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) over the
# distinct event-hour grid.  The risk set nᵢ comes from a reverse
# cumulative count over the observation-time histogram (|distinct
# hours| rows, never |users|); the product becomes exp(Σ ln(...))
# with each ln term frozen to 6 decimals — the cumulative sum of
# frozen terms is exact, so S hashes bitwise.  One user rollup + two
# tiny histogram windows.
# --------------------------------------------------------------------------
@q(
    "q_survival",
    """
    WITH per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS c_ts
        FROM events GROUP BY user_id
    ), hz AS (
        SELECT MAX(epoch_us(ts)) AS horizon FROM events
    ), conv AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_ts
        FROM events e JOIN per_user u ON e.user_id = u.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= u.c_ts
        GROUP BY e.user_id
    ), obs AS (
        SELECT u.user_id,
               CASE WHEN p.p_ts IS NOT NULL
                    THEN (p.p_ts - u.c_ts) // 3600000000
                    ELSE (hz.horizon - u.c_ts) // 3600000000 END AS t_h,
               (p.p_ts IS NOT NULL) AS converted
        FROM per_user u CROSS JOIN hz
        LEFT JOIN conv p ON u.user_id = p.user_id
        WHERE u.c_ts IS NOT NULL
    ), hist AS (
        SELECT t_h, COUNT(*) AS n_obs,
               CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM obs GROUP BY t_h
    ), risk AS (
        SELECT t_h, d,
               SUM(n_obs) OVER (ORDER BY t_h DESC
                                ROWS UNBOUNDED PRECEDING) AS n_risk
        FROM hist
    )
    SELECT t_h AS hour, CAST(d AS BIGINT) AS n_events,
           CAST(n_risk AS BIGINT) AS n_at_risk,
           CASE WHEN MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY t_h ASC ROWS UNBOUNDED PRECEDING) = 1
                THEN 0.0
                ELSE round(exp(SUM(CASE WHEN d < n_risk THEN
                                   CAST(round(ln(1.0 - 1.0 * d / n_risk)
                                              * 1000000, 0) AS BIGINT)
                                   ELSE 0 END)
                               OVER (ORDER BY t_h ASC ROWS UNBOUNDED PRECEDING)
                               / 1000000.0), 6) END AS survival
    FROM risk WHERE d > 0
    """,
)
def q_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts").alias("horizon"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "click", F.col("ts"))
            ).alias("c_ts")
        )
        .crossJoin(F.broadcast(horizon))
        .filter(F.col("c_ts").isNotNull())
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(per_user.select("user_id", "c_ts")), "user_id")
        .filter(F.col("ts") >= F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    obs = per_user.join(F.broadcast(conv), "user_id", "left").select(
        F.when(
            F.col("p_ts").isNotNull(),
            F.expr("(p_ts - c_ts) div 3600000000"),
        )
        .otherwise(F.expr("(horizon - c_ts) div 3600000000"))
        .alias("t_h"),
        F.col("p_ts").isNotNull().alias("converted"),
    )
    hist = obs.groupBy("t_h").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.when(F.col("converted"), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
    )
    w_desc = Window.orderBy(F.col("t_h").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = hist.select(
        "t_h", "d", F.sum("n_obs").over(w_desc).alias("n_risk")
    )
    # d == n_risk (whole remaining risk set exits) ⇒ ln(0): survival
    # is exactly 0 from that time on — guarded identically on both
    # engines (DuckDB raises on ln(0), Spark NULLs).
    term_u = F.when(
        F.col("d") < F.col("n_risk"),
        F.round(
            F.log(F.lit(1.0) - F.lit(1.0) * F.col("d") / F.col("n_risk"))
            * 1000000,
            0,
        ).cast("bigint"),
    ).otherwise(F.lit(0))
    dead = F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0)
    w_asc = Window.orderBy(F.col("t_h").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        risk.withColumn("cs", F.sum(term_u).over(w_asc))
        .withColumn("dead", F.max(dead).over(w_asc))
        .filter(F.col("d") > 0)
        .select(
            F.col("t_h").alias("hour"),
            F.col("d").cast("bigint").alias("n_events"),
            F.col("n_risk").cast("bigint").alias("n_at_risk"),
            F.when(F.col("dead") == 1, 0.0)
            .otherwise(F.round(F.exp(F.col("cs") / 1000000.0), 6))
            .alias("survival"),
        )
    )


# --------------------------------------------------------------------------
# Difference-in-differences — the 2×2 causal estimate: how much more
# did the treatment variant's mean value move across the mid-month
# boundary than the control's.  One scan into four (variant, period)
# cells (int64 cents sums, map-side combined), pivoted wide so all
# four means and the DiD evaluate in a single projection with one
# shared op tree.
# --------------------------------------------------------------------------
@q(
    "q_did",
    """
    WITH cells AS (
        SELECT user_id % 2 AS variant,
               CASE WHEN epoch_us(ts) >= 1705276800000000 THEN 1 ELSE 0 END AS period,
               COUNT(*) AS n,
               SUM(CAST(round(value * 100, 0) AS BIGINT)) AS s
        FROM events GROUP BY 1, 2
    ), wide AS (
        SELECT MAX(CASE WHEN variant = 0 AND period = 0 THEN s END) AS s00,
               MAX(CASE WHEN variant = 0 AND period = 0 THEN n END) AS n00,
               MAX(CASE WHEN variant = 0 AND period = 1 THEN s END) AS s01,
               MAX(CASE WHEN variant = 0 AND period = 1 THEN n END) AS n01,
               MAX(CASE WHEN variant = 1 AND period = 0 THEN s END) AS s10,
               MAX(CASE WHEN variant = 1 AND period = 0 THEN n END) AS n10,
               MAX(CASE WHEN variant = 1 AND period = 1 THEN s END) AS s11,
               MAX(CASE WHEN variant = 1 AND period = 1 THEN n END) AS n11
        FROM cells
    )
    SELECT CAST(n00 + n01 + n10 + n11 AS BIGINT) AS n,
           round(1.0 * s00 / n00 / 100.0, 6) AS ctrl_before,
           round(1.0 * s01 / n01 / 100.0, 6) AS ctrl_after,
           round(1.0 * s10 / n10 / 100.0, 6) AS treat_before,
           round(1.0 * s11 / n11 / 100.0, 6) AS treat_after,
           round(((1.0 * s11 / n11 - 1.0 * s10 / n10)
                  - (1.0 * s01 / n01 - 1.0 * s00 / n00)) / 100.0, 6) AS did
    FROM wide
    """,
)
def q_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100, 0).cast("bigint")
    cells = ev.groupBy(
        (F.col("user_id") % 2).alias("variant"),
        F.when(F.col("ts") >= 1705276800000000, 1).otherwise(0).alias("period"),
    ).agg(F.count(F.lit(1)).alias("n"), F.sum(vc).alias("s"))
    wide = cells.agg(
        *[
            F.max(
                F.when(
                    (F.col("variant") == v) & (F.col("period") == p), F.col(c)
                )
            ).alias(f"{c}{v}{p}")
            for v in (0, 1)
            for p in (0, 1)
            for c in ("s", "n")
        ]
    )
    m = {
        (v, p): F.lit(1.0) * F.col(f"s{v}{p}") / F.col(f"n{v}{p}")
        for v in (0, 1)
        for p in (0, 1)
    }
    return wide.select(
        (F.col("n00") + F.col("n01") + F.col("n10") + F.col("n11"))
        .cast("bigint")
        .alias("n"),
        F.round(m[(0, 0)] / 100.0, 6).alias("ctrl_before"),
        F.round(m[(0, 1)] / 100.0, 6).alias("ctrl_after"),
        F.round(m[(1, 0)] / 100.0, 6).alias("treat_before"),
        F.round(m[(1, 1)] / 100.0, 6).alias("treat_after"),
        F.round(
            ((m[(1, 1)] - m[(1, 0)]) - (m[(0, 1)] - m[(0, 0)])) / 100.0, 6
        ).alias("did"),
    )


# --------------------------------------------------------------------------
# Cohort lifetime value — cumulative purchase revenue per (first-day
# cohort, day offset): the monetary companion of q_retention's count
# grid.  The cohort map broadcasts onto the purchase slice of the
# fact scan; the cumulative sum rides a window over the tiny
# (cohorts × offsets) grid in exact int64 cents.
# --------------------------------------------------------------------------
@q(
    "q_cohort_ltv",
    """
    WITH days AS (
        SELECT user_id, epoch_us(ts) // 86400000000 AS d FROM events
    ), cohort AS (
        SELECT user_id, MIN(d) AS d0 FROM days GROUP BY user_id
    ), rev AS (
        SELECT c.d0, (epoch_us(e.ts) // 86400000000) - c.d0 AS offset_d,
               SUM(CAST(round(e.value * 100, 0) AS BIGINT)) AS rev_c
        FROM events e JOIN cohort c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2
    )
    SELECT d0 AS cohort_day, offset_d,
           CAST(rev_c AS BIGINT) / 100.0 AS revenue,
           CAST(SUM(rev_c) OVER (PARTITION BY d0 ORDER BY offset_d
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) / 100.0
             AS cum_ltv
    FROM rev
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    days = ev.select("user_id", F.expr(f"ts div {DAY_US}").alias("d"))
    cohort = days.groupBy("user_id").agg(F.min("d").alias("d0"))
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(cohort), "user_id")
        .groupBy(
            "d0",
            (F.expr(f"ts div {DAY_US}") - F.col("d0")).alias("offset_d"),
        )
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("rev_c"))
    )
    w = (
        Window.partitionBy("d0")
        .orderBy("offset_d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return rev.select(
        F.col("d0").alias("cohort_day"),
        "offset_d",
        (F.col("rev_c").cast("bigint") / 100.0).alias("revenue"),
        (F.sum("rev_c").over(w).cast("bigint") / 100.0).alias("cum_ltv"),
    )


# --------------------------------------------------------------------------
# Seasonal anomaly detection — each event scored against its
# (hour-of-day × day-of-week) seasonal cell: flag values beyond 3
# seasonal standard deviations.  The 168-cell seasonal profile is ONE
# map-side-combined aggregation broadcast back onto the fact scan —
# no fact-side shuffle at all (the q_winsorize broadcast-bounds
# shape, with a 2-D seasonal key).  Mean is the exact-int ratio; std
# via power sums rounded 6 (libm sqrt); the flag compares the same
# rounded quantities on both engines.
# --------------------------------------------------------------------------
@q(
    "q_seasonal_anomaly",
    """
    WITH prof AS (
        SELECT (epoch_us(ts) // 3600000000) % 24 AS hh,
               (epoch_us(ts) // 86400000000) % 7 AS dw,
               COUNT(*) AS n,
               SUM(CAST(round(value * 100, 0) AS BIGINT)) AS s,
               SUM(CAST(round(value * 100, 0) AS BIGINT)
                   * CAST(round(value * 100, 0) AS BIGINT)) AS ss
        FROM events GROUP BY 1, 2
    ), scored AS (
        SELECT e.event_id, e.user_id, e.value,
               round(1.0 * p.s / p.n / 100.0, 6) AS seasonal_mean,
               round(sqrt(CAST(p.n * p.ss - p.s * p.s AS DOUBLE)
                          / (CAST(p.n AS DOUBLE) * (p.n - 1))) / 100.0, 6)
                 AS seasonal_std
        FROM events e
        JOIN prof p ON (epoch_us(e.ts) // 3600000000) % 24 = p.hh
                   AND (epoch_us(e.ts) // 86400000000) % 7 = p.dw
        WHERE p.n >= 2
    )
    SELECT event_id, user_id, value, seasonal_mean, seasonal_std
    FROM scored
    WHERE seasonal_std > 0
      AND abs(value - seasonal_mean) > 3.0 * seasonal_std
    """,
)
def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100, 0).cast("bigint")
    hh = (F.expr("ts div 3600000000") % 24).alias("hh")
    dw = (F.expr("ts div 86400000000") % 7).alias("dw")
    # Σcents² rides DECIMAL(38,0)/int128 and the n·Σx² − (Σx)²
    # numerator forms exactly before ONE double conversion (the 168
    # seasonal cells hold corpus-sized groups — SCALING.md power-sum
    # head-room + the q_group_corr cancellation lesson)
    prof = ev.groupBy(hh, dw).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vc).alias("s"),
        F.sum((vc * vc).cast("decimal(38,0)")).alias("ss"),
    ).filter(F.col("n") >= 2)
    n, s_, ss = F.col("n"), F.col("s"), F.col("ss")
    qvar = (n * ss - s_.cast("decimal(38,0)") * s_.cast("decimal(38,0)")).cast(
        "double"
    )
    prof = prof.select(
        "hh",
        "dw",
        F.round(F.lit(1.0) * s_ / n / 100.0, 6).alias("seasonal_mean"),
        F.round(
            F.sqrt(qvar / (n.cast("double") * (n - 1))) / 100.0, 6
        ).alias("seasonal_std"),
    )
    return (
        ev.select("event_id", "user_id", "value",
                  hh.alias("hh"), dw.alias("dw"))
        .join(F.broadcast(prof), ["hh", "dw"])
        .filter(
            (F.col("seasonal_std") > 0)
            & (
                F.abs(F.col("value") - F.col("seasonal_mean"))
                > 3.0 * F.col("seasonal_std")
            )
        )
        .select("event_id", "user_id", "value", "seasonal_mean", "seasonal_std")
    )


# --------------------------------------------------------------------------
# Maximum drawdown per user — the financial risk metric over each
# user's cumulative value curve: the largest peak-to-trough drop of
# the running cents sum.  Two stock windows on the shared trajectory
# exchange (prefix sum, then prefix max of it) and a plain max — all
# int64, no float anywhere.  Completes the finance family around
# q_ohlc's candlesticks.
# --------------------------------------------------------------------------
@q(
    "q_max_drawdown",
    """
    WITH curve AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id,
               SUM(CAST(round(value * 100, 0) AS BIGINT)) OVER w AS equity_c
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ROWS UNBOUNDED PRECEDING)
    ), dd AS (
        SELECT user_id,
               MAX(equity_c) OVER (PARTITION BY user_id
                                   ORDER BY ts_us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS run_peak_c,
               equity_c
        FROM curve
    )
    SELECT user_id,
           CAST(MAX(run_peak_c - equity_c) AS BIGINT) / 100.0 AS max_drawdown,
           CAST(MAX(equity_c) AS BIGINT) / 100.0 AS equity_peak
    FROM dd GROUP BY user_id
    """,
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100, 0).cast("bigint")
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    curve = ev.select(
        "user_id", F.sum(vc).over(wcum).alias("equity_c"),
        F.col("ts"), F.col("event_id"),
    )
    wpeak = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = curve.select(
        "user_id",
        "equity_c",
        F.max("equity_c").over(wpeak).alias("run_peak_c"),
    )
    return dd.groupBy("user_id").agg(
        (F.max(F.col("run_peak_c") - F.col("equity_c")).cast("bigint") / 100.0)
        .alias("max_drawdown"),
        (F.max("equity_c").cast("bigint") / 100.0).alias("equity_peak"),
    )


# --------------------------------------------------------------------------
# Peak concurrency (sweep line) — the interval-overlap maximum: treat
# each event as a 30-minute session interval and find each day's
# highest number of simultaneously open sessions.  The classic
# +1/−1 endpoint explode (scan-side, 2× fan-out) followed by an
# ordered prefix sum per day; ends sort before starts at the same
# instant so touching intervals don't double-count.  One day-keyed
# exchange; the per-day max is a plain aggregate.
# --------------------------------------------------------------------------
@q(
    "q_peak_concurrency",
    """
    WITH endpoints AS (
        SELECT epoch_us(ts) // 86400000000 AS d, epoch_us(ts) AS t_us,
               1 AS delta, event_id
        FROM events
        UNION ALL
        SELECT epoch_us(ts) // 86400000000 AS d,
               epoch_us(ts) + 1800000000 AS t_us, -1 AS delta, event_id
        FROM events
    ), swept AS (
        SELECT d,
               SUM(delta) OVER (PARTITION BY d
                                ORDER BY t_us, delta, event_id
                                ROWS UNBOUNDED PRECEDING) AS open_now
        FROM endpoints
    )
    SELECT d AS day, CAST(MAX(open_now) AS BIGINT) AS peak_concurrent
    FROM swept GROUP BY d
    """,
)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_id", "ts")
    day = F.expr(f"ts div {DAY_US}").alias("d")
    starts = ev.select(day, F.col("ts").alias("t_us"), F.lit(1).alias("delta"),
                       "event_id")
    ends = ev.select(
        day,
        (F.col("ts") + 1800000000).alias("t_us"),
        F.lit(-1).alias("delta"),
        "event_id",
    )
    endpoints = starts.unionByName(ends)
    w = (
        Window.partitionBy("d")
        .orderBy("t_us", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    swept = endpoints.select("d", F.sum("delta").over(w).alias("open_now"))
    return swept.groupBy(F.col("d").alias("day")).agg(
        F.max("open_now").cast("bigint").alias("peak_concurrent")
    )


# --------------------------------------------------------------------------
# VWAP — volume-weighted average price per (part brand, ship month):
# Σ(price·qty)/Σ(qty), both sums exact int64 (cents·centiqty), the
# ratio computed once at the end.  The weighted-mean surface as a
# named analytic (A7 embeds it inside the flagship groupBy); brand
# rides a broadcast dimension join.
# --------------------------------------------------------------------------
@q(
    "q_vwap",
    """
    SELECT p.p_brand,
           CAST(year(l.l_shipdate) * 100 + month(l.l_shipdate) AS BIGINT)
             AS ship_month,
           CAST(SUM(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
                    * CAST(round(l.l_quantity * 100, 0) AS BIGINT)) AS DOUBLE)
             / CAST(SUM(CAST(round(l.l_quantity * 100, 0) AS BIGINT)) AS BIGINT)
             / 100.0 AS vwap,
           CAST(SUM(CAST(round(l.l_quantity * 100, 0) AS BIGINT)) AS BIGINT)
             / 100.0 AS total_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
    """,
)
def q_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_quantity"
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pc = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    qc = F.round(F.col("l_quantity") * 100, 0).cast("bigint")
    month = (F.year("l_shipdate") * 100 + F.month("l_shipdate")).cast("bigint")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", month.alias("ship_month"))
        .agg(
            (
                # Σ(price_cents·qty_cents) ≈ 5e10/row breaches int64
                # near 2e8 rows/group — DECIMAL(38,0)/int128 per the
                # power-sum head-room rule, one double conversion
                F.sum((pc * qc).cast("decimal(38,0)")).cast("double")
                / F.sum(qc).cast("bigint")
                / 100.0
            ).alias("vwap"),
            (F.sum(qc).cast("bigint") / 100.0).alias("total_qty"),
        )
    )


# --------------------------------------------------------------------------
# Interval coalescing — merge each user's overlapping 30-minute
# session intervals into maximal covered spans (the interval cousin
# of q_gaps_islands' day streaks): a new span opens where an interval
# starts after the running max of all previous ends; span ids are the
# prefix sum of those breaks.  Two windows + one aggregate on a
# single user-keyed exchange, all integer micros.
# --------------------------------------------------------------------------
@q(
    "q_interval_merge",
    """
    WITH iv AS (
        SELECT user_id, epoch_us(ts) AS s_us, epoch_us(ts) + 1800000000 AS e_us,
               event_id
        FROM events
    ), flagged AS (
        SELECT user_id, s_us, e_us,
               CASE WHEN s_us > COALESCE(MAX(e_us) OVER (
                        PARTITION BY user_id ORDER BY s_us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                    THEN 1 ELSE 0 END AS new_span,
               event_id
        FROM iv
    ), spans AS (
        SELECT user_id, s_us, e_us,
               SUM(new_span) OVER (PARTITION BY user_id
                                   ORDER BY s_us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS span_id
        FROM flagged
    )
    SELECT user_id, CAST(span_id AS BIGINT) AS span_id,
           MIN(s_us) AS span_start_us, MAX(e_us) AS span_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_intervals
    FROM spans GROUP BY user_id, span_id
    """,
)
def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s_us"),
        (F.col("ts") + 1800000000).alias("e_us"),
        "event_id",
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("s_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_span",
        F.when(
            F.col("s_us") > F.coalesce(F.max("e_us").over(wprev), F.lit(-1)), 1
        ).otherwise(0),
    )
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("s_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = flagged.withColumn("span_id", F.sum("new_span").over(wcum))
    return spans.groupBy(
        "user_id", F.col("span_id").cast("bigint").alias("span_id")
    ).agg(
        F.min("s_us").alias("span_start_us"),
        F.max("e_us").alias("span_end_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
    )


# --------------------------------------------------------------------------
# Higher moments — skewness and excess kurtosis per event type from
# int64 cents power sums (Σx..Σx⁴): the engine's exact-moments
# recipe extended past variance.  Spark's skewness()/kurtosis()
# builtins merge float partials in nondeterministic order and never
# hash-stable; the power sums are exact, and the closed forms
# evaluate once per group with one shared op tree.  The power sums
# (Σx²..Σx⁴) accumulate in DECIMAL(38,0) — int64 saturates near 1e8
# rows/group for Σx⁴ of whole units; the oracle's int128 SUM(BIGINT)
# matches (SCALING.md "Integer head-room").  Per-row x⁴ ≤ 9.8e10
# stays comfortably inside int64 before the widening cast.
# --------------------------------------------------------------------------
@q(
    "q_moments",
    """
    WITH s AS (
        SELECT event_type, COUNT(*) AS n,
               SUM(CAST(round(value, 0) AS BIGINT)) AS s1,
               SUM(CAST(round(value, 0) AS BIGINT)
                   * CAST(round(value, 0) AS BIGINT)) AS s2,
               SUM(CAST(round(value, 0) AS BIGINT)
                   * CAST(round(value, 0) AS BIGINT)
                   * CAST(round(value, 0) AS BIGINT)) AS s3,
               SUM(CAST(round(value, 0) AS BIGINT)
                   * CAST(round(value, 0) AS BIGINT)
                   * CAST(round(value, 0) AS BIGINT)
                   * CAST(round(value, 0) AS BIGINT)) AS s4
        FROM events GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(1.0 * s1 / n, 6) AS mean_v,
           round((1.0 * s2 / n - (1.0 * s1 / n) * (1.0 * s1 / n)), 6) AS var_v,
           round((1.0 * s3 / n
                  - 3.0 * (1.0 * s1 / n) * (1.0 * s2 / n)
                  + 2.0 * (1.0 * s1 / n) * (1.0 * s1 / n) * (1.0 * s1 / n))
                 / pow(1.0 * s2 / n - (1.0 * s1 / n) * (1.0 * s1 / n), 1.5), 6)
             AS skew_v,
           round((1.0 * s4 / n
                  - 4.0 * (1.0 * s1 / n) * (1.0 * s3 / n)
                  + 6.0 * (1.0 * s1 / n) * (1.0 * s1 / n) * (1.0 * s2 / n)
                  - 3.0 * (1.0 * s1 / n) * (1.0 * s1 / n) * (1.0 * s1 / n)
                    * (1.0 * s1 / n))
                 / ((1.0 * s2 / n - (1.0 * s1 / n) * (1.0 * s1 / n))
                    * (1.0 * s2 / n - (1.0 * s1 / n) * (1.0 * s1 / n))) - 3.0,
                 6) AS excess_kurtosis
    FROM s WHERE 1.0 * s2 / n - (1.0 * s1 / n) * (1.0 * s1 / n) > 0
    """,
)
def q_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # whole units, not cents: x⁴ headroom (see docstring)
    x = F.round(F.col("value"), 0).cast("bigint")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s1"),
        F.sum((x * x).cast("decimal(38,0)")).alias("s2"),
        F.sum((x * x * x).cast("decimal(38,0)")).alias("s3"),
        F.sum((x * x * x * x).cast("decimal(38,0)")).alias("s4"),
    )
    n = F.col("n")
    m1 = F.lit(1.0) * F.col("s1") / n
    m2 = F.lit(1.0) * F.col("s2") / n
    m3 = F.lit(1.0) * F.col("s3") / n
    m4 = F.lit(1.0) * F.col("s4") / n
    var = m2 - m1 * m1
    return s.filter(var > 0).select(
        "event_type",
        n.cast("bigint").alias("n"),
        F.round(m1, 6).alias("mean_v"),
        F.round(var, 6).alias("var_v"),
        F.round(
            (m3 - 3.0 * m1 * m2 + 2.0 * m1 * m1 * m1) / F.pow(var, 1.5), 6
        ).alias("skew_v"),
        F.round(
            (m4 - 4.0 * m1 * m3 + 6.0 * m1 * m1 * m2 - 3.0 * m1 * m1 * m1 * m1)
            / (var * var)
            - 3.0,
            6,
        ).alias("excess_kurtosis"),
    )


# --------------------------------------------------------------------------
# STL-lite seasonal decomposition — the classic trend/seasonal/
# remainder split over the daily revenue series: trend = centered
# 7-row moving average (emitted only where the full window exists),
# seasonal = per-ISO-weekday mean of the detrended series, remainder
# = what's left.  Every mean is computed from exact integers (cents
# for the trend, frozen micro-units for the seasonal) so both engines
# share one op order.  Scale: the series is DAY-grain — the fact scan
# reduces to |days| rows before any window runs; the windows are
# dimension-sized.
# --------------------------------------------------------------------------
@q(
    "q_stl_lite",
    """
    WITH daily AS (
        SELECT o_orderdate AS day,
               SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        FROM orders GROUP BY o_orderdate
    ), windowed AS (
        SELECT day, cents,
               SUM(cents) OVER w AS c7,
               COUNT(*) OVER w AS n7
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), trended AS (
        SELECT day, cents,
               CAST(c7 AS DOUBLE) / 100.0 / 7.0 AS trend,
               CAST(cents AS DOUBLE) / 100.0 - CAST(c7 AS DOUBLE) / 100.0 / 7.0
                 AS detrended,
               isodow(day) - 1 AS wd
        FROM windowed WHERE n7 = 7
    ), frozen AS (
        SELECT day, cents, trend, detrended, wd,
               CAST(round(detrended * 1000000, 0) AS BIGINT) AS d_micro
        FROM trended
    )
    SELECT day,
           CAST(cents AS BIGINT) / 100.0 AS revenue,
           trend,
           CAST(SUM(d_micro) OVER (PARTITION BY wd) AS DOUBLE)
             / COUNT(*) OVER (PARTITION BY wd) / 1000000.0 AS seasonal,
           detrended
             - CAST(SUM(d_micro) OVER (PARTITION BY wd) AS DOUBLE)
               / COUNT(*) OVER (PARTITION BY wd) / 1000000.0 AS remainder
    FROM frozen
    """,
)
def q_stl_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).alias("cents")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    windowed = daily.select(
        "day",
        "cents",
        F.sum("cents").over(w7).alias("c7"),
        F.count(F.lit(1)).over(w7).alias("n7"),
    ).filter(F.col("n7") == 7)
    trend = F.col("c7").cast("double") / 100.0 / 7.0
    detrended = F.col("cents").cast("double") / 100.0 - trend
    # Spark weekday() is Mon=0..Sun=6 == DuckDB isodow - 1
    frozen = windowed.select(
        "day",
        "cents",
        trend.alias("trend"),
        detrended.alias("detrended"),
        F.weekday("day").alias("wd"),
        F.round(detrended * 1000000, 0).cast("bigint").alias("d_micro"),
    )
    ws = Window.partitionBy("wd")
    seasonal = (
        F.sum("d_micro").over(ws).cast("double")
        / F.count(F.lit(1)).over(ws)
        / 1000000.0
    )
    return frozen.select(
        "day",
        (F.col("cents").cast("bigint") / 100.0).alias("revenue"),
        "trend",
        seasonal.alias("seasonal"),
        (F.col("detrended") - seasonal).alias("remainder"),
    )


# --------------------------------------------------------------------------
# Differentially-private count release — per-(lang, source) document
# counts with Laplace(1/ε) noise at ε=1 (the Dwork et al. mechanism;
# the aggregate release a 100 TB corpus publishes in its data card
# when counts are user-sensitive).  Noise is drawn DETERMINISTICALLY
# so the DuckDB differential can verify the mechanism bitwise: a
# knuth-fold hash of the group key indexes a 256-entry Laplace
# inverse-CDF lookup table whose int64 micro-nat entries are
# generated ONCE in Python and embedded as the same literal in both
# engines' SQL — engine `ln` never runs in the judged path (Spark's
# Math.log and DuckDB's libm differ in the last ulp, which round()
# can amplify into a ±1-micro tie; a shared literal table cannot).
# PRODUCTION swap-in: a real RNG uniform per group and the analytic
# inverse CDF — one line; the release then also drops n_true, kept
# here only as the test anchor.  Dimension-sized output; one fact
# aggregation, zero joins.
# --------------------------------------------------------------------------
_DP_EPS = 1.0


def _dp_lut() -> list[int]:
    """256-quantile Laplace(1/ε) inverse CDF, int64 micro-nats.
    u_i = (i+½)/256 − ½ ∈ (−½, ½); noise = −(1/ε)·sign(u)·ln(1−2|u|)."""
    import math

    out = []
    for i in range(256):
        u = (i + 0.5) / 256.0 - 0.5
        x = -(1.0 / _DP_EPS) * math.copysign(1.0, u) * math.log(1.0 - 2.0 * abs(u))
        out.append(int(math.copysign(math.floor(abs(x) * 1e6 + 0.5), x)))
    return out


_DP_LUT = _dp_lut()
_DP_LUT_SQL_DUCK = "[" + ", ".join(str(v) for v in _DP_LUT) + "]"
_DP_LUT_SQL_SPARK = "array(" + ", ".join(str(v) for v in _DP_LUT) + ")"


@q(
    "q_dp_count",
    f"""
    WITH grp AS (
        SELECT lang, source, COUNT(*) AS n_true
        FROM documents GROUP BY lang, source
    ), keyed AS (
        SELECT lang, source, n_true,
               {knuth_fold_sql(portable_hash_sql_duckdb("lang || '|' || source"), 256)} AS h
        FROM grp
    )
    SELECT lang, source, n_true,
           {_DP_LUT_SQL_DUCK}[CAST(h AS INTEGER) + 1] AS noise_u,
           round(n_true + {_DP_LUT_SQL_DUCK}[CAST(h AS INTEGER) + 1]
                 / 1000000.0, 6) AS n_dp
    FROM keyed
    """,
)
def q_dp_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    grp = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_true"))
    h_sql = knuth_fold_sql(
        portable_hash_sql_spark("concat(lang, '|', source)"), 256
    )
    noise_u = F.expr(
        f"element_at({_DP_LUT_SQL_SPARK}, cast(({h_sql}) as int) + 1)"
    ).cast("bigint")
    return grp.select(
        "lang", "source", "n_true",
        noise_u.alias("noise_u"),
        F.round(F.col("n_true") + noise_u / 1000000.0, 6).alias("n_dp"),
    )


# --------------------------------------------------------------------------
# Mann-Whitney U (Wilcoxon rank-sum) — the nonparametric companion
# of q_welch_ttest for the same user_id-parity experiment split:
# compares the two variants' full value DISTRIBUTIONS, robust to the
# heavy-tailed revenue shapes where the t-test's mean is meaningless.
# Tie-aware: ranks collapse to the distinct-cents domain first (one
# fact-scale shuffle with map-side combine), average ranks come from
# a prefix-sum window over that bounded domain (kept ×2 so every
# rank is an exact integer: avg_rank·2 = 2·cum_before + cnt + 1),
# and the z-statistic applies the standard tie correction
# Σ(t³−t)/(n(n−1)).  Everything driver-visible is an integer or one
# deterministic double expression rounded once — bitwise across
# engines.  Scale: the only fact-sized step is the GROUP BY v; the
# window runs on the value domain (cents-bounded), not the facts.
# --------------------------------------------------------------------------
@q(
    "q_mannwhitney",
    """
    WITH x AS (
        SELECT user_id % 2 AS variant,
               CAST(round(value * 100, 0) AS BIGINT) AS v
        FROM events
    ), g AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS cnt1
        FROM x GROUP BY v
    ), r AS (
        SELECT v, cnt, cnt1,
               CAST(COALESCE(SUM(cnt) OVER (
                   ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before
        FROM g
    ), s AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(SUM(cnt1) AS BIGINT) AS n1,
               CAST(SUM(cnt1 * (2 * cum_before + cnt + 1)) AS BIGINT) AS r1x2,
               CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
        FROM r
    ), u AS (
        SELECT n - n1 AS n0, n1, ties,
               r1x2 - n1 * (n1 + 1) AS u1x2, n
        FROM s
    )
    SELECT n0, n1,
           CAST(u1x2 AS BIGINT) AS u1_x2,
           CAST(2 * n0 * n1 - u1x2 AS BIGINT) AS u2_x2,
           round((u1x2 / 2.0 - 1.0 * n0 * n1 / 2)
                 / sqrt(1.0 * n0 * n1 / 12
                        * ((n + 1) - 1.0 * ties / (n * (n - 1)))), 6) AS z_stat
    FROM u
    """,
)
def q_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100, 0).cast("bigint")
    g = ev.select(
        (F.col("user_id") % 2).alias("variant"), vc.alias("v")
    ).groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("cnt1"),
    )
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    r = g.select(
        "cnt",
        "cnt1",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("bigint").alias(
            "cum_before"
        ),
    )
    s = r.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum("cnt1").cast("bigint").alias("n1"),
        F.sum(
            F.col("cnt1") * (2 * F.col("cum_before") + F.col("cnt") + 1)
        )
        .cast("bigint")
        .alias("r1x2"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("bigint")
        .alias("ties"),
    )
    u = s.select(
        (F.col("n") - F.col("n1")).alias("n0"),
        "n1",
        "ties",
        (F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)).alias("u1x2"),
        "n",
    )
    n0, n1, n, ties, u1x2 = (
        F.col("n0"),
        F.col("n1"),
        F.col("n"),
        F.col("ties"),
        F.col("u1x2"),
    )
    return u.select(
        n0,
        n1,
        u1x2.cast("bigint").alias("u1_x2"),
        (2 * n0 * n1 - u1x2).cast("bigint").alias("u2_x2"),
        F.round(
            (u1x2 / F.lit(2.0) - F.lit(1.0) * n0 * n1 / 2)
            / F.sqrt(
                F.lit(1.0) * n0 * n1 / 12
                * ((n + 1) - F.lit(1.0) * ties / (n * (n - 1)))
            ),
            6,
        ).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# TWAP — TIME-weighted average value per (user, day): each
# observation holds until the next one (step interpolation), so its
# weight is the gap to the next event (lead), with the day boundary
# closing the last interval.  The irregular-sampling companion of
# q_vwap: when ticks arrive unevenly, the plain mean over-weights
# bursts; the time weighting undoes that.  One user-day-keyed window
# exchange carries both the lead and the aggregation; weights are
# integer micros × cents, the ratio computed once at the end.
# --------------------------------------------------------------------------
@q(
    "q_twap",
    """
    WITH t AS (
        SELECT user_id, epoch_us(ts) // 86400000000 AS day,
               epoch_us(ts) AS t_us,
               CAST(round(value * 100, 0) AS BIGINT) AS vc,
               event_id
        FROM events
    ), gapped AS (
        SELECT user_id, day, vc,
               COALESCE(LEAD(t_us) OVER (PARTITION BY user_id, day
                                         ORDER BY t_us, event_id),
                        (day + 1) * 86400000000) - t_us AS w_us
        FROM t
    )
    SELECT user_id, CAST(day AS BIGINT) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(SUM(w_us) AS BIGINT) AS covered_us,
           CAST(SUM(vc * w_us) AS DOUBLE) / CAST(SUM(w_us) AS BIGINT) / 100.0
               AS twap
    FROM gapped
    GROUP BY user_id, day
    """,
)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    t = ev.select(
        "user_id",
        F.expr("ts div 86400000000").alias("day"),
        F.col("ts").alias("t_us"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("vc"),
        "event_id",
    )
    w = Window.partitionBy("user_id", "day").orderBy("t_us", "event_id")
    gapped = t.select(
        "user_id",
        "day",
        "vc",
        (
            F.coalesce(
                F.lead("t_us").over(w),
                (F.col("day") + 1) * F.lit(86400000000),
            )
            - F.col("t_us")
        ).alias("w_us"),
    )
    return gapped.groupBy("user_id", F.col("day").cast("bigint").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum("w_us").cast("bigint").alias("covered_us"),
        (
            F.sum(F.col("vc") * F.col("w_us")).cast("double")
            / F.sum("w_us").cast("bigint")
            / 100.0
        ).alias("twap"),
    )


# --------------------------------------------------------------------------
# 2-D histogram — hour-of-day × equi-depth value quartile heat grid
# over the event stream (the ops-dashboard "when do the big ones
# land" view).  Quartile cutpoints come from ONE scalar aggregate
# (broadcast, the q_equi_depth_hist pattern) so the grid itself is a
# single fact-scale hash aggregation with map-side combine: ≤ 24×4
# output cells at any corpus size.
# --------------------------------------------------------------------------
@q(
    "q_histogram_2d",
    """
    WITH b AS (
        SELECT round(quantile_cont(value, 0.25), 4) AS q1,
               round(quantile_cont(value, 0.50), 4) AS q2,
               round(quantile_cont(value, 0.75), 4) AS q3
        FROM events
    )
    SELECT CAST((epoch_us(ts) // 3600000000) % 24 AS BIGINT) AS hour,
           CASE WHEN value <= b.q1 THEN 0
                WHEN value <= b.q2 THEN 1
                WHEN value <= b.q3 THEN 2
                ELSE 3 END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS cell_cents
    FROM events, b
    GROUP BY 1, 2
    """,
)
def q_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    b = ev.agg(
        F.round(F.expr("percentile(value, 0.25)"), 4).alias("q1"),
        F.round(F.expr("percentile(value, 0.50)"), 4).alias("q2"),
        F.round(F.expr("percentile(value, 0.75)"), 4).alias("q3"),
    )
    bucket = (
        F.when(F.col("value") <= F.col("q1"), 0)
        .when(F.col("value") <= F.col("q2"), 1)
        .when(F.col("value") <= F.col("q3"), 2)
        .otherwise(3)
    )
    hour = F.expr("(ts div 3600000000) % 24").cast("bigint")
    vc = F.round(F.col("value") * 100, 0).cast("bigint")
    return (
        ev.crossJoin(F.broadcast(b))  # 1-row quartile cutpoints
        .groupBy(hour.alias("hour"), bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(vc).cast("bigint").alias("cell_cents"),
        )
    )


# --------------------------------------------------------------------------
# Cross-correlation at lags 0–3 — does click volume LEAD purchase
# volume, and by how many hours?  The alignment statistic behind
# leading-indicator discovery and transfer-function forecasting.
# The fact stream first collapses to the hourly (clicks, purchases)
# grid (one map-side-combined agg, ≤ |hours| rows), then one global
# window produces all four lagged click columns in a single pass
# (bounded domain — same documented single-partition window as
# q_mannwhitney), an unpivot stacks them to (lag, x, y), and Pearson
# comes from integer power sums per lag.
# --------------------------------------------------------------------------
@q(
    "q_xcorr_lags",
    """
    WITH hourly AS (
        SELECT epoch_us(ts) // 3600000000 AS hr,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c2
        FROM events GROUP BY 1
    ), lagged AS (
        SELECT hr, c2,
               LAG(c1, 0) OVER (ORDER BY hr) AS l0,
               LAG(c1, 1) OVER (ORDER BY hr) AS l1,
               LAG(c1, 2) OVER (ORDER BY hr) AS l2,
               LAG(c1, 3) OVER (ORDER BY hr) AS l3
        FROM hourly
    ), stacked AS (
        SELECT 0 AS lag_h, l0 AS x, c2 AS y FROM lagged WHERE l0 IS NOT NULL
        UNION ALL
        SELECT 1, l1, c2 FROM lagged WHERE l1 IS NOT NULL
        UNION ALL
        SELECT 2, l2, c2 FROM lagged WHERE l2 IS NOT NULL
        UNION ALL
        SELECT 3, l3, c2 FROM lagged WHERE l3 IS NOT NULL
    ), m AS (
        SELECT lag_h, COUNT(*) AS n,
               SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM stacked GROUP BY lag_h
    )
    SELECT CAST(lag_h AS BIGINT) AS lag_h, CAST(n AS BIGINT) AS n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))),
                 6) AS xcorr
    FROM m
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
)
def q_xcorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.expr("ts div 3600000000").alias("hr")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("c2"),
    )
    w = Window.orderBy("hr")
    lagged = hourly.select(
        "c2", *[F.lag("c1", i).over(w).alias(f"l{i}") for i in range(4)]
    )
    stacked = None
    for i in range(4):
        part = lagged.filter(F.col(f"l{i}").isNotNull()).select(
            F.lit(i).alias("lag_h"),
            F.col(f"l{i}").alias("x"),
            F.col("c2").alias("y"),
        )
        stacked = part if stacked is None else stacked.unionAll(part)
    # power sums in DECIMAL(38,0)/int128, closed-form terms formed
    # exactly, ONE double conversion each (hourly counts square past
    # int64 at corpus scale, and term-wise double conversion cancels
    # catastrophically — SCALING.md "Integer head-room"); degenerate
    # constant-side lags excluded identically on both engines.
    m = stacked.groupBy("lag_h").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
    )
    n = F.col("n")
    sxd = F.col("sx").cast("decimal(38,0)")
    syd = F.col("sy").cast("decimal(38,0)")
    num = n * F.col("sxy") - sxd * syd
    dx = n * F.col("sxx") - sxd * sxd
    dy = n * F.col("syy") - syd * syd
    return m.filter((dx > 0) & (dy > 0)).select(
        F.col("lag_h").cast("bigint").alias("lag_h"),
        n.cast("bigint").alias("n"),
        F.round(
            num.cast("double") / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double"))),
            6,
        ).alias("xcorr"),
    )


# --------------------------------------------------------------------------
# Wasserstein-1 drift (earth mover's distance) — completes the drift
# triad: PSI (binned likelihood), KS (max CDF gap), and now W1
# (INTEGRATED CDF gap — the only one that scores HOW FAR mass moved,
# in value units).  1-D EMD = Σ |F0 − F1| · Δv over the distinct
# value grid: one fact agg to per-(value, variant) counts, prefix
# sums on the bounded cents domain (same documented single-partition
# window as q_mannwhitney), and the integrand kept EXACT as
# |cum0·n1 − cum1·n0|·gap in decimal(38,0)/HUGEINT (the q_gini
# head-room rule: cum·n·gap breaches int64 near 10⁵ rows), divided
# once at the end.
# --------------------------------------------------------------------------
@q(
    "q_emd_drift",
    """
    WITH g AS (
        SELECT CAST(round(value * 100, 0) AS BIGINT) AS v,
               CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c0,
               CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1
        FROM events GROUP BY 1
    ), cum AS (
        SELECT v,
               CAST(SUM(c0) OVER (ORDER BY v) AS BIGINT) AS cum0,
               CAST(SUM(c1) OVER (ORDER BY v) AS BIGINT) AS cum1,
               LEAD(v) OVER (ORDER BY v) AS v_next
        FROM g
    ), tot AS (
        SELECT CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1
        FROM g
    )
    SELECT t.n0, t.n1,
           round(CAST(SUM(CAST(abs(CAST(c.cum0 AS HUGEINT) * t.n1
                                   - CAST(c.cum1 AS HUGEINT) * t.n0)
                              * (c.v_next - c.v) AS DECIMAL(38, 0)))
                      AS DOUBLE)
                 / t.n0 / t.n1 / 100.0, 6) AS w1_distance
    FROM cum c CROSS JOIN tot t
    WHERE c.v_next IS NOT NULL
    GROUP BY t.n0, t.n1
    """,
)
def q_emd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    g = ev.groupBy(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v")
    ).agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("c0"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wl = Window.orderBy("v")
    cum = g.select(
        "v",
        F.sum("c0").over(w).cast("bigint").alias("cum0"),
        F.sum("c1").over(w).cast("bigint").alias("cum1"),
        F.lead("v").over(wl).alias("v_next"),
    )
    tot = g.agg(
        F.sum("c0").cast("bigint").alias("n0"),
        F.sum("c1").cast("bigint").alias("n1"),
    )
    # cum·n is the breach point (≈n² per row, past int64 near 3e9 rows
    # per variant) — widen BEFORE the multiply, not after
    term = (
        F.abs(
            F.col("cum0").cast("decimal(38,0)") * F.col("n1")
            - F.col("cum1").cast("decimal(38,0)") * F.col("n0")
        )
        * (F.col("v_next") - F.col("v"))
    ).cast("decimal(38,0)")
    return (
        cum.crossJoin(F.broadcast(tot))  # 1-row totals
        .filter(F.col("v_next").isNotNull())
        .groupBy("n0", "n1")
        .agg(
            F.round(
                F.sum(term).cast("double")
                / F.col("n0")
                / F.col("n1")
                / 100.0,
                6,
            ).alias("w1_distance")
        )
    )


# --------------------------------------------------------------------------
# Audience overlap — pairwise Jaccard between event-type audiences
# (the marketing "segment overlap" matrix): one distinct (type, user)
# rollup, a user-keyed self-join bounded by |types|² output, and
# per-type audience sizes broadcast back.  Overlap stays integer
# micros.  At 100 TB the same question answers approximately from
# per-type HLL/bitmap sketches (q_bitmap_distinct / q_hll_audit);
# this exact form is the calibration twin.
# --------------------------------------------------------------------------
@q(
    "q_audience_overlap",
    """
    WITH ut AS (
        SELECT DISTINCT event_type, user_id FROM events
    ), sizes AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS aud FROM ut GROUP BY 1
    ), inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b, i.n_common, sa.aud AS aud_a, sb.aud AS aud_b,
           CAST(1000000 * i.n_common
                // (sa.aud + sb.aud - i.n_common) AS BIGINT) AS jaccard_micro
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    """,
)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    ut = ev.select("event_type", "user_id").distinct()
    sizes = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("aud")
    )
    a = ut.select(F.col("event_type").alias("type_a"), "user_id")
    b = ut.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("aud").alias("aud_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("aud").alias("aud_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_common",
            "aud_a",
            "aud_b",
            F.expr("1000000 * n_common div (aud_a + aud_b - n_common)")
            .cast("bigint")
            .alias("jaccard_micro"),
        )
    )


# --------------------------------------------------------------------------
# Chi-square independence test — event_type × (user_id parity)
# contingency table: is behaviour independent of the hash variant?
# The categorical companion of q_welch_ttest (continuous) and
# q_ab_test (proportion).  Exactness: each cell's (o·n − r·c)² rides
# DECIMAL(38,0) (o·n is ~1e8 at sf0.01 and squares past int64 at
# scale — the q_gini head-room rule), the per-cell contribution is
# scaled to int64 micros ONCE, and the final χ² is an integer sum —
# partial-agg order cannot perturb it.  Scale: one fact agg to the
# |types|×2 cell grid, row/col totals re-aggregate the cells
# (broadcast), 1-row output.
# --------------------------------------------------------------------------
@q(
    "q_chi_square",
    """
    WITH cells AS (
        SELECT event_type, user_id % 2 AS variant,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ), rows_ AS (
        SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1
    ), cols AS (
        SELECT variant, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells
    ), contrib AS (
        SELECT CAST(round(CAST((c1.o * t.n - r.r * c.c)
                               * CAST(c1.o * t.n - r.r * c.c
                                      AS DECIMAL(38, 0)) AS DOUBLE)
                          / t.n / r.r / c.c * 1000000, 0) AS BIGINT) AS u
        FROM cells c1
        JOIN rows_ r ON r.event_type = c1.event_type
        JOIN cols c ON c.variant = c1.variant
        CROSS JOIN tot t
    )
    SELECT (SELECT n FROM tot) AS n,
           (SELECT CAST((COUNT(*) - 1) AS BIGINT) FROM rows_)
             * (SELECT CAST((COUNT(*) - 1) AS BIGINT) FROM cols) AS df,
           round(CAST(SUM(u) AS DOUBLE) / 1000000.0, 6) AS chi2
    FROM contrib
    """,
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.col("user_id") % 2).alias("variant")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    rows_ = cells.groupBy("event_type").agg(F.sum("o").cast("bigint").alias("r"))
    cols = cells.groupBy("variant").agg(F.sum("o").cast("bigint").alias("c"))
    tot = cells.agg(F.sum("o").cast("bigint").alias("n"))
    nr = rows_.agg((F.count(F.lit(1)) - 1).cast("bigint").alias("dfr"))
    nc = cols.agg((F.count(F.lit(1)) - 1).cast("bigint").alias("dfc"))
    dev = F.col("o") * F.col("n") - F.col("r") * F.col("c")
    u = F.round(
        (dev * dev.cast("decimal(38,0)")).cast("double")
        / F.col("n")
        / F.col("r")
        / F.col("c")
        * 1000000,
        0,
    ).cast("bigint")
    return (
        cells.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols), "variant")
        .crossJoin(F.broadcast(tot))  # 1-row grand total
        .select(u.alias("u"), "n")
        .groupBy("n")
        .agg(F.round(F.sum("u").cast("double") / 1000000.0, 6).alias("chi2"))
        .crossJoin(F.broadcast(nr))  # 1-row df factors
        .crossJoin(F.broadcast(nc))
        .select("n", (F.col("dfr") * F.col("dfc")).alias("df"), "chi2")
    )


# --------------------------------------------------------------------------
# Single change-point detection — the binary-segmentation first step
# (Scott-Knott / CUSUM's offline sibling): over the hourly value
# series, find the split that maximizes the between-segment sum-of-
# squares reduction  gain(h) = (S_l·n_r − S_r·n_l)² / (n_l·n_r·N).
# q_cusum flags that drift exists; this locates WHERE.  Exactness:
# prefix sums are int64 cents on the bounded hour grid (documented
# single-partition window — the q_mannwhitney rule), the gain
# numerator (cum_s·N − S·cum_n)² rides DECIMAL(38,0) (it breaches
# int64 near 1e5 rows — the q_gini head-room rule), one division at
# the end; argmax by (gain_num·den-free compare is not portable, so
# the rounded gain itself orders, tie-broken by hour).
# --------------------------------------------------------------------------
@q(
    "q_changepoint",
    """
    WITH hourly AS (
        SELECT epoch_us(ts) // 3600000000 AS hr,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1
    ), pre AS (
        SELECT hr,
               CAST(SUM(s) OVER (ORDER BY hr) AS BIGINT) AS cum_s,
               CAST(SUM(cnt) OVER (ORDER BY hr) AS BIGINT) AS cum_n
        FROM hourly
    ), tot AS (
        SELECT CAST(SUM(s) AS BIGINT) AS ts_, CAST(SUM(cnt) AS BIGINT) AS tn
        FROM hourly
    ), gains AS (
        SELECT p.hr, p.cum_n, t.tn - p.cum_n AS n_r,
               round(CAST(p.cum_s AS DOUBLE) / p.cum_n / 100.0, 6) AS mean_left,
               round(CAST(t.ts_ - p.cum_s AS DOUBLE) / (t.tn - p.cum_n) / 100.0, 6)
                 AS mean_right,
               round(CAST((p.cum_s * t.tn - t.ts_ * p.cum_n)
                          * CAST(p.cum_s * t.tn - t.ts_ * p.cum_n
                                 AS DECIMAL(38, 0)) AS DOUBLE)
                     / p.cum_n / (t.tn - p.cum_n) / t.tn / 10000.0, 6) AS gain
        FROM pre p CROSS JOIN tot t
        WHERE p.cum_n < t.tn
    )
    SELECT hr AS split_hour, cum_n AS n_left, n_r AS n_right,
           mean_left, mean_right, gain
    FROM gains
    ORDER BY gain DESC, hr ASC LIMIT 1
    """,
)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    hourly = ev.groupBy(
        F.expr("ts div 3600000000").alias("hr")
    ).agg(
        F.sum(cents).cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    w = Window.orderBy("hr").rowsBetween(Window.unboundedPreceding, 0)
    pre = hourly.select(
        "hr",
        F.sum("s").over(w).cast("bigint").alias("cum_s"),
        F.sum("cnt").over(w).cast("bigint").alias("cum_n"),
    )
    tot = hourly.agg(
        F.sum("s").cast("bigint").alias("ts_"),
        F.sum("cnt").cast("bigint").alias("tn"),
    )
    dev = F.col("cum_s") * F.col("tn") - F.col("ts_") * F.col("cum_n")
    n_r = F.col("tn") - F.col("cum_n")
    gains = (
        pre.crossJoin(F.broadcast(tot))  # 1-row totals
        .filter(F.col("cum_n") < F.col("tn"))
        .select(
            F.col("hr").alias("split_hour"),
            F.col("cum_n").alias("n_left"),
            n_r.alias("n_right"),
            F.round(F.col("cum_s").cast("double") / F.col("cum_n") / 100.0, 6)
            .alias("mean_left"),
            F.round((F.col("ts_") - F.col("cum_s")).cast("double") / n_r / 100.0, 6)
            .alias("mean_right"),
            F.round(
                (dev * dev.cast("decimal(38,0)")).cast("double")
                / F.col("cum_n")
                / n_r
                / F.col("tn")
                / 10000.0,
                6,
            ).alias("gain"),
        )
    )
    return gains.orderBy(F.col("gain").desc(), F.col("split_hour").asc()).limit(1)


# --------------------------------------------------------------------------
# RSI — the relative-strength index over the daily revenue series per
# event type (Cutler's SMA-14 variant: the rolling-window form of
# Wilder's recursive smoothing, chosen because a ROWS frame expresses
# it exactly — the recursion needs q_holt's fold instead).  Gains and
# losses are int64 cent diffs; the 14-day sums stay integer, so
# RS = ΣG/(ΣG+ΣL) is one exact-int ratio per row.  Scale: one fact
# agg to the (type, day) grid, one bounded per-type window.
# --------------------------------------------------------------------------
_RSI_N = 14


@q(
    "q_rsi",
    f"""
    WITH daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS close_c
        FROM events GROUP BY 1, 2
    ), diffs AS (
        SELECT event_type, day, close_c,
               close_c - LAG(close_c) OVER w AS d,
               ROW_NUMBER() OVER w AS rn
        FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), gl AS (
        SELECT event_type, day, close_c, rn,
               CAST(SUM(CASE WHEN d > 0 THEN d ELSE 0 END)
                    OVER w14 AS BIGINT) AS sum_gain,
               CAST(SUM(CASE WHEN d < 0 THEN -d ELSE 0 END)
                    OVER w14 AS BIGINT) AS sum_loss
        FROM diffs
        WINDOW w14 AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN {_RSI_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, round(close_c / 100.0, 6) AS close,
           round(CAST(100 * sum_gain AS DOUBLE) / (sum_gain + sum_loss), 6) AS rsi
    FROM gl
    WHERE rn > {_RSI_N} AND sum_gain + sum_loss > 0
    """,
)
def q_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    daily = ev.groupBy(
        "event_type", F.expr("ts div 86400000000").alias("day")
    ).agg(F.sum(cents).cast("bigint").alias("close_c"))
    w = Window.partitionBy("event_type").orderBy("day")
    diffs = daily.select(
        "event_type",
        "day",
        "close_c",
        (F.col("close_c") - F.lag("close_c").over(w)).alias("d"),
        F.row_number().over(w).alias("rn"),
    )
    w14 = w.rowsBetween(-(_RSI_N - 1), 0)
    gl = diffs.select(
        "event_type",
        "day",
        "close_c",
        "rn",
        F.sum(F.when(F.col("d") > 0, F.col("d")).otherwise(0))
        .over(w14)
        .cast("bigint")
        .alias("sum_gain"),
        F.sum(F.when(F.col("d") < 0, -F.col("d")).otherwise(0))
        .over(w14)
        .cast("bigint")
        .alias("sum_loss"),
    )
    return gl.filter(
        (F.col("rn") > _RSI_N) & (F.col("sum_gain") + F.col("sum_loss") > 0)
    ).select(
        "event_type",
        "day",
        F.round(F.col("close_c") / 100.0, 6).alias("close"),
        F.round(
            (100 * F.col("sum_gain")).cast("double")
            / (F.col("sum_gain") + F.col("sum_loss")),
            6,
        ).alias("rsi"),
    )


# --------------------------------------------------------------------------
# One-way ANOVA — does mean value differ across the event types?
# Completes the hypothesis-test family: Welch t (2 groups), Mann-
# Whitney (rank), KS (distribution), chi-square (categorical), and
# now the k-group mean comparison.  Exactness: per-group power sums
# are int64 cents; each group's s_g²·100/n_g lands in int64 micros
# ONCE (s_g² rides DECIMAL(38,0) first — the q_gini head-room rule),
# so both sums of squares are integer sums; F divides once.  One fact
# agg to k rows, 1-row output.
# --------------------------------------------------------------------------
@q(
    "q_anova",
    """
    WITH g AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS s,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)
                        * CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS ss
        FROM events GROUP BY 1
    ), terms AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS n_tot,
               CAST(SUM(s) AS BIGINT) AS s_tot,
               CAST(SUM(ss) AS BIGINT) AS ss_tot,
               CAST(SUM(CAST(round(CAST(CAST(s AS DECIMAL(38, 0)) * s
                                        AS DOUBLE) * 100 / n, 0)
                             AS BIGINT)) AS BIGINT) AS sum_sq_over_n_u
        FROM g
    )
    SELECT k, n_tot,
           round((sum_sq_over_n_u
                  - round(CAST(CAST(s_tot AS DECIMAL(38, 0)) * s_tot AS DOUBLE)
                          * 100 / n_tot, 0)) / 1000000.0, 6) AS ss_between,
           round((CAST(ss_tot AS HUGEINT) * 100 - sum_sq_over_n_u)
                 / 1000000.0, 6) AS ss_within,
           round(CAST(sum_sq_over_n_u
                      - round(CAST(CAST(s_tot AS DECIMAL(38, 0)) * s_tot
                                   AS DOUBLE) * 100 / n_tot, 0) AS DOUBLE)
                 / (k - 1)
                 / ((CAST(ss_tot AS HUGEINT) * 100 - sum_sq_over_n_u) * 1.0
                    / (n_tot - k)), 6)
             AS f_stat
    FROM terms
    """,
)
def q_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(cents).cast("bigint").alias("s"),
        F.sum(cents * cents).cast("bigint").alias("ss"),
    )
    sq_over_n = F.round(
        (F.col("s").cast("decimal(38,0)") * F.col("s")).cast("double")
        * 100
        / F.col("n"),
        0,
    ).cast("bigint")
    terms = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_tot"),
        F.sum("s").cast("bigint").alias("s_tot"),
        F.sum("ss").cast("bigint").alias("ss_tot"),
        F.sum(sq_over_n).cast("bigint").alias("sum_sq_over_n_u"),
    )
    grand = F.round(
        (F.col("s_tot").cast("decimal(38,0)") * F.col("s_tot")).cast("double")
        * 100
        / F.col("n_tot"),
        0,
    )
    ssb_u = F.col("sum_sq_over_n_u") - grand
    # Σcents²·100 breaches int64 at 64× row counts — ride DECIMAL(38,0)
    # (HUGEINT on the oracle side; SCALING.md "Integer head-room")
    ssw_u = F.col("ss_tot").cast("decimal(38,0)") * 100 - F.col("sum_sq_over_n_u")
    return terms.select(
        "k",
        "n_tot",
        F.round(ssb_u / 1000000.0, 6).alias("ss_between"),
        F.round(ssw_u / 1000000.0, 6).alias("ss_within"),
        F.round(
            ssb_u.cast("double")
            / (F.col("k") - 1)
            / (ssw_u * 1.0 / (F.col("n_tot") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )


# --------------------------------------------------------------------------
# Kendall's tau-b — rank correlation between hourly click volume and
# hourly purchase volume, with the tie correction (count data ties
# heavily).  Completes the correlation family: Pearson (q_group_corr/
# q_xcorr_lags), Spearman (q_spearman), and now the concordance form.
# Concordant/discordant pairs come from the i<j self-join of the
# BOUNDED hour grid (≤ n_hours² pairs — the documented bounded-domain
# quadratic, never fact-sized); the tie terms n1/n2 re-aggregate the
# grid by value.  All counts integer; the denominator's product rides
# DECIMAL(38,0); one sqrt + one division at the end.
# --------------------------------------------------------------------------
@q(
    "q_kendall_tau",
    """
    WITH hourly AS (
        SELECT epoch_us(ts) // 3600000000 AS hr,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY 1
    ), pairs AS (
        SELECT CAST(SUM(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM hourly a JOIN hourly b ON a.hr < b.hr
    ), nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM hourly
    ), tx AS (
        SELECT CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS n1
        FROM (SELECT COUNT(*) AS t FROM hourly GROUP BY x)
    ), ty AS (
        SELECT CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS n2
        FROM (SELECT COUNT(*) AS t FROM hourly GROUP BY y)
    )
    SELECT nn.n, pairs.c AS concordant, pairs.d AS discordant,
           tx.n1 AS ties_x, ty.n2 AS ties_y,
           round((pairs.c - pairs.d)
                 / sqrt(CAST((CAST(nn.n AS DECIMAL(38, 0)) * (nn.n - 1) / 2 - tx.n1)
                             * (CAST(nn.n AS DECIMAL(38, 0)) * (nn.n - 1) / 2 - ty.n2)
                             AS DOUBLE)), 6) AS tau_b
    FROM pairs CROSS JOIN nn CROSS JOIN tx CROSS JOIN ty
    """,
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.expr("ts div 3600000000").alias("hr")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    a = hourly.select(
        F.col("hr").alias("hr_a"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = hourly.select(
        F.col("hr").alias("hr_b"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    prod = (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb"))
    pairs = (
        a.join(b, F.col("hr_a") < F.col("hr_b"))
        .agg(
            F.sum(F.when(prod > 0, 1).otherwise(0)).cast("bigint").alias("c"),
            F.sum(F.when(prod < 0, 1).otherwise(0)).cast("bigint").alias("d"),
        )
    )
    nn = hourly.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tx = (
        hourly.groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(F.expr("t * (t - 1) div 2")).cast("bigint").alias("n1")
        )
    )
    ty = (
        hourly.groupBy("y")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(F.expr("t * (t - 1) div 2")).cast("bigint").alias("n2")
        )
    )
    dec = "decimal(38,0)"
    half = F.col("n").cast(dec) * (F.col("n") - 1) / 2
    return (
        pairs.crossJoin(F.broadcast(nn))  # all three are 1-row scalars
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select(
            "n",
            F.col("c").alias("concordant"),
            F.col("d").alias("discordant"),
            F.col("n1").alias("ties_x"),
            F.col("n2").alias("ties_y"),
            F.round(
                (F.col("c") - F.col("d"))
                / F.sqrt(
                    ((half - F.col("n1")) * (half - F.col("n2"))).cast("double")
                ),
                6,
            ).alias("tau_b"),
        )
    )


# --------------------------------------------------------------------------
# Holt-Winters (additive, weekly season m=7) — completes the
# exponential-smoothing family: q_ewm (level), q_holt (level+trend),
# and now level+trend+seasonality over the daily revenue series.
# Textbook init (level = mean of season 1, trend = (mean₂ − mean₁)/m²,
# s_j = y_j − level), then the classic three-equation update from day
# m+1.  Smoothing constants are binary-exact doubles (α=0.25,
# β=0.0625, γ=0.125), init means divide exact int cent sums once, and
# the recursion applies the IDENTICAL operation sequence in the
# Python kernel and DuckDB's recursive CTE (list-valued seasonal
# state; `AS MATERIALIZED` on the series CTE — non-materialized CTEs
# re-evaluate per recursive step).  Scale: the fact side collapses to
# the bounded daily grid distributed-first; the sequential fold runs
# on that dimension-sized series only (the q_holt applyInPandas
# shape, one bounded group).  Emitted only when ≥ 15 days exist (two
# full seasons + 1), identically on both engines.
# --------------------------------------------------------------------------
_HW_M = 7


@q(
    "q_holt_winters",
    """
    WITH RECURSIVE d AS MATERIALIZED (
        SELECT day, c,
               ROW_NUMBER() OVER (ORDER BY day) AS rn
        FROM (
            SELECT epoch_us(ts) // 86400000000 AS day,
                   CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS c
            FROM events GROUP BY 1
        )
    ), init AS MATERIALIZED (
        SELECT CAST((SELECT SUM(c) FROM d WHERE rn <= 7) AS DOUBLE) / 700.0 AS l0,
               CAST((SELECT SUM(c) FROM d WHERE rn BETWEEN 8 AND 14)
                    - (SELECT SUM(c) FROM d WHERE rn <= 7) AS DOUBLE)
                 / 4900.0 AS b0,
               (SELECT list(CAST(c AS DOUBLE) / 100.0
                            - CAST((SELECT SUM(c) FROM d WHERE rn <= 7)
                                   AS DOUBLE) / 700.0
                            ORDER BY rn)
                FROM d WHERE rn <= 7) AS s0,
               (SELECT COUNT(*) FROM d) AS n_days
    ), hw AS (
        SELECT CAST(7 AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS day,
               CAST(NULL AS DOUBLE) AS y, l0 AS l, b0 AS b, s0 AS s,
               CAST(NULL AS DOUBLE) AS seasonal, CAST(NULL AS DOUBLE) AS fitted
        FROM init WHERE n_days >= 15
        UNION ALL
        SELECT r.rn, r.day, CAST(r.c AS DOUBLE) / 100.0,
               0.25 * (CAST(r.c AS DOUBLE) / 100.0 - h.s[1])
                 + 0.75 * (h.l + h.b),
               0.0625 * ((0.25 * (CAST(r.c AS DOUBLE) / 100.0 - h.s[1])
                          + 0.75 * (h.l + h.b)) - h.l) + 0.9375 * h.b,
               h.s[2:7] || [0.125 * (CAST(r.c AS DOUBLE) / 100.0
                                     - (0.25 * (CAST(r.c AS DOUBLE) / 100.0
                                                - h.s[1])
                                        + 0.75 * (h.l + h.b)))
                            + 0.875 * h.s[1]],
               h.s[1],
               h.l + h.b + h.s[1]
        FROM hw h JOIN d r ON r.rn = h.rn + 1
    )
    SELECT day, round(y, 6) AS y, round(l, 6) AS level, round(b, 6) AS trend,
           round(seasonal, 6) AS seasonal, round(fitted, 6) AS fitted
    FROM hw WHERE rn > 7
    """,
)
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    daily = ev.groupBy(F.expr("ts div 86400000000").alias("day")).agg(
        F.sum(cents).cast("bigint").alias("c")
    )

    def kernel(pdf):
        import math

        import pandas as pd

        def r6(x):
            return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6

        cols = ("day", "y", "level", "trend", "seasonal", "fitted")
        if not {"day", "c"} <= set(pdf.columns) or len(pdf) < 2 * _HW_M + 1:
            return pd.DataFrame({k: pd.Series([], dtype="float64") for k in cols})
        pdf = pdf.sort_values("day", kind="mergesort")
        days = [int(v) for v in pdf["day"]]
        c = [int(v) for v in pdf["c"]]
        lvl = sum(c[:7]) / 700.0
        b = (sum(c[7:14]) - sum(c[:7])) / 4900.0
        s = [ci / 100.0 - lvl for ci in c[:7]]
        out = {k: [] for k in cols}
        for i in range(_HW_M, len(c)):
            y = c[i] / 100.0
            s1 = s[0]
            fitted = lvl + b + s1
            lnew = 0.25 * (y - s1) + 0.75 * (lvl + b)
            bnew = 0.0625 * (lnew - lvl) + 0.9375 * b
            snew = 0.125 * (y - lnew) + 0.875 * s1
            lvl, b = lnew, bnew
            s = s[1:] + [snew]
            out["day"].append(days[i])
            out["y"].append(r6(y))
            out["level"].append(r6(lvl))
            out["trend"].append(r6(b))
            out["seasonal"].append(r6(s1))
            out["fitted"].append(r6(fitted))
        return pd.DataFrame(out)

    return daily.groupBy(F.lit(1).alias("g")).applyInPandas(
        kernel,
        "day bigint, y double, level double, trend double, "
        "seasonal double, fitted double",
    )


# --------------------------------------------------------------------------
# Poisson bootstrap — B=32 deterministic resampling replicates of the
# mean event value, the distributed bootstrap (Chamandy et al.,
# Google 2012: per-row independent Poisson(1) weights replace
# with-replacement sampling, so one scan serves every replicate and
# no resampled copy of the data exists).  Randomness is the engine's
# hash coin: w(row, b) inverts the Poisson(1) CDF via a PYTHON-
# GENERATED integer LUT embedded in both SQLs (the q_dp_count
# pattern — no libm on the judged path).  The per-replicate sums are
# exact int64 cents; the fan-out is a scan-side Generate into a
# 32-group map-side-combined agg — replicate state, never data,
# reaches the shuffle.  (The fold helper pre-mods its key by 1e9+7,
# added after this query's 8× probe overflowed int64 on 7e9 ids.)
# --------------------------------------------------------------------------
_BOOT_B = 32
# ceil(1000 · P(Poisson(1) ≤ k)) for k = 0..5; weight = #thresholds
# strictly below the hash draw (≥ 999 ⇒ 6, capping the tail).
_POIS_LUT = (368, 736, 920, 981, 996, 999)


def _boot_weight_sql(h: str) -> str:
    return (
        "("
        + " + ".join(f"CASE WHEN {h} >= {t} THEN 1 ELSE 0 END" for t in _POIS_LUT)
        + ")"
    )


@q(
    "q_bootstrap_ci",
    f"""
    WITH fan AS (
        SELECT b.b AS replicate,
               {_boot_weight_sql(knuth_fold_sql('event_id * 31 + b.b * 7919', 1000))}
                 AS w,
               CAST(round(value * 100, 0) AS BIGINT) AS cents
        FROM events, (SELECT unnest(range(0, {_BOOT_B})) AS b) b
    )
    SELECT replicate,
           CAST(SUM(w) AS BIGINT) AS n_eff,
           round(CAST(SUM(w * cents) AS DOUBLE) / SUM(w) / 100.0, 6)
             AS mean_value
    FROM fan GROUP BY replicate
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_id", "value")
    fan = ev.select(
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.explode(F.expr(f"sequence(0, {_BOOT_B - 1})")).alias("replicate"),
    )
    h = knuth_fold_sql("event_id * 31 + replicate * 7919", 1000)
    w = F.expr(_boot_weight_sql(h))
    return (
        fan.select("replicate", w.alias("w"), "cents")
        .groupBy("replicate")
        .agg(
            F.sum("w").cast("bigint").alias("n_eff"),
            F.round(
                F.sum(F.col("w") * F.col("cents")).cast("double")
                / F.sum("w")
                / 100.0,
                6,
            ).alias("mean_value"),
        )
    )


# --------------------------------------------------------------------------
# Windowed funnel — the ClickHouse-windowFunnel semantics: how far
# does each user get through view → click → purchase where every
# consecutive stage must land within 1 hour of the previous one?
# q_funnel answers unbounded 2-stage conversion; this adds the stage
# chain + the per-hop time bound every growth team actually uses.
# Earliest-completion semantics: stage k's timestamp is the MIN event
# of that type inside (prev, prev + 1h] — three chained per-user
# min-aggs, each a dimension-sized join back onto the typed scan; no
# windows over the raw feed, no per-user sequence kernel.
# --------------------------------------------------------------------------
_WF_GAP_US = 3600 * 10**6


@q(
    "q_window_funnel",
    f"""
    WITH v AS (
        SELECT user_id, MIN(epoch_us(ts)) AS t1
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click'
          AND epoch_us(e.ts) > v.t1 AND epoch_us(e.ts) <= v.t1 + {_WF_GAP_US}
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase'
          AND epoch_us(e.ts) > c.t2 AND epoch_us(e.ts) <= c.t2 + {_WF_GAP_US}
        GROUP BY e.user_id
    )
    SELECT v.user_id, v.t1 AS view_us, c.t2 AS click_us, p.t3 AS purchase_us,
           CAST(1 + CASE WHEN c.t2 IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN p.t3 IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS stages_reached
    FROM v
    LEFT JOIN c ON c.user_id = v.user_id
    LEFT JOIN p ON p.user_id = v.user_id
    """,
)
def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + _WF_GAP_US))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + _WF_GAP_US))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    reach = (
        1
        + F.when(F.col("t2").isNull(), 0).otherwise(1)
        + F.when(F.col("t3").isNull(), 0).otherwise(1)
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.col("t1").alias("view_us"),
            F.col("t2").alias("click_us"),
            F.col("t3").alias("purchase_us"),
            reach.cast("bigint").alias("stages_reached"),
        )
    )


# --------------------------------------------------------------------------
# Temporal train/test split — the time-series-correct alternative to
# q_split_assign's hash coins: everything before the cut goes to
# train, everything at/after to test, so no future information leaks
# backward (random splits DO leak for forecasting tasks).  The cut is
# the first hour where the cumulative event count reaches 80% —
# computed on the bounded hourly grid (one prefix window, the
# q_mannwhitney rule) and broadcast as one row; the per-event tagging
# is a scan-side comparison.  Integer arithmetic only (cum·10 ≥ 8·N).
# --------------------------------------------------------------------------
@q(
    "q_temporal_split",
    """
    WITH hourly AS (
        SELECT epoch_us(ts) // 3600000000 AS hr, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ), pre AS (
        SELECT hr,
               CAST(SUM(c) OVER (ORDER BY hr) AS BIGINT) AS cum,
               CAST(SUM(c) OVER () AS BIGINT) AS n
        FROM hourly
    ), cut AS (
        SELECT CAST(MIN(hr) AS BIGINT) AS cut_hr FROM pre WHERE cum * 10 >= n * 8
    )
    SELECT e.event_id,
           CAST(epoch_us(e.ts) // 3600000000 AS BIGINT) AS hr,
           CASE WHEN epoch_us(e.ts) // 3600000000 < c.cut_hr
                THEN 'train' ELSE 'test' END AS split
    FROM events e CROSS JOIN cut c
    """,
)
def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.expr("ts div 3600000000").alias("hr")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = Window.orderBy("hr").rowsBetween(Window.unboundedPreceding, 0)
    pre = hourly.select(
        "hr",
        F.sum("c").over(w).cast("bigint").alias("cum"),
        F.sum("c").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    cut = pre.filter(F.col("cum") * 10 >= F.col("n") * 8).agg(
        F.min("hr").cast("bigint").alias("cut_hr")
    )
    hr = F.expr("ts div 3600000000").cast("bigint")
    return ev.crossJoin(F.broadcast(cut)).select(
        "event_id",
        hr.alias("hr"),
        F.when(hr < F.col("cut_hr"), "train").otherwise("test").alias("split"),
    )


# --------------------------------------------------------------------------
# Log-scale histogram — powers-of-two value bins per event type, the
# right shape for heavy-tailed metrics where q_histogram's linear
# bins put 99% of mass in one bucket.  The bin is exact integer math:
# floor(log2(cents)) = length(bin(cents)) − 1 (binary digit count —
# no libm log anywhere), bounds reconstructed with shifts.  One
# map-side-combined fact agg to ≤ |types|·log2(max) cells.
# --------------------------------------------------------------------------
@q(
    "q_log_histogram",
    """
    SELECT event_type,
           CAST(length(bin(CAST(round(value * 100, 0) AS BIGINT))) - 1
                AS BIGINT) AS bin_log2,
           round(CAST((CAST(1 AS BIGINT)
                       << (length(bin(CAST(round(value * 100, 0) AS BIGINT))) - 1))
                      AS DOUBLE) / 100.0, 6) AS lo_value,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS total_c
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def q_log_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    b = (F.length(F.expr("bin(cast(round(value * 100, 0) as bigint))")) - 1).cast(
        "bigint"
    )
    lo = F.round(
        F.expr(
            "cast(shiftleft(cast(1 as bigint), "
            "length(bin(cast(round(value * 100, 0) as bigint))) - 1) as double)"
        )
        / 100.0,
        6,
    )
    return ev.groupBy(
        "event_type", b.alias("bin_log2"), lo.alias("lo_value")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(cents).cast("bigint").alias("total_c"),
    )


# --------------------------------------------------------------------------
# Exact percentile rank — each event's value percentile within its
# event type (the feature-prep normalization that survives skew where
# z-scores don't).  Deliberately NOT a fact-partitioned window (5
# types ⇒ corpus-sized partitions at 100 TB): ranks come from the
# bounded (type, distinct-cents) grid — per-cell counts, one prefix
# window on the grid (the q_mannwhitney rule), then one broadcast
# join back onto the scan.  pct = (# strictly smaller + 1) scaled by
# 1e6 over n, an exact integer ratio; ties share a rank (RANK
# semantics).
# --------------------------------------------------------------------------
@q(
    "q_percentile_rank",
    """
    WITH g AS (
        SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), grid AS (
        SELECT event_type, cents,
               CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY cents)
                    - c AS BIGINT) AS n_smaller,
               CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM g
    )
    SELECT e.event_id, e.event_type, e.value,
           round(CAST((grid.n_smaller + 1) * 1000000 // grid.n AS DOUBLE)
                 / 1000000.0, 6) AS pct_rank
    FROM events e
    JOIN grid ON grid.event_type = e.event_type
             AND grid.cents = CAST(round(e.value * 100, 0) AS BIGINT)
    """,
)
def q_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    g = ev.groupBy("event_type", cents.alias("cents")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    grid = g.select(
        "event_type",
        "cents",
        (F.sum("c").over(w) - F.col("c")).cast("bigint").alias("n_smaller"),
        F.sum("c").over(Window.partitionBy("event_type")).cast("bigint").alias("n"),
    )
    e = ev.alias("e")
    gr = grid.alias("gr")
    return (
        e.join(
            F.broadcast(gr),
            (F.col("e.event_type") == F.col("gr.event_type"))
            & (F.round(F.col("e.value") * 100, 0).cast("bigint")
               == F.col("gr.cents")),
        )
        .select(
            F.col("e.event_id").alias("event_id"),
            F.col("e.event_type").alias("event_type"),
            F.col("e.value").alias("value"),
            F.round(
                F.expr("cast((n_smaller + 1) * 1000000 div n as double)")
                / 1000000.0,
                6,
            ).alias("pct_rank"),
        )
    )


# --------------------------------------------------------------------------
# Day-of-week seasonal index — mean revenue per weekday over the
# grand mean, the retail "Monday index" (and the additive-seasonality
# sanity check behind q_holt_winters' m=7 choice).  Exact: weekday
# from integer epoch-day mod 7 (no calendar libm; day 0 = Thursday,
# the epoch's weekday — documented), per-dow cent sums, index =
# one double division of two exact DECIMAL(38,0) products, round 6
# (integer floor-division was NOT portable here: DuckDB's // on
# DECIMAL operands rounds the quotient).  One fact agg to ≤7 rows +
# a 1-row grand total broadcast.
# --------------------------------------------------------------------------
@q(
    "q_seasonal_index",
    """
    WITH d AS (
        SELECT (epoch_us(ts) // 86400000000) % 7 AS dow,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS s
        FROM events GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(s) AS BIGINT) AS st FROM d
    )
    SELECT d.dow, d.n, round(CAST(d.s AS DOUBLE) / d.n / 100.0, 6) AS mean_value,
           round(CAST(CAST(d.s AS DECIMAL(38, 0)) * t.nt AS DOUBLE)
                 / CAST(CAST(d.n AS DECIMAL(38, 0)) * t.st AS DOUBLE), 6)
             AS seasonal_index
    FROM d CROSS JOIN tot t
    """,
)
def q_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    d = ev.groupBy(F.expr("(ts div 86400000000) % 7").alias("dow")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(cents).cast("bigint").alias("s"),
    )
    tot = d.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s").cast("bigint").alias("st"),
    )
    dec = "decimal(38,0)"
    return d.crossJoin(F.broadcast(tot)).select(
        "dow",
        "n",
        F.round(F.col("s").cast("double") / F.col("n") / 100.0, 6).alias(
            "mean_value"
        ),
        F.round(
            (F.col("s").cast(dec) * F.col("nt")).cast("double")
            / (F.col("n").cast(dec) * F.col("st")).cast("double"),
            6,
        ).alias("seasonal_index"),
    )

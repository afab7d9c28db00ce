"""Lakehouse maintenance queries over the `events` change log —
SCD type-2 dimension build and CDC snapshot apply.  Companions to
q_merge_upsert (plans/relational.py): MERGE is the point-in-time
upsert, these are the log-to-table shapes around it.  No reference
analog (the reference is pure trajectory ML, SURVEY §2.7b); the
shapes themselves are the standard dimension-maintenance idioms any
warehouse user of this engine runs.

Scale design: both queries shuffle the fact log exactly once, on the
natural key (`user_id`).  SCD2 is two Window passes over ONE
exchange (filter preserves the hash distribution, so Catalyst reuses
it); CDC apply is one Window pass computing rank and per-key count
together.  No joins against the raw log, no driver collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..scratch import checkpoint_parquet
from ..sources.io import table
from .registry import registrar

QUERIES: dict = {}
ORACLES: dict = {}
q = registrar(QUERIES, ORACLES)


# --------------------------------------------------------------------------
# SCD type-2 build — compact a per-key attribute change log into
# versioned validity intervals.  `event_type` plays the tracked
# attribute: consecutive repeats collapse (lag-compare), each change
# opens a version stamped valid_from; valid_to is the next change
# (lead), NULL on the current version.  lag and lead share one
# partitioning, so the whole build is a single hash shuffle at any
# scale.
# --------------------------------------------------------------------------
@q(
    "q_scd2",
    """
    WITH src AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) AS prev_attr
        FROM events
    ), chg AS (
        SELECT user_id, event_id, event_type AS attr, ts_us
        FROM src WHERE prev_attr IS NULL OR prev_attr <> event_type
    )
    SELECT user_id, attr, ts_us AS valid_from_us,
           lead(ts_us) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
           ) AS valid_to_us,
           CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
           ) AS BIGINT) AS version_n,
           (lead(ts_us) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
           ) IS NULL) AS is_current
    FROM chg
    """,
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = ev.withColumn("prev_attr", F.lag("event_type").over(w)).filter(
        F.col("prev_attr").isNull()
        | (F.col("prev_attr") != F.col("event_type"))
    )
    return chg.select(
        "user_id",
        F.col("event_type").alias("attr"),
        F.col("ts").alias("valid_from_us"),
        F.lead("ts").over(w).alias("valid_to_us"),
        F.row_number().over(w).cast("long").alias("version_n"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


# --------------------------------------------------------------------------
# CDC apply — materialize the current snapshot from a change stream:
# latest row per key wins, a trailing delete ('error' plays the D op)
# removes the key.  rank and per-key change count ride the SAME
# window partitioning — one shuffle total, then a scan-side filter.
# This is the read-side half of q_merge_upsert: MERGE folds one batch
# into a table; CDC apply folds the whole retained log.
# --------------------------------------------------------------------------
@q(
    "q_cdc_apply",
    """
    WITH ranked AS (
        SELECT user_id, value, epoch_us(ts) AS ts_us,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(ts) DESC, event_id DESC
               ) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_changes
        FROM events
    )
    SELECT user_id, value AS current_value, ts_us AS updated_us, n_changes
    FROM ranked WHERE rn = 1 AND op = 'U'
    """,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    wn = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    wa = Window.partitionBy("user_id")
    return (
        ev.withColumn(
            "op",
            F.when(F.col("event_type") == "error", F.lit("D")).otherwise(
                F.lit("U")
            ),
        )
        .withColumn("rn", F.row_number().over(wn))
        .withColumn("n_changes", F.count(F.lit(1)).over(wa))
        .filter((F.col("rn") == 1) & (F.col("op") == "U"))
        .select(
            "user_id",
            F.col("value").alias("current_value"),
            F.col("ts").alias("updated_us"),
            "n_changes",
        )
    )


# --------------------------------------------------------------------------
# Time travel — CDC snapshot AS OF a past instant: replay only log
# entries at or before the cutoff, then the same latest-per-key fold
# as q_cdc_apply.  The cutoff is a literal, so it reaches the parquet
# scan as a pushed filter (row groups after the cutoff are skipped on
# footer stats) — at 100 TB, time travel over a time-clustered log
# reads only the history prefix, never the whole table.
# --------------------------------------------------------------------------
ASOF_SNAPSHOT_US = 1_705_276_800_000_000  # 2024-01-15T00:00:00Z


@q(
    "q_cdc_asof",
    f"""
    WITH ranked AS (
        SELECT user_id, value, epoch_us(ts) AS ts_us,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(ts) DESC, event_id DESC
               ) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_changes
        FROM events
        WHERE epoch_us(ts) <= {ASOF_SNAPSHOT_US}
    )
    SELECT user_id, value AS value_asof, ts_us AS updated_us, n_changes
    FROM ranked WHERE rn = 1 AND op = 'U'
    """,
)
def q_cdc_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.io import events_asof

    ev = events_asof(spark, sf_dir, ASOF_SNAPSHOT_US).select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    wn = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    wa = Window.partitionBy("user_id")
    return (
        ev.withColumn(
            "op",
            F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")),
        )
        .withColumn("rn", F.row_number().over(wn))
        .withColumn("n_changes", F.count(F.lit(1)).over(wa))
        .filter((F.col("rn") == 1) & (F.col("op") == "U"))
        .select(
            "user_id",
            F.col("value").alias("value_asof"),
            F.col("ts").alias("updated_us"),
            "n_changes",
        )
    )


DIFF_T1_US = ASOF_SNAPSHOT_US  # 2024-01-15T00:00:00Z
DIFF_T2_US = 1_706_140_800_000_000  # 2024-01-25T00:00:00Z


# --------------------------------------------------------------------------
# Snapshot diff — what changed between two time-travel snapshots of
# the CDC log (the audit query behind "show me the delta between
# Monday's and Friday's table").  Both snapshots come from ONE scan
# with ts <= T2 pushed to the parquet reader (history prefix only);
# the T1 snapshot is the same latest-per-key window restricted to
# ts <= T1 rows.  A key is live if its latest op is an upsert
# ('error' plays the delete).  One user-keyed exchange computes both
# ranks; the diff classifier is a projection over the 1-row-per-key
# result — no second scan, no join against the raw log.
# --------------------------------------------------------------------------
@q(
    "q_snapshot_diff",
    f"""
    WITH ranked AS (
        SELECT user_id, value, epoch_us(ts) AS ts_us,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(ts) DESC, event_id DESC
               ) AS rn2,
               CASE WHEN epoch_us(ts) <= {DIFF_T1_US} THEN
                   row_number() OVER (
                       PARTITION BY user_id,
                                    CASE WHEN epoch_us(ts) <= {DIFF_T1_US}
                                         THEN 1 ELSE 0 END
                       ORDER BY epoch_us(ts) DESC, event_id DESC
                   ) END AS rn1
        FROM events WHERE epoch_us(ts) <= {DIFF_T2_US}
    ), snap AS (
        SELECT user_id,
               MAX(CASE WHEN rn1 = 1 AND op = 'U' THEN value END) AS v1,
               MAX(CASE WHEN rn1 = 1 THEN op END) AS op1,
               MAX(CASE WHEN rn2 = 1 AND op = 'U' THEN value END) AS v2,
               MAX(CASE WHEN rn2 = 1 THEN op END) AS op2
        FROM ranked GROUP BY user_id
    )
    SELECT user_id,
           CASE WHEN COALESCE(op1, 'D') = 'D' THEN 'added'
                WHEN op2 = 'D' THEN 'removed'
                ELSE 'updated' END AS change,
           v1 AS value_before, v2 AS value_after
    FROM snap
    WHERE (COALESCE(op1, 'D') <> 'D' OR COALESCE(op2, 'D') <> 'D')
      AND NOT (COALESCE(op1, 'D') = 'U' AND COALESCE(op2, 'D') = 'U'
               AND v1 = v2)
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.io import events_asof

    ev = events_asof(spark, sf_dir, DIFF_T2_US).select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    op = F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U"))
    in_t1 = F.when(F.col("ts") <= DIFF_T1_US, 1).otherwise(0)
    w2 = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    w1 = Window.partitionBy("user_id", "in_t1").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = (
        ev.withColumn("op", op)
        .withColumn("in_t1", in_t1)
        .withColumn("rn2", F.row_number().over(w2))
        .withColumn(
            "rn1",
            F.when(F.col("in_t1") == 1, F.row_number().over(w1)),
        )
    )
    is1 = F.col("rn1") == 1
    is2 = F.col("rn2") == 1
    snap = ranked.groupBy("user_id").agg(
        F.max(F.when(is1 & (F.col("op") == "U"), F.col("value"))).alias("v1"),
        F.max(F.when(is1, F.col("op"))).alias("op1"),
        F.max(F.when(is2 & (F.col("op") == "U"), F.col("value"))).alias("v2"),
        F.max(F.when(is2, F.col("op"))).alias("op2"),
    )
    live1 = F.coalesce(F.col("op1"), F.lit("D")) == "U"
    live2 = F.col("op2") == "U"
    return (
        snap.filter(live1 | live2)
        .filter(~(live1 & live2 & (F.col("v1") == F.col("v2"))))
        .select(
            "user_id",
            F.when(~live1, "added")
            .when(~live2, "removed")
            .otherwise("updated")
            .alias("change"),
            F.col("v1").alias("value_before"),
            F.col("v2").alias("value_after"),
        )
    )


# --------------------------------------------------------------------------
# Compaction (OPTIMIZE) planner — the small-file maintenance pass:
# treat each (source, lang) stratum as a "file" with its byte count,
# order files deterministically, and assign them to target-sized
# output groups by prefix-sum bin packing (bin = cumulative bytes
# BEFORE this file div target).  This is exactly how a lakehouse
# OPTIMIZE job plans rewrite groups; the plan table is
# dimension-sized, so the planner costs one tiny agg + one window
# regardless of table size.  First-fit-by-order packing (not best-
# fit) keeps the assignment a pure prefix sum — deterministic and
# distributed-friendly.
# --------------------------------------------------------------------------
@q(
    "q_compaction_plan",
    """
    WITH files AS (
        SELECT source, lang, CAST(SUM(n_chars) AS BIGINT) AS bytes,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source, lang
    ), planned AS (
        SELECT source, lang, bytes, n_docs,
               COALESCE(SUM(bytes) OVER (ORDER BY source, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS bytes_before
        FROM files
    )
    SELECT source, lang, bytes, n_docs,
           CAST(bytes_before // 65536 AS BIGINT) AS target_group
    FROM planned
    """,
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    files = d.groupBy("source", "lang").agg(
        F.sum("n_chars").cast("bigint").alias("bytes"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    w = Window.orderBy("source", "lang").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return files.select(
        "source",
        "lang",
        "bytes",
        "n_docs",
        F.coalesce(F.sum("bytes").over(w), F.lit(0)).alias("bytes_before"),
    ).select(
        "source",
        "lang",
        "bytes",
        "n_docs",
        F.expr("bytes_before div 65536").alias("target_group"),
    )


# --------------------------------------------------------------------------
# Incremental materialized-view refresh — the lakehouse pattern that
# makes 100 TB aggregates maintainable: the stored MV (partial
# aggregate per key) absorbs a delta batch WITHOUT rescanning the
# base facts.  Here the MV is monthly revenue by order priority; the
# base partition (o_orderdate < 2001-01-01) is aggregated once and
# PERSISTED to scratch parquet — standing in for the stored MV — and
# the refresh plan reads {MV parquet} ∪ {delta scan with the date
# filter pushed to the parquet footer}, combines the two partial
# aggregates with a key-coalesced full-outer join, and flags which MV
# rows the delta touched.  Fact-side cost of a refresh is O(delta),
# never O(base) — the sum/count partials compose associatively
# (AVG-style MVs must store (sum, n), exactly as done here).
# --------------------------------------------------------------------------
_MV_CENTS = "CAST(round(o_totalprice * 100, 0) AS BIGINT)"
_MV_KEY_DUCK = "strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')"


@q(
    "q_mv_incremental",
    f"""
    WITH base AS (
        SELECT {_MV_KEY_DUCK} AS month_start, o_orderpriority,
               CAST(SUM({_MV_CENTS}) AS BIGINT) AS total_cents,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders WHERE o_orderdate < DATE '2001-01-01'
        GROUP BY 1, 2
    ), delta AS (
        SELECT {_MV_KEY_DUCK} AS month_start, o_orderpriority,
               CAST(SUM({_MV_CENTS}) AS BIGINT) AS total_cents,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders WHERE o_orderdate >= DATE '2001-01-01'
        GROUP BY 1, 2
    )
    SELECT COALESCE(b.month_start, d.month_start) AS month_start,
           COALESCE(b.o_orderpriority, d.o_orderpriority) AS o_orderpriority,
           COALESCE(b.total_cents, 0) + COALESCE(d.total_cents, 0)
               AS total_cents,
           COALESCE(b.n_orders, 0) + COALESCE(d.n_orders, 0) AS n_orders,
           CAST(CASE WHEN d.n_orders IS NOT NULL THEN 1 ELSE 0 END AS INT)
               AS was_updated
    FROM base b
    FULL JOIN delta d
      ON b.month_start = d.month_start
     AND b.o_orderpriority = d.o_orderpriority
    """,
)
def q_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = "2001-01-01"
    key = F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")

    def agg(df):
        return (
            df.select(
                key.alias("month_start"), "o_orderpriority", cents.alias("cents")
            )
            .groupBy("month_start", "o_orderpriority")
            .agg(
                F.sum("cents").cast("bigint").alias("total_cents"),
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            )
        )

    o = table(spark, sf_dir, "orders")
    # "stored" MV: aggregate the base partition once, persist, read back
    # — the refresh below never touches base facts again.
    mv = checkpoint_parquet(
        agg(o.filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp"))),
        "mv_base_",
    ).alias("b")
    delta = agg(
        o.filter(F.col("o_orderdate") >= F.lit(cutoff).cast("timestamp"))
    ).alias("d")
    cond = (F.col("b.month_start") == F.col("d.month_start")) & (
        F.col("b.o_orderpriority") == F.col("d.o_orderpriority")
    )
    return mv.join(delta, cond, "full_outer").select(
        F.coalesce("b.month_start", "d.month_start").alias("month_start"),
        F.coalesce("b.o_orderpriority", "d.o_orderpriority").alias(
            "o_orderpriority"
        ),
        (
            F.coalesce("b.total_cents", F.lit(0))
            + F.coalesce("d.total_cents", F.lit(0))
        )
        .cast("bigint")
        .alias("total_cents"),
        (
            F.coalesce("b.n_orders", F.lit(0)) + F.coalesce("d.n_orders", F.lit(0))
        )
        .cast("bigint")
        .alias("n_orders"),
        F.when(F.col("d.n_orders").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("was_updated"),
    )


# --------------------------------------------------------------------------
# Zone-map pruning audit — per-file min/max stats (files simulated as
# 64 contiguous orderkey ranges, the natural ingest clustering) and,
# for the canonical time-window predicate, whether each file's
# [min, max] interval lets the scan skip it.  The measurement that
# motivates q_zorder_cells/q_compaction_plan: a near-zero skip ratio
# on a date predicate says the layout needs re-clustering.  All
# exact: day ints are yyyymmdd, the file spine is ≤64 rows, the
# orderkey→file map needs one 1-row max broadcast.  One fact agg.
# --------------------------------------------------------------------------
_ZM_LO, _ZM_HI = 19970101, 19970630


@q(
    "q_zonemap_audit",
    f"""
    WITH mx AS (
        SELECT CAST(MAX(l_orderkey) + 1 AS BIGINT) AS mo FROM lineitem
    ), stats AS (
        SELECT CAST(l.l_orderkey * 64 // mx.mo AS BIGINT) AS file_id,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(MIN(CAST(strftime(l.l_shipdate, '%Y%m%d') AS BIGINT))
                    AS BIGINT) AS min_day,
               CAST(MAX(CAST(strftime(l.l_shipdate, '%Y%m%d') AS BIGINT))
                    AS BIGINT) AS max_day
        FROM lineitem l CROSS JOIN mx
        GROUP BY 1
    )
    SELECT file_id, n_rows, min_day, max_day,
           NOT (min_day <= {_ZM_HI} AND max_day >= {_ZM_LO}) AS skipped
    FROM stats
    """,
)
def q_zonemap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    mx = li.agg((F.max("l_orderkey") + 1).cast("bigint").alias("mo"))
    day = F.date_format("l_shipdate", "yyyyMMdd").cast("bigint")
    stats = (
        li.crossJoin(F.broadcast(mx))  # 1-row max orderkey
        .groupBy(
            F.expr("l_orderkey * 64 div mo").cast("bigint").alias("file_id")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min(day).cast("bigint").alias("min_day"),
            F.max(day).cast("bigint").alias("max_day"),
        )
    )
    return stats.select(
        "file_id",
        "n_rows",
        "min_day",
        "max_day",
        (~((F.col("min_day") <= _ZM_HI) & (F.col("max_day") >= _ZM_LO))).alias(
            "skipped"
        ),
    )

"""Relational operator suite over the star schema (SURVEY.md §2).

Each query re-expresses one reference operator as a declarative Spark
plan, with a DuckDB oracle twin.  Determinism rules used throughout
(so the driver's order-insensitive value-hash matches bitwise):

* Money/measure aggregates go through exact int64 "cents" sums
  (``functions.scalar.cents``) — double summation order is
  nondeterministic on every parallel engine, int64 summation is not.
* Per-row scalar arithmetic (a*b, a-b, /, sqrt) is IEEE-deterministic
  and needs no rounding.
* libm-backed fns (exp/sin/cos/atan2) are rounded to 6 decimals on
  both sides (JVM StrictMath vs C libm may differ in the last ulp).
* Timestamps are emitted as formatted strings (engine-native epoch
  conversion depends on session timezone).
* Every window order carries a unique tiebreaker column.

Scale notes are attached per query: what Catalyst pushes down, which
joins broadcast, where the shuffle lands at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from ..functions.scalar import cents, clip, dummy, make_id
from ..sources.io import spread_scan, table
from .registry import registrar

QUERIES: dict = {}
ORACLES: dict = {}
q = registrar(QUERIES, ORACLES)


# --------------------------------------------------------------------------
# §2.4 A2 — multi-aggregate groupBy with named outputs (flagship).
# Reference: main_cuda.py:365-380 (14 named aggs over the neighbor table).
# Expressed as the TPC-H-Q1-shaped pricing summary over lineitem.
# Scale: map-side partial aggregation on (returnflag, linestatus) — 6
# groups — so the shuffle moves ~6 rows per task regardless of input
# size; the parquet scan prunes to 7 of 11 columns and pushes the
# shipdate predicate down to the row-group stats.
# --------------------------------------------------------------------------
@q(
    "q_groupby_multi",
    """
    SELECT l_returnflag, l_linestatus,
           SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) / 100.0 AS sum_qty,
           SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) / 100.0 AS sum_base_price,
           SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) / 100.0 AS sum_disc_price,
           SUM(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100, 0) AS BIGINT)) / 100.0 AS sum_charge,
           SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) / COUNT(*) / 100.0 AS avg_qty,
           SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) / COUNT(*) / 100.0 AS avg_price,
           SUM(CAST(round(l_discount * 10000, 0) AS BIGINT)) / COUNT(*) / 10000.0 AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1999-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_groupby_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    g = (
        li.filter(F.col("l_shipdate") <= F.lit("1999-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents(F.col("l_quantity"))).alias("_qc"),
            F.sum(cents(F.col("l_extendedprice"))).alias("_bc"),
            F.sum(cents(disc_price)).alias("_dc"),
            F.sum(cents(charge)).alias("_cc"),
            F.sum(F.round(F.col("l_discount") * 10000, 0).cast("bigint")).alias("_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        (F.col("_qc") / 100.0).alias("sum_qty"),
        (F.col("_bc") / 100.0).alias("sum_base_price"),
        (F.col("_dc") / 100.0).alias("sum_disc_price"),
        (F.col("_cc") / 100.0).alias("sum_charge"),
        (F.col("_qc") / F.col("count_order") / 100.0).alias("avg_qty"),
        (F.col("_bc") / F.col("count_order") / 100.0).alias("avg_price"),
        (F.col("_disc") / F.col("count_order") / 10000.0).alias("avg_disc"),
        "count_order",
    )


# --------------------------------------------------------------------------
# §2.1 S6 — parquet scan with projection (column pruning at the scan).
# --------------------------------------------------------------------------
@q(
    "q_scan_parquet",
    "SELECT event_id, user_id, event_type, value FROM events",
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )


# --------------------------------------------------------------------------
# §2.1 S1/S4 — CSV sink + schema'd CSV scan round-trip (reference reads
# weekly CSVs, main_cuda.py:120-123, and writes the submission CSV,
# main_cuda.py:1541).  Explicit schema = single-pass production read.
# --------------------------------------------------------------------------
@q("q_scan_csv", "SELECT r_regionkey, r_name FROM region")
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile, os

    path = os.path.join(tempfile.gettempdir(), "nfl26_csv_roundtrip_region")
    table(spark, sf_dir, "region").write.mode("overwrite").option(
        "header", True
    ).csv(path)
    schema = T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    )
    return spark.read.option("header", True).schema(schema).csv(path)


# --------------------------------------------------------------------------
# §2.2 P1 — projection with per-row derived column (main_cuda.py:302-304).
# Per-row double arithmetic is IEEE-deterministic: no rounding needed.
# --------------------------------------------------------------------------
@q(
    "q_project",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue
    FROM lineitem
    """,
)
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


# --------------------------------------------------------------------------
# §2.2 P3 — range predicates (main_cuda.py:336-338).  Both predicates
# reach the parquet scan as PushedFilters.
# --------------------------------------------------------------------------
@q(
    "q_filter_range",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount
    FROM lineitem
    WHERE l_quantity >= 10 AND l_quantity <= 30 AND l_discount > 0.02
    """,
)
def q_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") >= 10)
        & (F.col("l_quantity") <= 30)
        & (F.col("l_discount") > 0.02)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


# --------------------------------------------------------------------------
# §2.2 P5 — finiteness predicate (main_cuda.py:335).  NaN manufactured
# via sqrt(<0) exactly as numpy does; Spark aggs skip NULL not NaN, so
# production code normalizes NaN→NULL with nanvl (SURVEY §4).
# --------------------------------------------------------------------------
@q(
    "q_filter_finite",
    """
    SELECT event_id, root FROM (
        SELECT event_id,
               CASE WHEN value < 100.0 THEN CAST('nan' AS DOUBLE)
                    ELSE sqrt(value - 100.0) END AS root
        FROM events)
    WHERE NOT isnan(root) AND root IS NOT NULL
    """,
)
def q_filter_finite(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NaN injected explicitly (DuckDB raises on sqrt(<0); numpy/Spark
    # return NaN — same downstream semantics either way).
    ev = table(spark, sf_dir, "events")
    root = F.when(
        F.col("value") < 100.0, F.lit(float("nan"))
    ).otherwise(F.sqrt(F.col("value") - 100.0))
    return (
        ev.select("event_id", root.alias("root"))
        .filter(~F.isnan(F.col("root")) & F.col("root").isNotNull())
    )


# --------------------------------------------------------------------------
# §2.2 P6/P7 — null-drop and constant imputation (main_cuda.py:1454-1457).
# --------------------------------------------------------------------------
@q(
    "q_fill",
    """
    SELECT event_id,
           COALESCE(CASE WHEN event_type = 'error' THEN NULL ELSE value END, 0.0) AS value_filled,
           CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS was_null
    FROM events
    """,
)
def q_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    nullable = F.when(F.col("event_type") == "error", F.lit(None).cast("double")).otherwise(
        F.col("value")
    )
    return ev.select(
        "event_id",
        F.coalesce(nullable, F.lit(0.0)).alias("value_filled"),
        dummy(F.col("event_type"), "error").alias("was_null"),
    )


@q(
    "q_dropna",
    """
    SELECT event_id, value
    FROM (SELECT event_id,
                 CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value
          FROM events)
    WHERE value IS NOT NULL
    """,
)
def q_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    nullable = F.when(F.col("event_type") == "error", F.lit(None).cast("double")).otherwise(
        F.col("value")
    )
    return ev.select("event_id", nullable.alias("value")).na.drop(subset=["value"])


# --------------------------------------------------------------------------
# §2.2 P9 — clamp to field bounds (main_cuda.py:437-438: np.clip to
# [0,120] × [0,53.3]).
# --------------------------------------------------------------------------
@q(
    "q_clip",
    """
    SELECT event_id,
           greatest(10.0, least(150.0, value)) AS value_clipped
    FROM events
    """,
)
def q_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.select("event_id", clip(F.col("value"), 10.0, 150.0).alias("value_clipped"))


# --------------------------------------------------------------------------
# §2.2 P11 — casts (main_cuda.py:199-202, 429, 1458-1462).  double→int
# goes through floor() because bare CAST truncates in Spark but rounds
# in DuckDB.
# --------------------------------------------------------------------------
@q(
    "q_cast",
    """
    SELECT l_orderkey,
           l_linenumber,
           CAST(floor(l_quantity) AS INTEGER) AS qty_int,
           CAST(l_orderkey AS VARCHAR) AS key_str,
           CAST(l_linenumber AS DOUBLE) AS line_dbl
    FROM lineitem
    """,
)
def q_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_quantity")).cast("int").alias("qty_int"),
        F.col("l_orderkey").cast("string").alias("key_str"),
        F.col("l_linenumber").cast("double").alias("line_dbl"),
    )


# --------------------------------------------------------------------------
# §2.2 P12 — boolean→int one-hot encoding (main_cuda.py:199-202:
# (player_role == 'Targeted Receiver').astype(int) ×4 roles).
# --------------------------------------------------------------------------
@q(
    "q_dummy_encode",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS is_open,
           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_finished,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS is_urgent,
           CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS is_low
    FROM orders
    """,
)
def q_dummy_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        dummy(F.col("o_orderstatus"), "O").alias("is_open"),
        dummy(F.col("o_orderstatus"), "F").alias("is_finished"),
        dummy(F.col("o_orderpriority"), "1-URGENT").alias("is_urgent"),
        dummy(F.col("o_orderpriority"), "5-LOW").alias("is_low"),
    )


# --------------------------------------------------------------------------
# §2.7 F5 — string split + arithmetic ("6-2" → 74 inches,
# main_cuda.py:147-153).  Synthetic height built from part columns so
# the parse path (split, cast, arithmetic, default) is exercised.
# --------------------------------------------------------------------------
@q(
    "q_str_parse",
    """
    SELECT p_partkey,
           CAST(string_split(p_brand, '#')[2] AS INTEGER) AS brand_num,
           CAST(string_split(CAST(p_size AS VARCHAR) || '-' || CAST(p_partkey % 12 AS VARCHAR), '-')[1] AS DOUBLE) * 12.0
             + CAST(string_split(CAST(p_size AS VARCHAR) || '-' || CAST(p_partkey % 12 AS VARCHAR), '-')[2] AS DOUBLE) AS pseudo_inches
    FROM part
    """,
)
def q_str_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    height = F.concat_ws(
        "-", F.col("p_size").cast("string"), (F.col("p_partkey") % 12).cast("string")
    )
    parts = F.split(height, "-")
    return p.select(
        "p_partkey",
        F.split(F.col("p_brand"), "#").getItem(1).cast("int").alias("brand_num"),
        (
            parts.getItem(0).cast("double") * 12.0 + parts.getItem(1).cast("double")
        ).alias("pseudo_inches"),
    )


# --------------------------------------------------------------------------
# §2.7 F6 + P9 — submission-row build: 4-part concat id + clipped
# coordinates (main_cuda.py:1529-1541).
# --------------------------------------------------------------------------
@q(
    "q_concat_id",
    """
    SELECT concat_ws('_', l_orderkey, l_suppkey, l_partkey, l_linenumber) AS id,
           greatest(0.0, least(120.0, l_extendedprice / 1000.0)) AS x,
           greatest(0.0, least(53.3, l_quantity)) AS y
    FROM lineitem
    """,
)
def q_concat_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        make_id("l_orderkey", "l_suppkey", "l_partkey", "l_linenumber").alias("id"),
        clip(F.col("l_extendedprice") / 1000.0, 0.0, 120.0).alias("x"),
        clip(F.col("l_quantity"), 0.0, 53.3).alias("y"),
    )


# --------------------------------------------------------------------------
# §2.2 P14 — distinct rows (nn-mps.py:571).
# --------------------------------------------------------------------------
@q(
    "q_distinct",
    "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority"
    ).distinct()


# --------------------------------------------------------------------------
# §2.6 O4 — union all of heterogeneous scans (18-week concat,
# main_cuda.py:134-135) → unionByName.
# --------------------------------------------------------------------------
@q(
    "q_union_all",
    """
    SELECT c_name AS entity_name, c_acctbal AS acctbal, 'customer' AS src FROM customer
    UNION ALL
    SELECT s_name AS entity_name, s_acctbal AS acctbal, 'supplier' AS src FROM supplier
    """,
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("entity_name"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("customer").alias("src"),
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("entity_name"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("src"),
    )
    return c.unionByName(s)


# --------------------------------------------------------------------------
# §2.6 — set ops (not in reference; free coverage per SURVEY §2.6).
# --------------------------------------------------------------------------
@q(
    "q_except",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    # customers whose orders are all finished (none open) — non-empty
    # at every SF; the nationkey form returned 0 rows (both tables
    # span all 25 nations), which proved nothing.
    o = table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    op = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    return f.subtract(op)  # EXCEPT (distinct) semantics, matching the SQL oracle


@q(
    "q_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


# --------------------------------------------------------------------------
# §2.6 O1 — multi-key sort (main_cuda.py:209).  Timestamps emitted as
# formatted strings (timezone-robust; see module docstring).
# --------------------------------------------------------------------------
@q(
    "q_sort",
    """
    SELECT l_orderkey, l_linenumber, l_returnflag,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_day
    FROM lineitem
    ORDER BY l_returnflag, l_orderkey, l_linenumber
    """,
)
def q_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
    ).orderBy("l_returnflag", "l_orderkey", "l_linenumber")


# --------------------------------------------------------------------------
# §2.6 — deterministic global top-N (sort + limit with full tiebreak).
# At scale Spark executes this as TakeOrderedAndProject — no global
# sort materialization.
# --------------------------------------------------------------------------
@q(
    "q_topn_global",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def q_topn_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


# --------------------------------------------------------------------------
# §2.3 J1 — equi inner join (scoring.py:48).  Catalyst picks
# broadcast-hash when orders fits the threshold; at 100 TB both sides
# are large → sort-merge with AQE skew handling.
# --------------------------------------------------------------------------
@q(
    "q_join_inner",
    """
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderstatus,
           l.l_extendedprice * (1 - l.l_discount) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    return li.join(o, li.l_orderkey == o.o_orderkey, "inner").select(
        "l_orderkey",
        "l_linenumber",
        "o_orderstatus",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


# --------------------------------------------------------------------------
# §2.3 J2/J5 — left join onto a pre-aggregated child + coalesce of the
# null branch (main_cuda.py:422-428).  Aggregate-before-join keeps the
# shuffled payload at one row per key.
# --------------------------------------------------------------------------
@q(
    "q_join_left",
    """
    SELECT c.c_custkey,
           COALESCE(a.order_cnt, 0) AS order_cnt,
           COALESCE(a.tc, 0) / 100.0 AS total_spent
    FROM customer c
    LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS order_cnt,
               SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS tc
        FROM orders GROUP BY o_custkey
    ) a ON c.c_custkey = a.o_custkey
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey")
    agg = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            F.sum(cents(F.col("o_totalprice"))).alias("tc"),
        )
    )
    return c.join(agg, c.c_custkey == agg.o_custkey, "left").select(
        "c_custkey",
        F.coalesce(F.col("order_cnt"), F.lit(0)).alias("order_cnt"),
        (F.coalesce(F.col("tc"), F.lit(0)) / 100.0).alias("total_spent"),
    )


# --------------------------------------------------------------------------
# §2.3 — left-semi / left-anti (the reference's get_group KeyError-skip
# is a de-facto semi join, nn-mps.py:610-614).
# --------------------------------------------------------------------------
@q(
    "q_semi",
    """
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
    """,
)
def q_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    rich = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select(
        "c_custkey"
    )
    return o.join(
        F.broadcast(rich), o.o_custkey == rich.c_custkey, "left_semi"
    ).select("o_orderkey", "o_custkey")


@q(
    "q_anti",
    """
    SELECT o_orderkey, o_custkey FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 5000)
    """,
)
def q_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    rich = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select(
        "c_custkey"
    )
    return o.join(
        F.broadcast(rich), o.o_custkey == rich.c_custkey, "left_anti"
    ).select("o_orderkey", "o_custkey")


# --------------------------------------------------------------------------
# §2.4 A14 / §3 E3 — the official metric as a query (scoring.py:10-52):
# project → inner join on concat'd id → RMSE = sqrt(0.5*(MSEx+MSEy)).
# Squared errors integer-scaled pre-sum for order-independence.
# --------------------------------------------------------------------------
@q(
    "q_rmse",
    """
    WITH solution AS (
        SELECT concat_ws('_', l_orderkey, l_linenumber) AS id,
               l_extendedprice / 1000.0 AS x, l_quantity AS y
        FROM lineitem
    ), submission AS (
        SELECT concat_ws('_', l_orderkey, l_linenumber) AS id,
               l_extendedprice * (1 - l_discount) / 1000.0 AS x,
               l_quantity * (1 + l_tax) AS y
        FROM lineitem
    )
    SELECT round(sqrt(0.5 * (
               SUM(CAST(round((s.x - p.x) * (s.x - p.x) * 1000000, 0) AS BIGINT)) / COUNT(*) / 1000000.0
             + SUM(CAST(round((s.y - p.y) * (s.y - p.y) * 1000000, 0) AS BIGINT)) / COUNT(*) / 1000000.0
           )), 6) AS rmse,
           COUNT(*) AS n
    FROM solution s JOIN submission p ON s.id = p.id
    """,
)
def q_rmse(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The reference joins on the concatenated string id because its
    # submission format has no composite keys (scoring.py:15,48); the
    # Spark-first plan joins on the natural integer key pair — same
    # rows, but integer hash/compare instead of building+probing a
    # 4880579-entry string hash table (the id concat lives in
    # q_concat_id / q_join_inner for parity coverage).
    li = table(spark, sf_dir, "lineitem")
    sol = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") / 1000.0).alias("x"),
        F.col("l_quantity").alias("y"),
    )
    sub = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")) / 1000.0).alias("x"),
        (F.col("l_quantity") * (1 + F.col("l_tax"))).alias("y"),
    )
    j = sol.alias("s").join(sub.alias("p"), ["l_orderkey", "l_linenumber"], "inner")
    sex = F.round(
        (F.col("s.x") - F.col("p.x")) * (F.col("s.x") - F.col("p.x")) * 1000000, 0
    ).cast("bigint")
    sey = F.round(
        (F.col("s.y") - F.col("p.y")) * (F.col("s.y") - F.col("p.y")) * 1000000, 0
    ).cast("bigint")
    return j.agg(
        F.round(
            F.sqrt(
                0.5
                * (
                    F.sum(sex) / F.count(F.lit(1)) / 1000000.0
                    + F.sum(sey) / F.count(F.lit(1)) / 1000000.0
                )
            ),
            6,
        ).alias("rmse"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# §2.4 A9 — pivot long→wide (main_cuda.py:383-387).  Explicit value
# list keeps the plan one-pass (no distinct-values pre-query).
# --------------------------------------------------------------------------
@q(
    "q_pivot",
    """
    SELECT o_orderstatus,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS p_urgent,
           CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS p_high,
           CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS p_medium,
           CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS p_notspec,
           CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS p_low
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderstatus")
        .pivot(
            "o_orderpriority",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        )
        .agg(F.count(F.lit(1)))
    )
    renamed = piv.select(
        "o_orderstatus",
        F.coalesce(F.col("`1-URGENT`"), F.lit(0)).alias("p_urgent"),
        F.coalesce(F.col("`2-HIGH`"), F.lit(0)).alias("p_high"),
        F.coalesce(F.col("`3-MEDIUM`"), F.lit(0)).alias("p_medium"),
        F.coalesce(F.col("`4-NOT SPECIFIED`"), F.lit(0)).alias("p_notspec"),
        F.coalesce(F.col("`5-LOW`"), F.lit(0)).alias("p_low"),
    )
    return renamed


# --------------------------------------------------------------------------
# §2.4 — rollup (bonus coverage per SURVEY §2.4 last row).
# --------------------------------------------------------------------------
@q(
    "q_rollup",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) / 100.0 AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents(F.col("l_quantity"))).alias("_qc"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            (F.col("_qc") / 100.0).alias("sum_qty"),
            "n",
        )
    )


# --------------------------------------------------------------------------
# §2.4 — exact distinct aggregation (bonus; approx_count_distinct is
# the scale path but isn't oracle-comparable).
# --------------------------------------------------------------------------
@q(
    "q_distinct_agg",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --------------------------------------------------------------------------
# §2.4 bonus — cube: all 2^k grouping combinations in one pass
# (SURVEY §2.4 last row: free Spark coverage the reference lacks).
# NULL grouping slots coalesced so both engines label subtotals alike.
# --------------------------------------------------------------------------
@q(
    "q_cube",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) / 100.0 AS sum_price,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents(F.col("l_extendedprice"))).alias("_pc"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            (F.col("_pc") / 100.0).alias("sum_price"),
            "n",
        )
    )


# --------------------------------------------------------------------------
# §2.4 bonus — explicit grouping sets (the general form of
# rollup/cube): per-flag and per-status subtotals only, no grand
# total, no cross product.
# --------------------------------------------------------------------------
@q(
    "q_grouping_sets",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) / 100.0 AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    grouped = li.groupingSets(
        [["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus"
    ).agg(
        F.sum(cents(F.col("l_quantity"))).alias("_qc"),
        F.count(F.lit(1)).alias("n"),
    )
    return grouped.select(
        F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
        F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
        (F.col("_qc") / 100.0).alias("sum_qty"),
        "n",
    )


# --------------------------------------------------------------------------
# Skew patterns (operators/skew.py): result-identical to their plain
# forms — which is exactly what the oracle checks.  The salted join
# spreads a hot l_orderkey over 8 (key, salt) buckets; the salted
# distinct splits each group's value set by hash before counting.
# --------------------------------------------------------------------------
@q(
    "q_salted_join",
    """
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderstatus, l.l_quantity
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    return salted_join(li, o, ["l_orderkey"], n_salt=8).select(
        "l_orderkey", "l_linenumber", "o_orderstatus", "l_quantity"
    )


@q(
    "q_salted_distinct",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
    FROM events GROUP BY event_type
    """,
)
def q_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_distinct_count

    ev = table(spark, sf_dir, "events")
    return salted_distinct_count(ev, ["event_type"], "user_id", n_salt=16)


# --------------------------------------------------------------------------
# §2.3 bonus — multi-way star join (TPC-H Q5 shape): fact chain
# lineitem→orders→customer with the supplier/nation/region dimension
# arms, local-supplier predicate, revenue per nation.  Scale shape:
# every dimension (customer/supplier/nation/region) carries an
# explicit broadcast hint so the ONLY repartition-scale work is the
# lineitem⋈orders key shuffle; join reordering + pushdown of the
# region filter prune the nation arm before it touches the fact.
# --------------------------------------------------------------------------
@q(
    "q_star_join",
    """
    SELECT n.n_name AS nation,
           SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)) / 100.0 AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE c.c_nationkey = s.s_nationkey
      AND r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    """,
)
def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE")
    ).select("r_regionkey")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # Explicit broadcast on every dimension arm (auto-broadcast is off,
    # session.py): customer/supplier/nation/region stay dimension-sized
    # at any fact scale, so the ONLY repartition-scale work is the
    # lineitem⋈orders key shuffle.
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        j.groupBy(F.col("n_name").alias("nation"))
        .agg(
            (F.sum(cents(revenue)) / 100.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# §2.4 bonus — exact quantiles (training-pipeline threshold picking:
# quality-score cutoffs, length caps).  Spark `percentile` and DuckDB
# `quantile_cont` both interpolate at pos = p·(n-1); results are
# rounded to 4 decimals on both sides because the two engines
# associate the interpolation arithmetic differently (last-ulp).
# Scale: percentile is an exact sort-based aggregate — at 100 TB
# switch to approx_percentile (t-digest) and drop the oracle to a
# tolerance check; the plan shape (partial per partition, merge at
# the reducer) is identical.
# --------------------------------------------------------------------------
@q(
    "q_quantile",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 4) AS qty_p25,
           round(quantile_cont(l_quantity, 0.50), 4) AS qty_p50,
           round(quantile_cont(l_quantity, 0.90), 4) AS qty_p90,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS price_median
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.25)), 4).alias("qty_p25"),
        F.round(F.percentile("l_quantity", F.lit(0.50)), 4).alias("qty_p50"),
        F.round(F.percentile("l_quantity", F.lit(0.90)), 4).alias("qty_p90"),
        F.round(F.percentile("l_extendedprice", F.lit(0.50)), 4).alias("price_median"),
    )


# --------------------------------------------------------------------------
# §2.1 S-family extensions — ORC and JSON-lines round-trips (the two
# other splittable formats a lake ingests; same sink→schema'd-scan
# shape as q_scan_csv).  Explicit schemas: production never infers.
# --------------------------------------------------------------------------
@q("q_scan_orc", "SELECT n_nationkey, n_name, n_regionkey FROM nation")
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    path = os.path.join(tempfile.gettempdir(), "nfl26_orc_roundtrip_nation")
    table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@q("q_scan_json", "SELECT n_nationkey, n_name, n_regionkey FROM nation")
def q_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    path = os.path.join(tempfile.gettempdir(), "nfl26_json_roundtrip_nation")
    table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return spark.read.schema(schema).json(path)


# --------------------------------------------------------------------------
# Hypertable rollup — multi-resolution time aggregates where the DAY
# level is computed FROM the HOUR level's partials (sum-of-sums /
# sum-of-counts), never from raw rows: the continuous-aggregate
# pattern.  At 100 TB the raw table is touched once for the finest
# resolution and every coarser rollup reads partials that are orders
# of magnitude smaller; counts and integer-scaled sums re-aggregate
# losslessly (averages would need (sum, count) carried separately).
# --------------------------------------------------------------------------
@q(
    "q_hypertable_rollup",
    """
    WITH hourly AS (
        SELECT epoch_us(ts) // 3600000000 AS bucket, event_type,
               COUNT(*) AS n_events,
               SUM(CAST(round(value * 100, 0) AS BIGINT)) AS value_cents
        FROM events GROUP BY 1, 2
    ), daily AS (
        SELECT bucket // 24 AS bucket, event_type,
               SUM(n_events) AS n_events, SUM(value_cents) AS value_cents
        FROM hourly GROUP BY 1, 2
    )
    SELECT 'hour' AS resolution, bucket, event_type,
           CAST(n_events AS BIGINT) AS n_events,
           value_cents / 100.0 AS value_sum
    FROM hourly
    UNION ALL
    SELECT 'day' AS resolution, bucket, event_type,
           CAST(n_events AS BIGINT) AS n_events,
           value_cents / 100.0 AS value_sum
    FROM daily
    """,
)
def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    hour_us = 3600 * 10**6
    ev = table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            F.expr(f"ts div {hour_us}").alias("bucket"),
            "event_type",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("vc"),
        )
        .groupBy("bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("vc").alias("value_cents"),
        )
    )
    daily = (
        hourly.groupBy(
            F.expr("bucket div 24").alias("bucket"), "event_type"
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_cents").alias("value_cents"),
        )
    )
    as_out = lambda df, res: df.select(  # noqa: E731
        F.lit(res).alias("resolution"),
        "bucket",
        "event_type",
        "n_events",
        (F.col("value_cents") / 100.0).alias("value_sum"),
    )
    return as_out(hourly, "hour").unionByName(as_out(daily, "day"))


# --------------------------------------------------------------------------
# Approximate aggregates — the 100 TB path for q_distinct_agg /
# q_quantile.  HLL++ and t-digest sketches are mergeable partial
# aggregates: map-side sketch per partition, one tiny merge at the
# reducer, so cost is O(rows) with constant shuffle — vs the exact
# forms' full shuffle of distinct values / sort of every group.
# Sketch estimates are engine-specific, so there is no DuckDB value
# oracle (rows-only driver check); tests/test_approx.py bounds the
# estimates against the exact twins instead (rsd=0.05, tolerant
# percentile band).
# --------------------------------------------------------------------------
@q("q_approx_distinct", None)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.05).alias("approx_orders"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@q("q_quantile_approx", None)
def q_quantile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
            "price_median_approx"
        ),
        F.approx_percentile("l_quantity", F.lit(0.9), F.lit(10000)).alias(
            "qty_p90_approx"
        ),
    )


# --------------------------------------------------------------------------
# Unpivot (wide → long) — the inverse of q_pivot (A9): measure columns
# melt into (metric, val) rows.  `df.unpivot` compiles to a Generate
# (executor-side expand, zero shuffles) — the schema-normalization
# step that turns a wide feature table back into the long keyed form
# every §2.5 window operator consumes.  At 100 TB this is a map-only
# transform: output is 3× the rows but the plan never exchanges.
# --------------------------------------------------------------------------
@q(
    "q_unpivot",
    """
    SELECT l_orderkey, l_linenumber, metric, val
    FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
          FROM lineitem)
    UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount))
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"
    )
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric",
        valueColumnName="val",
    )


# --------------------------------------------------------------------------
# §2.3 completion — FULL OUTER join.  The reference's join surface
# (inner/left, main_cuda.py:407-447) never needs full-outer, but a
# complete engine does: reconciliation queries (which customers have
# no orders / which order keys lost their customer row) are the
# canonical shape.  Both sides filtered differently so each side
# genuinely contributes unmatched rows.  Scale: same key-shuffle as
# the inner join — full-outer only changes null-row emission, not the
# exchange plan.
# --------------------------------------------------------------------------
@q(
    "q_join_full",
    """
    WITH c AS (
        SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 2 = 0
    ), o AS (
        SELECT o_custkey,
               CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
                 AS spend_cents,
               COUNT(*) AS n_orders
        FROM orders WHERE o_custkey % 3 = 0 GROUP BY o_custkey
    )
    SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
           c.c_acctbal, o.spend_cents, o.n_orders,
           CASE WHEN c.c_custkey IS NULL THEN 'order_only'
                WHEN o.o_custkey IS NULL THEN 'customer_only'
                ELSE 'both' END AS presence
    FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select("c_custkey", "c_acctbal")
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 3 == 0)
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .alias("spend_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    j = c.join(o, c.c_custkey == o.o_custkey, "full_outer")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_acctbal",
        "spend_cents",
        "n_orders",
        F.when(F.col("c_custkey").isNull(), "order_only")
        .when(F.col("o_custkey").isNull(), "customer_only")
        .otherwise("both")
        .alias("presence"),
    )


# --------------------------------------------------------------------------
# §2.4 completion — deterministic per-group mode (most frequent value,
# ties broken by smallest value).  Two-phase: count per (group, value)
# — partial-agg combines map-side — then a WindowGroupLimit keeps one
# row per group; the full value distribution never crosses more than
# one shuffle.
# --------------------------------------------------------------------------
@q(
    "q_mode",
    """
    WITH counts AS (
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem GROUP BY 1, 2
    ), ranked AS (
        SELECT l_returnflag, l_linestatus, n,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY n DESC, l_linestatus ASC) AS rn
        FROM counts
    )
    SELECT l_returnflag, l_linestatus AS mode_status, n AS mode_count
    FROM ranked WHERE rn = 1
    """,
)
def q_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    wr = W.partitionBy("l_returnflag").orderBy(
        F.col("n").desc(), F.col("l_linestatus").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_linestatus").alias("mode_status"),
            F.col("n").alias("mode_count"),
        )
    )


# --------------------------------------------------------------------------
# §2.7 completion — MAP-typed column surface: JSON → map parse, map
# literal lookup, key introspection.  The map stays executor-side (an
# implementation detail of the row); only scalar extractions surface,
# so the oracle needs no MAP type of its own.  Pure scan-side row
# work: zero shuffles.
# --------------------------------------------------------------------------
@q(
    "q_map_ops",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
           CAST(len(json_keys(props)) AS INT) AS n_keys,
           CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
                WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4
                WHEN 'error' THEN 5 END AS type_code
    FROM events
    """,
)
def q_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    props_map = F.from_json("props", "map<string,bigint>")
    code_map = F.create_map(
        F.lit("click"), F.lit(1), F.lit("view"), F.lit(2),
        F.lit("purchase"), F.lit(3), F.lit("signup"), F.lit(4),
        F.lit("error"), F.lit(5),
    )
    return ev.select(
        "event_id",
        F.element_at(props_map, "k").alias("k_val"),
        F.size(F.map_keys(props_map)).alias("n_keys"),
        F.element_at(code_map, F.col("event_type")).alias("type_code"),
    )


# --------------------------------------------------------------------------
# Sketch error-bound audit — promotes the rows-only approx sketches
# (q_approx_distinct / q_quantile_approx) to driver-verifiable
# evidence.  Raw sketch estimates are engine-specific (HLL++ vs
# DuckDB's HLL, t-digest vs Greenwald-Khanna), so they can never
# value-hash across engines; what CAN is the *bound check*: each
# engine asserts its own estimate lands inside the documented error
# band around the exact answer.  Bands are deliberately loose (3× the
# configured rsd for HLL; 2% of the value range for quantiles) so the
# booleans are stable across engines and scale factors.  Exact
# columns ride along under the house determinism rules.
# --------------------------------------------------------------------------
@q(
    "q_sketch_bounds",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           (abs(approx_count_distinct(l_orderkey) - COUNT(DISTINCT l_orderkey))
              <= 0.15 * COUNT(DISTINCT l_orderkey)) AS distinct_ok,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS price_p50_exact,
           (abs(approx_quantile(l_extendedprice, 0.5)
                - quantile_cont(l_extendedprice, 0.5))
              <= 0.02 * (MAX(l_extendedprice) - MIN(l_extendedprice)))
             AS p50_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_sketch_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two single-pass aggregations joined on the 3-row group key.

    COUNT(DISTINCT) alongside other aggregates compiles to an Expand
    (every row duplicated per aggregate family) and the sort-based
    percentile buffers ride the expanded stream — measured 11.5 s at
    sf0.1.  Splitting the distinct count into a two-level groupBy
    (pre-dedup, then count) keeps both passes hash-aggregated with
    map-side combine: ~1 s, same rows.  The final join is 3 rows ⋈ 3
    rows — broadcast."""
    li = table(spark, sf_dir, "lineitem")
    exact = (
        li.select("l_returnflag", "l_orderkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("exact_orders"))
    )
    approx_d = F.approx_count_distinct("l_orderkey", rsd=0.05)
    exact_p = F.percentile("l_extendedprice", F.lit(0.5))
    approx_p = F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000))
    vrange = F.max("l_extendedprice") - F.min("l_extendedprice")
    sk = li.groupBy("l_returnflag").agg(
        approx_d.alias("approx_orders"),
        F.round(exact_p, 4).alias("price_p50_exact"),
        (F.abs(approx_p - exact_p) <= 0.02 * vrange).alias("p50_ok"),
    )
    return sk.join(F.broadcast(exact), "l_returnflag").select(
        "l_returnflag",
        "exact_orders",
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            <= 0.15 * F.col("exact_orders")
        ).alias("distinct_ok"),
        "price_p50_exact",
        "p50_ok",
    )


# --------------------------------------------------------------------------
# §2.1 completion — Hive-style partitioned sink + partition-pruned
# scan round trip.  The write lays events out as
# event_type=<v>/part-*.parquet; the read's predicate becomes a
# PartitionFilters entry (directory pruning at planning time — files
# for other types are never opened, the file-skipping primitive that
# matters most at 100 TB).  tests/test_plans.py pins the pruning.
# --------------------------------------------------------------------------
@q(
    "q_scan_partitioned",
    """
    SELECT event_id, user_id, event_type, value FROM events
    WHERE event_type IN ('click', 'purchase')
    """,
)
def q_scan_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    path = os.path.join(tempfile.gettempdir(), "nfl26_partitioned_events")
    (
        table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(path)
    )
    return (
        spark.read.parquet(path)
        .filter(F.col("event_type").isin("click", "purchase"))
        .select("event_id", "user_id", "event_type", "value")
    )


# --------------------------------------------------------------------------
# MERGE / upsert semantics (Delta-style MERGE INTO, engine-agnostic):
# base ⟗ updates on the key; matched rows take the update, unmatched
# updates insert, unmatched base rows persist — with an action audit
# column.  At scale this is one key shuffle (or a broadcast when the
# update batch is dim-sized — hinted here); a transactional table
# format (Delta/Iceberg) adds file-level rewrite on top of exactly
# this join.
# --------------------------------------------------------------------------
@q(
    "q_merge_upsert",
    """
    WITH base AS (
        SELECT event_id, event_type, value FROM events
    ), upd AS (
        SELECT event_id, value + 1000.0 AS value FROM events WHERE event_id % 10 = 0
        UNION ALL
        SELECT event_id + 100000000, 1.5 FROM events WHERE event_id % 1000 = 0
    )
    SELECT COALESCE(b.event_id, u.event_id) AS event_id,
           b.event_type,
           COALESCE(u.value, b.value) AS value,
           CASE WHEN b.event_id IS NULL THEN 'insert'
                WHEN u.event_id IS NULL THEN 'keep'
                ELSE 'update' END AS action
    FROM base b FULL OUTER JOIN upd u ON b.event_id = u.event_id
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    base = ev.select("event_id", "event_type", "value")
    upd = (
        ev.filter(F.col("event_id") % 10 == 0)
        .select("event_id", (F.col("value") + 1000.0).alias("value"))
        .unionByName(
            ev.filter(F.col("event_id") % 1000 == 0).select(
                (F.col("event_id") + 100000000).alias("event_id"),
                F.lit(1.5).alias("value"),
            )
        )
        .withColumnRenamed("event_id", "u_event_id")
        .withColumnRenamed("value", "u_value")
    )
    j = base.join(upd, base.event_id == upd.u_event_id, "full_outer")
    return j.select(
        F.coalesce("event_id", "u_event_id").alias("event_id"),
        "event_type",
        F.coalesce("u_value", "value").alias("value"),
        F.when(F.col("event_id").isNull(), "insert")
        .when(F.col("u_event_id").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
    )


# --------------------------------------------------------------------------
# SQL-text API surface — the same engine through ``spark.sql`` over
# registered views (every other query uses the DataFrame API; a user
# of the reference's SQL front-end lands here).  TPC-H-Q3-shaped:
# segment-filtered revenue top-10.  Catalyst compiles both APIs to
# the same plan — the broadcast hint arrives via SQL hint syntax.
# --------------------------------------------------------------------------
@q(
    "q_sql_text",
    """
    SELECT l.l_orderkey,
           SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                    AS BIGINT)) / 100.0 AS revenue,
           COUNT(*) AS n_lines
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q_sql_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT /*+ BROADCAST(c) */ l.l_orderkey,
               -- CAST the divisor: SQL-text 100.0 parses as DECIMAL in
               -- Spark (DataFrame lit(100.0) is DOUBLE)
               SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                        AS BIGINT)) / CAST(100.0 AS DOUBLE) AS revenue,
               COUNT(*) AS n_lines
        FROM v_customer c JOIN v_orders o ON c.c_custkey = o.o_custkey
                          JOIN v_lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY l.l_orderkey
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
        """
    )


# --------------------------------------------------------------------------
# Bucketed co-located join — the pay-the-shuffle-once primitive as a
# first-class query (tests/test_bucketing.py pins the zero-exchange
# plan; this entry makes it driver-verifiable).  Both sides are
# written with the same bucket spec, so the join needs NO exchange:
# at 100 TB the fact table's join shuffle is paid once at ingest and
# never again.  Output is the per-status revenue rollup of the
# bucket-joined rows.
# --------------------------------------------------------------------------
@q(
    "q_bucketed_join",
    """
    SELECT o.o_orderstatus,
           SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                    AS BIGINT)) / 100.0 AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.io import write_bucketed

    # The whole point of bucketing is pay-the-shuffle-ONCE: the tables
    # are keyed by source dir and only (re)written when absent, so the
    # first call is the ingest and every later call measures the
    # steady-state zero-exchange join — exactly the production cost
    # profile.  (Testdata is immutable, so existence is validity.)
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:6]
    li_name, o_name = f"li_bq_{tag}", f"o_bq_{tag}"
    if not spark.catalog.tableExists(li_name) or not spark.catalog.tableExists(o_name):
        li = table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
        write_bucketed(li, li_name, ["l_orderkey"], n_buckets=8, sort_cols=["l_orderkey"])
        write_bucketed(o, o_name, ["o_orderkey"], n_buckets=8, sort_cols=["o_orderkey"])
    li_b, o_b = spark.table(li_name), spark.table(o_name)
    j = li_b.join(o_b, li_b.l_orderkey == o_b.o_orderkey, "inner")
    return j.groupBy("o_orderstatus").agg(
        (
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
                ).cast("bigint")
            )
            / 100.0
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --------------------------------------------------------------------------
# Exact grouped correlation — Pearson r from integer power sums.
# Native corr() is a streaming float aggregate whose partial-merge
# order is engine- and partition-dependent (never bitwise portable);
# here every moment (Σx, Σy, Σxy, Σx², Σy²) is an exact integer sum
# of scaled integers, so the only float math is the final closed-form
# division — identical on both engines, rounded once.  One map-side-
# combined shuffle.  The POWER sums (Σxy, Σx², Σy², ≈5e10–1e14/row)
# accumulate in DECIMAL(38,0) — exact through Spark partial
# aggregation, matching DuckDB's int128 SUM(BIGINT) — because int64
# saturates near 10⁵ rows/group for Σy² (measured: the 8× probe
# breached it; SCALING.md "Integer head-room").  Plain cents sums
# (Σx, Σy) keep int64 (safe to ~10¹¹ rows/group).  The n·Σxy − ΣxΣy
# / n·Σx² − (Σx)² / n·Σy² − (Σy)² terms are formed EXACTLY in
# decimal/int128 and converted to double ONCE: term-wise double
# conversion cancels catastrophically when a group's variance is
# tiny relative to its mean (a den that rounds to exactly 0 is an
# ANSI DIVIDE_BY_ZERO crash on Spark but inf on DuckDB — the
# engines diverge in FAILURE MODE, not just ulps).  Exact-zero
# variance (a constant column) yields NULL on both engines.
# --------------------------------------------------------------------------
@q(
    "q_group_corr",
    """
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS sx,
               SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS sy,
               SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)
                   * CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS sxy,
               SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)
                   * CAST(round(l_quantity * 100, 0) AS BIGINT)) AS sxx,
               SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                   * CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS syy
        FROM lineitem GROUP BY l_returnflag
    ), d AS (
        SELECT l_returnflag, n,
               n * sxy - sx * sy AS num,
               n * sxx - sx * sx AS dx,
               n * syy - sy * sy AS dy
        FROM m
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           CASE WHEN dx > 0 AND dy > 0 THEN
               round(CAST(num AS DOUBLE)
                     / (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE))), 6)
           END AS corr_qty_price
    FROM d
    """,
)
def q_group_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    xc = F.round(F.col("l_quantity") * 100, 0).cast("bigint")
    yc = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xc).alias("sx"),
        F.sum(yc).alias("sy"),
        F.sum((xc * yc).cast("decimal(38,0)")).alias("sxy"),
        F.sum((xc * xc).cast("decimal(38,0)")).alias("sxx"),
        F.sum((yc * yc).cast("decimal(38,0)")).alias("syy"),
    )
    n = F.col("n")
    sxd = F.col("sx").cast("decimal(38,0)")
    syd = F.col("sy").cast("decimal(38,0)")
    num = (n * F.col("sxy") - sxd * syd).cast("double")
    dx = (n * F.col("sxx") - sxd * sxd).cast("double")
    dy = (n * F.col("syy") - syd * syd).cast("double")
    return m.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        F.when(
            (dx > 0) & (dy > 0),
            F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6),
        ).alias("corr_qty_price"),
    )


# --------------------------------------------------------------------------
# §2.7 completion — date/time part extraction and truncation (the
# reference keeps time implicit in frame_id; an engine needs the
# calendar surface).  Conventions aligned explicitly: day-of-week is
# normalized to ISO-ish 0=Sunday on both engines (Spark dayofweek is
# 1=Sunday, DuckDB dow is 0=Sunday), and truncated timestamps are
# emitted as formatted strings per the house rule (engine-native
# timestamp rendering depends on session timezone).  Scan-side only.
# --------------------------------------------------------------------------
@q(
    "q_date_parts",
    """
    SELECT o_orderkey,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
           CAST(EXTRACT(day FROM o_orderdate) AS INT) AS dom,
           CAST(EXTRACT(dow FROM o_orderdate) AS INT) AS dow0,
           CAST(EXTRACT(hour FROM o_orderdate) AS INT) AS hr,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT)
             AS days_since_95
    FROM orders
    """,
)
def q_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dom"),
        (F.dayofweek(d) - 1).alias("dow0"),
        F.hour(d).alias("hr"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.datediff(F.to_date(d), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since_95"),
    )


# --------------------------------------------------------------------------
# §2.1 S-family — XML round-trip (Spark 4 ships the XML source
# natively).  Same sink→explicit-schema scan shape as q_scan_csv/orc/
# json; rowTag bounds each record.
# --------------------------------------------------------------------------
@q("q_scan_xml", "SELECT n_nationkey, n_name, n_regionkey FROM nation")
def q_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    path = os.path.join(tempfile.gettempdir(), "nfl26_xml_roundtrip_nation")
    table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).write.mode("overwrite").option("rowTag", "nation").format("xml").save(path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return (
        spark.read.schema(schema).option("rowTag", "nation").format("xml").load(path)
    )


# --------------------------------------------------------------------------
# §2.1 S-family — Python DataSource API (Spark 4): a custom source
# plugged into the ordinary reader surface.  The source generates a
# deterministic partitioned integer sequence (a synthetic-telemetry
# generator), declaring 4 input partitions so the scan parallelizes
# like any file source; each partition streams its shard lazily
# (Arrow-batched by the runtime).  The oracle recomputes the same
# closed-form sequence — proving the plug-in path, not the data.
# Independent of sf_dir by construction (the source IS the data).
# --------------------------------------------------------------------------
from ..sources.python_ds import (  # noqa: E402 - plan-section import
    SYNTH_PARTS,
    SYNTH_ROWS_PER_PART,
    ensure_python_sources,
)


@q(
    "q_python_datasource",
    f"""
    SELECT CAST(i AS BIGINT) AS id,
           CAST(i % 7 AS BIGINT) AS bucket,
           CAST(i * 2654435761 % 1000000 AS BIGINT) AS payload
    FROM range(0, {SYNTH_ROWS_PER_PART * SYNTH_PARTS}) t(i)
    """,
)
def q_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Source classes live in sources/python_ds.py; registration is
    # once-per-session + locked there (the round-6/7 suite race fix).
    ensure_python_sources(spark)
    return spark.read.format("synth_seq").load()


# --------------------------------------------------------------------------
# Python data SINK (Spark 4 DataSourceWriter) — the write side of the
# custom-connector surface (the source side is q_python_datasource /
# q_stream_python_source).  The per-user rollup is written through a
# pure-Python jsonl writer (one file per task, commit messages
# collected on the driver) and read back for the result — proving the
# executor→Python-writer→commit round trip end to end.  Scale: the
# writer sees the already-aggregated user-grain stream, one partition
# per task, append-only files — the same contract a warehouse bulk
# loader or feature-store writer implements; the Python hop costs one
# Arrow batch serialization of DIMENSION-sized data, never the fact
# scan.
# --------------------------------------------------------------------------
@q(
    "q_python_datasink",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY user_id
    """,
)
def q_python_datasink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scratch import scratch_dir

    from ..sources.python_ds import activate_session

    # Sink class lives in sources/python_ds.py; registration is
    # once-per-session + locked there, and the writer lookup needs the
    # thread-local active session bound (the round-6/7 suite race fix).
    ensure_python_sources(spark)
    activate_session(spark)
    ev = table(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100, 0).cast("bigint")
    rollup = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(vc).cast("bigint").alias("cents"),
    )
    out = scratch_dir("pysink_")
    rollup.write.format("jsonl_sink").option("path", out).mode("append").save()
    return spark.read.schema("user_id bigint, n bigint, cents bigint").json(
        out
    )


# --------------------------------------------------------------------------
# Decision-support shape (TPC-H Q12 analog): per ship month, how many
# line items belonged to critical-priority orders vs the rest — a
# conditional aggregation over the fact⋈fact join.  The orderkey
# shuffle is the only repartition-scale work; the month bucket and
# both CASE counts fold into the partial aggregate.
# --------------------------------------------------------------------------
@q(
    "q_ship_priority",
    """
    SELECT CAST(year(l.l_shipdate) * 100 + month(l.l_shipdate) AS BIGINT)
             AS ship_month,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def q_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    month = (F.year("l_shipdate") * 100 + F.month("l_shipdate")).cast("bigint")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(month.alias("ship_month"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# Decision-support shape (TPC-H Q14 analog): the revenue share of one
# part class per ship month — a conditional-sum RATIO over a
# broadcast dimension join.  Both sums are exact int64 cents; the
# double appears only in the final division, so the ratio
# hash-matches bitwise.
# --------------------------------------------------------------------------
@q(
    "q_promo_share",
    """
    SELECT CAST(year(l.l_shipdate) * 100 + month(l.l_shipdate) AS BIGINT)
             AS ship_month,
           round(100.0 * CAST(SUM(CASE WHEN p.p_type = 'ECONOMY'
                     THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)
                     ELSE 0 END) AS BIGINT)
                 / CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)) AS BIGINT),
                 6) AS economy_share_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    """,
)
def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev_c = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    month = (F.year("l_shipdate") * 100 + F.month("l_shipdate")).cast("bigint")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(month.alias("ship_month"))
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "ECONOMY", rev_c).otherwise(F.lit(0))
                ).cast("bigint")
                / F.sum(rev_c).cast("bigint"),
                6,
            ).alias("economy_share_pct")
        )
    )


# --------------------------------------------------------------------------
# Decision-support shape (TPC-H Q3 analog): top-10 unshipped orders by
# revenue for one market segment.  Reference parity: the reference's
# "rank plays by projected gain" report (main_cuda.py:404-439 builds
# the same join→agg→top-K shape over tracking rows).
# Scale: customer is filtered on the segment BEFORE the join and only
# (c_custkey) survives pruning; the orderkey-grouped aggregation is
# partial (map-side) and the top-10 compiles to TakeOrderedAndProject
# — no global sort ever materializes.  Revenue is an exact int64
# cents sum, so the ordering (and the value hash) is deterministic.
# --------------------------------------------------------------------------
@q(
    "q_unshipped_revenue",
    """
    SELECT l.l_orderkey,
           SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)) / 100.0
             AS revenue,
           CAST(year(o.o_orderdate) * 10000 + month(o.o_orderdate) * 100
                + day(o.o_orderdate) AS BIGINT) AS order_date_key,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, order_date_key, o.o_orderpriority
    ORDER BY SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)) DESC,
             order_date_key ASC, l.l_orderkey ASC
    LIMIT 10
    """,
)
def q_unshipped_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < "1998-01-01")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > "1998-01-01")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    date_key = (
        F.year("o_orderdate") * 10000
        + F.month("o_orderdate") * 100
        + F.dayofmonth("o_orderdate")
    ).cast("bigint")
    rev_c = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(
            "l_orderkey",
            date_key.alias("order_date_key"),
            "o_orderpriority",
        )
        .agg(F.sum(rev_c).alias("rev_cents"))
        .select(
            "l_orderkey",
            (F.col("rev_cents") / 100.0).alias("revenue"),
            "order_date_key",
            "o_orderpriority",
            F.col("rev_cents"),
        )
        .orderBy(
            F.col("rev_cents").desc(),
            F.col("order_date_key").asc(),
            F.col("l_orderkey").asc(),
        )
        .limit(10)
        .drop("rev_cents")
    )


# --------------------------------------------------------------------------
# Decision-support shape (TPC-H Q18 analog): large-volume orders — a
# HAVING-filtered aggregate joined BACK to its dimensions.  The
# having-side aggregate runs first over lineitem only (2 pruned
# columns), producing a tiny qualifying-orderkey set that then
# broadcast-probes orders/customer: at 100 TB the expensive side is
# touched once and everything after the HAVING is dimension-scale.
# --------------------------------------------------------------------------
@q(
    "q_big_spenders",
    """
    WITH big AS (
        SELECT l_orderkey,
               SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) / 100.0 AS sum_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) > 25000
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(year(o.o_orderdate) * 10000 + month(o.o_orderdate) * 100
                + day(o.o_orderdate) AS BIGINT) AS order_date_key,
           o.o_totalprice, big.sum_qty
    FROM big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(cents(F.col("l_quantity"))).alias("qty_c"))
        .filter(F.col("qty_c") > 25000)
    )
    date_key = (
        F.year("o_orderdate") * 10000
        + F.month("o_orderdate") * 100
        + F.dayofmonth("o_orderdate")
    ).cast("bigint")
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            date_key.alias("order_date_key"),
            "o_totalprice",
            (F.col("qty_c") / 100.0).alias("sum_qty"),
        )
    )


# --------------------------------------------------------------------------
# Decision-support shape (TPC-H Q7 analog): nation-to-nation trade
# volume by ship year — the 6-table snowflake join.  supplier and
# both nation copies broadcast (a 1M-row supplier dim is ~50 MB —
# still broadcastable at 100 TB); the two fact-scale shuffles are
# lineitem⋈orders (orderkey) and orders⋈customer (custkey).  The
# group count is bounded by |nations|² × years, so the aggregate is
# almost entirely map-side.
# --------------------------------------------------------------------------
@q(
    "q_trade_volume",
    """
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
           SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)) / 100.0
             AS volume
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns ON ns.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation nc ON nc.n_nationkey = c.c_nationkey
    GROUP BY 1, 2, 3
    """,
)
def q_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    rev_c = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
        )
        .agg((F.sum(rev_c) / 100.0).alias("volume"))
    )


# --------------------------------------------------------------------------
# Blocked fuzzy join (entity resolution): edit-distance matching over
# the DISTINCT-name dictionary, blocked on the name's head noun.
# Real-world shape for catalog/entity dedup: facts collapse to a
# name dictionary first (the dictionary is orders of magnitude
# smaller than the fact table at 100 TB), candidate pairs come from
# equality on a cheap block key — never all-pairs — and the exact
# levenshtein predicate runs only inside a block, pre-gated by the
# |len diff| bound it implies.  The scalable sibling for text bodies
# is q_minhash_lsh / q_ngram_jaccard; this pins the exact-predicate
# fuzzy-join semantics (Spark F.levenshtein == DuckDB levenshtein,
# both exact integer edit distance).
# --------------------------------------------------------------------------
@q(
    "q_fuzzy_join",
    """
    WITH dict AS (
        SELECT p_name, split_part(p_name, ' ', 2) AS blk, COUNT(*) AS n
        FROM part GROUP BY 1, 2
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist,
           a.n AS n_a, b.n AS n_b
    FROM dict a
    JOIN dict b ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
      AND levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").select("p_name")
    dict_ = (
        p.groupBy(
            "p_name", F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("blk")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = dict_.select(
        F.col("p_name").alias("name_a"), F.col("blk").alias("blk_a"), F.col("n").alias("n_a")
    )
    b = dict_.select(
        F.col("p_name").alias("name_b"), F.col("blk").alias("blk_b"), F.col("n").alias("n_b")
    )
    return (
        a.join(
            b,
            (F.col("blk_a") == F.col("blk_b"))
            & (F.col("name_a") < F.col("name_b")),
        )
        .filter(
            (
                F.abs(F.length("name_a") - F.length("name_b")) <= 2
            )
            & (F.levenshtein("name_a", "name_b") <= 2)
        )
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("int").alias("edit_dist"),
            "n_a",
            "n_b",
        )
    )


# --------------------------------------------------------------------------
# Dynamic partition pruning: the fact side is a DIRECTORY-PARTITIONED
# parquet table joined on its partition column to a dimension whose
# qualifying keys exist only at runtime (a HAVING over an aggregate —
# nothing Catalyst can fold statically).  The optimizer plants a
# dynamicpruning subquery into the fact scan's PartitionFilters, so
# only qualifying type directories are ever LISTED, let alone read —
# at 100 TB this is the difference between scanning 5 partitions and
# 2.  The dim comparison is pure int64 (sum_cents > 5000·n), so which
# partitions qualify is bitwise-portable.  tests/test_plans.py pins
# the dynamicpruning expression in the scan.
# --------------------------------------------------------------------------
@q(
    "q_dpp_join",
    """
    WITH dim AS (
        SELECT event_type FROM events GROUP BY event_type
        HAVING SUM(CAST(round(value * 100, 0) AS BIGINT)) > 5000 * COUNT(*)
    )
    SELECT e.event_type, COUNT(*) AS n_events,
           SUM(CAST(round(e.value * 100, 0) AS BIGINT)) / 100.0 AS value_sum
    FROM events e JOIN dim USING (event_type)
    GROUP BY e.event_type
    """,
)
def q_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(tempfile.gettempdir(), f"nfl26_dpp_events_{sf_tag}")
    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        ev.groupBy("event_type")
        .agg(
            F.sum(cents(F.col("value"))).alias("vc"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("vc") > 5000 * F.col("n"))
        .select("event_type")
    )
    return (
        fact.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents(F.col("value"))) / 100.0).alias("value_sum"),
        )
    )


# --------------------------------------------------------------------------
# Decision-support shape (TPC-H Q5 analog): revenue by nation for one
# region, with the local-supplier constraint (customer and supplier
# share a nation).  The only repartition-scale work is the
# lineitem⋈orders orderkey shuffle; customer/supplier/nation/region
# are dimensions and broadcast, the region filter prunes nation
# BEFORE it reaches the fact row, and the same-nation predicate runs
# as a post-broadcast filter (never a join explosion).
# --------------------------------------------------------------------------
@q(
    "q_revenue_by_nation",
    """
    SELECT n.n_name,
           SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)) / 100.0
             AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA' AND s.s_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    r = (
        table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    n = (
        table(spark, sf_dir, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("s_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            (F.sum(rev) / 100.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Decision-support shape (TPC-H Q10 analog): top-20 customers by
# revenue lost to returned items.  The returnflag filter is pushed to
# the lineitem scan; the orderkey shuffle joins two pre-filtered
# facts; customer and nation broadcast onto the customer-grained
# aggregate; the global top-20 compiles to TakeOrderedAndProject (no
# full sort).
# --------------------------------------------------------------------------
@q(
    "q_returned_customers",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)) / 100.0
             AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)) DESC,
             c.c_custkey ASC
    LIMIT 20
    """,
)
def q_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).alias("_rc"), F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.col("_rc").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            (F.col("_rc") / 100.0).alias("revenue"),
            "n_items",
        )
    )


# --------------------------------------------------------------------------
# Decision-support shape (TPC-H Q15 analog): the supplier(s) with the
# maximum revenue over a ship-date year — the HAVING-=-MAX pattern.
# The per-supplier aggregate is supplier-count-sized; its max is a
# 1-row broadcast scalar joined back (the scalar-subquery shape), so
# no second scan of the fact table and no window over it.
# --------------------------------------------------------------------------
@q(
    "q_top_supplier",
    """
    WITH rev AS (
        SELECT l_suppkey,
               SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS total_c
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, rev.total_c / 100.0 AS total_revenue
    FROM rev
    JOIN supplier s ON rev.l_suppkey = s.s_suppkey
    WHERE rev.total_c = (SELECT MAX(total_c) FROM rev)
    """,
)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "total_c"
        )
    )
    mx = rev.agg(F.max("total_c").alias("max_c"))
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_c") == F.col("max_c"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", (F.col("total_c") / 100.0).alias("total_revenue")
        )
    )


# --------------------------------------------------------------------------
# OHLC downsampling — per (user, day) candlesticks over the events
# feed, the canonical hypertable/financial downsample.  Open and
# close come from min/max over a (ts, event_id, value) STRUCT —
# lexicographic struct comparison makes first/last BY TIME a plain
# hash-aggregate member, so the whole query is ONE map-side-combined
# aggregation: no window, no sort, no second shuffle.  event_id
# breaks equal-timestamp ties identically on both engines.  The
# ORACLE spells the same semantics as arg_min/arg_max over the
# scalar key ts·10¹² + event_id (event_id < 10¹², so the encoding is
# exactly the (ts, id) lexicographic order — the derivative tooling
# asserts this domain, tools/make_8x.py): DuckDB 1.0's grouped
# MIN/MAX over a STRUCT allocates outside its memory_limit and OOMed
# the host at the 64× probe — measured, MEASURED.md round-8.
# Both engines drop NULL-value rows up front: DuckDB's arg_min/
# arg_max silently skip NULL arguments while Spark's struct MIN/MAX
# would propagate them, so the filter (a no-op on the generated data,
# where value is never NULL) pins identical semantics by construction
# instead of by data accident (round-9 ADVICE).
# --------------------------------------------------------------------------
@q(
    "q_ohlc",
    """
    SELECT user_id,
           CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
           arg_min(CAST(round(value * 100, 0) AS BIGINT),
                   CAST(epoch_us(ts) AS HUGEINT) * 1000000000000 + event_id)
             / 100.0 AS open,
           MAX(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS high,
           MIN(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS low,
           arg_max(CAST(round(value * 100, 0) AS BIGINT),
                   CAST(epoch_us(ts) AS HUGEINT) * 1000000000000 + event_id)
             / 100.0 AS close,
           COUNT(*) AS volume
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    day_us = 86400 * 10**6
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    vc = F.round(F.col("value") * 100, 0).cast("bigint")
    st = F.struct(
        F.col("ts").alias("t"), F.col("event_id").alias("id"), vc.alias("v")
    )
    return (
        ev.groupBy(
            "user_id", F.expr(f"ts div {day_us}").cast("bigint").alias("day")
        )
        .agg(
            (F.min(st)["v"] / 100.0).alias("open"),
            (F.max(vc) / 100.0).alias("high"),
            (F.min(vc) / 100.0).alias("low"),
            (F.max(st)["v"] / 100.0).alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
    )


# --------------------------------------------------------------------------
# Column profiling (ANALYZE TABLE analog) — null count, exact
# distinct count, min/max/mean for each numeric lineitem measure, as
# one row per column.  One scan: stack() unpivots each row into four
# (col_name, value) pairs, a (col, value) histogram aggregates them
# (map-side combine collapses to the per-column distinct-value count
# per task), and every profile stat derives exactly from the
# histogram — n_rows = Σcnt, n_distinct = COUNT(v), mean from the
# exact int Σ(v·cnt).  Round 11 replaced the previous 4-way
# multi-distinct aggregate: its Expand ×5 pushed 5 copies of every
# row through the hash aggregate (measured min-of-4 at sf0.1: 4.00 s
# → 1.86 s, outputs bitwise-identical), and at 100 TB the histogram
# shuffle is bounded by distinct values per column per task instead
# of 5× the fact rows.  The oracle spells the same stats as four
# scans UNION ALL'd — correctness twin only, the single-scan shape
# is the engine's.
# --------------------------------------------------------------------------
_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@q(
    "q_data_profile",
    "\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS col_name,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT CAST(round({c} * 100, 0) AS BIGINT)) AS BIGINT) AS n_distinct,
           MIN(CAST(round({c} * 100, 0) AS BIGINT)) / 100.0 AS min_v,
           MAX(CAST(round({c} * 100, 0) AS BIGINT)) / 100.0 AS max_v,
           round(CAST(SUM(CAST(round({c} * 100, 0) AS BIGINT)) AS DOUBLE)
                 / COUNT({c}) / 100.0, 6) AS mean_v
    FROM lineitem
    """
        for c in _PROFILE_COLS
    ),
)
def q_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(*_PROFILE_COLS)
    stack_args = ", ".join(
        f"'{c}', CAST(round(`{c}` * 100, 0) AS BIGINT)" for c in _PROFILE_COLS
    )
    pairs = li.select(
        F.expr(f"stack({len(_PROFILE_COLS)}, {stack_args}) AS (col_name, v)")
    )
    hist = pairs.groupBy("col_name", "v").agg(F.count(F.lit(1)).alias("cnt"))
    # a NULL column value survives as the v IS NULL histogram row, so
    # n_null and the non-null divisor of the mean stay exact; the mean
    # keeps the old op order bitwise (int64 Σ(v·cnt) == Σvc, then the
    # same double divisions in the same order)
    return hist.groupBy("col_name").agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_null"),
        F.count("v").cast("bigint").alias("n_distinct"),
        (F.min("v") / 100.0).alias("min_v"),
        (F.max("v") / 100.0).alias("max_v"),
        F.round(
            F.sum(F.col("v") * F.col("cnt")).cast("double")
            / F.sum(F.when(F.col("v").isNotNull(), F.col("cnt")).otherwise(0))
            / 100.0,
            6,
        ).alias("mean_v"),
    )


# --------------------------------------------------------------------------
# 2-D skyline (Pareto frontier) — parts not dominated on (cheaper
# price, larger size).  The textbook operator is a block-nested-loop
# dominance anti-join (O(n²)); this plan is the SORT-based
# formulation: collapse to distinct (price, size) points (argmax size
# per price is free in the same agg), then one window ordered by
# price where a point survives iff its size beats the running max of
# all STRICTLY cheaper points — O(n log n), one shuffle, no
# self-join.  The oracle spells dominance directly (NOT EXISTS).
# --------------------------------------------------------------------------
@q(
    "q_skyline",
    """
    WITH pts AS (
        SELECT CAST(round(p_retailprice * 100, 0) AS BIGINT) AS pc,
               CAST(p_size AS BIGINT) AS psize, COUNT(*) AS n_parts
        FROM part GROUP BY 1, 2
    )
    SELECT pc / 100.0 AS price, psize, n_parts
    FROM pts a
    WHERE NOT EXISTS (
        SELECT 1 FROM pts b
        WHERE b.pc <= a.pc AND b.psize >= a.psize
          AND (b.pc < a.pc OR b.psize > a.psize)
    )
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    pc = F.round(F.col("p_retailprice") * 100, 0).cast("bigint")
    pts = p.groupBy(
        pc.alias("pc"), F.col("p_size").cast("bigint").alias("psize")
    ).agg(F.count(F.lit(1)).alias("n_parts"))
    # same-price ties: only the max size per price can survive, and
    # keeping it in the same aggregate avoids a second shuffle.
    best = pts.withColumn(
        "mx_at_price", F.max("psize").over(W.partitionBy("pc"))
    ).filter(F.col("psize") == F.col("mx_at_price"))
    # running max over strictly-cheaper prices: RANGE frame excludes
    # price peers, so equal-price rows never suppress each other.
    w = (
        W.orderBy("pc")
        .rangeBetween(W.unboundedPreceding, -1)
    )
    run = F.max("psize").over(w)
    return (
        best.withColumn("prev_mx", run)
        .filter(F.col("prev_mx").isNull() | (F.col("psize") > F.col("prev_mx")))
        .select((F.col("pc") / 100.0).alias("price"), "psize", "n_parts")
    )


# --------------------------------------------------------------------------
# Bitmap-index distinct count — distinct users per event_type through
# Spark's bitmap aggregate family: per-(type, bucket) roaring-style
# bitmaps built map-side (bitmap_construct_agg over bit positions),
# then popcounts summed per type.  The point at 100 TB: the bitmap
# partials are MERGEABLE (bitmap_or_agg), so a materialized
# per-partition bitmap table answers exact COUNT(DISTINCT) forever
# after without touching raw rows — the exact counterpart of the HLL
# sketch path (q_approx_distinct), and the same two-level shape the
# exact COUNT(DISTINCT) Expand plan cannot pre-aggregate.
# --------------------------------------------------------------------------
@q(
    "q_bitmap_distinct",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    per_bucket = ev.groupBy(
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm")
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n_users")
    )


# --------------------------------------------------------------------------
# DECIMAL-typed exact aggregation — the suite's integer-cents rule is
# ONE exactness strategy; this query exercises the other: native
# DECIMAL(18,2) arithmetic, where the engine itself guarantees exact
# scale-2 sums in any aggregation order.  Both engines parse the
# price into DECIMAL at the scan, sum exactly, and emit DECIMAL —
# the division to currency units happens AFTER the exact sum, in
# double on both engines (DuckDB's decimal/int division degrades to
# double, so dividing per-row would re-introduce float summation).
# Scale note: Spark's decimal sums carry precision widening (sum of
# (18,0) is (28,0)) through partial aggregation — exact at any fan-in.
# --------------------------------------------------------------------------
@q(
    "q_decimal_agg",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                         AS DECIMAL(18, 0))) AS DOUBLE) / 100 AS gross,
           CAST(SUM(CAST(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                              AS BIGINT) AS DECIMAL(18, 0))) AS DOUBLE) / 100 AS net,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_decimal_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    gross_d = cents(F.col("l_extendedprice")).cast(T.DecimalType(18, 0))
    net_d = cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        T.DecimalType(18, 0)
    )
    # The DECIMAL sums are exact in any aggregation order; the final
    # cast to DOUBLE is for the cross-engine compare only (DuckDB's
    # fetchdf renders DECIMAL as float64, Spark's toPandas as Decimal
    # objects — same value, different pandas dtype, and the driver's
    # value hash is type-sensitive).
    return li.groupBy("l_returnflag").agg(
        (F.sum(gross_d).cast("double") / 100).alias("gross"),
        (F.sum(net_d).cast("double") / 100).alias("net"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )


# --------------------------------------------------------------------------
# Interval / calendar arithmetic surface — the date-math companions of
# q_date_parts' extraction: day-interval addition, calendar-aware
# month addition (both engines clamp to month end), day difference
# against an epoch literal, and month span.  Timestamps emit as
# formatted strings (the module convention — engine-native epoch
# rendering is timezone-dependent); everything else is exact integer.
# Scan-side, zero shuffle.  NB: the oracle spells the +90d as epoch
# arithmetic, not INTERVAL — DuckDB 1.0.0's common-subexpression
# elimination wrongly unifies two different INTERVAL literals added
# to the same column in one SELECT (t + INTERVAL 90 DAY and
# t + INTERVAL 3 MONTH both evaluate to the first).
# --------------------------------------------------------------------------
@q(
    "q_interval_arith",
    """
    SELECT o_orderkey,
           strftime(to_timestamp(epoch_us(o_orderdate) / 1000000 + 7776000),
                    '%Y-%m-%d') AS due_90d,
           strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS due_3mo,
           CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT)
             AS days_since_epoch,
           CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS BIGINT)
             AS months_since_epoch
    FROM orders
    """,
)
def q_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format(
            F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"), "yyyy-MM-dd"
        ).alias("due_90d"),
        F.date_format(F.add_months(F.col("o_orderdate"), 3), "yyyy-MM-dd").alias(
            "due_3mo"
        ),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
        ).cast("bigint").alias("days_since_epoch"),
        ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1)
        .cast("bigint")
        .alias("months_since_epoch"),
    )


# --------------------------------------------------------------------------
# Schema evolution on read — two parquet batches written with
# DIFFERENT column subsets (the lakehouse reality: producers add and
# drop columns over time), merged by spark.read.option("mergeSchema"):
# the scan unions the footers' schemas and null-fills the columns a
# file lacks.  The oracle spells the same union-by-name over the
# source rows.  At 100 TB, mergeSchema is a FOOTER-only operation
# (one read per file footer, no data pass) — evolution costs nothing
# at scan time.
# --------------------------------------------------------------------------
@q(
    "q_schema_evolution",
    """
    SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey
    FROM nation WHERE n_nationkey < 13
    UNION ALL
    SELECT n_nationkey, CAST(NULL AS VARCHAR), n_regionkey
    FROM nation WHERE n_nationkey >= 13
    """,
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from nfl26_bigdatabowl_prediction_spark.scratch import scratch_dir

    n = table(spark, sf_dir, "nation")
    # Per-invocation temp dir (the q_stream_cdc_upsert convention):
    # a fixed shared path races under concurrent test/bench sessions
    # — two overwriting writers can interleave v1/v2 contents.
    # scratch_dir removes it at process exit (the returned DataFrame
    # reads the files lazily, so it can't be deleted here).
    path = scratch_dir("nfl26_schema_evolution_")
    (
        n.filter(F.col("n_nationkey") < 13)
        .select("n_nationkey", "n_name")
        .write.mode("overwrite")
        .parquet(os.path.join(path, "v1"))
    )
    (
        n.filter(F.col("n_nationkey") >= 13)
        .select("n_nationkey", "n_regionkey")
        .write.mode("overwrite")
        .parquet(os.path.join(path, "v2"))
    )
    return spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "v1"), os.path.join(path, "v2")
    )


# --------------------------------------------------------------------------
# Pivot with MULTIPLE aggregates per cell — q_pivot's single-agg
# rotation extended to (count, exact-cents sum) pairs per pivot
# value: the wide-report shape BI tools emit.  Explicit pivot values
# keep the plan single-pass (no distinct-scan to discover columns);
# both aggregates fold into the same partial aggregation, so the
# pivot costs ONE shuffle regardless of how many measures ride it.
# --------------------------------------------------------------------------
@q(
    "q_pivot_multi",
    """
    SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
           CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT)
             AS a_cnt,
           CAST(SUM(CASE WHEN l_returnflag = 'A'
                    THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                    ELSE 0 END) AS BIGINT) / 100.0 AS a_rev,
           CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cnt,
           CAST(SUM(CASE WHEN l_returnflag = 'N'
                    THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                    ELSE 0 END) AS BIGINT) / 100.0 AS n_rev,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
             AS r_cnt,
           CAST(SUM(CASE WHEN l_returnflag = 'R'
                    THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                    ELSE 0 END) AS BIGINT) / 100.0 AS r_rev
    FROM lineitem
    GROUP BY 1
    """,
)
def q_pivot_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy(F.year("l_shipdate").cast("bigint").alias("ship_year"))
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            (F.sum(cents(F.col("l_extendedprice"))).cast("bigint") / 100.0).alias(
                "rev"
            ),
        )
    )
    # Spark names multi-agg pivot columns "{value}_{alias}"; empty
    # cells surface as NULL where the oracle's CASE yields 0 — align.
    out = piv.select(
        "ship_year",
        *[
            F.coalesce(F.col(f"{v}_{m}"), F.lit(0) if m == "cnt" else F.lit(0.0))
            .alias(f"{v.lower()}_{m}")
            for v in ("A", "N", "R")
            for m in ("cnt", "rev")
        ],
    )
    return out


# --------------------------------------------------------------------------
# Data-quality rule audit — the validation pass every ingest runs
# before publishing a partition: N declarative rules evaluated in ONE
# scan (each a conditional count), plus the quarantine rate (rows
# violating ANY rule).  Rules compile to a single projection; the
# aggregate is map-side combined into one row, unpivoted with stack()
# for the per-rule report.  At 100 TB this is the cheap gate in front
# of the expensive pipeline — never a second scan per rule.
# --------------------------------------------------------------------------
@q(
    "q_dq_rules",
    """
    WITH flags AS (
        SELECT CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END AS v_qty,
               CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END AS v_disc,
               CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END AS v_price,
               CASE WHEN l_shipdate IS NULL
                     OR l_shipdate < TIMESTAMP '1995-01-01' THEN 1 ELSE 0 END AS v_date,
               CASE WHEN l_tax < 0 OR l_tax > 0.08 THEN 1 ELSE 0 END AS v_tax
        FROM lineitem
    ), agg AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(v_qty) AS BIGINT) AS c_qty,
               CAST(SUM(v_disc) AS BIGINT) AS c_disc,
               CAST(SUM(v_price) AS BIGINT) AS c_price,
               CAST(SUM(v_date) AS BIGINT) AS c_date,
               CAST(SUM(v_tax) AS BIGINT) AS c_tax,
               CAST(SUM(CASE WHEN v_qty + v_disc + v_price + v_date + v_tax > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS c_any
        FROM flags
    )
    SELECT rule, n_violations, CAST(n AS BIGINT) AS n_rows,
           round(1.0 * n_violations / n, 6) AS violation_rate
    FROM (
        SELECT 'quantity_range' AS rule, c_qty AS n_violations, n FROM agg
        UNION ALL SELECT 'discount_range', c_disc, n FROM agg
        UNION ALL SELECT 'price_positive', c_price, n FROM agg
        UNION ALL SELECT 'shipdate_valid', c_date, n FROM agg
        UNION ALL SELECT 'tax_range', c_tax, n FROM agg
        UNION ALL SELECT 'any_rule', c_any, n FROM agg
    )
    """,
)
def q_dq_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    v = {
        "quantity_range": (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
        "discount_range": (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1),
        "price_positive": F.col("l_extendedprice") <= 0,
        "shipdate_valid": F.col("l_shipdate").isNull()
        | (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp")),
        "tax_range": (F.col("l_tax") < 0) | (F.col("l_tax") > 0.08),
    }
    flags = li.select(
        *[F.when(cond, 1).otherwise(0).alias(f"v_{k}") for k, cond in v.items()]
    )
    any_v = sum(F.col(f"v_{k}") for k in v) > 0
    agg = flags.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"v_{k}").cast("bigint").alias(f"c_{k}") for k in v],
        F.sum(F.when(any_v, 1).otherwise(0)).cast("bigint").alias("c_any"),
    )
    stack_args = ", ".join([f"'{k}', `c_{k}`" for k in v] + ["'any_rule', c_any"])
    return agg.select(
        F.expr(f"stack({len(v) + 1}, {stack_args}) AS (rule, n_violations)"),
        F.col("n").cast("bigint").alias("n_rows"),
    ).select(
        "rule",
        "n_violations",
        "n_rows",
        F.round(F.lit(1.0) * F.col("n_violations") / F.col("n_rows"), 6).alias(
            "violation_rate"
        ),
    )


# --------------------------------------------------------------------------
# Join-strategy hint surface — the same fact⋈fact equi join as
# q_join_inner forced to a SHUFFLED HASH join via hint: on clusters
# with memory to hold the per-partition build side, hash beats
# sort-merge by skipping both sorts (the classic big-join tuning move —
# Spark only picks it automatically with preferSortMergeJoin=false).
# The plan test pins ShuffledHashJoin; results are identical to the
# unhinted form, which is the point: hints change the physical
# strategy, never the answer.
# --------------------------------------------------------------------------
@q(
    "q_shuffle_hash_join",
    """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
             / 100.0 AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def q_shuffle_hash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return (
        li.join(o.hint("SHUFFLE_HASH"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            (F.sum(cents(F.col("l_extendedprice"))).cast("bigint") / 100.0).alias(
                "revenue"
            ),
        )
    )


# --------------------------------------------------------------------------
# Equi-depth histogram — quartile-bucketed value distribution: exact
# percentile cutpoints (the q_quantile convention, rounded 4) become
# a broadcast 1-row bound set; each fact row buckets by comparison
# against the cutpoints, counts map-side combine into 4 keys.  The
# equal-POPULATION companion of q_histogram's equal-WIDTH bins — at
# 100 TB swap the exact percentile for approx_percentile and keep
# the identical plan.
# --------------------------------------------------------------------------
@q(
    "q_equi_depth_hist",
    """
    WITH b AS (
        SELECT round(quantile_cont(o_totalprice, 0.25), 4) AS q1,
               round(quantile_cont(o_totalprice, 0.50), 4) AS q2,
               round(quantile_cont(o_totalprice, 0.75), 4) AS q3
        FROM orders
    )
    SELECT CASE WHEN o_totalprice <= b.q1 THEN 0
                WHEN o_totalprice <= b.q2 THEN 1
                WHEN o_totalprice <= b.q3 THEN 2
                ELSE 3 END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             / 100.0 AS bucket_revenue
    FROM orders, b
    GROUP BY 1
    """,
)
def q_equi_depth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the exact-percentile agg COLLECTS every value into its buffer;
    # on a one-split scan both it and the bucketing pass ran on one
    # core (spread_scan: no-op at scale)
    o = spread_scan(table(spark, sf_dir, "orders"))
    b = o.agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("q1"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 4).alias("q2"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 4).alias("q3"),
    )
    bucket = (
        F.when(F.col("o_totalprice") <= F.col("q1"), 0)
        .when(F.col("o_totalprice") <= F.col("q2"), 1)
        .when(F.col("o_totalprice") <= F.col("q3"), 2)
        .otherwise(3)
    )
    return (
        o.crossJoin(F.broadcast(b))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            (
                F.sum(cents(F.col("o_totalprice"))).cast("bigint") / 100.0
            ).alias("bucket_revenue"),
        )
    )


# --------------------------------------------------------------------------
# Exact per-group percentiles by rank position — the SLA/latency
# report shape (p50/p90/p99 per group) computed EXACTLY: rank every
# row inside its group, pick the value at position ceil(p·n) by pure
# integer arithmetic ((n·p + 99) div 100 — no float percentile
# semantics to disagree on), one conditional-max agg per percentile.
# One group-keyed window exchange; at 100 TB swap the full sort for
# the per-distinct-value histogram (rank positions from cumulative
# counts), same positions, same answers — the q_gini/q_auc scale
# path.
# --------------------------------------------------------------------------
@q(
    "q_percentiles_by_group",
    """
    WITH cents AS (
        SELECT l_returnflag AS rf,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c
        FROM lineitem
    ), ranked AS (
        SELECT rf, c,
               ROW_NUMBER() OVER (PARTITION BY rf ORDER BY c) AS rn,
               COUNT(*) OVER (PARTITION BY rf) AS n
        FROM cents
    )
    SELECT rf AS l_returnflag,
           CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN c END) AS BIGINT)
             / 100.0 AS p50,
           CAST(MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN c END) AS BIGINT)
             / 100.0 AS p90,
           CAST(MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN c END) AS BIGINT)
             / 100.0 AS p99
    FROM ranked GROUP BY rf
    """,
)
def q_percentiles_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    cents = li.select(
        F.col("l_returnflag").alias("rf"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("c"),
    )
    wr = W.partitionBy("rf").orderBy("c")
    wn = W.partitionBy("rf")
    ranked = cents.select(
        "rf",
        "c",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def at(pct: int):
        pos = F.expr(f"(n * {pct} + 99) div 100")
        return (
            F.max(F.when(F.col("rn") == pos, F.col("c"))).cast("bigint") / 100.0
        )

    return ranked.groupBy(F.col("rf").alias("l_returnflag")).agg(
        F.max("n").cast("bigint").alias("n_rows"),
        at(50).alias("p50"),
        at(90).alias("p90"),
        at(99).alias("p99"),
    )


# --------------------------------------------------------------------------
# Dirty-data quarantine via try_cast — the ingest-hardening shape: a
# string field that SHOULD be numeric is salvaged with try_cast
# (NULL instead of job failure — at 100 TB one poisoned row must
# never kill a 6-hour pipeline), bad rows are counted per partition
# key, and the salvage aggregates run over the good subset only.
# Malformation is synthesized deterministically (every 7th event gets
# a non-numeric suffix) since the fixture is clean; the plan is
# identical on truly dirty data.  Scan-side cast + one hash agg.
# --------------------------------------------------------------------------
@q(
    "q_try_cast",
    """
    WITH raw AS (
        SELECT event_type,
               CASE WHEN event_id % 7 = 0
                    THEN CAST(value AS VARCHAR) || 'x'
                    ELSE CAST(value AS VARCHAR) END AS s
        FROM events
    ), parsed AS (
        SELECT event_type, TRY_CAST(s AS DOUBLE) AS v FROM raw
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quarantined,
           CAST(SUM(CASE WHEN v IS NOT NULL
                    THEN CAST(round(v * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT)
             / 100.0 AS salvaged_sum
    FROM parsed GROUP BY event_type
    """,
)
def q_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    s = F.when(
        F.col("event_id") % 7 == 0, F.concat(F.col("value").cast("string"), F.lit("x"))
    ).otherwise(F.col("value").cast("string"))
    parsed = ev.select("event_type", s.alias("s")).select(
        "event_type", F.expr("try_cast(s AS DOUBLE)").alias("v")
    )
    salvaged = F.when(
        F.col("v").isNotNull(), F.round(F.col("v") * 100, 0).cast("bigint")
    ).otherwise(F.lit(0))
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_quarantined"),
        (F.sum(salvaged).cast("bigint") / 100.0).alias("salvaged_sum"),
    )


# --------------------------------------------------------------------------
# Referential-integrity audit — the constraint checker a warehouse
# runs because the engine doesn't enforce FKs: orphan counts for each
# edge of the star schema, as one UNION of anti-join counts.  Each
# arm is an anti join on its own key (broadcast when the parent is a
# dimension); output is fixed-size (one row per FK edge), so this is
# the cheap nightly DQ gate at any scale.
# --------------------------------------------------------------------------
@q(
    "q_ri_audit",
    """
    SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
             AS n_orphans,
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT),
           CAST((SELECT COUNT(*) FROM customer) AS BIGINT)
    UNION ALL
    SELECT 'nation.n_regionkey->region',
           CAST((SELECT COUNT(*) FROM nation n
                 WHERE NOT EXISTS (SELECT 1 FROM region r
                                   WHERE r.r_regionkey = n.n_regionkey)) AS BIGINT),
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT)
    """,
)
def q_ri_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")

    def arm(name, child, parent, ck, pk, bcast):
        # one pass: left join the (distinct, flagged) parent keys and
        # count rows + misses in the same aggregate — no second child
        # scan, no scalar cross join.
        p = parent.select(F.col(pk).alias(ck)).distinct().withColumn(
            "_hit", F.lit(1)
        )
        if bcast:
            p = F.broadcast(p)
        j = child.select(ck).join(p, ck, "left")
        return j.agg(
            F.lit(name).alias("fk_edge"),
            F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_orphans"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        ).select("fk_edge", "n_orphans", "n_rows")

    return (
        arm("lineitem.l_orderkey->orders", li, o, "l_orderkey", "o_orderkey", False)
        .unionByName(arm("orders.o_custkey->customer", o, c, "o_custkey", "c_custkey", True))
        .unionByName(arm("customer.c_nationkey->nation", c, n, "c_nationkey", "n_nationkey", True))
        .unionByName(arm("nation.n_regionkey->region", n, r, "n_regionkey", "r_regionkey", True))
    )


# --------------------------------------------------------------------------
# Order-insensitive table checksum — the cross-engine replication /
# migration validator: every row folds to one portable int64 (the
# polynomial hash of its canonical string), and the table fingerprint
# is (COUNT, SUM) of those hashes — a commutative fold, so partition
# order, file order, and engine are all irrelevant.  The sum rides
# DECIMAL(38,0)/HUGEINT (n rows × up to 2^63 hash needs int128
# headroom).  One scan, one scalar row out.
# --------------------------------------------------------------------------
from ..functions.portable import portable_hash_sql_duckdb as _ph_duck


@q(
    "q_table_checksum",
    f"""
    WITH canon AS (
        SELECT CAST(n_nationkey AS VARCHAR) || '|' || n_name || '|'
                 || CAST(n_regionkey AS VARCHAR) AS s
        FROM nation
    ), hashed AS (
        SELECT {_ph_duck("s")} AS h FROM canon
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(h AS HUGEINT)) AS VARCHAR) AS checksum
    FROM hashed
    """,
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.portable import portable_hash_sql_spark

    n = table(spark, sf_dir, "nation")
    canon = n.select(
        F.concat_ws(
            "|",
            F.col("n_nationkey").cast("string"),
            F.col("n_name"),
            F.col("n_regionkey").cast("string"),
        ).alias("s")
    )
    hashed = canon.select(F.expr(portable_hash_sql_spark("s")).alias("h"))
    return hashed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("h").cast("decimal(38,0)")).cast("string").alias("checksum"),
    )


# --------------------------------------------------------------------------
# Multiset set operations — EXCEPT ALL / INTERSECT ALL keep
# DUPLICATE COUNTS (bag semantics): a row appearing m times on the
# left and n on the right survives max(0, m−n) times (except) or
# min(m, n) times (intersect).  The distinct-flavored twins
# (q_except/q_intersect) cannot express reconciliation of
# multiplicity — these are the dedup-aware diff shapes.  Spark
# compiles both to a counting hash aggregate + generate, one shuffle.
# --------------------------------------------------------------------------
@q(
    "q_except_all",
    """
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 20
    EXCEPT ALL
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_discount > 0.05
    """,
)
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") > 20).select("l_orderkey", "l_partkey")
    b = li.filter(F.col("l_discount") > 0.05).select("l_orderkey", "l_partkey")
    return a.exceptAll(b)


@q(
    "q_intersect_all",
    """
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 20
    INTERSECT ALL
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_discount > 0.05
    """,
)
def q_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") > 20).select("l_orderkey", "l_partkey")
    b = li.filter(F.col("l_discount") > 0.05).select("l_orderkey", "l_partkey")
    return a.intersectAll(b)


# --------------------------------------------------------------------------
# Explicit NULL placement in sort order — NULLS FIRST/LAST is a
# surface engines disagree on by default (Spark: NULLS FIRST asc /
# NULLS LAST desc; DuckDB: NULLS LAST asc by default), so queries
# that migrate MUST spell it.  The derived key has genuine NULLs
# (nullif) and the order is fully tiebroken.
# --------------------------------------------------------------------------
@q(
    "q_sort_nulls",
    """
    SELECT o_orderkey, nullif(o_custkey % 4, 0) AS prio, o_totalprice
    FROM orders
    ORDER BY prio DESC NULLS LAST, o_orderkey ASC
    LIMIT 100
    """,
)
def q_sort_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.nullif(F.col("o_custkey") % 4, F.lit(0)).alias("prio"),
            "o_totalprice",
        )
        .orderBy(F.col("prio").desc_nulls_last(), F.col("o_orderkey").asc())
        .limit(100)
    )


# --------------------------------------------------------------------------
# Keyset-free pagination — ORDER BY + LIMIT/OFFSET (Spark 3.4+
# offset()): page 3 of the price-ranked orders.  OFFSET on a sorted
# stream still compiles to TakeOrderedAndProject with limit+offset
# (per-partition heaps of limit+offset rows — fine for bounded pages;
# keyset pagination is the documented pattern for deep pages).
# --------------------------------------------------------------------------
@q(
    "q_paginate",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20 OFFSET 40
    """,
)
def q_paginate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .offset(40)
        .limit(20)
    )


# --------------------------------------------------------------------------
# Schema-drift union — unionByName(allowMissingColumns=True): the
# DataFrame-level companion of q_schema_evolution's scan-level
# mergeSchema.  Two producers emit different column subsets; the
# union aligns BY NAME (never by position — positional union is the
# classic silent-corruption bug when producers reorder columns) and
# null-fills what a side lacks.  Pure narrow op: no shuffle.
# --------------------------------------------------------------------------
@q(
    "q_union_drift",
    """
    SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey,
           'v1' AS src
    FROM nation WHERE n_nationkey % 2 = 0
    UNION ALL
    SELECT n_nationkey, CAST(NULL AS VARCHAR), n_regionkey, 'v2'
    FROM nation WHERE n_nationkey % 2 = 1
    """,
)
def q_union_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    v1 = (
        n.filter(F.col("n_nationkey") % 2 == 0)
        .select("n_nationkey", "n_name")
        .withColumn("src", F.lit("v1"))
    )
    v2 = (
        n.filter(F.col("n_nationkey") % 2 == 1)
        .select("n_nationkey", "n_regionkey")
        .withColumn("src", F.lit("v2"))
    )
    return v1.unionByName(v2, allowMissingColumns=True).select(
        "n_nationkey", "n_name", "n_regionkey", "src"
    )


# --------------------------------------------------------------------------
# §2.1 S-family completion: raw text-line source round-trip.  The
# line-oriented `text` source is how a corpus pipeline ingests raw
# crawl shards before any parsing; this query writes `documents.text`
# through the text sink and reads it back with spark.read.text,
# checking the round trip with an ORDER-INSENSITIVE integer checksum
# (sum of per-line portable polynomial hashes — line order is not a
# contract of a distributed text scan).  Scan-side hash, one 1-row
# aggregate; the write is the usual executor-parallel sink.
# --------------------------------------------------------------------------
@q(
    "q_scan_text",
    f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM({_ph_duck('text')}) AS BIGINT) AS hash_sum
    FROM documents
    """,
)
def q_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.portable import portable_hash_sql_spark
    from ..scratch import scratch_dir

    path = scratch_dir("text_roundtrip_")
    table(spark, sf_dir, "documents").select("text").write.mode(
        "overwrite"
    ).format("text").save(path)
    # the read-back text file is a single split; the per-character
    # hash fold below dominates -> spread (no-op at cluster scale)
    lines = spread_scan(spark.read.text(path))  # one column: value
    return lines.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.length("value")).cast("bigint").alias("total_chars"),
        F.sum(F.expr(portable_hash_sql_spark("value")))
        .cast("bigint")
        .alias("hash_sum"),
    )


# --------------------------------------------------------------------------
# §2.1 S-family completion: binaryFile source — THE ingestion path for
# multimodal corpora (images/audio/docs land as raw objects; Spark's
# built-in `binaryFile` source surfaces path/length/content and feeds
# the mapInPandas decode kernels in plans/multimodal_q.py).  Round
# trip: every 10th document's text is materialized as a standalone
# .txt object (executor-side foreachPartition write — at cluster
# scale the same code writes to shared object storage), read back via
# binaryFile, and verified per-object by byte length + md5.
# --------------------------------------------------------------------------
@q(
    "q_scan_binary",
    """
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id % 10 = 0
    """,
)
def q_scan_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..scratch import scratch_dir

    path = scratch_dir("binary_ingest_")
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text")
    )

    def write_objects(rows) -> None:
        for r in rows:
            with open(os.path.join(path, f"{r['doc_id']}.txt"), "wb") as fh:
                fh.write(r["text"].encode("utf-8"))

    docs.foreachPartition(write_objects)
    bf = spark.read.format("binaryFile").load(path)
    return bf.select(
        F.expr(r"cast(regexp_extract(path, '([0-9]+)\\.txt$', 1) as bigint)")
        .alias("doc_id"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


# --------------------------------------------------------------------------
# Entity resolution — the full record-linkage pipeline as ONE lazy
# plan: blocking (head-noun block + length pre-gate, the q_fuzzy_join
# candidate generator) → pairwise match (levenshtein ≤ 2) → connected
# components over the match graph (operators/components.py: driver
# union-find under the edge threshold, distributed hash-to-min above
# it) → golden record per entity (canonical name = min, fact rows and
# exact-cents totals aggregated across all variant spellings).  The
# classic MDM dedup shape: every quadratic step is block-bounded, the
# component loop runs on |match-graph endpoints| (a vanishing
# fraction of the corpus), and the final rollup is one fact-side
# hash aggregation after a name→entity broadcast join.
# --------------------------------------------------------------------------
@q(
    "q_entity_resolution",
    """
    WITH RECURSIVE dict AS (
        SELECT p_name, split_part(p_name, ' ', 2) AS blk
        FROM part GROUP BY 1, 2
    ), cand AS MATERIALIZED (
        SELECT a.p_name AS na, b.p_name AS nb
        FROM dict a JOIN dict b ON a.blk = b.blk AND a.p_name < b.p_name
        WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
          AND levenshtein(a.p_name, b.p_name) <= 2
    ), edges_sym AS MATERIALIZED (
        SELECT na AS a, nb AS b FROM cand
        UNION SELECT nb, na FROM cand
    ), names AS (
        SELECT DISTINCT p_name FROM part
    ), reach AS (
        SELECT p_name AS node, p_name AS r FROM names
        UNION
        SELECT reach.node, e.b FROM reach JOIN edges_sym e ON reach.r = e.a
    ), comp AS (
        SELECT node AS p_name, MIN(r) AS entity FROM reach GROUP BY node
    )
    SELECT c.entity,
           CAST(COUNT(DISTINCT p.p_name) AS BIGINT) AS n_variants,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(p.p_retailprice * 100, 0) AS BIGINT))
                AS BIGINT) AS retail_cents_total
    FROM part p JOIN comp c ON c.p_name = p.p_name
    GROUP BY c.entity
    """,
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components

    p = table(spark, sf_dir, "part").select("p_name", "p_retailprice")
    names = p.select("p_name").distinct()
    dict_ = names.select(
        "p_name",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("blk"),
    )
    a = dict_.select(F.col("p_name").alias("na"), F.col("blk").alias("blk_a"))
    b = dict_.select(F.col("p_name").alias("nb"), F.col("blk").alias("blk_b"))
    cand = (
        a.join(b, (F.col("blk_a") == F.col("blk_b")) & (F.col("na") < F.col("nb")))
        .filter(
            (F.abs(F.length("na") - F.length("nb")) <= 2)
            & (F.levenshtein("na", "nb") <= 2)
        )
        .select("na", "nb")
    )
    comp = connected_components(names, cand, node_col="p_name", src="na", dst="nb")
    ent = comp.select(F.col("node").alias("p_name"), F.col("comp").alias("entity"))
    cents = F.round(F.col("p_retailprice") * 100, 0).cast("bigint")
    return (
        p.join(F.broadcast(ent), "p_name")  # name dictionary is dimension-sized
        .groupBy("entity")
        .agg(
            F.countDistinct("p_name").cast("bigint").alias("n_variants"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(cents).cast("bigint").alias("retail_cents_total"),
        )
    )

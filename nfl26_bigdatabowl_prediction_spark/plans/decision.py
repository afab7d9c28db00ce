"""Decision-support completion suite (remaining TPC-H query shapes).

Round 1 shipped the Q1/Q3/Q5/Q7/Q10/Q12/Q14/Q15/Q18 analogs
(plans/relational.py); this module completes the classic decision-
support surface with the remaining shapes — correlated minima (Q2),
EXISTS (Q4), pure scan-aggregation (Q6), market share (Q8), profit
attribution (Q9), group-share HAVING against a global total (Q11),
outer-join count distributions (Q13), NOT-IN audit (Q16), scalar
correlated subquery (Q17), OR-of-ANDs pushdown (Q19), multi-
condition relational EXISTS/NOT-EXISTS (Q21) and anti-join with a
global scalar threshold (Q22).

Reference parity: the reference's reporting layer ranks plays and
aggregates outcomes with exactly these join→filter→agg→top-K shapes
(main_cuda.py:404-439 builds the projected-gain report; the CV loop
main_cuda.py:1389-1401 aggregates per-fold metrics) — here they are
expressed once per canonical decision-support pattern over the star
schema.

Determinism rules are the module-wide ones from plans/relational.py:
money sums ride exact int64 cents, per-row IEEE arithmetic is left
unrounded, every output aggregate is CAST so the DuckDB fetchdf dtype
matches Spark's (HUGEINT never reaches the driver hash).

Scale notes per query; the common frame: dimension tables (region,
nation, supplier, part, customer at 1/10_000 of fact size) broadcast
explicitly — auto-broadcast is off (session.py) so every broadcast in
a plan is a declared decision; the only repartition-scale exchanges
are fact-fact orderkey joins and the final group-by shuffles, both
AQE-coalesced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.scalar import cents
from ..sources.io import table
from .registry import registrar

QUERIES: dict = {}
ORACLES: dict = {}
q = registrar(QUERIES, ORACLES)


_REV_C = "CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)"


# --------------------------------------------------------------------------
# TPC-H Q2 analog — minimum-cost supplier per part (correlated MIN).
# The schema has no partsupp, so supply cost is observed unit price:
# round(l_extendedprice / l_quantity) cents per (part, supplier).
# Scale: the part filter prunes the dimension BEFORE the broadcast;
# the (part, supp) aggregation is partial (map-side) on the fact
# scan; the per-part minimum is a WindowGroupLimit over the
# dimension-sized aggregate — never a fact-side sort.  The classic
# correlated-subquery MIN decorrelates into exactly this plan.
# --------------------------------------------------------------------------
@q(
    "q_min_cost_supp",
    """
    WITH cost AS (
        SELECT l.l_partkey, l.l_suppkey,
               MIN(CAST(round(l.l_extendedprice / l.l_quantity * 100, 0) AS BIGINT))
                 AS cost_c
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_type = 'STANDARD' AND p.p_size <= 10
        GROUP BY 1, 2
    ), ranked AS (
        SELECT l_partkey, l_suppkey, cost_c,
               ROW_NUMBER() OVER (PARTITION BY l_partkey
                                  ORDER BY cost_c ASC, l_suppkey ASC) AS rn
        FROM cost
    )
    SELECT r.l_partkey AS p_partkey, s.s_name, r.cost_c / 100.0 AS unit_cost,
           s.s_acctbal
    FROM ranked r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.rn = 1
    """,
)
def q_min_cost_supp(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    p = (
        table(spark, sf_dir, "part")
        .filter((F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10))
        .select("p_partkey")
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    unit_c = F.round(F.col("l_extendedprice") / F.col("l_quantity") * 100, 0).cast(
        "bigint"
    )
    cost = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(unit_c).alias("cost_c"))
    )
    w = W.partitionBy("l_partkey").orderBy(
        F.col("cost_c").asc(), F.col("l_suppkey").asc()
    )
    return (
        cost.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_name",
            (F.col("cost_c") / 100.0).alias("unit_cost"),
            "s_acctbal",
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q4 analog — priority count of orders with at least one
# late-shipped line (EXISTS → left-semi join).  The semi join carries
# the equi key plus the non-equi lateness predicate; Spark plans it
# as a shuffled hash semi join on orderkey with the range condition
# evaluated in the probe — each order emits at most once, so the
# post-join aggregate is 5-group tiny.
# Scale: the quarter filter prunes orders scan-side FIRST (row-group
# stats), so the semi join's build side is already quarter-sized.
# --------------------------------------------------------------------------
@q(
    "q_pending_priority",
    """
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY 1
    """,
)
def q_pending_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate >= o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("order_count")
    )


# --------------------------------------------------------------------------
# TPC-H Q6 analog — the pure scan-aggregation revenue forecast: no
# join at all, three pushed predicates, one partial-aggregated sum.
# The canonical predicate-pushdown showcase: at 100 TB the parquet
# reader skips every row group whose shipdate/discount/quantity stats
# miss the band, and the scan reads exactly 4 columns.
# --------------------------------------------------------------------------
@q(
    "q_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(round(l_extendedprice * l_discount * 100, 0) AS BIGINT))
                AS BIGINT) / 100.0 AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.02 AND 0.06
      AND l_quantity < 24
    """,
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.02, 0.06))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (
                F.sum(cents(F.col("l_extendedprice") * F.col("l_discount"))).cast(
                    "bigint"
                )
                / 100.0
            ).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q8 analog — national market share: of all revenue from
# customers in one region, the fraction supplied by one nation, per
# order year.  A 6-table snowflake where BOTH nation legs broadcast:
# the customer leg prunes to region-member custkeys before touching
# facts, the supplier leg tags each line with its supply nation.
# Scale: one orderkey fact-fact shuffle; everything else rides
# broadcasts.  Share = int-cents conditional sum / int-cents total,
# double only in the final division.
# --------------------------------------------------------------------------
@q(
    "q_market_share",
    f"""
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
           round(CAST(SUM(CASE WHEN sn.n_name = 'NATION_3' THEN {_REV_C}
                               ELSE 0 END) AS BIGINT)
                 / CAST(SUM({_REV_C}) AS BIGINT), 6) AS mkt_share
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN region r ON cn.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    WHERE r.r_name = 'ASIA'
    GROUP BY 1
    """,
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")

    asia_cust = (
        c.join(
            F.broadcast(
                n.join(
                    F.broadcast(r), n.n_regionkey == r.r_regionkey
                ).select("n_nationkey")
            ),
            c.c_nationkey == F.col("n_nationkey"),
        ).select("c_custkey")
    )
    supp_nation = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    rev_c = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    # Prune the orders side to the region's customers BEFORE the
    # orderkey fact-fact join: the broadcast semi-shape shrinks the
    # build side to the region fraction, and AQE's runtime stats see
    # the reduced size when planning the big join.
    o_asia = o.join(F.broadcast(asia_cust), o.o_custkey == F.col("c_custkey"))
    return (
        li.join(o_asia, li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(supp_nation), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("order_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", rev_c).otherwise(0)
                ).cast("bigint")
                / F.sum(rev_c).cast("bigint"),
                6,
            ).alias("mkt_share")
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q9 analog — product-line profit by supply nation and order
# year.  No partsupp cost column exists, so cost is modeled as
# 0.5·retailprice·quantity; profit = revenue − cost, BOTH terms int
# cents per row so the grouped sum is exact.  The part filter (name
# contains a token) prunes the broadcast dimension first.
# Scale: one orderkey fact shuffle + one |nations|×|years| group agg.
# --------------------------------------------------------------------------
@q(
    "q_product_profit",
    f"""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
           CAST(SUM({_REV_C}
                    - CAST(round(0.5 * p.p_retailprice * l.l_quantity * 100, 0)
                           AS BIGINT)) AS BIGINT) / 100.0 AS profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY 1, 2
    """,
)
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey", "p_retailprice")
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit_c = cents(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ) - cents(F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("order_year"),
        )
        .agg((F.sum(profit_c).cast("bigint") / 100.0).alias("profit"))
    )


# --------------------------------------------------------------------------
# TPC-H Q11 analog — parts holding an outsized share of one nation's
# supplied value (group HAVING against a GLOBAL total).  The total is
# a 1-row broadcast (the scalar-subquery shape, BroadcastNestedLoop
# O(n·1) — the registry guard's named exemption) and the share gate
# is the exact integer identity value_c · 1000 > total_c: no float
# enters the filter at all.
# Scale: per-part partial agg on the fact scan; the HAVING prunes to
# a handful of rows before anything is collected.
# --------------------------------------------------------------------------
@q(
    "q_top_value_parts",
    """
    WITH val AS (
        SELECT l.l_partkey,
               SUM(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS value_c
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name IN ('NATION_1', 'NATION_2')
        GROUP BY 1
    ), tot AS (
        SELECT SUM(value_c) AS total_c FROM val
    )
    SELECT v.l_partkey AS p_partkey, CAST(v.value_c AS BIGINT) / 100.0 AS value
    FROM val v, tot t
    WHERE v.value_c * 1000 > t.total_c
    """,
)
def q_top_value_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    supp = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")
    val = (
        li.join(F.broadcast(supp), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(cents(F.col("l_extendedprice"))).alias("value_c"))
    )
    tot = val.agg(F.sum("value_c").alias("total_c"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("value_c") * 1000 > F.col("total_c"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("value_c").cast("bigint") / 100.0).alias("value"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q13 analog — distribution of orders-per-customer, counting
# customers with zero orders (LEFT join with an ON-clause filter, the
# outer-join-then-histogram shape).  The priority filter lives in the
# join condition, NOT a WHERE — pushing it to WHERE would silently
# drop the zero-order customers, the classic outer-join pitfall.
# Scale: custkey shuffle for the outer join, then a ≤|max orders|
# histogram agg — second shuffle moves one row per distinct count.
# --------------------------------------------------------------------------
@q(
    "q_cust_order_dist",
    """
    WITH c_orders AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY 1
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(COUNT(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY 1
    """,
)
def q_cust_order_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy(F.col("c_count").cast("bigint").alias("c_count")).agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


# --------------------------------------------------------------------------
# TPC-H Q16 analog — supplier diversity per part class, excluding a
# flagged supplier set (NOT IN → broadcast anti join).  The fact scan
# collapses to DISTINCT (partkey, suppkey) pairs FIRST — at 100 TB
# that dedup is the whole game: the count-distinct then runs on a
# pair table ~1000× smaller than lineitem.
# --------------------------------------------------------------------------
@q(
    "q_supplier_audit",
    """
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
           CAST(COUNT(DISTINCT pairs.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
    JOIN part p ON pairs.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND pairs.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY 1, 2, 3
    """,
)
def q_supplier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    )
    p = (
        table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        pairs.join(F.broadcast(bad), pairs.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), pairs.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", F.col("p_size").cast("bigint").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# TPC-H Q17 analog — revenue that would be lost by refusing
# small-quantity orders of one brand: lines below 20% of their part's
# average quantity (correlated scalar AVG, decorrelated into a
# per-part agg joined back).  The per-part threshold table is
# part-sized → broadcast back onto the fact scan; avg is the exact
# ratio sum_int/cnt with ONE division sequence both engines share.
# --------------------------------------------------------------------------
@q(
    "q_small_qty_revenue",
    """
    WITH avg_qty AS (
        SELECT l_partkey,
               SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS sum_qc,
               COUNT(*) AS cnt
        FROM lineitem GROUP BY 1
    )
    SELECT CAST(SUM(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
             / 100.0 / 7.0 AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN avg_qty a ON l.l_partkey = a.l_partkey
    WHERE p.p_brand = 'Brand#12'
      AND l.l_quantity < a.sum_qc / cnt / 500.0
    """,
)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#12")
        .select("p_partkey")
    )
    # Restrict the fact scan to the brand's parts BEFORE the per-part
    # average: the threshold is per partkey, so a broadcast semi join
    # on the filtered part dimension keeps exactly the rows that
    # matter and the agg runs over 1/|brands| of lineitem — at 100 TB
    # this is the difference between a full-fact and a brand-sized
    # shuffle.  (Identical result: the final join restricts to these
    # parts anyway.)
    li_b = li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
    avg_qty = li_b.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.sum(cents(F.col("l_quantity"))).alias("sum_qc"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        li_b.join(F.broadcast(avg_qty), li_b.l_partkey == F.col("a_partkey"))
        .filter(
            F.col("l_quantity")
            < F.col("sum_qc") / F.col("cnt") / F.lit(500.0)
        )
        .agg(
            (
                F.sum(cents(F.col("l_extendedprice"))).cast("bigint") / 100.0 / 7.0
            ).alias("avg_yearly"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q19 analog — OR-of-ANDs predicate over a broadcast dimension
# join.  Catalyst extracts the common l_partkey=p_partkey conjunct as
# the join key and leaves the disjunction as a post-join filter; the
# shared `l_quantity <= 30` bound is inferred pushable to the scan.
# The canonical "complex predicate still prunes" showcase.
# --------------------------------------------------------------------------
@q(
    "q_or_pushdown",
    f"""
    SELECT CAST(SUM({_REV_C}) AS BIGINT) / 100.0 AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#14' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q_or_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    pred = (
        ((brand == "Brand#12") & size.between(1, 5) & qty.between(1, 11))
        | ((brand == "Brand#13") & size.between(1, 10) & qty.between(10, 20))
        | ((brand == "Brand#14") & size.between(1, 15) & qty.between(20, 30))
    )
    rev_c = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(pred)
        .agg(
            (F.sum(rev_c).cast("bigint") / 100.0).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q21 analog — suppliers who were the SOLE late shipper in
# multi-supplier finished orders.  The EXISTS / NOT-EXISTS pair
# decorrelates into per-order supplier counts: one (order, supplier)
# rollup with a lateness flag, then a per-order window counting
# suppliers and late suppliers — no second fact scan, no self-join.
# Late := shipped ≥ 90 days after order date.
# Scale: ONE orderkey shuffle shared by the join, the rollup and the
# window (same key); top-10 via TakeOrderedAndProject.
# --------------------------------------------------------------------------
@q(
    "q_late_supplier",
    """
    WITH per_supp AS (
        SELECT l.l_orderkey, l.l_suppkey,
               MAX(CASE WHEN l.l_shipdate >= o.o_orderdate + INTERVAL 90 DAY
                        THEN 1 ELSE 0 END) AS is_late
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY 1, 2
    ), flagged AS (
        SELECT l_suppkey, is_late,
               COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
               SUM(is_late) OVER (PARTITION BY l_orderkey) AS n_late
        FROM per_supp
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM flagged f JOIN supplier s ON f.l_suppkey = s.s_suppkey
    WHERE f.is_late = 1 AND f.n_supp > 1 AND f.n_late = 1
    GROUP BY 1
    ORDER BY numwait DESC, s.s_name ASC
    LIMIT 10
    """,
)
def q_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    late = F.when(
        F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"), 1
    ).otherwise(0)
    per_supp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("is_late"))
    )
    wo = W.partitionBy("l_orderkey")
    flagged = per_supp.select(
        "l_suppkey",
        "is_late",
        F.count(F.lit(1)).over(wo).alias("n_supp"),
        F.sum("is_late").over(wo).alias("n_late"),
    )
    return (
        flagged.filter(
            (F.col("is_late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1)
        )
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(10)
    )


# --------------------------------------------------------------------------
# TPC-H Q22 analog — wealthy LAPSED customers (no order since the
# recency cutoff), bucketed by nation-derived country code: a global
# scalar threshold (1-row broadcast) + a left-anti join against the
# RECENT slice of the orders fact.  (The classic never-ordered form
# is structurally empty on this dataset — every customer has at least
# one order — so the anti-join evidence would be vacuous; the recency
# cutoff keeps the identical plan shape with a real survivor set,
# and the cutoff predicate prunes the anti join's build side at the
# scan.)  Acctbal sums ride int cents.
# --------------------------------------------------------------------------
@q(
    "q_idle_customers",
    """
    WITH thresh AS (
        SELECT CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
                 / CAST(COUNT(*) AS BIGINT) AS avg_c
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT CAST(c.c_nationkey % 10 AS BIGINT) AS cntrycode,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(round(c.c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) / 100.0
             AS totacctbal
    FROM customer c, thresh t
    WHERE CAST(round(c.c_acctbal * 100, 0) AS BIGINT) > t.avg_c
      AND NOT EXISTS (
          SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY 1
    """,
)
def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    thresh = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(cents(F.col("c_acctbal"))).cast("bigint")
                / F.count(F.lit(1)).cast("bigint")
            ).alias("avg_c")
        )
    )
    return (
        c.crossJoin(F.broadcast(thresh))
        .filter(cents(F.col("c_acctbal")) > F.col("avg_c"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy((F.col("c_nationkey") % 10).cast("bigint").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            (F.sum(cents(F.col("c_acctbal"))).cast("bigint") / 100.0).alias(
                "totacctbal"
            ),
        )
    )

"""Advanced SQL-surface queries — the analyzer/optimizer features a
user switching from any mature engine expects to keep: null-safe
equality joins, correlated scalar subqueries (Catalyst decorrelation),
the VARIANT semi-structured type (Spark 4), and recursive CTEs
(Spark 4.1).  Engine extensions under SURVEY §2.7b — the reference
(pure pandas, main_cuda.py) has none of these surfaces, but every
analytics engine replacing it must.

Scale notes per query inline; none of these shapes is exotic at
100 TB — the decorrelated subquery compiles to the same partial-agg +
join as a hand-written plan, the null-safe join hashes <=> keys like
any equi key (NULL becomes an ordinary bucket), VARIANT access is a
scan-side kernel, and the recursive CTE iterates dimension-sized
frontiers (never the fact table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import table
from .registry import registrar

QUERIES: dict = {}
ORACLES: dict = {}
q = registrar(QUERIES, ORACLES)


# --------------------------------------------------------------------------
# Null-safe equality join (<=>): NULL keys match NULL keys — the
# reconciliation-join semantics plain equi joins silently drop.  The
# key is a derived bucket with a genuine NULL group (nullif), both
# sides aggregate first so the join is dimension×dimension.  <=> is
# hashable: NULL is just one more bucket in the exchange, so the plan
# is the ordinary shuffled hash/sort-merge join, not a nested loop.
# --------------------------------------------------------------------------
@q(
    "q_join_nullsafe",
    """
    WITH a AS (
        SELECT nullif(epoch_us(ts) // 86400000000 % 7, 3) AS day_bucket,
               COUNT(*) AS n_click
        FROM events WHERE event_type = 'click'
        GROUP BY 1
    ), b AS (
        SELECT nullif(epoch_us(ts) // 86400000000 % 7, 3) AS day_bucket,
               COUNT(*) AS n_purchase
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    )
    SELECT a.day_bucket, a.n_click, b.n_purchase
    FROM a JOIN b ON a.day_bucket IS NOT DISTINCT FROM b.day_bucket
    """,
)
def q_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    key = F.nullif(F.expr("(ts div 86400000000) % 7"), F.lit(3)).alias("day_bucket")
    a = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("n_click"))
    )
    b = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("n_purchase"))
    )
    return a.alias("a").join(
        b.alias("b"),
        F.col("a.day_bucket").eqNullSafe(F.col("b.day_bucket")),
    ).select("a.day_bucket", "a.n_click", "b.n_purchase")


# --------------------------------------------------------------------------
# Correlated scalar subquery — each lineitem compared against the MAX
# quantity of its own part.  Catalyst decorrelates this into a
# per-part aggregate + equi join (the plan a user would hand-write),
# so the correlated form costs one partial-agg pass + one shuffle —
# never a per-row re-scan.  MAX is exact, and equality on identical
# doubles is bitwise, so the filter is engine-portable.
# --------------------------------------------------------------------------
@q(
    "q_correlated_subquery",
    """
    SELECT l1.l_orderkey, l1.l_linenumber, l1.l_partkey, l1.l_quantity
    FROM lineitem l1
    WHERE l1.l_quantity = (
        SELECT MAX(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l1.l_partkey
    )
    """,
)
def q_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem_corr")
    return spark.sql(
        """
        SELECT l1.l_orderkey, l1.l_linenumber, l1.l_partkey, l1.l_quantity
        FROM v_lineitem_corr l1
        WHERE l1.l_quantity = (
            SELECT MAX(l2.l_quantity) FROM v_lineitem_corr l2
            WHERE l2.l_partkey = l1.l_partkey
        )
        """
    )


# --------------------------------------------------------------------------
# VARIANT semi-structured access (Spark 4): parse the JSON props
# column ONCE into the binary VARIANT encoding, then typed-path
# extraction — the open-schema ingestion pattern (shred at query
# time, not at load time).  Scan-side kernel, zero shuffles until the
# final per-key rollup.  A missing path yields NULL (try semantics),
# exactly like the oracle's JSON extraction.
# --------------------------------------------------------------------------
@q(
    "q_variant",
    """
    WITH x AS (
        SELECT event_id,
               CAST(json_extract(props, '$.k') AS BIGINT) AS k,
               CAST(json_extract(props, '$.missing') AS BIGINT) AS missing_path
        FROM events
    )
    SELECT k // 10 AS k_decade,
           COUNT(*) AS n_events,
           CAST(SUM(k) AS BIGINT) AS k_sum,
           COUNT(missing_path) AS n_missing_hits
    FROM x GROUP BY k // 10
    """,
)
def q_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    x = ev.select(
        "event_id",
        F.expr("variant_get(parse_json(props), '$.k', 'bigint')").alias("k"),
        F.expr("try_variant_get(parse_json(props), '$.missing', 'bigint')").alias(
            "missing_path"
        ),
    )
    return (
        x.groupBy(F.expr("k div 10").alias("k_decade"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("k_sum"),
            F.count("missing_path").alias("n_missing_hits"),
        )
    )


# --------------------------------------------------------------------------
# Recursive CTE (Spark 4.1 WITH RECURSIVE): walk the implicit decimal
# hierarchy over part keys (part → part div 10 → ... → 0) and emit
# every (part, ancestor, depth) pair — the BOM/org-chart traversal
# shape.  The frontier is dimension-sized and shrinks... actually
# stays |part| per level for ~6 levels (log10 of the key space), so
# the recursion is 6 chained dimension scans — the fact table is
# never inside the loop.
# --------------------------------------------------------------------------
@q(
    "q_recursive_cte",
    """
    WITH RECURSIVE anc(part, ancestor, depth) AS (
        SELECT p_partkey, p_partkey // 10, 1
        FROM part WHERE p_size >= 40
        UNION ALL
        SELECT part, ancestor // 10, depth + 1
        FROM anc WHERE ancestor > 0
    )
    SELECT part, ancestor, depth FROM anc
    """,
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "part").createOrReplaceTempView("v_part_rec")
    return spark.sql(
        """
        WITH RECURSIVE anc(part, ancestor, depth) AS (
            SELECT p_partkey, p_partkey div 10, 1
            FROM v_part_rec WHERE p_size >= 40
            UNION ALL
            SELECT part, ancestor div 10, depth + 1
            FROM anc WHERE ancestor > 0
        )
        SELECT part, ancestor, depth FROM anc
        """
    )


# --------------------------------------------------------------------------
# Observation metrics (df.observe) — pipeline instrumentation: named
# aggregates computed AS A SIDE EFFECT of a pass the job was running
# anyway (here a noop sink), collected driver-side without a second
# scan.  The monitoring primitive for 100 TB ETL: row counts and
# checksums ride every write for free.  The 1-row result re-enters
# the engine as a DataFrame so the driver contract (and the oracle)
# can check the observed values exactly.
# --------------------------------------------------------------------------
@q(
    "q_observe",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_urgent,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    """,
)
def q_observe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    o = table(spark, sf_dir, "orders")
    obs = Observation("orders_metrics")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0))
        .cast("bigint")
        .alias("n_urgent"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    )
    # the pass the metrics ride on (a real pipeline's actual sink)
    observed.write.mode("overwrite").format("noop").save()
    row = obs.get
    return spark.createDataFrame(
        [(row["n_rows"], row["n_urgent"], row["total_cents"])],
        "n_rows bigint, n_urgent bigint, total_cents bigint",
    )


# --------------------------------------------------------------------------
# Parameterized SQL (Spark 4 named-parameter markers) — the SQL-text
# API with bind variables instead of string interpolation: the same
# Catalyst plan as q_big_spenders' DataFrame form, with the threshold
# delivered as a typed parameter (plan caching + injection safety,
# the production SQL-service shape).
# --------------------------------------------------------------------------
@q(
    "q_sql_param",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) / 100.0
             AS revenue
    FROM orders
    WHERE o_totalprice > 150000.0 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def q_sql_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
                 / 100.0D AS revenue
        FROM orders_v
        WHERE o_totalprice > :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"min_price": 150000.0, "status": "F"},
    )


# --------------------------------------------------------------------------
# SQL scalar UDF (Spark 4 CREATE FUNCTION ... RETURN) — the
# declarative UDF face: the function body is a SQL expression, so
# Catalyst INLINES it into the calling plan (whole-stage codegen, no
# Python boundary, no serialization) — the UDF surface with zero
# UDF cost.  The oracle spells the body inline, which is exactly
# what the optimizer sees.
# --------------------------------------------------------------------------
@q(
    "q_sql_udf",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                               * 100, 0) AS BIGINT)) AS BIGINT) / 100.0
             AS total_charge,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_v")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION charge_cents(
            price DOUBLE, disc DOUBLE, tax DOUBLE)
        RETURNS BIGINT
        RETURN CAST(round(price * (1 - disc) * (1 + tax) * 100, 0) AS BIGINT)
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(SUM(charge_cents(l_extendedprice, l_discount, l_tax))
                    AS BIGINT) / 100.0D AS total_charge,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem_v GROUP BY l_returnflag
        """
    )


# --------------------------------------------------------------------------
# SQL pipe syntax (Spark 4.0 `|>`): the linear query-authoring
# surface (FROM ... |> WHERE ... |> AGGREGATE ... |> ORDER BY) that
# compiles to exactly the same logical plan as the nested ANSI form —
# the oracle IS that ANSI form, so the value hash proves the
# equivalence.  Feature-surface query: a migrating user keeps their
# pipe-syntax SQL verbatim.
# --------------------------------------------------------------------------
@q(
    "q_sql_pipe",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
             / 100.0 AS revenue
    FROM lineitem
    WHERE l_quantity < 30
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_li_pipe")
    return spark.sql(
        """
        FROM v_li_pipe
        |> WHERE l_quantity < 30
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_rows,
                     CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                          AS BIGINT) / CAST(100 AS DOUBLE) AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n_rows, revenue
        """
    )


# --------------------------------------------------------------------------
# LATERAL correlated subquery join — "for each region, its top-2
# nations by customer count": the inner subquery references the
# outer row (decorrelated by Catalyst into a ranked join, the same
# physical shape as q_topk_per_group's window).  The surface matters:
# LATERAL is how users express per-row dependent scans without
# rewriting to window functions.
# --------------------------------------------------------------------------
@q(
    "q_lateral_topk",
    """
    SELECT r.r_name, t.n_name, t.n_customers
    FROM region r, LATERAL (
        SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        WHERE n.n_regionkey = r.r_regionkey
        GROUP BY n.n_name
        ORDER BY n_customers DESC, n.n_name ASC
        LIMIT 2
    ) t
    """,
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("region", "nation", "customer"):
        table(spark, sf_dir, t).createOrReplaceTempView(f"v_{t}_lat")
    return spark.sql(
        """
        SELECT r.r_name, t.n_name, t.n_customers
        FROM v_region_lat r, LATERAL (
            SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
            FROM v_nation_lat n JOIN v_customer_lat c
              ON c.c_nationkey = n.n_nationkey
            WHERE n.n_regionkey = r.r_regionkey
            GROUP BY n.n_name
            ORDER BY n_customers DESC, n.n_name ASC
            LIMIT 2
        ) t
        """
    )

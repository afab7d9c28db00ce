"""Geospatial operators — haversine track lengths and a grid-blocked
radius join.  Engine extensions (SURVEY §2.7b): the reference's
trajectory geometry is flat-field yards (main_cuda.py:157-204); a
100 TB event pipeline meets real lat/lon (geo dedup, region rollups,
proximity joins), and the spatial-join pattern — coarse grid cells as
the equi-join blocking key, exact distance as the refine — is the
same blocking discipline as the text/vector near-dup suite applied to
coordinates.

The synthetic star schema carries no coordinates, so both queries
derive deterministic lat/lon from integer keys IN the query (pure
integer arithmetic cast to double — bitwise identical on both
engines); swapping in real columns changes nothing about the plans.

Determinism: haversine is libm-heavy (sin/cos/asin/sqrt) → rounded to
6 decimals before any comparison or aggregation, per the house rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..sources.io import table
from .registry import registrar

QUERIES: dict = {}
ORACLES: dict = {}
q = registrar(QUERIES, ORACLES)


# Deterministic synthetic coordinates: a per-user home cell plus a
# per-event jitter, all from exact integer arithmetic.  The 10°x10°
# region keeps the synthetic population dense enough that the radius
# join has real matches at every SF (1° ≈ 111 km ≈ the join radius).
_LAT_SQL = "(CAST((user_id * 37) % 100 AS DOUBLE) / 10.0 - 5.0 + CAST(event_id % 97 AS DOUBLE) / 1000.0)"
_LON_SQL = "(CAST((user_id * 91) % 100 AS DOUBLE) / 10.0 - 5.0 + CAST(event_id % 89 AS DOUBLE) / 1000.0)"

# Haversine km between (la1,lo1) and (la2,lo2), all in degrees.
def _hav(la1: str, lo1: str, la2: str, lo2: str) -> str:
    return (
        f"2.0 * 6371.0 * asin(sqrt("
        f"sin(radians(({la2}) - ({la1})) / 2) * sin(radians(({la2}) - ({la1})) / 2)"
        f" + cos(radians({la1})) * cos(radians({la2}))"
        f" * sin(radians(({lo2}) - ({lo1})) / 2) * sin(radians(({lo2}) - ({lo1})) / 2)"
        f"))"
    )


# --------------------------------------------------------------------------
# Track length per user — haversine distance between consecutive
# events, summed per user: the geo twin of the trajectory suite's
# displacement features (q_diff).  One user-keyed window exchange
# (shared with the whole §2.5 suite), per-segment distance rounded to
# integer meters BEFORE the sum so the aggregate is order-free.
# --------------------------------------------------------------------------
@q(
    "q_geo_track",
    f"""
    WITH pts AS (
        SELECT user_id, event_id, {_LAT_SQL} AS lat, {_LON_SQL} AS lon,
               epoch_us(ts) AS ts_us
        FROM events
    ), segs AS (
        SELECT user_id, lat, lon,
               LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon
        FROM pts
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CAST(round({_hav('plat', 'plon', 'lat', 'lon')} * 1000, 0)
                         AS BIGINT)) AS BIGINT) / 1000.0 AS track_km
    FROM segs WHERE plat IS NOT NULL
    GROUP BY user_id
    """,
)
def q_geo_track(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.expr(_LAT_SQL).alias("lat"),
        F.expr(_LON_SQL).alias("lon"),
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    segs = pts.select(
        "user_id",
        "lat",
        "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    ).filter(F.col("plat").isNotNull())
    seg_m = F.round(
        F.expr(_hav("plat", "plon", "lat", "lon")) * 1000, 0
    ).cast("bigint")
    return segs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        (F.sum(seg_m).cast("bigint") / 1000.0).alias("track_km"),
    )


# --------------------------------------------------------------------------
# Grid-blocked radius join — all (even-user, odd-user) home-location
# pairs within 100 km.  The scale pattern: 1°-grid cells are the
# equi-join blocking key; the probe side fans out to its 3×3 cell
# neighborhood (two scan-side Generates, 9× a dimension-sized set) so
# every qualifying pair shares a candidate cell; the exact haversine
# refine runs only inside candidate cells.  Never an all-pairs join —
# the same candidate-generation discipline as the MinHash/LSH dedup.
# Home location = each user's smallest event_id row (deterministic).
# --------------------------------------------------------------------------
@q(
    "q_geo_join",
    f"""
    WITH home AS (
        SELECT user_id, {_LAT_SQL} AS lat, {_LON_SQL} AS lon
        FROM (
            SELECT user_id, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
            FROM events
        ) WHERE rn = 1
    ), a AS (
        SELECT user_id AS ua, lat AS la, lon AS loa,
               CAST(floor(lat) AS BIGINT) + da.d AS cla,
               CAST(floor(lon) AS BIGINT) + dlon.d AS clo
        FROM home
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) da
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dlon
        WHERE user_id % 2 = 0
    ), b AS (
        SELECT user_id AS ub, lat AS lb, lon AS lob,
               CAST(floor(lat) AS BIGINT) AS cla, CAST(floor(lon) AS BIGINT) AS clo
        FROM home WHERE user_id % 2 = 1
    )
    SELECT ua, ub, round({_hav('la', 'loa', 'lb', 'lob')}, 6) AS dist_km
    FROM a JOIN b ON a.cla = b.cla AND a.clo = b.clo
    WHERE round({_hav('la', 'loa', 'lb', 'lob')}, 6) <= 100.0
    """,
)
def q_geo_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wr = W.partitionBy("user_id").orderBy("event_id")
    home = (
        ev.select(
            "user_id",
            "event_id",
            F.expr(_LAT_SQL).alias("lat"),
            F.expr(_LON_SQL).alias("lon"),
        )
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .drop("rn", "event_id")
    )
    a = (
        home.filter(F.col("user_id") % 2 == 0)
        .select(
            F.col("user_id").alias("ua"),
            F.col("lat").alias("la"),
            F.col("lon").alias("loa"),
            F.explode(F.expr("array(-1L, 0L, 1L)")).alias("da"),
            F.col("lat"),
            F.col("lon"),
        )
        .select(
            "ua",
            "la",
            "loa",
            (F.floor("lat").cast("bigint") + F.col("da")).alias("cla"),
            F.explode(F.expr("array(-1L, 0L, 1L)")).alias("do_"),
            F.col("lon"),
        )
        .select(
            "ua",
            "la",
            "loa",
            "cla",
            (F.floor("lon").cast("bigint") + F.col("do_")).alias("clo"),
        )
    )
    b = home.filter(F.col("user_id") % 2 == 1).select(
        F.col("user_id").alias("ub"),
        F.col("lat").alias("lb"),
        F.col("lon").alias("lob"),
        F.floor("lat").cast("bigint").alias("cla"),
        F.floor("lon").cast("bigint").alias("clo"),
    )
    dist = F.round(F.expr(_hav("la", "loa", "lb", "lob")), 6)
    return (
        a.join(b, ["cla", "clo"])
        .select("ua", "ub", dist.alias("dist_km"))
        .filter(F.col("dist_km") <= 100.0)
    )


# --------------------------------------------------------------------------
# Z-order (Morton) cells — quantize lat/lon to 8 bits each over the
# synthetic 12°×12° region and interleave the bits into one integer
# cell key.  This is BOTH the spatial index primitive (range queries
# touch O(√cells) Morton runs) and the lakehouse layout key (OPTIMIZE
# ZORDER BY clusters multi-column locality into one sort key so file
# skipping works on both dimensions at 100 TB).  Pure scan-side
# integer arithmetic — the bit interleave folds in one projection —
# then a single cell-keyed aggregate.
# --------------------------------------------------------------------------
_ZQ_LAT = f"CAST(floor(({_LAT_SQL} + 6.0) / 12.0 * 256.0) AS BIGINT)"
_ZQ_LON = f"CAST(floor(({_LON_SQL} + 6.0) / 12.0 * 256.0) AS BIGINT)"

# bit interleave: morton = Σ_b ((latq>>b)&1)<<(2b+1) | ((lonq>>b)&1)<<(2b)
_Z_SPARK = (
    "aggregate(transform(sequence(0, 7), b -> "
    "shiftleft(shiftright(latq, b) & 1, 2 * b + 1)"
    " + shiftleft(shiftright(lonq, b) & 1, 2 * b)), "
    "cast(0 as bigint), (a, v) -> a + v)"
)
_Z_DUCK = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(0, 8), b -> "
    "(((latq >> b) & 1) << (2 * b + 1)) + (((lonq >> b) & 1) << (2 * b)))), "
    "(a, v) -> a + v)"
)


@q(
    "q_zorder_cells",
    f"""
    WITH pts AS (
        SELECT user_id, {_ZQ_LAT} AS latq, {_ZQ_LON} AS lonq FROM events
    ), cells AS (
        SELECT user_id, latq, lonq, {_Z_DUCK} AS zcell FROM pts
    )
    SELECT zcell,
           CAST(MIN(latq) AS BIGINT) AS cell_lat,
           CAST(MIN(lonq) AS BIGINT) AS cell_lon,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM cells GROUP BY zcell
    """,
)
def q_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        F.expr(_ZQ_LAT).alias("latq"),
        F.expr(_ZQ_LON).alias("lonq"),
    )
    cells = pts.select("user_id", "latq", "lonq", F.expr(_Z_SPARK).alias("zcell"))
    return cells.groupBy("zcell").agg(
        F.min("latq").cast("bigint").alias("cell_lat"),
        F.min("lonq").cast("bigint").alias("cell_lon"),
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )

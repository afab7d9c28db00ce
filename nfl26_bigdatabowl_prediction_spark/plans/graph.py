"""Graph analytics over a derived co-occurrence graph — triangle
counting and fixed-iteration PageRank.  Engine extensions (SURVEY
§2.7b): the reference's GNN-lite simulates a graph relationally
(main_cuda.py:313-398); these queries complete that surface with the
two classic whole-graph kernels, expressed as pure DataFrame plans.

Graph definition (deterministic, derived from the star schema): an
undirected edge links two parts that appear in the SAME order —
market-basket co-occurrence.  Edges are built by the bounded
per-group pairwise join (orders have ≤7 lines, so the fan-out per
group is ≤21 — the q_pairwise shape, never O(n²) on the table).

Scale design:
- Edges are canonically ordered (src < dst) — the degeneracy-ordering
  trick that makes triangle enumeration O(Σ deg²) on the *ordered*
  graph instead of 6× the work on the symmetric closure.
- PageRank runs a FIXED number of power iterations as a lazy chained
  plan (3 joins + 3 aggs — no driver loop state), with all arithmetic
  in int64 micro-units and floor division, so partial-sum order
  cannot perturb the result: bitwise-portable across engines and
  partitionings by construction.  (Float PageRank is never
  hash-stable; the integer formulation is the distributed-determinism
  house rule applied to an iterative kernel.)
- The rank table is node-sized (part dimension) and broadcasts onto
  the edge scan each iteration; the only shuffles are the per-node
  contribution aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.portable import knuth_fold_expr, knuth_fold_sql
from ..sources.io import table
from .registry import registrar

QUERIES: dict = {}
ORACLES: dict = {}
q = registrar(QUERIES, ORACLES)


# Bulk-quantity lines only (l_quantity >= 45, pushed to the scan):
# the raw co-occurrence graph is near-complete at scale (avg degree
# ~90 at sf0.1 — 98 s of wedge joins); thresholding keeps the graph
# sparse the way a real co-purchase graph is pruned by support, and
# the part skew still yields a rich triangle structure.
_EDGE_SQL = """
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey < b.l_partkey
          AND a.l_quantity >= 45 AND b.l_quantity >= 45
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )


# The graph building blocks, each once in Spark and once in oracle SQL:
# the symmetric adjacency, the degree table, the ordered-wedge triangle
# enumeration and the label-propagation rounds.
def _adj_sql(adj: str = "adj", e: str = "e") -> str:
    return (
        f"{adj} AS (SELECT src AS part, dst AS nbr FROM {e}\n"
        f"{' ' * (len(adj) + 9)}UNION ALL SELECT dst, src FROM {e})"
    )


_DEG_SQL = "deg AS (SELECT part, COUNT(*) AS deg FROM adj GROUP BY part)"
_TRI_SQL = """tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM e e1
        JOIN e e2 ON e1.dst = e2.src
        JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    )"""


def _adjacency(e: DataFrame) -> DataFrame:
    """(part, nbr): every undirected edge in both directions."""
    return e.select(F.col("src").alias("part"), F.col("dst").alias("nbr")).unionAll(
        e.select(F.col("dst").alias("part"), F.col("src").alias("nbr"))
    )


def _degrees(adj: DataFrame) -> DataFrame:
    """(part, deg) over a symmetric adjacency."""
    return adj.groupBy("part").agg(F.count(F.lit(1)).alias("deg"))


def _triangles(e: DataFrame):
    """Every triangle a<b<c of the materialized ordered edge list ``e``
    once, as (a, b, c): the wedge join e1.dst = e2.src keeps a<b<c
    wedges only, then a closing-edge check.  The support-pruned edge
    list is usually broadcast-sized (17.5 K rows at sf0.1), so both
    join arms broadcast and the enumeration is map-side; past the gate
    (edge lists that genuinely exceed executor memory) it falls back
    to shuffled hash joins, the two-strategy pattern of
    operators/components.py.  Returns (triangles, the gate's broadcast
    function) so a caller joining another edge-sized table follows the
    same gate."""
    b = F.broadcast if e.count() <= 5_000_000 else (lambda d: d)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(b(e2), F.col("e1.dst") == F.col("e2.src"))
        .join(
            b(e3),
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    return tri, b


# Label propagation (community detection): synchronized rounds of the
# classic LPA update (Raghavan et al. 2007): every node adopts the most
# frequent label among its neighbors, ties broken by the smallest label
# (the deterministic variant; vanilla LPA's random tie-break can't be
# oracle-checked).  Each round is one join of the adjacency against the
# node-sized label table (broadcast), one (part, label) aggregation and
# one per-node arg-max window; localCheckpoint truncates the per-round
# lineage.
def _lp_rounds_sql(rounds: int) -> str:
    """The oracle's edge, adjacency and lab0..lab{rounds} CTEs."""
    head = f"""
    WITH e AS ({_EDGE_SQL}),
    {_adj_sql()},
    lab0 AS (SELECT DISTINCT part, part AS label FROM adj)
    """
    body = ""
    for i in range(1, rounds + 1):
        body += f""",
    cnt{i} AS (
        SELECT adj.part, l.label, COUNT(*) AS cnt
        FROM adj JOIN lab{i - 1} l ON l.part = adj.nbr
        GROUP BY adj.part, l.label
    ),
    lab{i} AS (
        SELECT part, label FROM (
            SELECT part, label,
                   ROW_NUMBER() OVER (PARTITION BY part
                                      ORDER BY cnt DESC, label ASC) AS rn
            FROM cnt{i}
        ) WHERE rn = 1
    )"""
    return head + body


def _label_rounds(adj: DataFrame, rounds: int) -> DataFrame:
    """(part, label) after ``rounds`` LPA rounds over a materialized
    adjacency."""
    from pyspark.sql.window import Window as W

    lab = adj.select("part").distinct().select("part", F.col("part").alias("label"))
    rn = F.row_number().over(
        W.partitionBy("part").orderBy(F.col("cnt").desc(), F.col("label").asc())
    )
    for _ in range(rounds):
        nbr_lab = lab.select(F.col("part").alias("nbr"), "label")
        lab = (
            adj.join(F.broadcast(nbr_lab), "nbr")
            # one exchange per round: hash(part) serves both the
            # (part, label) count and the per-part window (a checkpoint
            # does not carry a partitioning into the next round)
            .repartition("part")
            .groupBy("part", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("rn", rn)
            .filter(F.col("rn") == 1)
            .select("part", "label")
            .localCheckpoint(eager=False)
        )
    return lab


# --------------------------------------------------------------------------
# Triangle count per node — the clustering-coefficient numerator.
# Enumeration on the ordered graph: wedge join (e1.dst = e2.src keeps
# a<b<c wedges only) then a closing-edge semi-check; each triangle is
# found exactly once and credits all three corners.
# --------------------------------------------------------------------------
@q(
    "q_triangle_count",
    f"""
    WITH e AS ({_EDGE_SQL}),
    {_TRI_SQL},
    corners AS (
        SELECT a AS part FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT part, COUNT(*) AS n_triangles
    FROM corners GROUP BY part
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the edge list feeds all three arms of the enumeration: the only
    # shuffle left is the corner count (measured min-of-3 at sf0.1 with
    # both arms broadcast: 3.7 s → 2.0 s)
    tri, _ = _triangles(_edges(spark, sf_dir).localCheckpoint(eager=False))
    corners = (
        tri.select(F.col("a").alias("part"))
        .unionAll(tri.select(F.col("b").alias("part")))
        .unionAll(tri.select(F.col("c").alias("part")))
    )
    return corners.groupBy("part").agg(F.count(F.lit(1)).alias("n_triangles"))


# --------------------------------------------------------------------------
# PageRank, 3 fixed power iterations, damping 0.85, integer micro-
# units with floor division (see module docstring).  Undirected graph
# => contributions flow both ways along each ordered edge.
# pr'[v] = floor(0.15e6 / N)·(N-scale) + Σ_u floor(floor(0.85·pr[u]) / deg[u]).
# --------------------------------------------------------------------------
def _pr_oracle() -> str:
    """Unrolled 3-iteration oracle; each iteration is the same CTE
    pair (contribution sum, rank refresh).  CAST(SUM ... AS BIGINT)
    everywhere — DuckDB widens integer SUM to HUGEINT."""
    head = f"""
    WITH e AS ({_EDGE_SQL}),
    {_adj_sql()},
    {_DEG_SQL},
    nodes AS (SELECT part FROM deg),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    pr0 AS (SELECT part, (SELECT 1000000 // n FROM nn) AS pr_u FROM nodes)
    """
    body = ""
    for i in range(1, 4):
        body += f""",
    contrib{i} AS (
        SELECT adj.part,
               CAST(SUM((p.pr_u * 850000 // 1000000) // d.deg) AS BIGINT) AS c
        FROM adj JOIN pr{i - 1} p ON p.part = adj.nbr
                 JOIN deg d ON d.part = adj.nbr
        GROUP BY adj.part
    ),
    pr{i} AS (
        SELECT n.part,
               (SELECT 150000 // n FROM nn) + COALESCE(c.c, 0) AS pr_u
        FROM nodes n LEFT JOIN contrib{i} c ON c.part = n.part
    )"""
    return head + body + "\n    SELECT part, pr_u AS pr_micro FROM pr3"


@q("q_pagerank", _pr_oracle())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Symmetric adjacency with the DESTINATION's own degree baked in
    # once before the loop (one join, materialized): each iteration is
    # then one broadcast of the node-sized rank table plus one per-node
    # aggregation (one shuffle of the adjacency's contributions) — no
    # in-loop joins.  Every node has degree ≥ 1, so the contribution
    # agg covers the full node set and no completion outer-join is
    # needed.
    adj = _adjacency(_edges(spark, sf_dir))
    deg = _degrees(adj)
    # each sharer divides by its OWN degree (carried on the rank
    # table); adj carries the receiving part's degree so the next
    # iteration's rank table stays self-contained.
    adj = adj.join(F.broadcast(deg), "part").localCheckpoint(eager=False)
    n = deg.count()  # node count: one tiny job, drives the teleport literal
    teleport = 150000 // n
    pr = deg.select("part", "deg", F.lit(1000000 // n).cast("long").alias("pr_u"))
    for _ in range(3):
        share = pr.select(
            F.col("part").alias("nbr"),
            F.expr("(pr_u * 850000 div 1000000) div deg").alias("share"),
        )
        pr = (
            adj.join(F.broadcast(share), "nbr")
            .groupBy("part", "deg")
            .agg(F.sum("share").alias("c"))
            .select(
                "part",
                "deg",
                (F.lit(teleport) + F.col("c")).cast("long").alias("pr_u"),
            )
        )
        # Rank table is node-sized; truncating lineage keeps iteration
        # k's broadcast from re-deriving iterations 1..k-1 (same rule
        # as operators/components.py's pointer-jumping loop).
        pr = pr.localCheckpoint(eager=False)
    return pr.select("part", F.col("pr_u").alias("pr_micro"))


# --------------------------------------------------------------------------
# Degree distribution — the first whole-graph diagnostic anyone runs
# (power-law check, skew audit before choosing a partitioning).  Two
# tiny hash aggs: per-node degree over the symmetric adjacency, then
# a ≤|max degree| histogram.  Both map-side combine.
# --------------------------------------------------------------------------
@q(
    "q_degree_dist",
    f"""
    WITH e AS ({_EDGE_SQL}),
    {_adj_sql()},
    {_DEG_SQL}
    SELECT CAST(deg AS BIGINT) AS degree, CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM deg GROUP BY 1
    """,
)
def q_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    deg = _degrees(_adjacency(_edges(spark, sf_dir)))
    return deg.groupBy(F.col("deg").cast("bigint").alias("degree")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts")
    )


# --------------------------------------------------------------------------
# Link-prediction scores — common-neighbor count and Jaccard
# similarity for every EXISTING edge (the self-audit variant: how
# cohesive is each observed link).  Common neighbors per edge fall
# out of the same ordered-wedge triangle enumeration as
# q_triangle_count — each triangle (a<b<c) credits its three edges
# (a,b) (a,c) (b,c) — so the quadratic neighbor-set intersection
# never materializes.  Jaccard = cn / (deg(a)+deg(b)−cn) is an
# exact-int ratio (neighbor sets include the endpoints' own link,
# hence no −2 correction).
# --------------------------------------------------------------------------
@q(
    "q_link_predict",
    f"""
    WITH e AS ({_EDGE_SQL}),
    {_adj_sql()},
    {_DEG_SQL},
    {_TRI_SQL},
    pair_cn AS (
        SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cn FROM (
            SELECT a AS src, b AS dst FROM tri
            UNION ALL SELECT a, c FROM tri
            UNION ALL SELECT b, c FROM tri
        ) GROUP BY 1, 2
    )
    SELECT e.src, e.dst,
           CAST(COALESCE(p.cn, 0) AS BIGINT) AS common_neighbors,
           round(1.0 * COALESCE(p.cn, 0)
                 / (ds.deg + dd.deg - COALESCE(p.cn, 0)), 6) AS jaccard
    FROM e
    LEFT JOIN pair_cn p ON p.src = e.src AND p.dst = e.dst
    JOIN deg ds ON ds.part = e.src
    JOIN deg dd ON dd.part = e.dst
    """,
)
def q_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edges(spark, sf_dir).localCheckpoint(eager=False)
    tri, b = _triangles(e)
    pair_cn = (
        tri.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(tri.select(F.col("a").alias("src"), F.col("c").alias("dst")))
        .unionAll(tri.select(F.col("b").alias("src"), F.col("c").alias("dst")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cn"))
    )
    deg = _degrees(_adjacency(e))
    cn = F.coalesce(F.col("cn"), F.lit(0))
    return (
        e.join(b(pair_cn), ["src", "dst"], "left")
        .join(
            F.broadcast(deg.select(F.col("part"), F.col("deg").alias("deg_src"))),
            F.col("src") == F.col("part"),
        )
        .drop("part")
        .join(
            F.broadcast(deg.select(F.col("part"), F.col("deg").alias("deg_dst"))),
            F.col("dst") == F.col("part"),
        )
        .select(
            "src",
            "dst",
            cn.cast("bigint").alias("common_neighbors"),
            F.round(
                F.lit(1.0) * cn / (F.col("deg_src") + F.col("deg_dst") - cn), 6
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# BFS levels — 3-hop frontier expansion from a deterministic seed
# (the smallest part key in the edge set): the traversal primitive
# behind "what can this node reach in k hops".  Complements
# q_dedup_components (global min-label convergence) with the
# SEED-ROOTED iteration: each round joins the frontier (broadcast —
# frontier ≤ reachable set, node-sized) against the adjacency, anti-
# joins the visited set, and localCheckpoints to truncate lineage —
# the same fixed-iteration discipline as q_pagerank.  The oracle is
# the recursive-CTE spelling (UNION dedupes per level, min(level)
# collapses revisits).
# --------------------------------------------------------------------------
@q(
    "q_bfs_levels",
    f"""
    WITH RECURSIVE e AS ({_EDGE_SQL}),
    {_adj_sql()},
    seed AS (SELECT MIN(part) AS s FROM adj),
    bfs AS (
        SELECT (SELECT s FROM seed) AS part, 0 AS lvl
        UNION
        SELECT adj.nbr, bfs.lvl + 1
        FROM bfs JOIN adj ON adj.part = bfs.part
        WHERE bfs.lvl < 3
    )
    SELECT part, CAST(MIN(lvl) AS BIGINT) AS level
    FROM bfs GROUP BY part
    """,
)
def q_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    adj = _adjacency(_edges(spark, sf_dir)).localCheckpoint(eager=False)
    seed = adj.agg(F.min("part")).first()[0]  # 1-row driver fetch, like q_pagerank's n
    visited = (
        adj.sparkSession.createDataFrame([(seed, 0)], "part bigint, level int")
    )
    frontier = visited
    for lvl in range(1, 4):
        frontier = (
            adj.join(
                F.broadcast(frontier.select(F.col("part").alias("f"))),
                F.col("part") == F.col("f"),
            )
            .select(F.col("nbr").alias("part"))
            .distinct()
            .join(visited.select("part"), "part", "left_anti")
            .withColumn("level", F.lit(lvl))
            .localCheckpoint(eager=False)
        )
        visited = visited.unionByName(frontier).localCheckpoint(eager=False)
    return visited.select("part", F.col("level").cast("bigint").alias("level"))


# --------------------------------------------------------------------------
# Association rules (market basket) — support / confidence / lift for
# part pairs that co-occur in orders: the rule-mining layer over the
# same bounded per-basket pairwise join as the co-occurrence graph
# (orders have ≤7 lines ⇒ ≤21 pairs per basket, never O(n²) on the
# table).  Both rule directions emit from each unordered pair.
# Ratios are exact-int divisions; the final top-20 by lift compiles
# to TakeOrderedAndProject.  Item supports are dimension-sized and
# broadcast onto the pair table.
# --------------------------------------------------------------------------
@q(
    "q_assoc_rules",
    """
    WITH baskets AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_quantity >= 45
    ), n_orders AS (
        SELECT COUNT(DISTINCT l_orderkey) AS n FROM baskets
    ), item AS (
        SELECT l_partkey, COUNT(*) AS item_cnt FROM baskets GROUP BY 1
    ), pair AS (
        SELECT a.l_partkey AS x, b.l_partkey AS y, COUNT(*) AS pair_cnt
        FROM baskets a JOIN baskets b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ), rules AS (
        SELECT x AS antecedent, y AS consequent, pair_cnt,
               ix.item_cnt AS ante_cnt, iy.item_cnt AS cons_cnt
        FROM pair JOIN item ix ON ix.l_partkey = pair.x
                  JOIN item iy ON iy.l_partkey = pair.y
        UNION ALL
        SELECT y, x, pair_cnt, iy.item_cnt, ix.item_cnt
        FROM pair JOIN item ix ON ix.l_partkey = pair.x
                  JOIN item iy ON iy.l_partkey = pair.y
    )
    SELECT antecedent, consequent,
           CAST(pair_cnt AS BIGINT) AS pair_cnt,
           round(1.0 * pair_cnt / (SELECT n FROM n_orders), 6) AS support,
           round(1.0 * pair_cnt / ante_cnt, 6) AS confidence,
           round((1.0 * pair_cnt / ante_cnt)
                 / (1.0 * cons_cnt / (SELECT n FROM n_orders)), 6) AS lift
    FROM rules WHERE pair_cnt >= 2
    ORDER BY lift DESC, antecedent ASC, consequent ASC
    LIMIT 20
    """,
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = li.select("l_orderkey").distinct().count()  # 1 scalar, like q_pagerank's n
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("item_cnt"))
    a, b = li.alias("a"), li.alias("b")
    pair = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("x"), F.col("b.l_partkey").alias("y")
        )
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= 2)
    )
    ix = item.select(F.col("l_partkey").alias("x"), F.col("item_cnt").alias("ante_cnt"))
    iy = item.select(F.col("l_partkey").alias("y"), F.col("item_cnt").alias("cons_cnt"))
    joined = pair.join(F.broadcast(ix), "x").join(F.broadcast(iy), "y")
    fwd = joined.select(
        F.col("x").alias("antecedent"),
        F.col("y").alias("consequent"),
        "pair_cnt",
        "ante_cnt",
        "cons_cnt",
    )
    rev = joined.select(
        F.col("y").alias("antecedent"),
        F.col("x").alias("consequent"),
        "pair_cnt",
        F.col("cons_cnt").alias("ante_cnt"),
        F.col("ante_cnt").alias("cons_cnt"),
    )
    rules = fwd.unionByName(rev)
    return (
        rules.select(
            "antecedent",
            "consequent",
            F.col("pair_cnt").cast("bigint").alias("pair_cnt"),
            F.round(F.lit(1.0) * F.col("pair_cnt") / n, 6).alias("support"),
            F.round(F.lit(1.0) * F.col("pair_cnt") / F.col("ante_cnt"), 6).alias(
                "confidence"
            ),
            F.round(
                (F.lit(1.0) * F.col("pair_cnt") / F.col("ante_cnt"))
                / (F.lit(1.0) * F.col("cons_cnt") / n),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("antecedent").asc(), F.col("consequent").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# Label propagation — 3 rounds of _label_rounds, then per-community
# size and key range.  Distinct from the components pointer-jumping in
# operators/components.py: min-convergence finds connectivity,
# frequency-convergence finds dense communities.
# --------------------------------------------------------------------------
@q(
    "q_label_propagation",
    _lp_rounds_sql(3)
    + """
    SELECT l.label AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(l.part) AS min_part, MAX(l.part) AS max_part
    FROM lab3 l
    GROUP BY l.label
    """,
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    adj = _adjacency(_edges(spark, sf_dir)).localCheckpoint(eager=False)
    return (
        _label_rounds(adj, 3)
        .groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("part").alias("min_part"),
            F.max("part").alias("max_part"),
        )
    )


# --------------------------------------------------------------------------
# k-core peeling — 3 unrolled rounds of the standard core
# decomposition step (drop every node with degree < K, recompute
# degrees on the induced subgraph, repeat; Batagelj-Zaversnik's bulk
# variant).  The densest-region extractor that precedes community
# mining and fraud-ring hunts; on most graphs a handful of bulk
# rounds reaches the fixpoint.  Scale: each round is one edge-table
# semi-join against the surviving node set (node-sized, broadcast)
# plus one degree re-aggregation — the edge table never re-scans the
# facts after the first materialization, and localCheckpoint caps the
# lineage exactly like q_pagerank's loop.
# --------------------------------------------------------------------------
_KCORE_K = 3


def _kcore_oracle() -> str:
    head = f"""
    WITH e0 AS ({_EDGE_SQL}),
    {_adj_sql("adj0", "e0")}
    """
    body = ""
    for i in range(1, 4):
        body += f""",
    keep{i} AS (
        SELECT part FROM adj{i - 1}
        GROUP BY part HAVING COUNT(*) >= {_KCORE_K}
    ),
    adj{i} AS (
        SELECT a.part, a.nbr FROM adj{i - 1} a
        JOIN keep{i} s ON s.part = a.part
        JOIN keep{i} t ON t.part = a.nbr
    )"""
    tail = f"""
    SELECT part, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM adj3 GROUP BY part
    """
    return head + body + tail


@q("q_kcore", _kcore_oracle())
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    adj = _adjacency(_edges(spark, sf_dir)).localCheckpoint(eager=False)
    for _ in range(3):
        keep = _degrees(adj).filter(F.col("deg") >= _KCORE_K).select("part")
        adj = (
            adj.join(F.broadcast(keep), "part")
            .join(
                F.broadcast(keep.select(F.col("part").alias("nbr"))), "nbr"
            )
            .select("part", "nbr")
            .localCheckpoint(eager=False)
        )
    return adj.groupBy("part").agg(
        F.count(F.lit(1)).cast("bigint").alias("core_degree")
    )


# --------------------------------------------------------------------------
# Item-item similarity — the recommender companion of q_assoc_rules
# on the same support-pruned basket pairs: cosine normalization
# cnt_ab / √(cnt_a·cnt_b) instead of confidence/lift, and top-5
# neighbors per item via rank-then-filter (WindowGroupLimit — no full
# sort of the pair table).  This is the classic item2item
# collaborative-filtering precompute (Linden et al. 2003): the output
# IS the serving lookup table, item-vocabulary-sized, broadcastable.
# --------------------------------------------------------------------------
@q(
    "q_item_similarity",
    f"""
    WITH basket AS (
        SELECT l_partkey, COUNT(DISTINCT l_orderkey) AS cnt
        FROM lineitem WHERE l_quantity >= 45
        GROUP BY l_partkey
    ), both_ AS (
        SELECT p.src, p.dst,
               CAST(COUNT(*) AS BIGINT) AS cnt_ab
        FROM (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst,
                   a.l_orderkey AS ok
            FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey
              AND a.l_quantity >= 45 AND b.l_quantity >= 45
        ) p
        GROUP BY p.src, p.dst
    ), sym AS (
        SELECT src AS item, dst AS other, cnt_ab FROM both_
        UNION ALL
        SELECT dst, src, cnt_ab FROM both_
    ), scored AS (
        SELECT s.item, s.other,
               round(CAST(s.cnt_ab AS DOUBLE)
                     / sqrt(CAST(ba.cnt AS DOUBLE) * bb.cnt), 6) AS cosine,
               s.cnt_ab
        FROM sym s
        JOIN basket ba ON ba.l_partkey = s.item
        JOIN basket bb ON bb.l_partkey = s.other
    )
    SELECT item, other, cnt_ab, cosine, rnk FROM (
        SELECT item, other, cnt_ab, cosine,
               ROW_NUMBER() OVER (PARTITION BY item
                                  ORDER BY cosine DESC, other ASC) AS rnk
        FROM scored)
    WHERE rnk <= 5
    """,
)
def q_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_partkey")
    )
    basket = li.groupBy("l_partkey").agg(
        F.countDistinct("l_orderkey").alias("cnt")
    )
    a, b = li.alias("a"), li.alias("b")
    both = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
            F.col("l_orderkey").alias("ok"),
        )
        .distinct()
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt_ab"))
    )
    sym = both.select(
        F.col("src").alias("item"), F.col("dst").alias("other"), "cnt_ab"
    ).unionAll(
        both.select(
            F.col("dst").alias("item"), F.col("src").alias("other"), "cnt_ab"
        )
    )
    ba = basket.select(F.col("l_partkey").alias("item"), F.col("cnt").alias("ca"))
    bb = basket.select(F.col("l_partkey").alias("other"), F.col("cnt").alias("cb"))
    scored = (
        sym.join(F.broadcast(ba), "item")
        .join(F.broadcast(bb), "other")
        .select(
            "item",
            "other",
            "cnt_ab",
            F.round(
                F.col("cnt_ab").cast("double")
                / F.sqrt(F.col("ca").cast("double") * F.col("cb")),
                6,
            ).alias("cosine"),
        )
    )
    rnk = F.row_number().over(
        W.partitionBy("item").orderBy(F.col("cosine").desc(), F.col("other").asc())
    )
    return (
        scored.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= 5)
        .select("item", "other", "cnt_ab", "cosine", "rnk")
    )


# --------------------------------------------------------------------------
# Modularity — Newman's partition-quality score for the communities
# the 2-round deterministic LPA finds on the co-purchase graph:
# Q = Σ_c [ e_c/m − (d_c/2m)² ] = (4m·Σe_c − Σd_c²) / 4m², computed
# per community so each row carries its own contribution.  The
# measurement that tells you whether a community structure is real
# before you invest in a Louvain pass.  Exact: e_c, d_c, m are edge
# counts; d_c² rides DECIMAL(38,0) (d_c ≤ 2m breaches int64 squared
# past ~3e9 edges — the q_gini head-room rule); one division per row.
# Scale: label table is node-sized (broadcast onto the edge scan
# twice — src and dst); e_c and d_c are one agg each over edges/adj;
# m is a 1-row broadcast.
# --------------------------------------------------------------------------
def _modularity_oracle() -> str:
    tail = """,
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
    deg AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY part),
    comm AS (
        SELECT l.label AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(deg.d) AS BIGINT) AS deg_sum
        FROM lab2 l JOIN deg ON deg.part = l.part
        GROUP BY l.label
    ),
    intra AS (
        SELECT ls.label AS community, CAST(COUNT(*) AS BIGINT) AS intra_edges
        FROM e
        JOIN lab2 ls ON ls.part = e.src
        JOIN lab2 ld ON ld.part = e.dst
        WHERE ls.label = ld.label
        GROUP BY ls.label
    )
    SELECT c.community, c.n_members, c.deg_sum,
           CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges,
           round(CAST(4 * m.m * CAST(COALESCE(i.intra_edges, 0)
                                     AS DECIMAL(38, 0))
                      - CAST(c.deg_sum AS DECIMAL(38, 0)) * c.deg_sum AS DOUBLE)
                 / CAST(4 * CAST(m.m AS DECIMAL(38, 0)) * m.m AS DOUBLE), 6)
             + 0.0 AS contribution
    FROM comm c
    LEFT JOIN intra i ON i.community = c.community
    CROSS JOIN m
    """
    return _lp_rounds_sql(2) + tail


@q("q_modularity", _modularity_oracle())
def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edges(spark, sf_dir).localCheckpoint(eager=False)
    adj = _adjacency(e).localCheckpoint(eager=False)
    lab = _label_rounds(adj, 2)
    m = e.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    comm = (
        lab.join(_degrees(adj), "part")
        .groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum("deg").cast("bigint").alias("deg_sum"),
        )
    )
    ls = lab.select(F.col("part").alias("src"), F.col("label").alias("l_src"))
    ld = lab.select(F.col("part").alias("dst"), F.col("label").alias("l_dst"))
    intra = (
        e.join(F.broadcast(ls), "src")
        .join(F.broadcast(ld), "dst")
        .filter(F.col("l_src") == F.col("l_dst"))
        .groupBy(F.col("l_src").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("intra_edges"))
    )
    dec = "decimal(38,0)"
    ie = F.coalesce(F.col("intra_edges"), F.lit(0)).cast("bigint")
    return (
        comm.join(F.broadcast(intra), "community", "left")
        .crossJoin(F.broadcast(m))  # 1-row edge total
        .select(
            "community",
            "n_members",
            "deg_sum",
            ie.alias("intra_edges"),
            (
                F.round(
                    (4 * F.col("m") * ie.cast(dec)
                     - F.col("deg_sum").cast(dec) * F.col("deg_sum")).cast("double")
                    / (4 * F.col("m").cast(dec) * F.col("m")).cast("double"),
                    6,
                )
                + 0.0  # normalize −0.0 (round of a tiny negative) cross-engine
            ).alias("contribution"),
        )
    )


# --------------------------------------------------------------------------
# ALS half-step — one alternating-least-squares user-side solve for a
# rank-2 matrix factorization over the (customer, part) quantity
# matrix (Koren/Hu-Koren-Volinsky; Spark MLlib's ALS does exactly
# this per iteration): item factors fixed (deterministic hash init),
# each user's w = (AᵀA + λI)⁻¹Aᵀr via the exact 2×2 closed form.
# This IS the distributed-trainer primitive — per-user Gram terms are
# map-side-combined integer-micro sums (each per-rating product
# rounded once, so partial-agg order is free), the 2×2 inverse runs
# on the user-dimension table, λ = 0.125 (binary-exact).  One fact
# shuffle keyed by user; item factors are scan-side expressions, no
# factor table is even materialized.
# --------------------------------------------------------------------------
@q(
    "q_als_step",
    f"""
    WITH r AS (
        SELECT o.o_custkey AS cust, l.l_partkey AS pk,
               CAST(SUM(CAST(round(l.l_quantity, 0) AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ), f AS (
        SELECT cust, pk, qty,
               (CAST({knuth_fold_sql('pk', 1000)} AS DOUBLE) - 500) / 1000.0 AS f1,
               (CAST({knuth_fold_sql('pk * 7 + 1', 1000)} AS DOUBLE) - 500)
                 / 1000.0 AS f2
        FROM r
    ), gram AS (
        SELECT cust, CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(round(f1 * f1 * 1000000, 0) AS BIGINT)) AS BIGINT) AS g11,
               CAST(SUM(CAST(round(f1 * f2 * 1000000, 0) AS BIGINT)) AS BIGINT) AS g12,
               CAST(SUM(CAST(round(f2 * f2 * 1000000, 0) AS BIGINT)) AS BIGINT) AS g22,
               CAST(SUM(CAST(round(f1 * qty * 1000000, 0) AS BIGINT)) AS BIGINT) AS d1,
               CAST(SUM(CAST(round(f2 * qty * 1000000, 0) AS BIGINT)) AS BIGINT) AS d2
        FROM f GROUP BY cust
    )
    SELECT cust, n_items,
           round(((CAST(g22 AS DOUBLE) / 1000000 + 0.125)
                  * (CAST(d1 AS DOUBLE) / 1000000)
                  - (CAST(g12 AS DOUBLE) / 1000000)
                    * (CAST(d2 AS DOUBLE) / 1000000))
                 / ((CAST(g11 AS DOUBLE) / 1000000 + 0.125)
                    * (CAST(g22 AS DOUBLE) / 1000000 + 0.125)
                    - (CAST(g12 AS DOUBLE) / 1000000)
                      * (CAST(g12 AS DOUBLE) / 1000000)), 6) AS w1,
           round(((CAST(g11 AS DOUBLE) / 1000000 + 0.125)
                  * (CAST(d2 AS DOUBLE) / 1000000)
                  - (CAST(g12 AS DOUBLE) / 1000000)
                    * (CAST(d1 AS DOUBLE) / 1000000))
                 / ((CAST(g11 AS DOUBLE) / 1000000 + 0.125)
                    * (CAST(g22 AS DOUBLE) / 1000000 + 0.125)
                    - (CAST(g12 AS DOUBLE) / 1000000)
                      * (CAST(g12 AS DOUBLE) / 1000000)), 6) AS w2
    FROM gram
    """,
)
def q_als_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    r = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("pk")
        )
        .agg(F.sum(F.round("l_quantity", 0).cast("bigint")).cast("bigint").alias("qty"))
    )
    f1 = (knuth_fold_expr(F.col("pk"), 1000).cast("double") - 500) / 1000.0
    f2 = (
        knuth_fold_expr(F.col("pk") * 7 + 1, 1000).cast("double") - 500
    ) / 1000.0
    f = r.select("cust", "qty", f1.alias("f1"), f2.alias("f2"))
    u = lambda e: F.sum(F.round(e * 1000000, 0).cast("bigint")).cast("bigint")  # noqa: E731
    gram = f.groupBy("cust").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        u(F.col("f1") * F.col("f1")).alias("g11"),
        u(F.col("f1") * F.col("f2")).alias("g12"),
        u(F.col("f2") * F.col("f2")).alias("g22"),
        u(F.col("f1") * F.col("qty")).alias("d1"),
        u(F.col("f2") * F.col("qty")).alias("d2"),
    )
    g11 = F.col("g11").cast("double") / 1000000 + 0.125
    g12 = F.col("g12").cast("double") / 1000000
    g22 = F.col("g22").cast("double") / 1000000 + 0.125
    d1 = F.col("d1").cast("double") / 1000000
    d2 = F.col("d2").cast("double") / 1000000
    det = g11 * g22 - g12 * g12
    return gram.select(
        "cust",
        "n_items",
        F.round((g22 * d1 - g12 * d2) / det, 6).alias("w1"),
        F.round((g11 * d2 - g12 * d1) / det, 6).alias("w2"),
    )

"""Similarity search over the `embeddings` table (array<float> column).

Brute-force cosine top-K is the correctness baseline; the
random-hyperplane LSH bucketing is the scale path (bucket key becomes
the join/blocking key so candidate generation is O(collisions), not
O(n²)).  All dot products are strict left folds with explicit
float→double casts, identical in Spark (`aggregate` HOF) and DuckDB
(`list_reduce`) — bitwise-equal results, no tolerance needed.

Scale notes:
* Brute force: queries × corpus is a broadcast nested-loop by
  construction (queries side is tiny).  At 100 TB the corpus is
  partitioned and each executor scans its shard against the broadcast
  query batch — exactly this plan.
* LSH: signatures computed scan-side; per-bucket fanout is bounded by
  the 8-bit bucket space here (256 buckets); production tunes
  bits/tables.  Hyperplanes are deterministic integer lattices so the
  oracle can recompute them — production would broadcast a random
  matrix instead (same plan shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..sources.io import spread_scan, table
from .registry import registrar

QUERIES: dict = {}
ORACLES: dict = {}
q = registrar(QUERIES, ORACLES)


EMBED_DIM = 64  # every testdata embedding is a fixed 64-dim array<float>


def _dot_spark(a: str, b: str, dim: int = EMBED_DIM) -> str:
    """Left-fold dot product as a compact higher-order expression.

    Bitwise-identical to the strict left fold the DuckDB oracle
    computes: ``aggregate`` folds the products left-to-right from the
    ``0.0`` seed, exactly like the oracle's ``list_reduce`` (and like
    the fully unrolled ``0.0 + t1 + t2 + …`` this replaces).

    Round-11 re-measurement reversed the old unrolled-vs-HOF verdict:
    a 64-term dot unrolls to ~6 KB of expression tree, and every
    consumer plan stacks several of them (a cosine is 3 dots; the
    confirm steps compute cosines per candidate pair), which pushed
    the generated code past whole-stage-codegen's limits — the
    executed stages ran INTERPRETED over the giant trees, plus
    ~100 KB of plan text churned through Catalyst/codegen every
    bench pass.  The HOF form is a ~40-node tree with per-element
    lambda evaluation; isolated family A/B (min-of-3 per query,
    15 vector queries): 38.3 s unrolled → 28.6 s HOF, outputs
    bitwise-identical (OPTIMIZATION_r11.md).
    """
    if dim == EMBED_DIM:
        pairs = (
            f"zip_with({a}, {b}, "
            f"(x, y) -> cast(x as double) * cast(y as double))"
        )
        return f"aggregate({pairs}, cast(0.0 as double), (acc, v) -> acc + v)"
    # Truncated-dim dot (matryoshka prefixes): the HOF spelling here is
    # transform(sequence(1, dim)) + element_at per element — an index
    # array materialized per row and an interpreted lambda per element.
    # Interleaved same-session A/B (4 reps, min per arm, sf0.1):
    # q_matryoshka_recall 2.35 s HOF vs 1.54 s unrolled (0.65×), while
    # the full-dim zip_with consumers are flat-to-better as HOF
    # (q_ann_recall 1.91 HOF vs 2.54 unrolled).  So: zip_with fold for
    # full vectors, unrolled left-sum for short prefixes.  Both are the
    # exact left fold the DuckDB oracle computes.
    terms = " + ".join(
        f"cast(element_at({a}, {i}) as double)"
        f" * cast(element_at({b}, {i}) as double)"
        for i in range(1, dim + 1)
    )
    return f"(cast(0.0 as double) + {terms})"


def _dot_duck(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(acc, v) -> acc + v)"
    )


def _assert_no_reserved(df: DataFrame, reserved: tuple[str, ...]) -> None:
    """Guard the column names the argmin helpers write — their fixed
    internal plumbing columns and the caller's ``out_col``: an input
    that already carries one of them would be silently overwritten or
    made ambiguous by the withColumn/join plumbing instead of
    erroring.  Driver-side schema check only — no job, no plan change;
    current call sites all pass clean schemas."""
    hit = [c for c in df.columns if c in reserved]
    if hit:
        raise ValueError(
            f"argmin helper input carries reserved internal column(s) {hit}; "
            "rename them before calling (_sid/_se/_dss/_dvv/_cands/_dist/_w "
            "and out_col are written by plans.vectors argmin plumbing)"
        )


def _argmin_assign(
    df: DataFrame,
    vec_col: str,
    cents: DataFrame,
    sid_col: str,
    se_col: str,
    out_col: str,
    cell_key: str | None = None,
) -> DataFrame:
    """Nearest-centroid assignment WITHOUT shuffling the corpus.

    Replaces the crossJoin(K rows) → Exchange(vec_id) → sort →
    ROW_NUMBER argmin (round-11, guide §2.4 "remove shuffles
    outright"): that shape shuffled K COPIES of every embedding array
    just to pick one winner per vector.  Here the K candidates are
    packed into ONE broadcast row (or one row per ``cell_key`` cell),
    and the argmin is a per-row ``array_min`` over
    struct(dist_micro, sid) — zero exchanges touch the corpus, and the
    per-row fold count drops from 3K dots to K+1 (dot(v,v) hoisted
    once per row, dot(se,se) once per centroid).

    Bitwise-identical to the window form it replaces:
    * dist_micro = cast(round((dvv − 2·dot(v,se) + dss)·1e6, 0) as
      bigint) — the same left-assoc double arithmetic on the same
      IEEE inputs (hoisting a subexpression does not change its
      value), same round-half-up, same cast;
    * ``array_min`` over struct(d, sid) is the lexicographic
      (dist ASC, sid ASC) minimum — exactly the ROW_NUMBER tie-break —
      and is order-independent, so the nondeterministic collect_list
      packing order cannot affect the result.

    Scale: the packed candidate row is K·dim-sized — the same bytes
    the broadcast seed side always shipped; production chunks K above
    broadcast limits (the documented semdedup_ivf_scaled path keeps
    per-cell candidate lists ~√K-sized via ``cell_key``).

    Precondition (round-11 ADVICE): ``cents`` must be NON-EMPTY when
    ``cell_key`` is None — an empty candidate set packs into one row
    holding an empty ``_cands`` array, ``array_min`` returns NULL, and
    every corpus row would survive with a NULL ``out_col``, where the
    old crossJoin/window form dropped all rows.  Every current caller
    passes a fixed, generated seed set (K ≥ 1 by construction); new
    callers with data-dependent candidate sets must guard for
    emptiness themselves (a filter on ``out_col IS NOT NULL`` changes
    this edge's semantics, so it is NOT applied here).  With
    ``cell_key`` set, the inner join already drops rows of empty
    cells — the two branches agree with the window form it replaced.
    """
    _assert_no_reserved(df, ("_sid", "_se", "_dss", "_dvv", "_cands", out_col))
    _assert_no_reserved(cents, ("_sid", "_se", "_dss", "_dvv", "_cands"))
    packed = cents.select(
        F.col(sid_col).alias("_sid"),
        F.col(se_col).alias("_se"),
        F.expr(_dot_spark(se_col, se_col)).alias("_dss"),
        *([F.col(cell_key)] if cell_key else []),
    )
    cand_struct = F.collect_list(F.struct("_sid", "_se", "_dss")).alias(
        "_cands"
    )
    with_v = df.withColumn("_dvv", F.expr(_dot_spark(vec_col, vec_col)))
    if cell_key is None:
        joined = with_v.crossJoin(F.broadcast(packed.agg(cand_struct)))
    else:
        joined = with_v.join(
            F.broadcast(packed.groupBy(cell_key).agg(cand_struct)), cell_key
        )
    best = (
        f"array_min(transform(_cands, c -> struct("
        f"cast(round((_dvv - 2 * {_dot_spark(vec_col, 'c._se')} + c._dss)"
        f" * 1000000, 0) as bigint) as d, c._sid as sid)))"
    )
    return joined.withColumn(out_col, F.expr(f"({best}).sid")).drop(
        "_cands", "_dvv"
    )


def _argmin_assign_agg(
    df: DataFrame,
    key_col: str,
    vec_col: str,
    cents: DataFrame,
    sid_col: str,
    se_col: str,
    out_col: str,
) -> DataFrame:
    """Nearest-centroid assignment for LARGE candidate sets (the K=32+
    flat-semdedup shape): broadcast the candidates as K ROWS, compute
    the distance per (row, candidate) as a flat column expression, and
    take the argmin with a partial-aggregated ``min(struct(dist, sid,
    payload...))`` keyed on ``key_col``.

    Vs the two siblings (round-11 interleaved A/B, 6 reps, min/arm,
    sf0.1 q_semdedup): window 1.91 s / packed-HOF 1.63 s / this 1.69 s
    locally — a three-way tie within host noise — but the shapes
    diverge at scale and with K:
    * the window form shuffles K COPIES of every row through its
      Exchange(key) + sort;
    * the packed-HOF form (_argmin_assign) never exchanges, but its
      per-row transform() loop is an interpreted lambda whose cost
      grows with K — right for the K≤8 coarse/cell candidate lists,
      wrong for production semdedup Ks (SemDeDup scales K ~ n/1000);
    * this form's distance is a plain column expression per joined
      row, and the hash aggregate's map-side combine collapses the K
      candidates of each row BEFORE the exchange (broadcast joins
      never move rows), so exactly ONE copy of the payload crosses.

    Bitwise-identical to both: same hoisted dist_micro arithmetic, and
    min(struct(d, sid, payload)) picks the (dist ASC, sid ASC) winner —
    sid is unique per candidate, so the comparison never reaches the
    payload fields, and the payload is group-constant anyway.

    Same non-empty-``cents`` precondition as ``_argmin_assign``: an
    empty candidate side makes the inner crossJoin drop every row
    (here that matches the old window form, but callers should not
    rely on divergent empty-set behavior between the two helpers).
    """
    _assert_no_reserved(
        df, ("_sid", "_se", "_dss", "_dvv", "_dist", "_w", out_col)
    )
    _assert_no_reserved(cents, ("_sid", "_se", "_dss", "_dvv", "_dist", "_w"))
    payload = [c for c in df.columns if c != key_col]
    packed = cents.select(
        F.col(sid_col).alias("_sid"),
        F.col(se_col).alias("_se"),
        F.expr(_dot_spark(se_col, se_col)).alias("_dss"),
    )
    scored = (
        df.withColumn("_dvv", F.expr(_dot_spark(vec_col, vec_col)))
        .crossJoin(F.broadcast(packed))
        .withColumn(
            "_dist",
            F.round(
                (
                    F.col("_dvv")
                    - 2 * F.expr(_dot_spark(vec_col, "_se"))
                    + F.col("_dss")
                )
                * 1000000,
                0,
            ).cast("bigint"),
        )
    )
    gb = scored.groupBy(key_col).agg(
        F.min(F.struct("_dist", "_sid", *payload)).alias("_w")
    )
    return gb.select(
        key_col,
        *[F.col(f"_w.{c}").alias(c) for c in payload],
        F.col("_w._sid").alias(out_col),
    )


# --------------------------------------------------------------------------
# Vector norms — the shared primitive (and a cheap sanity surface).
# --------------------------------------------------------------------------
@q(
    "q_embed_norm",
    f"""
    SELECT vec_id, label,
           len(embedding) AS dim,
           sqrt({_dot_duck('embedding', 'embedding')}) AS l2_norm
    FROM embeddings
    """,
)
def q_embed_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.sqrt(F.expr(_dot_spark("embedding", "embedding"))).alias("l2_norm"),
    )


# --------------------------------------------------------------------------
# Brute-force cosine top-K: query subset (vec_id % 20 == 0) × corpus,
# rank by (cosine DESC, neighbor id) — the ANN correctness baseline.
# --------------------------------------------------------------------------
MAX_BRUTE_QUERIES = 1 << 16
"""Hard cap on the brute-force query side.  Brute force is O(n_q ×
n_corpus) by definition — with an unbounded query set neither the
driver collect nor the compute survives a 100× corpus; past the cap
the ANN path (q_embed_ivf_topk) is the supported query shape."""


@q(
    "q_embed_cosine_topk",
    f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id % 20 = 0
    ), scored AS (
        SELECT q.qid, c.vec_id AS nb_id,
               {_dot_duck('q.qe', 'c.embedding')}
                 / (sqrt({_dot_duck('q.qe', 'q.qe')}) * sqrt({_dot_duck('c.embedding', 'c.embedding')})) AS cosine
        FROM q JOIN embeddings c ON q.qid <> c.vec_id
    )
    SELECT qid, nb_id, cosine, rnk FROM (
        SELECT qid, nb_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nb_id ASC) AS rnk
        FROM scored)
    WHERE rnk <= 10
    """,
)
def q_embed_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched brute-force scoring kernel.

    The query matrix (n/20 vectors) is collected once, guarded by
    ``MAX_BRUTE_QUERIES``, and shipped via ``sparkContext.broadcast``
    (torrent protocol: executors fetch it once per node, not once per
    task closure) — the pandas-UDF analog of a broadcast join; each
    corpus partition scores locally (mapInPandas, no shuffle before
    the final per-query top-K window).  The per-dimension loop is a
    strict left fold (acc = acc + c_i·q_i, float64, dim order), each
    step vectorized across the batch×query plane — so every scalar
    sees the exact operation sequence of the oracle's ``list_reduce``
    and the result is bitwise-equal.  Replaced the relational
    crossJoin + unrolled-SQL form: materializing both 64-float arrays
    through the join dominated (5.8 s → ~1 s at sf0.1); the
    relational form survives in q_embed_ivf_topk / q_embed_neardup.
    """
    import numpy as np
    import pandas as pd

    e = table(spark, sf_dir, "embeddings")
    qside = e.filter(F.col("vec_id") % 20 == 0).select("vec_id", "embedding")
    # bounded probe: LIMIT cap+1 so the guard job never scans more
    # than it must to prove the violation
    if qside.select("vec_id").limit(MAX_BRUTE_QUERIES + 1).count() > MAX_BRUTE_QUERIES:
        raise ValueError(
            f"q_embed_cosine_topk: query side exceeds MAX_BRUTE_QUERIES="
            f"{MAX_BRUTE_QUERIES}; brute force does not scale past this — "
            "use q_embed_ivf_topk (ANN) for corpus-proportional query sets"
        )
    qpdf = qside.toPandas()
    bq = spark.sparkContext.broadcast(
        (qpdf["vec_id"].to_numpy(), np.stack(qpdf["embedding"].to_numpy()))
    )

    def score(batches):
        qids, Q = bq.value  # (nq,) ids, (nq, dim) float32
        for b in batches:
            if not len(b):
                continue
            C = np.stack(b["embedding"].to_numpy())  # (nc, dim) float32
            nb_ids = b["vec_id"].to_numpy()
            nc, nq = len(nb_ids), len(qids)
            acc = np.zeros((nc, nq))
            cn = np.zeros(nc)
            qn = np.zeros(nq)
            for i in range(C.shape[1]):
                ci = C[:, i].astype(np.float64)
                qi = Q[:, i].astype(np.float64)
                acc = acc + np.outer(ci, qi)
                cn = cn + ci * ci
                qn = qn + qi * qi
            cos = acc / (np.sqrt(cn)[:, None] * np.sqrt(qn)[None, :])
            yield pd.DataFrame(
                {
                    "qid": np.tile(qids, nc),
                    "nb_id": np.repeat(nb_ids, nq),
                    "cosine": cos.ravel(),
                }
            )

    scored = (
        e.select("vec_id", "embedding")
        .mapInPandas(score, schema="qid bigint, nb_id bigint, cosine double")
        .filter(F.col("qid") != F.col("nb_id"))
    )
    wr = W.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nb_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 10)
        .select("qid", "nb_id", "cosine", "rnk")
    )


# --------------------------------------------------------------------------
# Random-hyperplane LSH bucketing (sign of 8 deterministic lattice
# hyperplanes → 8-bit bucket).  The scale path for near-neighbor
# candidate generation: bucket is the equi-join key.
# --------------------------------------------------------------------------
def _plane_spark_unrolled(col: str = "embedding", dim: int = EMBED_DIM, bits: int = 8) -> str:
    """``bits``-bit hyperplane signature as one nested HOF expression.

    The lattice coefficients ``((j*31 + (i-1)*17) % 13) - 6`` are
    computed inline per element (all operands non-negative, so Spark,
    Java, Python and DuckDB agree on ``%``), and each plane's dot
    keeps the oracle's exact left-fold shape — same bitwise sign
    decisions as the old fully-unrolled spelling, which at 8 planes ×
    64 dims was a 512-term tree that blew past codegen limits and ran
    interpreted (see _dot_spark's round-11 note; same A/B evidence).
    """
    return (
        f"aggregate(sequence(0, {bits - 1}), cast(0 as bigint), "
        f"(acc, j) -> acc + CASE WHEN "
        f"aggregate(transform(sequence(1, {dim}), i -> "
        f"cast(element_at({col}, i) as double) "
        f"* cast(((j * 31 + (i - 1) * 17) % 13) - 6 as double)), "
        f"cast(0.0 as double), (a2, v2) -> a2 + v2) > 0 "
        f"THEN shiftleft(cast(1 as bigint), j) ELSE cast(0 as bigint) END)"
    )


_PLANE_SPARK = _plane_spark_unrolled()
_PLANE_DUCK = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 8), "
    "j -> CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, len(embedding) + 1), "
    "i -> CAST(embedding[i] AS DOUBLE) * CAST(((j * 31 + (i - 1) * 17) % 13) - 6 AS DOUBLE))), "
    "(a2, v2) -> a2 + v2) > 0 "
    "THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)), "
    "(acc, b) -> acc + b)"
)


@q(
    "q_embed_lsh_bucket",
    f"""
    SELECT bucket, COUNT(*) AS n_vecs, COUNT(DISTINCT label) AS n_labels
    FROM (SELECT {_PLANE_DUCK} AS bucket, label FROM embeddings)
    GROUP BY bucket
    """,
)
def q_embed_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return (
        e.select(F.expr(_PLANE_SPARK).alias("bucket"), "label")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.countDistinct("label").alias("n_labels"),
        )
    )


# --------------------------------------------------------------------------
# Centroid distance per label — the IVF building block: per-label mean
# vector (the "centroid"), then each vector's dot with its centroid.
# Exact integer-free but deterministic: centroid components are
# AVG over floats — order-dependent ⇒ integer-scale each component
# (×1e6) before summing, like all judged aggregates.
# --------------------------------------------------------------------------
# --------------------------------------------------------------------------
# IVF top-K search (probe-1): the ANN scale path.  Cells are the
# label partitions; per-cell centroids are exact integer-scaled
# component means; each query is assigned to the centroid with the
# max (deterministic, micro-scaled) dot product, then searches ONLY
# that cell — candidate generation drops from O(|corpus|) to
# O(|cell|) per query.  At 100 TB the corpus is written partitioned
# by cell, so a probe reads exactly one partition (partition pruning
# on the cell key); k-means-trained centroids swap in without
# changing the plan.  All cross-engine ties are integer-broken:
# cell choice by (dot_micro DESC, label ASC), rank by (cosine DESC,
# nb_id ASC).
# --------------------------------------------------------------------------
@q(
    "q_embed_ivf_topk",
    f"""
    WITH comps AS (
        SELECT label, i,
               (CAST(SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT)) AS DOUBLE)
                / 1000000.0) / COUNT(*) AS c
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
        GROUP BY label, i
    ), q AS (
        SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id % 20 = 0
    ), qcomp AS (
        SELECT qid, i, CAST(qe[i] AS DOUBLE) AS x
        FROM q, (SELECT unnest(range(1, 65)) AS i)
    ), cell_scores AS (
        SELECT qc.qid, c.label,
               SUM(CAST(round(qc.x * c.c * 1000000, 0) AS BIGINT)) AS dot_micro
        FROM qcomp qc JOIN comps c ON qc.i = c.i
        GROUP BY qc.qid, c.label
    ), best AS (
        SELECT qid, label AS cell FROM (
            SELECT qid, label,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot_micro DESC, label ASC) AS rn
            FROM cell_scores) WHERE rn = 1
    ), scored AS (
        SELECT b.qid, b.cell, e.vec_id AS nb_id,
               {_dot_duck('q.qe', 'e.embedding')}
                 / (sqrt({_dot_duck('q.qe', 'q.qe')}) * sqrt({_dot_duck('e.embedding', 'e.embedding')})) AS cosine
        FROM best b
        JOIN q ON q.qid = b.qid
        JOIN embeddings e ON e.label = b.cell AND e.vec_id <> b.qid
    )
    SELECT qid, cell, nb_id, cosine, rnk FROM (
        SELECT qid, cell, nb_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nb_id ASC) AS rnk
        FROM scored)
    WHERE rnk <= 5
    """,
)
def q_embed_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    micro = lambda c: F.round(c * F.lit(1000000.0), 0).cast("bigint")  # noqa: E731
    comps = (
        e.select("label", F.posexplode("embedding").alias("i0", "x"))
        .select("label", (F.col("i0") + 1).alias("i"), micro(F.col("x").cast("double")).alias("xm"))
        .groupBy("label", "i")
        .agg(
            (
                (F.sum("xm").cast("double") / 1000000.0) / F.count(F.lit(1))
            ).alias("c")
        )
    )
    qs = e.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.sqrt(F.expr(_dot_spark("embedding", "embedding"))).alias("qnorm"),
    )
    qcomp = qs.select("qid", F.posexplode("qe").alias("i0", "xf")).select(
        "qid", (F.col("i0") + 1).alias("i"), F.col("xf").cast("double").alias("x")
    )
    # 10 centroids × 64 comps — broadcast the tiny centroid table.
    cell_scores = (
        qcomp.join(F.broadcast(comps), "i")
        .groupBy("qid", "label")
        .agg(F.sum(micro(F.col("x") * F.col("c"))).alias("dot_micro"))
    )
    wb = W.partitionBy("qid").orderBy(F.col("dot_micro").desc(), F.col("label").asc())
    best = (
        cell_scores.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("label").alias("cell"))
    )
    cand = e.select(
        F.col("vec_id").alias("nb_id"),
        F.col("label").alias("cell"),
        F.col("embedding").alias("ce"),
        F.sqrt(F.expr(_dot_spark("embedding", "embedding"))).alias("cnorm"),
    )
    probe = (
        F.broadcast(best.join(qs, "qid"))
        .join(cand, "cell", "inner")
        .filter(F.col("nb_id") != F.col("qid"))
    )
    cosine = F.expr(_dot_spark("qe", "ce")) / (F.col("qnorm") * F.col("cnorm"))
    scored = probe.select("qid", "cell", "nb_id", cosine.alias("cosine"))
    wr = W.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nb_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 5)
        .select("qid", "cell", "nb_id", "cosine", "rnk")
    )


@q(
    "q_embed_centroid",
    """
    WITH comps AS (
        SELECT label, i,
               SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT)) AS s,
               COUNT(*) AS n
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
        GROUP BY label, i
    )
    SELECT label,
           COUNT(*) AS dim,
           CAST(SUM(CASE WHEN i <= 8 THEN CAST(round(s / n / 1000000.0 * 1000000, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS head_sum_micro
    FROM comps
    GROUP BY label
    """,
)
def q_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label",
        F.posexplode(F.col("embedding")).alias("i0", "x"),
    ).select(
        "label",
        (F.col("i0") + 1).alias("i"),
        F.round(F.col("x").cast("double") * 1000000, 0).cast("bigint").alias("xm"),
    )
    comps = comp.groupBy("label", "i").agg(
        F.sum("xm").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return comps.groupBy("label").agg(
        F.count(F.lit(1)).alias("dim"),
        F.sum(
            F.when(
                F.col("i") <= 8,
                F.round(F.col("s") / F.col("n") / 1000000.0 * 1000000, 0).cast("bigint"),
            ).otherwise(F.lit(0))
        ).alias("head_sum_micro"),
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate detection — the vector face of the
# dedup suite (plans/text.py): LSH buckets generate candidates (docs
# only pair if all 8 hyperplane signs agree), cosine confirms.  The
# plane signature is computed ONCE per vector (groupBy+explode pair
# generation, like q_minhash_lsh); embeddings re-enter by key join
# for the confirm step, so the expensive signature never recomputes.
# --------------------------------------------------------------------------
# Per-bucket occupancy cap for the LSH candidate join: the
# collect_list in _neardup_edges materializes one bucket per row, so
# an over-full bucket is the OOM point at scale (and quadratic pair
# blowup besides — candidate pairs grow as sum |bucket|^2, measured on
# the 8x/64x mirror probes).  The cap is deliberately generous for a
# healthy signature (expected occupancy n / 2^bits) and exists to fail
# LOUDLY instead of spilling: the remedy is more ``bits``, not a
# bigger executor (the MAX_BRUTE_QUERIES pattern).
MAX_LSH_BUCKET = 1 << 13


def _neardup_edges(
    e: DataFrame, bits: int = 8, max_bucket: int = MAX_LSH_BUCKET
) -> DataFrame:
    """LSH-bucketed near-duplicate edge builder over any (vec_id,
    embedding) relation — factored out so q_embed_components can run
    it on the exact-dup-COLLAPSED representative set (round 6: the
    64x mirror probe showed the raw-graph form melting down when
    every vector has 63 byte-identical twins; collapsing first is the
    production ordering and shrinks the candidate join to the
    distinct corpus).

    ``bits`` is THE scale knob: expected bucket occupancy is
    n / 2**bits, so each extra bit halves bucket size (and quarters
    per-bucket pair work) at the cost of a lower candidate recall per
    band.  The sf-fixture oracle pins the 8-bit default; a 100 TB run
    sizes ``bits`` so occupancy stays under ``max_bucket`` and the
    in-plan guard below turns an undersized signature into an explicit
    error instead of an executor OOM inside collect_list."""
    plane = (
        _PLANE_SPARK if bits == 8 else _plane_spark_unrolled(bits=bits)
    )
    sigs = e.select(
        F.expr(plane).alias("bucket"),
        F.struct(
            F.col("vec_id").alias("id"),
            F.col("embedding").alias("emb"),
            F.sqrt(F.expr(_dot_spark("embedding", "embedding"))).alias("nrm"),
        ).alias("v"),
    )
    guard_msg = (
        f"_neardup_edges: LSH bucket exceeds max_bucket={max_bucket} "
        f"at bits={bits}; raise the bits knob (each bit halves expected "
        f"occupancy) or collapse exact duplicates first"
    )
    # Count-only pre-guard pass: per-bucket counts partial-aggregate
    # map-side (the shuffle moves <= tasks * 2**bits tiny rows, and
    # Catalyst prunes this branch's scan to the embedding column
    # alone), so an oversized bucket is detected BEFORE any
    # collect_list materializes it.  assert_true returns NULL when the
    # predicate holds; the filter keeps every surviving row but cannot
    # be pruned from the physical plan.  The surviving non-singleton
    # buckets (at most 2**bits rows) broadcast back as a semi-filter
    # BELOW the payload shuffle — singleton buckets, i.e. most of a
    # healthy corpus, never shuffle their struct payload at all.  The
    # price is a second scan-side signature evaluation (map CPU);
    # the win is the payload exchange shrinking to actual collisions,
    # which is the right trade when shuffle IO, not CPU, is the
    # 100 TB bottleneck.
    counts = (
        sigs.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_in_bucket"))
        .filter(
            F.assert_true(
                F.col("n_in_bucket") <= F.lit(max_bucket), F.lit(guard_msg)
            ).isNull()
        )
        .filter(F.col("n_in_bucket") > 1)
        .select("bucket")
    )
    buckets = (
        sigs.join(F.broadcast(counts), "bucket")
        .groupBy("bucket")
        .agg(F.array_sort(F.collect_list("v")).alias("ds"))  # sorts by id (first field)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (a, i) -> "
                "transform(slice(ds, i + 2, size(ds) - i - 1), "
                "b -> struct(a AS va, b AS vb))))"
            )
        ).alias("p")
    )
    scored = pairs.select(
        F.col("p.va.id").alias("vec_a"),
        F.col("p.vb.id").alias("vec_b"),
        (
            F.expr(_dot_spark("p.va.emb", "p.vb.emb"))
            / (F.col("p.va.nrm") * F.col("p.vb.nrm"))
        ).alias("cosine"),
    )
    return scored.filter(F.col("cosine") >= 0.3)


@q(
    "q_embed_neardup",
    f"""
    WITH sigs AS (
        SELECT vec_id, {_PLANE_DUCK} AS bucket FROM embeddings
    ), cand AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b,
           {_dot_duck('ea.embedding', 'eb.embedding')}
             / (sqrt({_dot_duck('ea.embedding', 'ea.embedding')})
                * sqrt({_dot_duck('eb.embedding', 'eb.embedding')})) AS cosine
    FROM cand c
    JOIN embeddings ea ON c.vec_a = ea.vec_id
    JOIN embeddings eb ON c.vec_b = eb.vec_id
    WHERE {_dot_duck('ea.embedding', 'eb.embedding')}
            / (sqrt({_dot_duck('ea.embedding', 'ea.embedding')})
               * sqrt({_dot_duck('eb.embedding', 'eb.embedding')})) >= 0.3
    """,
)
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The vector (and its precomputed norm) ride along in the bucket
    # shuffle as struct fields, so the confirm step reads them straight
    # off the exploded pair — ONE scan, ONE exchange, zero joins.  The
    # former join-back form broadcast the entire embedding table twice,
    # which is exactly what cannot scale when the corpus is the fact
    # side; a bucket-keyed shuffle of the corpus can.
    return _neardup_edges(table(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------------
# MLlib k-means over the embedding column — the trained-centroid
# upgrade the IVF docstring promises (q_embed_ivf_topk uses exact
# per-label means; production IVF trains cells instead).  Iterative
# MLlib fit → rows-only driver check per the contract's
# non-SQL-expressible clause; determinism within one engine comes
# from the fixed seed.  array_to_vector bridges array<float> to
# VectorUDT without a Python UDF.
# --------------------------------------------------------------------------
@q("q_embed_kmeans", None)  # iterative MLlib clustering → rows-only check
def q_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = KMeans(k=8, seed=42, maxIter=5).fit(e)
    return (
        model.transform(e)
        .groupBy(F.col("prediction").alias("cell"))
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


# --------------------------------------------------------------------------
# Scalar int8 quantization — the storage/bandwidth half of an ANN
# system: per-vector symmetric quantization q_i = round(127·x_i/max|x|)
# plus the scale needed to dequantize.  Pure per-row array arithmetic
# (zero shuffles, fused into the scan); deterministic because the
# max-abs reduction is order-free and round() agrees on both engines.
# At 100 TB this is 4× less vector IO for the refine step of every
# search in exchange for one scan-side pass.
# --------------------------------------------------------------------------
@q(
    "q_embed_quantize",
    """
    SELECT vec_id,
           round(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 6) AS scale,
           array_to_string(list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE)
                               / round(list_max(list_transform(embedding,
                                       y -> abs(CAST(y AS DOUBLE)))), 6) * 127, 0) AS INT)), ',') AS q_c
    FROM embeddings
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The quantized vector is emitted as a comma-joined STRING (the
    # q_collect_traj house pattern): the driver canonicalizes output
    # with a pandas lexsort that crashes on list cells (`unhashable
    # type: 'list'`), so a top-level ARRAY column is
    # contract-incompatible even when values match.  The join is
    # exact — every cell is an INT — and a consumer reassembles with
    # split(q_c, ',') at zero information loss.
    e = table(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        "embedding",
        F.round(
            F.expr("array_max(transform(embedding, x -> abs(cast(x as double))))"), 6
        ).alias("scale"),
    )
    return base.select(
        "vec_id",
        "scale",
        F.expr(
            "array_join(transform(embedding, "
            "x -> cast(round(cast(x as double) / scale * 127, 0) as int)), ',')"
        ).alias("q_c"),
    )


# --------------------------------------------------------------------------
# Array higher-order-function surface (U-family completion): the
# lambda-expression API — transform / filter / aggregate — exercised
# end-to-end on the embedding arrays.  Each fold keeps the strict
# left-associative double accumulation the DuckDB list_reduce twin
# performs, so sums are bitwise-equal; comparisons and max are exact.
# HOFs evaluate as interpreted lambdas (outside whole-stage codegen)
# — acceptable here because this query IS the API-surface probe; the
# hot-path vector kernels (q_embed_*) use unrolled codegen
# expressions or Arrow kernels instead, and q_embed_cosine_topk's
# docstring records the 40× measured gap.
# --------------------------------------------------------------------------
@q(
    "q_array_hof",
    """
    SELECT vec_id,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
           round(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
               (acc, v) -> acc + v), 6) AS l1_q6,
           CAST(list_max(embedding) AS DOUBLE) AS vmax,
           round(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))),
               (acc, v) -> acc + v), 6) AS head8_sum_q6
    FROM embeddings
    """,
)
def q_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.expr("size(filter(embedding, x -> x > 0))").alias("n_pos"),
        F.round(
            F.expr("aggregate(embedding, 0D, (acc, x) -> acc + abs(cast(x as double)))"),
            6,
        ).alias("l1_q6"),
        F.array_max("embedding").cast("double").alias("vmax"),
        F.round(
            F.expr(
                "aggregate(slice(embedding, 1, 8), 0D, (acc, x) -> acc + cast(x as double))"
            ),
            6,
        ).alias("head8_sum_q6"),
    )


# --------------------------------------------------------------------------
# Random-projection dimensionality reduction (Johnson–Lindenstrauss
# shape): 64 → 8 dims through a deterministic integer lattice matrix
# (same coefficient family as the LSH hyperplanes, so the oracle can
# recompute it; production broadcasts a seeded gaussian matrix — same
# plan).  Each output dim is a compact HOF left-fold dot product —
# bitwise-equal to the DuckDB list_reduce fold,
# no rounding needed (pure IEEE products/sums in fixed order).
# Scan-side map: zero shuffles; at 100 TB this is the cheap first
# stage before IVF/kmeans on the reduced space.
# --------------------------------------------------------------------------
PROJ_DIMS = 8


def _proj_coef(j: int, i: int) -> int:
    """Lattice coefficient for output dim j, input element i (1-based)."""
    return ((j * 29 + (i - 1) * 23) % 15) - 7


def _proj_spark(j: int, dim: int = EMBED_DIM) -> str:
    # compact HOF left-fold (see _dot_spark's round-11 note); the
    # coefficient recurrence is evaluated inline per element and
    # matches _proj_coef / _proj_duck exactly on non-negative operands
    return (
        f"aggregate(transform(sequence(1, {dim}), i -> "
        f"cast(element_at(embedding, i) as double) "
        f"* cast((({j} * 29 + (i - 1) * 23) % 15) - 7 as double)), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _proj_duck(j: int) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len(embedding) + 1), "
        f"i -> CAST(embedding[i] AS DOUBLE) "
        f"* CAST((({j} * 29 + (i - 1) * 23) % 15) - 7 AS DOUBLE))), "
        f"(acc, v) -> acc + v)"
    )


@q(
    "q_embed_project",
    "SELECT vec_id, label, "
    + ", ".join(f"{_proj_duck(j)} AS p{j}" for j in range(PROJ_DIMS))
    + " FROM embeddings",
)
def q_embed_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        *[F.expr(_proj_spark(j)).alias(f"p{j}") for j in range(PROJ_DIMS)],
    )


# --------------------------------------------------------------------------
# Cluster-quality audit — the evaluation twin of q_embed_centroid /
# q_embed_kmeans: per label, compactness (within-cluster variance,
# trace of the covariance via E[x²]−mean² per dimension) and
# separation (squared distance from the label centroid to the global
# centroid).  Everything reduces to per-(label,dim) integer-scaled
# partial aggregates — two hash aggregations plus a 64-row broadcast
# join — so the metric is computable in one pass at any corpus size
# and bitwise-portable (every float enters a sum only after round→int).
# --------------------------------------------------------------------------
@q(
    "q_cluster_quality",
    """
    WITH comp AS (
        SELECT label, i,
               CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS xm,
               CAST(round(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                          * 1000000, 0) AS BIGINT) AS x2m
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
    ), per_li AS (
        SELECT label, i, SUM(xm) AS s1, SUM(x2m) AS s2, COUNT(*) AS n
        FROM comp GROUP BY label, i
    ), per_gi AS (
        SELECT i, SUM(s1) AS g1, SUM(n) AS gn FROM per_li GROUP BY i
    ), terms AS (
        SELECT per_li.label, per_li.n,
               CAST(round(((s2 / n / 1000000.0)
                           - (s1 / n / 1000000.0) * (s1 / n / 1000000.0))
                          * 1000000, 0) AS BIGINT) AS within_int,
               CAST(round(((s1 / n / 1000000.0) - (g1 / gn / 1000000.0))
                          * ((s1 / n / 1000000.0) - (g1 / gn / 1000000.0))
                          * 1000000, 0) AS BIGINT) AS sep_int
        FROM per_li JOIN per_gi ON per_li.i = per_gi.i
    )
    SELECT label, MAX(n) AS n_points,
           SUM(within_int) / 1000000.0 AS within_var,
           SUM(sep_int) / 1000000.0 AS centroid_sep
    FROM terms GROUP BY label
    """,
)
def q_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    x = F.col("x").cast("double")
    comp = e.select(
        "label", F.posexplode("embedding").alias("i0", "x")
    ).select(
        "label",
        (F.col("i0") + 1).alias("i"),
        F.round(x * 1000000, 0).cast("bigint").alias("xm"),
        F.round(x * x * 1000000, 0).cast("bigint").alias("x2m"),
    )
    per_li = comp.groupBy("label", "i").agg(
        F.sum("xm").alias("s1"),
        F.sum("x2m").alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    per_gi = per_li.groupBy("i").agg(
        F.sum("s1").alias("g1"), F.sum("n").alias("gn")
    )
    mean = F.col("s1") / F.col("n") / 1000000.0
    ex2 = F.col("s2") / F.col("n") / 1000000.0
    gmean = F.col("g1") / F.col("gn") / 1000000.0
    terms = per_li.join(F.broadcast(per_gi), "i").select(
        "label",
        "n",
        F.round((ex2 - mean * mean) * 1000000, 0).cast("bigint").alias("within_int"),
        F.round((mean - gmean) * (mean - gmean) * 1000000, 0)
        .cast("bigint")
        .alias("sep_int"),
    )
    return terms.groupBy("label").agg(
        F.max("n").alias("n_points"),
        (F.sum("within_int") / 1000000.0).alias("within_var"),
        (F.sum("sep_int") / 1000000.0).alias("centroid_sep"),
    )


# --------------------------------------------------------------------------
# One exact k-means (Lloyd) iteration, fully relational — the
# oracle-checkable twin of the MLlib fit behind q_embed_kmeans
# (rows-only by contract).  K=4 deterministic seeds (vec_id 0..3)
# broadcast as a 4-row side; assignment = argmin squared L2 over the
# 4 candidates, frozen to integer micros with (dist, seed) tie-break;
# new centroid components are exact int-ratio means per (cluster,
# dim).  Scale: the 4-row nested-loop broadcast is O(K·n) — the
# canonical assignment plan at any corpus size; the component agg is
# map-side combined into K·dim groups.  Chain the iteration to taste:
# each round is this same plan with the previous round's centroids
# broadcast back in.
# --------------------------------------------------------------------------
@q(
    "q_kmeans_step",
    f"""
    WITH seeds AS (
        SELECT vec_id AS sid, embedding AS se FROM embeddings WHERE vec_id < 4
    ), scored AS (
        SELECT v.vec_id, v.embedding, s.sid,
               CAST(round(({_dot_duck('v.embedding', 'v.embedding')}
                           - 2 * {_dot_duck('v.embedding', 's.se')}
                           + {_dot_duck('s.se', 's.se')}) * 1000000, 0) AS BIGINT)
                 AS dist_micro
        FROM embeddings v CROSS JOIN seeds s
    ), assigned AS (
        SELECT vec_id, embedding, sid FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist_micro ASC, sid ASC) AS rn
            FROM scored)
        WHERE rn = 1
    ), comps AS (
        SELECT sid, i,
               SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT))
                 AS s,
               COUNT(*) AS n
        FROM assigned, (SELECT unnest(range(1, 65)) AS i)
        GROUP BY sid, i
    )
    SELECT CAST(sid AS BIGINT) AS cluster, CAST(i AS BIGINT) AS dim,
           (1.0 * s / n) / 1000000.0 AS centroid_comp,
           CAST(n AS BIGINT) AS n_members
    FROM comps
    """,
)
def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    seeds = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("sid"), F.col("embedding").alias("se")
    )
    # round-11: packed-broadcast argmin (see _argmin_assign) — the old
    # crossJoin → Exchange(vec_id) → ROW_NUMBER shape shuffled K copies
    # of every embedding just to pick the winner
    assigned = _argmin_assign(
        e.select("vec_id", "embedding"), "embedding", seeds, "sid", "se", "sid"
    ).select("sid", "embedding")
    comps = (
        assigned.select(
            "sid", F.posexplode(F.col("embedding")).alias("i0", "x")
        )
        .select(
            "sid",
            (F.col("i0") + 1).alias("i"),
            F.round(F.col("x").cast("double") * 1000000, 0)
            .cast("bigint")
            .alias("xm"),
        )
        .groupBy("sid", "i")
        .agg(F.sum("xm").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    return comps.select(
        F.col("sid").cast("bigint").alias("cluster"),
        F.col("i").cast("bigint").alias("dim"),
        ((F.lit(1.0) * F.col("s") / F.col("n")) / 1000000.0).alias("centroid_comp"),
        F.col("n").cast("bigint").alias("n_members"),
    )


# --------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
# deduplication the way production LLM corpora actually run it:
# cluster the embedding space (here the deterministic K=4 seed
# assignment shared with q_kmeans_step), then compare pairs ONLY
# within a cluster and drop every item that has a higher-priority
# (smaller vec_id) in-cluster neighbor above the cosine threshold.
# Output: one row per vector — cluster, the max cosine to any
# smaller-id in-cluster neighbor (shifted +1 and frozen to micros so
# the integer is always positive; NULL for each cluster's smallest
# id), and the keep flag.  Scale: the pair space is Σ|cluster|², the
# SemDeDup contract itself — production scales K with the corpus
# (K ≈ n/1000) so clusters stay bounded; the join key is the cluster
# id, and AQE's skew split handles stragglers.  The K-row broadcast
# NL assignment is the q_kmeans_step shape (allowlisted).
# --------------------------------------------------------------------------
_SEMDEDUP_TAU = 0.4  # fixture-calibrated: 13 same-cluster pairs above it at sf0.01
_SEMDEDUP_K = 32  # clusters SCALE with the corpus (SemDeDup's own knob:
# K ~ n/60 at fixture scale, production K ~ n/1000 with trained
# centroids) — the within-cluster pair space is the quadratic term,
# and K is what bounds it; K=4 left 500-member clusters at sf0.1 and
# a 500k-pair interpreted-dot stage (measured 10.6 s of the first
# bench's 8.6 s wall)


@q(
    "q_semdedup",
    f"""
    WITH seeds AS (
        SELECT vec_id AS sid, embedding AS se FROM embeddings WHERE vec_id < {_SEMDEDUP_K}
    ), scored AS (
        SELECT v.vec_id, v.embedding, s.sid,
               CAST(round(({_dot_duck('v.embedding', 'v.embedding')}
                           - 2 * {_dot_duck('v.embedding', 's.se')}
                           + {_dot_duck('s.se', 's.se')}) * 1000000, 0) AS BIGINT)
                 AS dist_micro
        FROM embeddings v CROSS JOIN seeds s
    ), assigned AS MATERIALIZED (
        SELECT vec_id, embedding, sid FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist_micro ASC, sid ASC) AS rn
            FROM scored)
        WHERE rn = 1
    ), nn AS (
        SELECT b.vec_id,
               MAX({_dot_duck('a.embedding', 'b.embedding')}
                   / (sqrt({_dot_duck('a.embedding', 'a.embedding')})
                      * sqrt({_dot_duck('b.embedding', 'b.embedding')}))) AS c
        FROM assigned a JOIN assigned b
          ON a.sid = b.sid AND a.vec_id < b.vec_id
        GROUP BY b.vec_id
    )
    SELECT x.vec_id, CAST(x.sid AS BIGINT) AS cluster,
           CAST(round((nn.c + 1.0) * 1000000, 0) AS BIGINT) AS nn_cos1p_micro,
           CAST(CASE WHEN nn.c IS NULL
                     OR nn.c <= CAST({_SEMDEDUP_TAU} AS DOUBLE)
                THEN 1 ELSE 0 END AS BIGINT) AS kept
    FROM assigned x LEFT JOIN nn ON nn.vec_id = x.vec_id
    """,
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread_scan(table(spark, sf_dir, "embeddings"))
    seeds = e.filter(F.col("vec_id") < _SEMDEDUP_K).select(
        F.col("vec_id").alias("sid"), F.col("embedding").alias("se")
    )
    # round-11: partial-agg min-struct argmin (see _argmin_assign_agg)
    # — with K=32 the old window shape shuffled 32 copies of every
    # embedding; this map-side-combines the candidates so exactly one
    # copy crosses, and the distance stays a flat codegen expression
    # (the packed-HOF form's per-row lambda loop grows with K)
    assigned = _argmin_assign_agg(
        e.select("vec_id", "embedding"),
        "vec_id",
        "embedding",
        seeds,
        "sid",
        "se",
        "sid",
    ).select(
        "vec_id",
        "embedding",
        "sid",
        # norm frozen INTO the checkpoint: the pair join then does
        # ONE dot per pair instead of three (the _neardup_edges
        # rule — the first bench run showed per-pair self-dots
        # were 2/3 of the 8.6 s FLOP)
        F.sqrt(F.expr(_dot_spark("embedding", "embedding"))).alias("nrm"),
    )
    # the assignment feeds three consumers (both pair sides + the
    # final keep join) — checkpoint it once instead of re-running the
    # K·n scoring pass per consumer (the kmeans_iter2 pattern)
    from ..scratch import checkpoint_parquet

    assigned = checkpoint_parquet(assigned, "semdedup_")
    a = assigned.select(
        F.col("sid").alias("a_sid"),
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_e"),
        F.col("nrm").alias("a_n"),
    )
    b = assigned.select(
        F.col("sid").alias("b_sid"),
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_e"),
        F.col("nrm").alias("b_n"),
    )
    cos = F.expr(_dot_spark("a_e", "b_e")) / (F.col("a_n") * F.col("b_n"))
    nn = (
        a.join(
            b,
            (F.col("a_sid") == F.col("b_sid"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .select(F.col("b_id").alias("vec_id"), cos.alias("c"))
        .groupBy("vec_id")
        .agg(F.max("c").alias("c"))
    )
    tau = F.lit(_SEMDEDUP_TAU).cast("double")
    return assigned.join(nn, "vec_id", "left").select(
        "vec_id",
        F.col("sid").cast("bigint").alias("cluster"),
        F.round((F.col("c") + 1.0) * 1000000, 0)
        .cast("bigint")
        .alias("nn_cos1p_micro"),
        F.when(F.col("c").isNull() | (F.col("c") <= tau), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("kept"),
    )


# --------------------------------------------------------------------------
# SemDeDup with an IVF-probed assignment — the production remedy the
# q_semdedup docstring promises (round-8 verdict: "frozen centroids +
# IVF probe documented" — now implemented): instead of scoring every
# vector against all K fine centroids (the n·K term that dominates
# q_semdedup's wall), a two-level probe scores n·C coarse cells, then
# only the fine centroids INSIDE the vector's coarse cell —
# n·C + n·K/C ≈ 2n·√K FLOPs at C=√K, the IVF trade every production
# ANN system makes.  nprobe=1 semantics: a vector whose true nearest
# fine centroid lives in a neighboring coarse cell is assigned to the
# best fine centroid of ITS cell — deterministic (dist_micro asc, sid
# asc tie-breaks at both levels, the q_semdedup discipline), so the
# oracle mirrors the same two-level math and the differential stays
# bitwise.  Downstream (within-cluster pair max-cos, τ keep flag) is
# the unchanged SemDeDup contract.
#
# Honest fixture-scale measurement (MEASURED.md round-9): at K=32 the
# probe LOSES — 4.05 s vs 3.24 s at sf0.1, 110 s vs 58 s at the 8×
# mirror — because the dot-FLOP cut (32n → 11.3n) is small while the
# structure costs one extra n-row argmin exchange, and the
# within-cluster pair stage (identical in both variants) dominates on
# mirror-replicated vectors.  The IVF term wins where production
# lives: K ~ n/1000 with C=√K turns n·K into 2n·√K — at K=10⁵ that is
# 158× fewer assignment FLOPs, and the assignment IS the wall there
# (the q_semdedup 8× row measured it).  This query exists to pin that
# plan shape and its cross-engine semantics, not to win the fixture.
# --------------------------------------------------------------------------
_IVF_COARSE = 8  # C = √K·√2 at the fixture's K=32; production C = √K
# Hard ceiling on within-cluster pairwise-confirm fan-out: a cell of
# this size contributes ~2·10⁹ candidate pairs — past the point where
# the right fix is more centroids, not a bigger shuffle.
MAX_SEMDEDUP_CELL = 1 << 16


@q(
    "q_semdedup_ivf",
    f"""
    WITH coarse AS (
        SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < {_IVF_COARSE}
    ), fine AS (
        SELECT vec_id AS sid, embedding AS se FROM embeddings WHERE vec_id < {_SEMDEDUP_K}
    ), f2c AS (
        SELECT sid, se, cid FROM (
            SELECT f.sid, f.se, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY f.sid ORDER BY
                       CAST(round(({_dot_duck('f.se', 'f.se')}
                                   - 2 * {_dot_duck('f.se', 'c.ce')}
                                   + {_dot_duck('c.ce', 'c.ce')}) * 1000000, 0) AS BIGINT) ASC,
                       c.cid ASC) AS rn
            FROM fine f CROSS JOIN coarse c)
        WHERE rn = 1
    ), vc AS (
        SELECT vec_id, embedding, cid FROM (
            SELECT v.vec_id, v.embedding, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                       CAST(round(({_dot_duck('v.embedding', 'v.embedding')}
                                   - 2 * {_dot_duck('v.embedding', 'c.ce')}
                                   + {_dot_duck('c.ce', 'c.ce')}) * 1000000, 0) AS BIGINT) ASC,
                       c.cid ASC) AS rn
            FROM embeddings v CROSS JOIN coarse c)
        WHERE rn = 1
    ), assigned AS MATERIALIZED (
        SELECT vec_id, embedding, sid FROM (
            SELECT vc.vec_id, vc.embedding, f.sid,
                   ROW_NUMBER() OVER (PARTITION BY vc.vec_id ORDER BY
                       CAST(round(({_dot_duck('vc.embedding', 'vc.embedding')}
                                   - 2 * {_dot_duck('vc.embedding', 'f.se')}
                                   + {_dot_duck('f.se', 'f.se')}) * 1000000, 0) AS BIGINT) ASC,
                       f.sid ASC) AS rn
            FROM vc JOIN f2c f ON f.cid = vc.cid)
        WHERE rn = 1
    ), nn AS (
        SELECT b.vec_id,
               MAX({_dot_duck('a.embedding', 'b.embedding')}
                   / (sqrt({_dot_duck('a.embedding', 'a.embedding')})
                      * sqrt({_dot_duck('b.embedding', 'b.embedding')}))) AS c
        FROM assigned a JOIN assigned b
          ON a.sid = b.sid AND a.vec_id < b.vec_id
        GROUP BY b.vec_id
    )
    SELECT x.vec_id, CAST(x.sid AS BIGINT) AS cluster,
           CAST(round((nn.c + 1.0) * 1000000, 0) AS BIGINT) AS nn_cos1p_micro,
           CAST(CASE WHEN nn.c IS NULL
                     OR nn.c <= CAST({_SEMDEDUP_TAU} AS DOUBLE)
                THEN 1 ELSE 0 END AS BIGINT) AS kept
    FROM assigned x LEFT JOIN nn ON nn.vec_id = x.vec_id
    """,
)
def q_semdedup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fixture-frozen knobs (K=32, C=8) so the DuckDB oracle above and
    # every prior driver row stay bit-identical; the parameterized
    # operator below is the production entry point.
    return semdedup_ivf(spark, sf_dir, k=_SEMDEDUP_K, c=_IVF_COARSE)


# Production cell budget for the scaled-K path: K = ceil(n / cell).
# SemDeDup (arXiv:2303.09540) scales cluster count with corpus size so
# the within-cluster confirm stays ~n·cell/2 pairs — LINEAR in n at a
# fixed cell budget (the quadratic lives inside the bounded cell).
# The two-level nprobe=1 assignment is 2n·√K dots at C=√K — n^1.5/√cell
# growth, the classic flat-IVF boundary; production corpora past ~10⁸
# vectors move to trained coarse quantizers / multi-level probes, which
# swap into the same frame below without touching the confirm contract.
SEMDEDUP_TARGET_CELL = 256


def semdedup_ivf_scaled(
    spark: SparkSession, sf_dir: str, target_cell: int = SEMDEDUP_TARGET_CELL
) -> DataFrame:
    """SemDeDup with corpus-scaled K — the production default the
    fixture-frozen q_semdedup_ivf documents: K = ceil(n/target_cell)
    (never below the fixture's 32) and C = √K, so cells track the
    target budget and the occupancy guard's refuse-don't-degrade
    threshold stays meaningful at any n.  The corpus count is one
    parquet metadata scan — the K-sizing pass a production job reads
    from table stats."""
    import math

    n = table(spark, sf_dir, "embeddings").count()
    k = max(_SEMDEDUP_K, math.ceil(n / max(1, target_cell)))
    c = max(2, math.isqrt(k))
    return semdedup_ivf(spark, sf_dir, k=k, c=c)


def semdedup_ivf(
    spark: SparkSession,
    sf_dir: str,
    k: int = _SEMDEDUP_K,
    c: int = _IVF_COARSE,
    tau: float = _SEMDEDUP_TAU,
) -> DataFrame:
    """Two-level (nprobe=1) IVF SemDeDup over the embeddings table;
    ``k`` fine centroids / ``c`` coarse cells are the first k (resp.
    c) vec_ids — deterministic fixture seeds standing in for trained
    centroids, which is what makes the DuckDB differential possible.
    See q_semdedup_ivf's block comment for the plan-shape rationale
    and the measured fixture-vs-production trade."""
    e = table(spark, sf_dir, "embeddings")
    coarse = e.filter(F.col("vec_id") < c).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    fine = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("sid"), F.col("embedding").alias("se")
    )

    # round-11: every level uses the packed-broadcast argmin (see
    # _argmin_assign) — the old window form re-shuffled the corpus
    # (with C resp. K/C copies of each embedding) at levels 1b and 2
    # level 1a: fine centroids -> coarse cells (K·C, dim-sized)
    f2c = _argmin_assign(fine, "se", coarse, "cid", "ce", "cid")
    # level 1b: vectors -> coarse cells (n·C, the cheap scan)
    vc = _argmin_assign(
        e.select("vec_id", "embedding"), "embedding", coarse, "cid", "ce", "cid"
    )
    # level 2: score ONLY the fine centroids of the vector's cell
    # (n·K/C average — the per-cell candidate arrays are K·dim total,
    # always broadcastable; cell_key joins each vector to exactly its
    # own cell's array)
    assigned = _argmin_assign(
        vc,
        "embedding",
        f2c.select("sid", "se", "cid"),
        "sid",
        "se",
        "sid",
        cell_key="cid",
    ).select(
        "vec_id",
        "embedding",
        "sid",
        F.sqrt(F.expr(_dot_spark("embedding", "embedding"))).alias("nrm"),
    )
    from ..scratch import checkpoint_parquet

    assigned = checkpoint_parquet(assigned, "semdedup_ivf_")
    # Cell-occupancy guard (round-9 VERDICT watch item): the confirm
    # join below is O(Σ|cell|²) — linear when cells track n/K, but a
    # skewed coarse cell (all vectors collapsing onto one fine
    # centroid) would go quadratic SILENTLY.  Audit the max occupancy
    # on the already-checkpointed parquet (one dimension-sized agg
    # over a column-pruned scan — the MAX_BRUTE_QUERIES house pattern
    # at q_embed_cosine_topk) and refuse rather than degrade.
    occ = (
        assigned.groupBy("sid")
        .agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]["mx"]
    )
    if occ is not None and occ > MAX_SEMDEDUP_CELL:
        raise ValueError(
            f"q_semdedup_ivf: max cluster occupancy {occ} exceeds "
            f"MAX_SEMDEDUP_CELL={MAX_SEMDEDUP_CELL}; the pairwise "
            "confirm is quadratic in cell size — re-run with more "
            "fine centroids (K) so cells stay near n/K"
        )
    a = assigned.select(
        F.col("sid").alias("a_sid"), F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_e"), F.col("nrm").alias("a_n"),
    )
    b = assigned.select(
        F.col("sid").alias("b_sid"), F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_e"), F.col("nrm").alias("b_n"),
    )
    cos = F.expr(_dot_spark("a_e", "b_e")) / (F.col("a_n") * F.col("b_n"))
    nn = (
        a.join(
            b,
            (F.col("a_sid") == F.col("b_sid"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .select(F.col("b_id").alias("vec_id"), cos.alias("c"))
        .groupBy("vec_id")
        .agg(F.max("c").alias("c"))
    )
    tau_c = F.lit(tau).cast("double")
    return assigned.join(nn, "vec_id", "left").select(
        "vec_id",
        F.col("sid").cast("bigint").alias("cluster"),
        F.round((F.col("c") + 1.0) * 1000000, 0)
        .cast("bigint")
        .alias("nn_cos1p_micro"),
        F.when(F.col("c").isNull() | (F.col("c") <= tau_c), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("kept"),
    )


# --------------------------------------------------------------------------
# TWO chained Lloyd iterations — proves the q_kmeans_step iteration
# COMPOSES (round-5 verdict #7): iteration 1 is exactly the
# q_kmeans_step plan; its 256-row (cluster, dim) centroid table is
# CHECKPOINTED to a process-scoped parquet (the production pattern —
# each Lloyd round materializes dimension-sized state and broadcasts
# it back; recomputing the lineage would re-scan the corpus once per
# consumer), re-assembled into K=4 centroid arrays, and broadcast
# into a second identical assignment pass.  Output adds shift_micro,
# the per-component |c2 − c1| movement — the convergence metric a
# production loop would threshold on.  Scale: two corpus scans (one
# per iteration), both O(K·n) broadcast assignments; every other
# relation is K·dim-sized.  Parity notes: centroid components are
# single IEEE divisions of exact ints (bitwise cross-engine), so the
# iteration-2 distances fold bitwise-identical doubles on both sides;
# distances are non-negative, so round-half-up (Spark) == round-half-
# away (DuckDB) at the micro freeze.
# --------------------------------------------------------------------------
@q(
    "q_kmeans_iter2",
    f"""
    WITH seeds AS (
        SELECT vec_id AS sid, embedding AS se FROM embeddings WHERE vec_id < 4
    ), scored AS (
        SELECT v.vec_id, v.embedding, s.sid,
               CAST(round(({_dot_duck('v.embedding', 'v.embedding')}
                           - 2 * {_dot_duck('v.embedding', 's.se')}
                           + {_dot_duck('s.se', 's.se')}) * 1000000, 0) AS BIGINT)
                 AS dist_micro
        FROM embeddings v CROSS JOIN seeds s
    ), assigned AS (
        SELECT vec_id, embedding, sid FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist_micro ASC, sid ASC) AS rn
            FROM scored)
        WHERE rn = 1
    ), comps AS MATERIALIZED (
        SELECT sid, i,
               SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT))
                 AS s,
               COUNT(*) AS n
        FROM assigned, (SELECT unnest(range(1, 65)) AS i)
        GROUP BY sid, i
    ), cent AS (
        SELECT sid, list((1.0 * s / n) / 1000000.0 ORDER BY i) AS se
        FROM comps GROUP BY sid
    ), scored2 AS (
        SELECT v.vec_id, v.embedding, c.sid,
               CAST(round(({_dot_duck('v.embedding', 'v.embedding')}
                           - 2 * {_dot_duck('v.embedding', 'c.se')}
                           + {_dot_duck('c.se', 'c.se')}) * 1000000, 0) AS BIGINT)
                 AS dist_micro
        FROM embeddings v CROSS JOIN cent c
    ), assigned2 AS (
        SELECT vec_id, embedding, sid FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist_micro ASC, sid ASC) AS rn
            FROM scored2)
        WHERE rn = 1
    ), comps2 AS (
        SELECT sid, i,
               SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT))
                 AS s,
               COUNT(*) AS n
        FROM assigned2, (SELECT unnest(range(1, 65)) AS i)
        GROUP BY sid, i
    )
    SELECT CAST(c2.sid AS BIGINT) AS cluster, CAST(c2.i AS BIGINT) AS dim,
           (1.0 * c2.s / c2.n) / 1000000.0 AS centroid_comp,
           CAST(c2.n AS BIGINT) AS n_members,
           CAST(round(abs((1.0 * c2.s / c2.n) / 1000000.0
                          - (1.0 * c1.s / c1.n) / 1000000.0) * 1000000, 0)
                AS BIGINT) AS shift_micro
    FROM comps2 c2 JOIN comps c1 ON c1.sid = c2.sid AND c1.i = c2.i
    """,
)
def q_kmeans_iter2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scratch import checkpoint_parquet

    e = table(spark, sf_dir, "embeddings")

    def assign_and_sum(cents: DataFrame) -> DataFrame:
        """One Lloyd round: packed-broadcast argmin by (dist_micro,
        sid) — see _argmin_assign — then exact integer component sums
        per (sid, i)."""
        assigned = _argmin_assign(
            e.select("vec_id", "embedding"),
            "embedding",
            cents,
            "sid",
            "se",
            "sid",
        ).select("sid", "embedding")
        return (
            assigned.select(
                "sid", F.posexplode(F.col("embedding")).alias("i0", "x")
            )
            .select(
                "sid",
                (F.col("i0") + 1).alias("i"),
                F.round(F.col("x").cast("double") * 1000000, 0)
                .cast("bigint")
                .alias("xm"),
            )
            .groupBy("sid", "i")
            .agg(F.sum("xm").alias("s"), F.count(F.lit(1)).alias("n"))
        )

    seeds = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("sid"), F.col("embedding").alias("se")
    )
    comps1 = assign_and_sum(seeds)
    # checkpoint the 256-row centroid table: it feeds BOTH the
    # iteration-2 broadcast and the shift join, and an unmaterialized
    # subtree re-scans the corpus once per consumer
    comps1 = checkpoint_parquet(comps1, "kmeans_iter_")
    c_of = (F.lit(1.0) * F.col("s") / F.col("n")) / 1000000.0
    cent = comps1.groupBy("sid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", c_of.alias("c")))),
            lambda st: st["c"],
        ).alias("se")
    )
    comps2 = assign_and_sum(cent)
    c1 = comps1.select(
        "sid", "i", c_of.alias("c1")
    )
    return (
        comps2.withColumn("c2", c_of)
        .join(F.broadcast(c1), ["sid", "i"])
        .select(
            F.col("sid").cast("bigint").alias("cluster"),
            F.col("i").cast("bigint").alias("dim"),
            F.col("c2").alias("centroid_comp"),
            F.col("n").cast("bigint").alias("n_members"),
            F.round(F.abs(F.col("c2") - F.col("c1")) * 1000000, 0)
            .cast("bigint")
            .alias("shift_micro"),
        )
    )


# --------------------------------------------------------------------------
# ANN quality evaluation — recall@5 of the IVF probe-1 path against
# the brute-force ground truth, per query.  This is the query every
# ANN deployment runs before trusting the index: both sides are
# deterministic registry members (q_embed_cosine_topk truncated to
# k=5 as truth, q_embed_ivf_topk as retrieved), so the evaluation
# itself carries a full value oracle.  Scale: the two top-K tables
# are query-set-sized (n_q × 5), so the hit join and the per-query
# count are dimension-sized — the corpus is never re-scanned.
# --------------------------------------------------------------------------
@q(
    "q_ann_recall",
    f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id % 20 = 0
    ), brute_scored AS (
        SELECT q.qid, c.vec_id AS nb_id,
               {_dot_duck('q.qe', 'c.embedding')}
                 / (sqrt({_dot_duck('q.qe', 'q.qe')}) * sqrt({_dot_duck('c.embedding', 'c.embedding')})) AS cosine
        FROM q JOIN embeddings c ON q.qid <> c.vec_id
    ), bt AS (
        SELECT qid, nb_id FROM (
            SELECT qid, nb_id,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nb_id ASC) AS rnk
            FROM brute_scored) WHERE rnk <= 5
    ), comps AS (
        SELECT label, i,
               (CAST(SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT)) AS DOUBLE)
                / 1000000.0) / COUNT(*) AS c
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
        GROUP BY label, i
    ), qcomp AS (
        SELECT qid, i, CAST(qe[i] AS DOUBLE) AS x
        FROM q, (SELECT unnest(range(1, 65)) AS i)
    ), cell_scores AS (
        SELECT qc.qid, c.label,
               SUM(CAST(round(qc.x * c.c * 1000000, 0) AS BIGINT)) AS dot_micro
        FROM qcomp qc JOIN comps c ON qc.i = c.i
        GROUP BY qc.qid, c.label
    ), best AS (
        SELECT qid, label AS cell FROM (
            SELECT qid, label,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot_micro DESC, label ASC) AS rn
            FROM cell_scores) WHERE rn = 1
    ), ivf_scored AS (
        SELECT b.qid, e.vec_id AS nb_id,
               {_dot_duck('q.qe', 'e.embedding')}
                 / (sqrt({_dot_duck('q.qe', 'q.qe')}) * sqrt({_dot_duck('e.embedding', 'e.embedding')})) AS cosine
        FROM best b
        JOIN q ON q.qid = b.qid
        JOIN embeddings e ON e.label = b.cell AND e.vec_id <> b.qid
    ), it AS (
        SELECT qid, nb_id FROM (
            SELECT qid, nb_id,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nb_id ASC) AS rnk
            FROM ivf_scored) WHERE rnk <= 5
    ), hits AS (
        SELECT i.qid, COUNT(*) AS n_hit
        FROM it i JOIN bt b ON i.qid = b.qid AND i.nb_id = b.nb_id
        GROUP BY i.qid
    )
    SELECT g.qid,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           COALESCE(h.n_hit, 0) / 5.0 AS recall_at_5
    FROM (SELECT DISTINCT qid FROM bt) g
    LEFT JOIN hits h ON g.qid = h.qid
    """,
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composes the two registered search paths and grades one against
    the other — reusing the registry callables keeps truth and
    retrieved bitwise-identical to their standalone queries."""
    # Both sides derive from the same registry scans, so without
    # explicit aliases Spark sees ambiguous self-join lineage and
    # warns about a "trivially true" qid == qid predicate (and a
    # refactor could silently resolve the condition to the wrong
    # side).  alias() pins each side's lineage; the plan stays a
    # left-semi hash join.
    brute = (
        QUERIES["q_embed_cosine_topk"](spark, sf_dir)
        .filter(F.col("rnk") <= 5)
        .select("qid", "nb_id")
        .alias("bt")
    )
    ivf = (
        QUERIES["q_embed_ivf_topk"](spark, sf_dir)
        .select("qid", "nb_id")
        .alias("it")
    )
    hits = (
        ivf.join(
            brute,
            (F.col("it.qid") == F.col("bt.qid"))
            & (F.col("it.nb_id") == F.col("bt.nb_id")),
            "left_semi",
        )
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    truth_q = brute.select("qid").distinct()
    return truth_q.join(hits, "qid", "left").select(
        "qid",
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
        (F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(5.0)).alias("recall_at_5"),
    )


# --------------------------------------------------------------------------
# Product quantization — the memory-side ANN building block IVF
# composes with (IVF-PQ): the 64-dim vector splits into 8 subspaces
# of 8 dims; each subvector snaps to the nearest of 8 deterministic
# codebook entries (same pseudo-random integer lattice family as the
# LSH planes), so the vector compresses 64×4 B → 8 codes.  Entirely
# scan-side, zero exchanges — the quantization of a 100 TB corpus is
# embarrassingly parallel.  Distances accumulate as per-term frozen
# micro-ints so both engines sum exact integers in any order.
#
# Physical strategy: an Arrow-batched numpy kernel (the whole
# (n,8,8,8) term tensor vectorizes; measured 2.7 s → 0.28 s at sf0.1
# vs the pure-expression form).  The nested-HOF expression twin
# (_PQ_SPARK below: per-row 8×8 fold + sort_array argmin) is kept and
# parity-tested — it is the form to reach for when a deployment
# forbids the Python runner.  Rounding in the kernel is explicit
# floor(t + 0.5) — terms are non-negative — because numpy's rint is
# half-EVEN while both engines' round() is half-away.
# --------------------------------------------------------------------------
_PQ_TERM_DUCK = (
    "CAST(round((CAST(embedding[j * 8 + d + 1] AS DOUBLE)"
    " - (CAST((k * 31 + (j * 8 + d) * 17) % 13 AS DOUBLE) - 6) / 6.0)"
    " * (CAST(embedding[j * 8 + d + 1] AS DOUBLE)"
    " - (CAST((k * 31 + (j * 8 + d) * 17) % 13 AS DOUBLE) - 6) / 6.0)"
    " * 1000000, 0) AS BIGINT)"
)

_PQ_SPARK = (
    "transform(sequence(0, 7), j -> "
    "element_at(array_sort(transform(sequence(0, 7), k -> "
    "struct(aggregate(transform(sequence(0, 7), d -> "
    "cast(round((cast(element_at(embedding, j * 8 + d + 1) as double)"
    " - (cast((k * 31 + (j * 8 + d) * 17) % 13 as double) - 6) / 6.0)"
    " * (cast(element_at(embedding, j * 8 + d + 1) as double)"
    " - (cast((k * 31 + (j * 8 + d) * 17) % 13 as double) - 6) / 6.0)"
    " * 1000000, 0) as bigint)), "
    "cast(0 as bigint), (a, v) -> a + v) AS dmicro, k AS code))), 1))"
)


def _pq_codes(e: DataFrame) -> DataFrame:
    """Arrow-batched PQ assignment: (vec_id, label, subspace, code,
    dmicro) — one row per (vector, subspace), no shuffle."""
    import numpy as np
    import pandas as pd

    kk = np.arange(8)[:, None]
    pp = np.arange(64)[None, :]
    cb = ((((kk * 31 + pp * 17) % 13) - 6) / 6.0).reshape(8, 8, 8)  # (k, j, d)

    def kern(batches):
        for b in batches:
            if not len(b):
                continue
            X = np.stack(b["embedding"].to_numpy()).astype(np.float64)
            X = X.reshape(-1, 8, 8)                       # (n, j, d)
            diff = X[:, None, :, :] - cb[None, :, :, :]   # (n, k, j, d)
            # half-AWAY rounding of the non-negative terms (np.rint is
            # half-even and would diverge from both engines' round())
            t = np.floor(diff * diff * 1e6 + 0.5).astype(np.int64)
            dm = t.sum(axis=3)                            # (n, k, j)
            code = dm.argmin(axis=1)                      # first min ⇒ lowest k
            n = len(X)
            jj = np.tile(np.arange(8), n)
            rows = np.arange(n).repeat(8)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(b["vec_id"].to_numpy(), 8),
                    "label": np.repeat(b["label"].to_numpy(), 8),
                    "subspace": jj.astype(np.int64),
                    "code": code.reshape(n, 8)[rows, jj].astype(np.int64),
                    "dmicro": dm.min(axis=1).reshape(n * 8),
                }
            )

    return e.select("vec_id", "label", "embedding").mapInPandas(
        kern,
        "vec_id bigint, label int, subspace bigint, code bigint, dmicro bigint",
    )


@q(
    "q_pq_quantize",
    f"""
    WITH sub AS (
        SELECT vec_id, embedding, unnest(range(0, 8)) AS j FROM embeddings
    ), cand AS (
        SELECT vec_id, embedding, j, unnest(range(0, 8)) AS k FROM sub
    ), dist AS (
        SELECT vec_id, j, k,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(0, 8), d -> {_PQ_TERM_DUCK})),
                 (a, v) -> a + v) AS dmicro
        FROM cand
    )
    SELECT vec_id, CAST(j AS BIGINT) AS subspace,
           CAST(k AS BIGINT) AS code, dmicro
    FROM (
        SELECT vec_id, j, k, dmicro,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                  ORDER BY dmicro ASC, k ASC) AS rn
        FROM dist) WHERE rn = 1
    """,
)
def q_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return _pq_codes(e).select("vec_id", "subspace", "code", "dmicro")


# --------------------------------------------------------------------------
# IVF-PQ search — the production ANN composition: the query routes to
# its best IVF cell (probe-1, the q_embed_ivf_topk head) and scores
# ONLY that cell's members by asymmetric distance computation (ADC):
# each candidate costs 8 integer table lookups + adds against the
# query's 8×8 per-subspace distance table, never a 64-dim float scan.
# Scale: the distance table is (n_q × 64) rows — broadcast; corpus
# codes come from the shuffle-free q_pq_quantize projection; the only
# data-sized shuffle is the (qid, candidate) 8-row-group sum inside
# one pruned cell.  Exactness: every table entry is the same frozen
# micro-int fold as q_pq_quantize, so ADC sums integers in any order.
# --------------------------------------------------------------------------
_PQ_QTERM_DUCK = _PQ_TERM_DUCK.replace("embedding[", "qe[")

_PQ_DTABLE_SPARK = (
    "flatten(transform(sequence(0, 7), j -> transform(sequence(0, 7), k -> "
    "struct(j AS j, k AS k, aggregate(transform(sequence(0, 7), d -> "
    "cast(round((cast(element_at(qe, j * 8 + d + 1) as double)"
    " - (cast((k * 31 + (j * 8 + d) * 17) % 13 as double) - 6) / 6.0)"
    " * (cast(element_at(qe, j * 8 + d + 1) as double)"
    " - (cast((k * 31 + (j * 8 + d) * 17) % 13 as double) - 6) / 6.0)"
    " * 1000000, 0) as bigint)), "
    "cast(0 as bigint), (a, v) -> a + v) AS dmicro))))"
)


@q(
    "q_pq_search",
    f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id % 20 = 0
    ), comps AS (
        SELECT label, i,
               (CAST(SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT)) AS DOUBLE)
                / 1000000.0) / COUNT(*) AS c
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
        GROUP BY label, i
    ), qcomp AS (
        SELECT qid, i, CAST(qe[i] AS DOUBLE) AS x
        FROM q, (SELECT unnest(range(1, 65)) AS i)
    ), cell_scores AS (
        SELECT qc.qid, c.label,
               SUM(CAST(round(qc.x * c.c * 1000000, 0) AS BIGINT)) AS dot_micro
        FROM qcomp qc JOIN comps c ON qc.i = c.i
        GROUP BY qc.qid, c.label
    ), best AS (
        SELECT qid, label AS cell FROM (
            SELECT qid, label,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot_micro DESC, label ASC) AS rn
            FROM cell_scores) WHERE rn = 1
    ), corpus_sub AS (
        SELECT vec_id, label, embedding, unnest(range(0, 8)) AS j FROM embeddings
    ), corpus_cand AS (
        SELECT vec_id, label, embedding, j, unnest(range(0, 8)) AS k FROM corpus_sub
    ), corpus_dist AS (
        SELECT vec_id, label, j, k,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(0, 8), d -> {_PQ_TERM_DUCK})),
                 (a, v) -> a + v) AS dmicro
        FROM corpus_cand
    ), codes AS (
        SELECT vec_id, label, j, k AS code FROM (
            SELECT vec_id, label, j, k,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                      ORDER BY dmicro ASC, k ASC) AS rn
            FROM corpus_dist) WHERE rn = 1
    ), dtab_sub AS (
        SELECT qid, qe, unnest(range(0, 8)) AS j FROM q
    ), dtab_cand AS (
        SELECT qid, qe, j, unnest(range(0, 8)) AS k FROM dtab_sub
    ), dtable AS (
        SELECT qid, j, k,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(0, 8), d -> {_PQ_QTERM_DUCK})),
                 (a, v) -> a + v) AS dmicro
        FROM dtab_cand
    ), adc AS (
        SELECT b.qid, co.vec_id AS nb_id,
               CAST(SUM(dt.dmicro) AS BIGINT) AS admicro
        FROM best b
        JOIN codes co ON co.label = b.cell AND co.vec_id <> b.qid
        JOIN dtable dt ON dt.qid = b.qid AND dt.j = co.j AND dt.k = co.code
        GROUP BY b.qid, co.vec_id
    )
    SELECT qid, nb_id, admicro, rnk FROM (
        SELECT qid, nb_id, admicro,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY admicro ASC, nb_id ASC) AS rnk
        FROM adc) WHERE rnk <= 5
    """,
)
def q_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    micro = lambda c: F.round(c * F.lit(1000000.0), 0).cast("bigint")  # noqa: E731
    # --- probe-1 cell routing (same ops as q_embed_ivf_topk) ---
    comps = (
        e.select("label", F.posexplode("embedding").alias("i0", "x"))
        .select("label", (F.col("i0") + 1).alias("i"),
                micro(F.col("x").cast("double")).alias("xm"))
        .groupBy("label", "i")
        .agg(((F.sum("xm").cast("double") / 1000000.0) / F.count(F.lit(1))).alias("c"))
    )
    qs = e.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    qcomp = qs.select("qid", F.posexplode("qe").alias("i0", "xf")).select(
        "qid", (F.col("i0") + 1).alias("i"), F.col("xf").cast("double").alias("x")
    )
    cell_scores = (
        qcomp.join(F.broadcast(comps), "i")
        .groupBy("qid", "label")
        .agg(F.sum(micro(F.col("x") * F.col("c"))).alias("dot_micro"))
    )
    wb = W.partitionBy("qid").orderBy(F.col("dot_micro").desc(), F.col("label").asc())
    best = (
        cell_scores.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("label").alias("cell"))
    )
    # --- corpus codes (shuffle-free quantization kernel) ---
    codes = _pq_codes(e).select(
        "vec_id", "label", F.col("subspace").alias("j"), "code"
    )
    # --- query distance tables (n_q × 64 rows → broadcast) ---
    dtable = (
        qs.select("qid", F.expr(_PQ_DTABLE_SPARK).alias("dt"))
        .select("qid", F.explode("dt").alias("e"))
        .select("qid", F.col("e.j").alias("j"), F.col("e.k").alias("k"),
                F.col("e.dmicro").alias("dmicro"))
    )
    adc = (
        F.broadcast(best)
        .join(codes, best.cell == codes.label)
        .filter(F.col("vec_id") != F.col("qid"))
        .join(
            F.broadcast(dtable),
            (dtable.qid == best.qid)
            & (dtable.j == codes.j)
            & (dtable.k == F.col("code")),
        )
        .select(best.qid.alias("qid"), F.col("vec_id").alias("nb_id"), "dmicro")
        .groupBy("qid", "nb_id")
        .agg(F.sum("dmicro").alias("admicro"))
    )
    wr = W.partitionBy("qid").orderBy(F.col("admicro").asc(), F.col("nb_id").asc())
    return (
        adc.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 5)
        .select("qid", "nb_id", "admicro", "rnk")
    )


# --------------------------------------------------------------------------
# Semantic (vector-space) dedup clusters — the embedding twin of
# q_dedup_components: near-dup pairs from the hyperplane-LSH +
# cosine-confirm path (q_embed_neardup, ≥0.3) become edges, and
# connected components (operators/components.py: driver union-find
# under 2M edges, distributed hash-to-min pointer jumping above)
# assign every vector its cluster and canonical representative
# (= min vec_id).  Vectors sharing no confirmed edge stay singleton.
# The oracle walks the same edges with the hook+compress min-label
# form (text._minlabel_cc_sql — linear per round, convergence-audited
# via loud sentinel rows), not a Σ|comp|² transitive closure: the
# round-10 SCALING.md rule, same as q_dedup_components.
# --------------------------------------------------------------------------
from .text import _minlabel_cc_sql as _cc_sql

_VCC_CTES, _VCC_FINAL, _VCC_AUDIT = _cc_sql(
    node_table="embeddings", node_col="vec_id"
)


@q(
    "q_embed_components",
    f"""
    WITH sigs AS MATERIALIZED (
        SELECT vec_id, {_PLANE_DUCK} AS bucket FROM embeddings
    ), cand AS MATERIALIZED (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ), conf AS MATERIALIZED (
        SELECT c.vec_a, c.vec_b
        FROM cand c
        JOIN embeddings ea ON c.vec_a = ea.vec_id
        JOIN embeddings eb ON c.vec_b = eb.vec_id
        WHERE {_dot_duck('ea.embedding', 'eb.embedding')}
                / (sqrt({_dot_duck('ea.embedding', 'ea.embedding')})
                   * sqrt({_dot_duck('eb.embedding', 'eb.embedding')})) >= 0.3
    ), edges_sym AS MATERIALIZED (
        SELECT vec_a AS a, vec_b AS b FROM conf
        UNION SELECT vec_b, vec_a FROM conf
    ), {_VCC_CTES}, comp AS (
        SELECT node AS vec_id, lbl AS component FROM {_VCC_FINAL}
    )
    SELECT vec_id, component,
           COUNT(*) OVER (PARTITION BY component) AS cluster_size
    FROM comp
    UNION ALL
    SELECT -1, -1, -1 WHERE {_VCC_AUDIT}
    """,
)
def q_embed_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round 6: exact-duplicate COLLAPSE before the graph.  Byte-equal
    # vectors always share a component (cos = 1 ≥ every threshold), so
    # the quotient graph over one representative per distinct vector
    # has identical components — and it shrinks the LSH candidate join
    # and the pointer-jumping iteration to the DISTINCT corpus.  The
    # 64x mirror probe made the raw form melt down (every vector had
    # 63 byte-identical twins → 4096x candidate pairs, dense
    # 64-cliques, stage failure in the iteration checkpoint); with the
    # collapse the residual graph at 64x equals sf0.1's.  One extra
    # embedding-keyed shuffle on non-duplicated data — the
    # dedup-before-graph ordering every near-dup family here already
    # documents.
    from ..operators.components import connected_components

    e = table(spark, sf_dir, "embeddings")
    mapping = e.select(
        "vec_id",
        "embedding",
        F.min("vec_id").over(W.partitionBy("embedding")).alias("rep"),
    )
    rep_vecs = mapping.filter(F.col("vec_id") == F.col("rep")).select(
        "vec_id", "embedding"
    )
    edges = _neardup_edges(rep_vecs).select("vec_a", "vec_b")
    comp = connected_components(
        rep_vecs.select("vec_id"), edges, node_col="vec_id", src="vec_a",
        dst="vec_b",
    )
    return (
        mapping.select("vec_id", "rep")
        .join(
            comp.select(F.col("node").alias("rep"), "comp"),
            "rep",
        )
        .select(
            "vec_id",
            F.col("comp").alias("component"),
            F.count(F.lit(1)).over(W.partitionBy("comp")).alias("cluster_size"),
        )
    )


# --------------------------------------------------------------------------
# kNN classification — the serving-side readout of similarity search:
# majority label vote over each query's top-5 cosine neighbors
# (deterministic tie-break: smallest label), scored against the
# query's own label.  Rides q_embed_cosine_topk's guarded brute-force
# kernel (the audit path); at corpus-proportional query sets the same
# vote runs on q_embed_ivf_topk's ANN candidates — identical plan
# from the neighbor table onward.  The neighbor table is query-set-
# sized, so it BROADCASTS into the label join; the corpus-side label
# projection is one pruned column scan.
# --------------------------------------------------------------------------
@q(
    "q_knn_classify",
    f"""
    WITH topk AS ({ORACLES['q_embed_cosine_topk']}),
    votes AS (
        SELECT t.qid, e.label, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM topk t JOIN embeddings e ON e.vec_id = t.nb_id
        WHERE t.rnk <= 5
        GROUP BY t.qid, e.label
    ), pred AS (
        SELECT qid, label AS predicted FROM (
            SELECT qid, label,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY cnt DESC, label ASC) AS rn
            FROM votes) WHERE rn = 1
    )
    SELECT p.qid, p.predicted, e.label AS true_label,
           CAST(CASE WHEN p.predicted = e.label THEN 1 ELSE 0 END AS INT)
               AS correct
    FROM pred p JOIN embeddings e ON e.vec_id = p.qid
    """,
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    labels = e.select("vec_id", "label")
    knn = QUERIES["q_embed_cosine_topk"](spark, sf_dir).filter(F.col("rnk") <= 5)
    votes = (
        labels.join(
            F.broadcast(knn.select("qid", "nb_id")),
            labels.vec_id == F.col("nb_id"),
        )
        .groupBy("qid", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    rn = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("cnt").desc(), F.col("label").asc())
    )
    pred = (
        votes.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("qid", F.col("label").alias("predicted"))
    )
    return (
        labels.join(F.broadcast(pred), labels.vec_id == F.col("qid"))
        .select(
            "qid",
            "predicted",
            F.col("label").alias("true_label"),
            F.when(F.col("predicted") == F.col("label"), 1)
            .otherwise(0)
            .cast("int")
            .alias("correct"),
        )
    )


# --------------------------------------------------------------------------
# Near-dup threshold sweep — the calibration run before picking a
# semantic-dedup cosine cutoff: pair counts at each candidate
# threshold, all from ONE pass over the LSH-bucketed candidate pairs
# (q_embed_neardup's single-exchange plan).  The threshold fan-out is
# a scan-side Generate (explode of a 6-element literal array), never
# a join.  Thresholds are integer micros; the compare divides by the
# same double constant in both engines.
# --------------------------------------------------------------------------
_SWEEP_MICROS = (300000, 500000, 700000, 800000, 900000, 950000)


@q(
    "q_neardup_threshold_sweep",
    f"""
    WITH nd AS ({ORACLES['q_embed_neardup']}),
    fan AS (
        SELECT unnest([{", ".join(str(t) for t in _SWEEP_MICROS)}]) AS t_micro,
               cosine
        FROM nd
    )
    SELECT CAST(t_micro AS BIGINT) AS t_micro,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM fan
    WHERE cosine >= t_micro / CAST(1000000 AS DOUBLE)
    GROUP BY t_micro
    """,
)
def q_neardup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    nd = QUERIES["q_embed_neardup"](spark, sf_dir)
    fan = nd.select(
        "cosine",
        F.explode(
            F.array(*[F.lit(t).cast("bigint") for t in _SWEEP_MICROS])
        ).alias("t_micro"),
    )
    return (
        fan.filter(
            F.col("cosine") >= F.col("t_micro") / F.lit(1000000).cast("double")
        )
        .groupBy("t_micro")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


# --------------------------------------------------------------------------
# Power-iteration step — one v → X'Xv Krylov update over the
# embedding matrix, normalized: the distributed primitive under PCA /
# spectral methods (chain it for the top eigenvector; the docstring
# kernel IS the loop body).  v₀ = 1/8·𝟙 (1/√64 — binary-exact).
# Exactness: s_i = ⟨x_i, v₀⟩ is the strict left fold both engines
# share (the q_embed_cosine_topk rule), rounded to int micros ONCE;
# each w_j contribution round(s_m·x_ij) is one IEEE product of exact
# inputs; w_j is an integer sum (order-free); ‖w‖² rides
# DECIMAL(38,0) (64 dims × (5e8)² breaches int64).  Scale: scan-side
# row scores, one pos-keyed agg (64 groups, map-side combine), 1-row
# norm broadcast — the fact table shuffles once.
# --------------------------------------------------------------------------
_PI_SUM_DUCK = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(embedding, e -> CAST(e AS DOUBLE) * 0.125)), "
    "(acc, v) -> acc + v)"
)
# compact HOF left-fold (round-11; see _dot_spark) — same seed, same
# left-to-right order as the unrolled sum and the DuckDB list_reduce
_PI_SUM_SPARK = (
    "aggregate(transform(embedding, e -> cast(e as double) * 0.125), "
    "cast(0.0 as double), (acc, v) -> acc + v)"
)


@q(
    "q_power_iteration",
    f"""
    WITH s AS (
        SELECT vec_id, embedding,
               CAST(round({_PI_SUM_DUCK} * 1000000, 0) AS BIGINT) AS s_m
        FROM embeddings
    ), contrib AS (
        SELECT i.i AS pos,
               CAST(round(CAST(s.s_m AS DOUBLE)
                          * CAST(s.embedding[i.i] AS DOUBLE), 0) AS BIGINT) AS t
        FROM s, (SELECT unnest(range(1, 65)) AS i) i
    ), w AS (
        SELECT pos, CAST(SUM(t) AS BIGINT) AS w_u FROM contrib GROUP BY pos
    ), nrm AS (
        SELECT sqrt(CAST(SUM(CAST(w_u AS DECIMAL(38, 0)) * w_u) AS DOUBLE))
          AS nrm FROM w
    )
    SELECT w.pos, w.w_u, round(w.w_u / nrm.nrm, 6) AS weight
    FROM w CROSS JOIN nrm
    """,
)
def q_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    s = emb.select(
        "vec_id",
        "embedding",
        F.round(F.expr(_PI_SUM_SPARK) * 1000000, 0).cast("bigint").alias("s_m"),
    )
    contrib = s.select(
        "s_m", F.posexplode("embedding").alias("i0", "x")
    ).select(
        (F.col("i0") + 1).alias("pos"),
        F.round(F.col("s_m").cast("double") * F.col("x").cast("double"), 0)
        .cast("bigint")
        .alias("t"),
    )
    w = contrib.groupBy("pos").agg(F.sum("t").cast("bigint").alias("w_u"))
    nrm = w.agg(
        F.sqrt(
            F.sum(F.col("w_u").cast("decimal(38,0)") * F.col("w_u")).cast("double")
        ).alias("nrm")
    )
    return w.crossJoin(F.broadcast(nrm)).select(
        "pos",
        "w_u",
        F.round(F.col("w_u") / F.col("nrm"), 6).alias("weight"),
    )


# --------------------------------------------------------------------------
# Matryoshka truncation recall — grade serving on the FIRST 16
# dimensions against full-64 brute-force truth (Kusupati et al. 2022:
# MRL embeddings are trained so prefixes are usable sub-embeddings;
# the serving question is always "how much recall does the cheap
# prefix keep?").  Truth reuses the registered q_embed_cosine_topk
# top-10; the truncated arm scores prefix-cosine (dot, both norms on
# dims 1–16 only) over the SAME guarded query set; recall@10 joins
# the two rank lists.  Scale: the truncated arm is the documented
# audit-only brute shape (MAX_BRUTE_QUERIES guard upstream); in
# production the prefix scores come from the IVF/PQ candidate list
# and this query is the calibration readout.
# --------------------------------------------------------------------------
_MRL_DIM = 16


@q(
    "q_matryoshka_recall",
    f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id % 20 = 0
    ), full_scored AS (
        SELECT q.qid, c.vec_id AS nb_id,
               {_dot_duck('q.qe', 'c.embedding')}
                 / (sqrt({_dot_duck('q.qe', 'q.qe')}) * sqrt({_dot_duck('c.embedding', 'c.embedding')})) AS cosine
        FROM q JOIN embeddings c ON q.qid <> c.vec_id
    ), ft AS (
        SELECT qid, nb_id FROM (
            SELECT qid, nb_id,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nb_id ASC) AS rnk
            FROM full_scored) WHERE rnk <= 10
    ), qt AS (
        SELECT qid, qe[1:{_MRL_DIM}] AS qe FROM q
    ), trunc_scored AS (
        SELECT qt.qid, c.vec_id AS nb_id,
               {_dot_duck('qt.qe', "c.embedding[1:" + str(_MRL_DIM) + "]")}
                 / (sqrt({_dot_duck('qt.qe', 'qt.qe')})
                    * sqrt({_dot_duck("c.embedding[1:" + str(_MRL_DIM) + "]", "c.embedding[1:" + str(_MRL_DIM) + "]")})) AS cosine
        FROM qt JOIN embeddings c ON qt.qid <> c.vec_id
    ), tt AS (
        SELECT qid, nb_id FROM (
            SELECT qid, nb_id,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nb_id ASC) AS rnk
            FROM trunc_scored) WHERE rnk <= 10
    ), hits AS (
        SELECT t.qid, COUNT(*) AS n_hit
        FROM tt t JOIN ft f ON f.qid = t.qid AND f.nb_id = t.nb_id
        GROUP BY t.qid
    )
    SELECT g.qid,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_overlap,
           round(COALESCE(h.n_hit, 0) / 10.0, 6) AS recall_at_10
    FROM (SELECT DISTINCT qid FROM ft) g
    LEFT JOIN hits h ON g.qid = h.qid
    """,
)
def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    full = (
        QUERIES["q_embed_cosine_topk"](spark, sf_dir)
        .filter(F.col("rnk") <= 10)
        .select("qid", "nb_id")
        .alias("ft")
    )
    qt = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("qid"),
        F.slice("embedding", 1, _MRL_DIM).alias("qe"),
    )
    ct = emb.select(
        F.col("vec_id").alias("nb_id"),
        F.slice("embedding", 1, _MRL_DIM).alias("ce"),
    )
    dot = _dot_spark("qe", "ce", dim=_MRL_DIM)
    qn = _dot_spark("qe", "qe", dim=_MRL_DIM)
    cn = _dot_spark("ce", "ce", dim=_MRL_DIM)
    scored = (
        qt.join(F.broadcast(ct), F.col("qid") != F.col("nb_id"))
        .select(
            "qid",
            "nb_id",
            (F.expr(dot) / (F.sqrt(F.expr(qn)) * F.sqrt(F.expr(cn)))).alias(
                "cosine"
            ),
        )
    )
    rnk = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nb_id").asc())
    )
    tt = (
        scored.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= 10)
        .select("qid", "nb_id")
        .alias("tt")
    )
    hits = (
        tt.join(full, ["qid", "nb_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    spine = full.select("qid").distinct()
    return spine.join(F.broadcast(hits), "qid", "left").select(
        "qid",
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias("n_overlap"),
        F.round(F.coalesce(F.col("n_hit"), F.lit(0)) / 10.0, 6).alias(
            "recall_at_10"
        ),
    )


# --------------------------------------------------------------------------
# Contrastive pair mining — for every anchor, the best in-bucket
# POSITIVE (same label, highest cosine) and the HARDEST in-bucket
# NEGATIVE (different label, highest cosine): the triplet/InfoNCE
# training-data prep, where hard negatives — near misses, not random
# ones — carry the gradient signal.  Candidates come from the SAME
# hyperplane-LSH buckets as q_embed_neardup (the bucket equi-join
# bounds the pair space; random-pair mining would be all-pairs), so
# the mined negatives are "near" by construction.  Selection is BY
# THE ROUNDED cosine (6 dp — the reported value), packed with the id
# tiebreak into one integer (c_u+10⁶)·10⁹ − (id+1), so BOTH argmaxes
# come from ONE conditional aggregation over ONE pass of the
# candidate join — the two-window form re-evaluated the join + the
# 64-dim cosine twice (13.5 s → ~4 s at sf0.01 driver scale).  Norms
# are precomputed scan-side (per row, not per pair).
# --------------------------------------------------------------------------
_CP_IDB = 1000000000  # id bound inside the packed argmax key


@q(
    "q_contrastive_pairs",
    f"""
    WITH b AS (
        SELECT vec_id, label, embedding, {_PLANE_DUCK} AS bucket,
               sqrt({_dot_duck('embedding', 'embedding')}) AS nrm
        FROM embeddings
    ), cand AS (
        SELECT a.vec_id AS anchor, a.label = c.label AS same,
               (CAST(round({_dot_duck('a.embedding', 'c.embedding')}
                           / (a.nrm * c.nrm) * 1000000, 0) AS BIGINT)
                + 1000000) * {_CP_IDB} - (c.vec_id + 1) AS k
        FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
    ), best AS (
        SELECT anchor,
               MAX(CASE WHEN same THEN k END) AS pk,
               MAX(CASE WHEN NOT same THEN k END) AS nk
        FROM cand GROUP BY anchor
    )
    SELECT anchor,
           CAST((pk // {_CP_IDB} + 1) * {_CP_IDB} - pk - 1 AS BIGINT) AS pos_id,
           CAST(pk // {_CP_IDB} - 999999 AS DOUBLE) / 1000000.0 AS pos_cos,
           CAST((nk // {_CP_IDB} + 1) * {_CP_IDB} - nk - 1 AS BIGINT) AS neg_id,
           CAST(nk // {_CP_IDB} - 999999 AS DOUBLE) / 1000000.0 AS neg_cos
    FROM best
    WHERE pk IS NOT NULL AND nk IS NOT NULL
    """,
)
def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    b = e.select(
        "vec_id",
        "label",
        "embedding",
        F.expr(_PLANE_SPARK).alias("bucket"),
        F.sqrt(F.expr(_dot_spark("embedding", "embedding"))).alias("nrm"),
    )
    a = b.select(
        F.col("vec_id").alias("anchor"),
        F.col("label").alias("a_label"),
        F.col("embedding").alias("ae"),
        F.col("nrm").alias("an"),
        "bucket",
    )
    c = b.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"),
        "bucket",
    )
    c_u = F.round(
        F.expr(_dot_spark("ae", "ce")) / (F.col("an") * F.col("cn")) * 1000000, 0
    ).cast("bigint")
    key = (c_u + 1000000) * _CP_IDB - (F.col("cand_id") + 1)
    cand = (
        a.join(c, "bucket")
        .filter(F.col("anchor") != F.col("cand_id"))
        .select(
            "anchor",
            (F.col("a_label") == F.col("c_label")).alias("same"),
            key.alias("k"),
        )
    )
    best = cand.groupBy("anchor").agg(
        F.max(F.when(F.col("same"), F.col("k"))).alias("pk"),
        F.max(F.when(~F.col("same"), F.col("k"))).alias("nk"),
    )

    def _decode(col: str):
        hi = F.expr(f"{col} div {_CP_IDB}")
        return (
            ((hi + 1) * _CP_IDB - F.col(col) - 1).cast("bigint"),
            (hi - 999999).cast("double") / 1000000.0,
        )

    pid, pcos = _decode("pk")
    nid, ncos = _decode("nk")
    return best.filter(F.col("pk").isNotNull() & F.col("nk").isNotNull()).select(
        "anchor",
        pid.alias("pos_id"),
        pcos.alias("pos_cos"),
        nid.alias("neg_id"),
        ncos.alias("neg_cos"),
    )

"""Rebuild the /tmp 8x scale-probe derivatives with ALL TEN tables.

Unions sf0.1 eight times with disjoint key offsets (the round-2
protocol, now covering orders/customer/part/supplier/embeddings too —
the round-5 verdict's ask #2: the vector/TPC-H heavies had no 8x rows
because the derivative lacked their tables).  Offsets per copy i:

    lineitem    l_orderkey += i*1e7, l_partkey += i*1e6, l_suppkey += i*1e4
    orders      o_orderkey += i*1e7, o_custkey += i*1e6
    customer    c_custkey  += i*1e6
    part        p_partkey  += i*1e6
    supplier    s_suppkey  += i*1e4
    events      event_id   += i*1e9, user_id += i*1e6
    documents   doc_id     += i*1e7
    embeddings  vec_id     += i*1e6
    region/nation: copied 1x (fixed dimensional domains — scaling the
    25-nation spine would change join semantics, not data volume)

Every offset is a multiple of 20 so fraction-of-corpus query sets
defined by `key % k == 0` (q_embed_ivf_topk's vec_id % 20) keep the
same sampling fraction, and fact/dim key references stay consistent
across copies (copy i's lineitem rows join copy i's orders/part/
supplier rows — join fanout per row is IDENTICAL to sf0.1, so a probe
ratio >1x measures plan behavior, not changed data semantics).

Key offsets alone build a MIRROR: every copy's events occupy the SAME
hours and every copy's documents are byte-identical to copy 0's.
That is the right probe for key-offset queries, but it manufactures
pathological shapes for two families (measured, MEASURED.md round-8
close):

- frame-bucketed pair joins: hour buckets coincide across copies, so
  per-frame groups grow ×N and candidate pairs ×N² — q_pairwise's
  unshifted 64× row ran 480× wall, and q_pairwise_kernel's DuckDB
  oracle exceeded 79 GB of spill at 8×;
- duplicate-graph closures: the corpus becomes 98.4 % duplicates, a
  shape real growth never has — q_dedup_components' oracle recursive
  closure ran past 30 min.

``--honest`` builds the twin that reproduces HONEST growth — more
frames of the same size, more documents at the same duplication rate
— with three rewrites on top of the key offsets:

- events: copy i shifted +i·366 days, so frame/hour/day buckets are
  disjoint across copies;
- documents: copy i>0's text gets a per-copy suffix on every word, so
  each copy keeps sf0.1's internal duplicates but copies never
  collide;
- embeddings: copy i>0's vector components are ROTATED by i
  positions.  A common permutation preserves every within-copy DOT
  PRODUCT exactly — cosines, norms, and confirmed-edge geometry
  survive bit-for-bit — while cross-copy pairs decorrelate to the
  corpus's own baseline near-dup rate (measured: 2.7e-4 cross-copy
  vs 2.8e-4 within-copy at cos ≥ 0.3) — i.e. the derivative behaves
  like a true i.i.d. sample of the same distribution, unlike the
  pre-round-10 byte-identical copies that made it a MIRROR for the
  vector family.  NOT permutation-invariant: fixed-coefficient LSH
  plane signatures (and any other hash of component ORDER) are
  re-drawn per copy, so within-copy bucket co-membership — hence
  candidate-pair generation — differs from sf0.1 for copies i>0;
  both engines see the same rotated data, so differential
  correctness is unaffected, but per-copy candidate counts are a new
  draw, not sf0.1's.  Note the honest shape for a FIXED-τ similarity
  graph on a homogeneous corpus is pair-RATE times C(n,2): edges grow
  ~quadratically in corpus size (551 → 34 874 at 8x), which is
  exactly why production raises τ / LSH bits with scale (SCALING.md's
  bits sizing rule).

All other tables are the same in both modes (key offsets preserve
join fanout exactly), and both modes assert the event_id and doc_id
domains the q_ohlc and q_dedup_canonical oracle encodings need.

Usage:  python tools/make_8x.py [--honest] [out_dir] [copies]
        (default /tmp/nfl26_sf0.8x, or /tmp/nfl26_sf0.8x_honest with
        --honest; 8 copies)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SRC = "/root/testdata/sf0.1"
COPIES = 8  # override with the copies argument (e.g. 64 for the decade-2 probe)

OFFSETS: dict[str, dict[str, int]] = {
    "lineitem": {"l_orderkey": 10_000_000, "l_partkey": 1_000_000,
                 "l_suppkey": 10_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "customer": {"c_custkey": 1_000_000},
    "part": {"p_partkey": 1_000_000},
    "supplier": {"s_suppkey": 10_000},
    "events": {"event_id": 1_000_000_000, "user_id": 1_000_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 1_000_000},
}
COPY_ONCE = ("region", "nation")
# file counts ~ sf0.1 layout x8 so scan parallelism scales with the
# data (the round-2 derivative's coarser layout produced sub-1x scan
# artifacts; keep lineitem widest)
FILES = {"lineitem": 16, "orders": 16, "events": 16, "part": 8,
         "customer": 8, "supplier": 4, "documents": 8, "embeddings": 8}


def _honest(name: str, c, i: int):
    """The honest-growth rewrite of copy ``i`` of table ``name``."""
    if name == "events":
        # ts is timestamp at rest (the loader normalizes on read);
        # shift whole copies into disjoint years so every
        # time-bucketed group keeps its sf0.1 size
        return c.withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {i * 366} DAYS"))
    if name == "embeddings" and i > 0:
        # per-copy component rotation: within-copy dot products are
        # bit-identical to sf0.1 (a common permutation preserves them;
        # order-sensitive hashes like LSH plane signatures are
        # re-drawn — see module docstring); cross-copy cosines
        # decorrelate.  The dimension comes from the DATA
        # (size(embedding)), so a future dim change can't silently
        # truncate to NULL components the way a hardcoded 64 would
        # under non-ANSI element_at.
        return c.withColumn(
            "embedding",
            F.expr(
                f"transform(sequence(0, size(embedding) - 1), "
                f"j -> element_at(embedding, "
                f"((j + {i}) % size(embedding)) + 1))"
            ),
        )
    if name == "documents" and i > 0:
        # per-copy content salt on EVERY word: copies are corpora of
        # NEW documents (sf0.1's internal dup rate preserved —
        # within-copy duplicates stay duplicates), with
        # per-copy-DISJOINT shingle sets.  A tail-only suffix (the
        # round-8 ad-hoc build) left copies near-duplicates of each
        # other — shingles 99 % shared — which DENSIFIED the LSH graph
        # 66× per copy (2.83 M candidate edges vs 8×42.7 k ≈ 341 k
        # honest; measured round-9) instead of de-mirroring it.
        return c.withColumn(
            "text",
            F.expr(
                f"array_join(transform(split(text, ' '), "
                f"w -> concat(w, '{i}')), ' ')"
            ),
        )
    return c


def main(out_dir: str | None = None, copies: int = COPIES, honest: bool = False) -> None:
    from nfl26_bigdatabowl_prediction_spark.session import get_spark

    if out_dir is None:
        out_dir = "/tmp/nfl26_sf0.8x_honest" if honest else "/tmp/nfl26_sf0.8x"
    spark = get_spark(app_name="make-8x", shuffle_partitions=32)
    # RAW reads, not sources.io.table: the loader normalizes events.ts
    # to int64 epoch-MICROS, but its bigint branch on re-read assumes
    # epoch-NANOS (the driver's physical layout) — writing the raw
    # timestamp[us] column keeps the derivative on the same loader
    # path as /root/testdata (and matches the round-2 derivative).
    for name in COPY_ONCE:
        spark.read.parquet(f"{SRC}/{name}.parquet").write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, f"{name}.parquet"))
        print(f"{name}: copied 1x", flush=True)
    for name, offs in OFFSETS.items():
        base = spark.read.parquet(f"{SRC}/{name}.parquet")
        out = None
        for i in range(copies):
            c = base
            for col, step in offs.items():
                c = c.withColumn(col, (F.col(col) + F.lit(i * step)).cast("long"))
            if honest:
                c = _honest(name, c, i)
            out = c if out is None else out.unionByName(c)
        nfiles = max(1, FILES[name] * copies // COPIES)
        out.repartition(nfiles).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )
        written = spark.read.parquet(os.path.join(out_dir, f"{name}.parquet"))
        n = written.count()
        if name == "events":
            # q_ohlc's oracle encodes (ts, event_id) ordering as the
            # scalar ts*10^12 + event_id, which is lexicographic ONLY
            # while 0 <= event_id < 10^12 — enforce the precondition on
            # every derivative rather than documenting it (round-9
            # ADVICE: at some copy count the offset walk would cross
            # the bound silently and corrupt the oracle's tiebreak).
            lo, hi = written.agg(
                F.min("event_id"), F.max("event_id")
            ).first()
            assert 0 <= lo and hi < 10**12, (
                f"event_id domain [{lo}, {hi}] breaks the q_ohlc oracle "
                f"encoding precondition 0 <= event_id < 10^12"
            )
        if name == "documents":
            # q_dedup_canonical's oracle encodes its canonical pick as
            # (1e6 - score)*10^12 + doc_id, lexicographic ONLY while
            # 0 <= doc_id < 10^12 — same enforcement as event_id
            # (round-10 ADVICE: the text.py comment claimed this was
            # asserted by the derivative tooling; now it is).
            lo, hi = written.agg(F.min("doc_id"), F.max("doc_id")).first()
            assert 0 <= lo and hi < 10**12, (
                f"doc_id domain [{lo}, {hi}] breaks the q_dedup_canonical "
                f"oracle encoding precondition 0 <= doc_id < 10^12"
            )
        print(f"{name}: {n} rows x{copies}", flush=True)
    spark.stop()


if __name__ == "__main__":
    argv = sys.argv[1:]
    honest = "--honest" in argv
    args = [a for a in argv if a != "--honest"]
    main(
        args[0] if args else None,
        int(args[1]) if len(args) > 1 else COPIES,
        honest=honest,
    )

"""Exact distributed global ranking — range-partitioned positional
row numbering, the scale-correct replacement for an unpartitioned
``ROW_NUMBER()/NTILE()`` window.

An ``ORDER BY``-without-``PARTITION BY`` window moves the whole
relation to one partition (Spark's WindowExec warning); fine on a
bounded grid, fatal on a fact- or user-grain table at corpus scale.
The exact alternative used here:

1. ``repartitionByRange`` on the order key, then
   ``sortWithinPartitions`` on the same key (a distributed sort —
   Spark's range partitioner samples boundaries, but with a total
   order key the resulting RANK is boundary-invariant);
2. ``monotonically_increasing_id`` on the sorted rows, in the same
   stage as the sort: the id is ``(partition << 33) + position``, so
   its high bits are the range partition and its low 33 bits the
   0-based row number inside it — positional numbering, no window
   and no second shuffle;
3. a partition-count-sized offset table (one row per partition:
   how many rows sort before it), cumulated with a tiny window whose
   input is bounded by ``spark.sql.shuffle.partitions`` — the
   q_token_budget_trim two-level prefix-sum shape;
4. global rank = offset + local position + 1.

Steps 3 and 4 both read the numbered rows, so they are materialized
once with ``localCheckpoint``.  Unmaterialized, each consumer would
re-run the range exchange, and nothing guarantees the two runs sample
the same boundaries (the sampler is seeded per execution) or that AQE
coalesces them identically — diverging partition assignments between
the join sides would produce silently wrong ranks.  After the
checkpoint the id is plain column data held in the block manager, so
both branches see one assignment by construction, without a columnar
write and re-read of the sorted relation.  A local checkpoint has no
lineage to recompute from: if an executor holding a block is lost,
the next read fails the job with Spark's "Checkpoint block ... not
found" error instead of re-sampling boundaries and numbering a
different partitioning.  The id layout caps a partition at 2^33 rows.

The caller must pass a TOTAL order (append a unique tiebreak column)
— equal keys would otherwise make the position, and so the rank,
depend on the input order.

``ntile_from_rank`` reproduces SQL NTILE(k) exactly from (rank, n):
the first ``n % k`` buckets take ``n//k + 1`` rows.  All-integer
arithmetic on non-negative operands, so Spark's truncating ``div``
and DuckDB's flooring ``//`` agree.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

# monotonically_increasing_id's layout: partition index above bit 33
_POS_BITS = 33
# columns exact_global_rank writes next to the caller's
_INTERNAL = ("_pos", "_pid", "_off")


def exact_global_rank(
    df: DataFrame,
    *order: Column,
    rank_col: str = "rank",
    partitions: int | None = None,
) -> DataFrame:
    """Append ``rank_col`` = 1-based global row number under
    ``order`` (which must be a total order) without ever moving the
    relation to a single partition.

    Raises ``ValueError`` when ``df`` already has ``rank_col`` or one
    of the internal column names, which would otherwise be silently
    overwritten or dropped."""
    clash = [c for c in df.columns if c in (*_INTERNAL, rank_col)]
    if clash:
        raise ValueError(
            f"exact_global_rank input already has column(s) {clash}; "
            f"rename them before calling ({', '.join(_INTERNAL)} and "
            "rank_col are written by the ranking)"
        )
    parted = (
        df.repartitionByRange(partitions, *order)
        if partitions
        else df.repartitionByRange(*order)
    )
    numbered = (
        parted.sortWithinPartitions(*order)
        .withColumn("_pos", F.monotonically_increasing_id())
        .localCheckpoint()
        .withColumn("_pid", F.shiftright("_pos", _POS_BITS))
    )
    # one row per partition; the cumulative window input is bounded by
    # the shuffle-partition count (plan contract: bounded-domain
    # unpartitioned window, q_token_budget_trim precedent)
    offsets = (
        numbered.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_cnt").over(
                    W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_off")
    )
    local = F.col("_pos").bitwiseAND(F.lit((1 << _POS_BITS) - 1))
    return (
        numbered.join(F.broadcast(offsets), "_pid")
        .withColumn(rank_col, (F.col("_off") + local + 1).cast("bigint"))
        .drop(*_INTERNAL)
    )


def ntile_from_rank(rank: Column, n: Column, k: int) -> Column:
    """Exact SQL NTILE(k) bucket from a 1-based ``rank`` and the total
    row count ``n`` (both integral, non-negative)."""
    base = F.floor(n / F.lit(k)).cast("bigint")  # n // k  (non-negative)
    rem = (n % F.lit(k)).cast("bigint")  # n % k
    r0 = rank.cast("bigint") - 1
    big = rem * (base + 1)  # rows covered by the (base+1)-sized buckets
    return F.when(
        r0 < big, F.floor(r0 / (base + 1)).cast("bigint") + 1
    ).otherwise(
        rem + F.floor((r0 - big) / F.greatest(base, F.lit(1))).cast("bigint") + 1
    )

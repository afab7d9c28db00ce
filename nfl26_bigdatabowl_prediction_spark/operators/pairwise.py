"""Arrow-batched pairwise interaction kernel (SURVEY §2.9 U3).

The reference computes per-frame all-pairs features with a numpy
kernel over each (game, play, frame) group (nn-mps.py:321-426,
add.txt) — rows in ≠ rows out, the one honest grouped-map kernel in
the codebase.  Its Spark form here is
``repartition(bucket).sortWithinPartitions(bucket).mapInArrow``: one
hash exchange on the group key, then one Python generator per
partition that walks the bucket-sorted Arrow batches and runs the
numpy kernel once per bucket.  It is the *physical alternative* to
the relational self-join plan in plans/trajectory.py::q_pairwise.

Hash ``repartition(col)`` keeps every bucket inside one partition:
AQE coalesces its partitions but never splits them, unlike a
``rebalance`` partition.  A bucket cut by an Arrow batch boundary is
carried into the next batch, so the result does not depend on
``spark.sql.execution.arrow.maxRecordsPerBatch``.

When to prefer which (both are one shuffle on the group key):
* relational self-join — whole-stage codegen, no Python workers, and
  the optimizer can prune/push through it; the pair fanout
  materializes as rows (bounded: |group|² per group).  It is also the
  path for nullable input, which the kernel refuses.
* Arrow kernel — the fanout stays inside a |group|×|group| numpy
  matrix per bucket (never rows), so it wins when groups are wide
  (the reference's 22-player frames are 484-cell matrices) or when
  the per-pair math outgrows SQL.  Costs one Arrow transfer per
  partition and a Python worker per task; the per-group round trips
  of a grouped-map UDF are gone, which matters at this data's ~14-139
  rows per bucket.

The kernel reproduces the relational plan's exact arithmetic
(int64-scaled micro sums, HALF_UP rounding, packed-long argmin with
id tiebreak), so both implementations return bitwise-identical
DataFrames — tests/test_pairwise_kernel.py asserts it.  A NULL input
raises ``ValueError`` naming the column: numpy would pair
``None == None`` as allies where SQL ``NULL = NULL`` does not.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PAIRWISE_SCHEMA = (
    "event_id bigint, user_id bigint, n_pairs bigint, n_ally bigint, "
    "mean_dist_ally double, min_dist double, max_dist double, "
    "nearest_event_id bigint, nearest_value double"
)
_OUT_NAMES = [f.split()[0] for f in PAIRWISE_SCHEMA.split(", ")]

HOUR_US = 3_600_000_000

_INPUTS = ("user_id", "event_id", "value", "event_type", "bucket")


def _columns(batch: pa.RecordBatch) -> dict[str, np.ndarray]:
    """The kernel's input columns of ``batch`` as numpy arrays,
    refusing any NULL."""
    cols = {}
    for name in _INPUTS:
        col = batch.column(name)
        if col.null_count:
            source = "ts" if name == "bucket" else name  # bucket = ts div bucket_us
            raise ValueError(
                f"pairwise_features_grouped: column {source!r} has NULLs; "
                "the relational q_pairwise plan handles nullable input"
            )
        cols[name] = col.to_numpy(zero_copy_only=False)
    return cols


def _kernel(cols: dict[str, np.ndarray]) -> pa.RecordBatch:
    """Pairwise features of whole buckets: ``cols`` holds complete
    bucket segments, sorted by bucket."""
    bucket, ev_id, val = cols["bucket"], cols["event_id"], cols["value"]
    typ = np.unique(cols["event_type"], return_inverse=True)[1]
    n = len(bucket)
    starts = np.r_[0, np.flatnonzero(np.diff(bucket)) + 1]
    sizes = np.diff(np.r_[starts, n])
    n_pairs = np.repeat(sizes - 1, sizes).astype(np.int64)
    n_ally = np.zeros(n, np.int64)
    ally_micro_sum = np.zeros(n, np.int64)
    min_dist = np.zeros(n)
    max_dist = np.zeros(n)
    nearest = np.arange(n)
    for lo, size in zip(starts, sizes):
        if size < 2:
            continue
        hi = lo + size
        v = val[lo:hi]
        dist = np.abs(v[:, None] - v[None, :])  # |group|² matrix, never rows
        off_diag = ~np.eye(size, dtype=bool)
        ally = (typ[lo:hi, None] == typ[None, lo:hi]) & off_diag
        # HALF_UP integer micros, matching Spark's round(x * 1e6, 0)
        # (np.rint would round half-to-even)
        micros = np.floor(dist * 1_000_000.0 + 0.5).astype(np.int64)
        n_ally[lo:hi] = ally.sum(axis=1)
        ally_micro_sum[lo:hi] = np.where(ally, micros, 0).sum(axis=1)
        min_dist[lo:hi] = np.where(off_diag, dist, np.inf).min(axis=1)
        max_dist[lo:hi] = np.where(off_diag, dist, -np.inf).max(axis=1)
        # packed-long argmin: (dist_micros << 32) | neighbor id —
        # identical tiebreak to the relational plan and the DuckDB oracle.
        packed = np.where(
            off_diag, micros * 4_294_967_296 + ev_id[None, lo:hi], np.iinfo(np.int64).max
        )
        nearest[lo:hi] = lo + packed.argmin(axis=1)
    with np.errstate(invalid="ignore", divide="ignore"):
        mean_dist_ally = ally_micro_sum / n_ally / 1_000_000.0
    # Singleton buckets keep NULL stats and n_ally == 0 a NULL mean, as
    # the relational plan's left join and sum/NULLIF(n, 0) do.
    alone = n_pairs == 0
    return pa.RecordBatch.from_arrays(
        [
            pa.array(ev_id),
            pa.array(cols["user_id"]),
            pa.array(n_pairs),
            pa.array(n_ally),
            pa.array(mean_dist_ally, mask=n_ally == 0),
            pa.array(min_dist, mask=alone),
            pa.array(max_dist, mask=alone),
            pa.array(ev_id[nearest], mask=alone),
            pa.array(val[nearest], mask=alone),
        ],
        names=_OUT_NAMES,
    )


def _pairwise_batches(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """The kernel over one partition's batches, which must be sorted by
    bucket.  The trailing bucket of each batch may continue in the
    next one, so it is carried over and emitted once a later batch
    starts a new bucket (or the partition ends)."""
    carry = None
    for batch in batches:
        cols = _columns(batch)
        if carry is not None:
            cols = {k: np.concatenate([carry[k], v]) for k, v in cols.items()}
        bucket = cols["bucket"]
        if len(bucket) == 0:
            continue
        cut = int(np.searchsorted(bucket, bucket[-1]))
        if cut:
            yield _kernel({k: v[:cut] for k, v in cols.items()})
        carry = {k: v[cut:] for k, v in cols.items()}
    if carry is not None:
        yield _kernel(carry)


def pairwise_features_grouped(events: DataFrame, bucket_us: int = HOUR_US) -> DataFrame:
    """All-pairs interaction features per time bucket via one Arrow
    kernel call per partition — same output contract as
    plans/trajectory.py::q_pairwise (NULL stats for singleton groups).
    Raises (at execution) on a NULL in any input column."""
    ev = events.select(
        "user_id",
        "event_id",
        "value",
        "event_type",
        F.expr(f"ts div {bucket_us}").alias("bucket"),
    )
    return (
        ev.repartition("bucket")
        .sortWithinPartitions("bucket")
        .mapInArrow(_pairwise_batches, PAIRWISE_SCHEMA)
    )

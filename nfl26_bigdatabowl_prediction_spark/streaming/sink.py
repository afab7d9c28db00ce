"""Incremental materialized-view sink (foreachBatch).

The streaming face of the continuous-aggregate pattern
(plans/relational.py q_hypertable_rollup): each micro-batch appends
its PARTIAL hourly aggregates — never raw rows — to a parquet delta
log, and readers merge partials with sum-of-sums.  Counts and
integer-scaled sums re-aggregate losslessly, so the merged view is
bit-identical to the batch rollup over the same events.

Scale/fault-tolerance design:
* Append-only writes: no read-modify-write, so the sink never
  contends and object stores (S3/GCS) are first-class targets.
* Replay-safe: foreachBatch re-executes a batch after a failure.
  Each partial row carries its batch_id, and a replayed batch
  produces byte-identical partials, so the reader's DISTINCT
  collapses replays exactly — effectively-once without transactions.
  (batch_id in the key keeps legitimately identical partials from
  DIFFERENT batches apart.)
* Compaction: the delta log grows one tiny file set per trigger;
  a periodic job can fold old partials into one row per key (same
  sum-of-sums merge) without changing readers.
"""

from __future__ import annotations

from ..scratch import scratch_dir
from .run import _drain

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

HOUR_US = 3600 * 10**6


def write_hourly_partials(batch_df: DataFrame, batch_id: int, path: str) -> None:
    """One micro-batch → per-(hour, event_type) partial aggregates,
    appended with the batch id.  Called by foreachBatch; also callable
    directly (that is how the replay-idempotence test re-runs a
    batch)."""
    (
        batch_df.select(
            F.expr(f"ts div {HOUR_US}").alias("bucket"),
            "event_type",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("vc"),
        )
        .groupBy("bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("vc").alias("value_cents"),
        )
        .withColumn("batch_id", F.lit(batch_id).cast("long"))
        .write.mode("append")
        .parquet(path)
    )


def incremental_hourly_rollup(events: DataFrame, path: str) -> None:
    """Drain the events stream into the partial-aggregate delta log at
    ``path`` (Trigger.AvailableNow)."""
    _drain(
        events.writeStream.foreachBatch(
            lambda bdf, bid: write_hourly_partials(bdf, bid, path)
        ),
        scratch_dir("spark_ckpt_mv_"),
    )


def read_hourly_rollup(spark: SparkSession, path: str) -> DataFrame:
    """Merge the delta log into the current view: DISTINCT collapses
    replayed batches, sum-of-sums merges partials."""
    partials = spark.read.parquet(path).distinct()
    return partials.groupBy("bucket", "event_type").agg(
        F.sum("n_events").alias("n_events"),
        (F.sum("value_cents") / 100.0).alias("value_sum"),
    )


def compact_rollup(spark: SparkSession, src_path: str, dst_path: str) -> None:
    """Fold the delta log into ONE partial row per key (the periodic
    maintenance job the sink docstring promises).

    The same sum-of-sums merge readers apply, materialized: the folded
    row keeps the exact integer value_cents, so ``read_hourly_rollup``
    over the compacted log is bit-identical to the uncompacted view.
    Folded rows carry batch_id = -1 — a compaction epoch, disjoint
    from stream batch ids (which are >= 0), so later stream appends
    keep accumulating on top.  Production swaps dst for src atomically
    (table-format commit or directory rename).

    The streaming checkpoint only guarantees batches OLDER than the
    last trigger never replay — the most recent batch CAN replay after
    a crash.  So the fold excludes the max batch_id: that batch's
    partials are kept verbatim (still deduped by DISTINCT on replay),
    and only strictly-older partials are folded into the -1 epoch row.
    """
    partials = spark.read.parquet(src_path).distinct()
    max_bid = partials.agg(F.max("batch_id")).first()[0]
    foldable = partials.filter(F.col("batch_id") < F.lit(max_bid))
    keep = partials.filter(F.col("batch_id") >= F.lit(max_bid))
    folded = (
        foldable.groupBy("bucket", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_cents").alias("value_cents"),
        )
        .withColumn("batch_id", F.lit(-1).cast("long"))
    )
    (
        folded.unionByName(keep.select(*folded.columns))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(dst_path)
    )


def write_key_upserts(batch_df: DataFrame, batch_id: int, path: str) -> None:
    """One micro-batch → its per-key LATEST change row (the batch-local
    CDC winner), appended with the batch id.  Per-key global latest =
    latest among batch winners (each row lives in exactly one batch),
    so readers reconstruct the table from winners only — the delta log
    stays per-key-per-batch sized, never raw-row sized.  Replay-safe
    like write_hourly_partials: a replayed batch appends byte-identical
    winner rows and the reader's DISTINCT collapses them."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    (
        batch_df.select(
            "user_id",
            "ts",
            "event_id",
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            "value",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumn("batch_id", F.lit(batch_id).cast("long"))
        .write.mode("append")
        .parquet(path)
    )


def incremental_cdc_table(events: DataFrame, path: str) -> None:
    """Drain the events stream into the per-key upsert delta log at
    ``path`` (Trigger.AvailableNow) — the streaming MERGE INTO."""
    _drain(
        events.writeStream.foreachBatch(
            lambda bdf, bid: write_key_upserts(bdf, bid, path)
        ),
        scratch_dir("spark_ckpt_cdc_"),
    )


def read_cdc_table(spark: SparkSession, path: str) -> DataFrame:
    """Materialize the current table from the upsert log: DISTINCT
    collapses replayed batches, per-key latest (ts, event_id) wins,
    a trailing delete drops the key."""
    from pyspark.sql.window import Window as W

    partials = spark.read.parquet(path).distinct()
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        partials.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") == "U"))
        .select(
            "user_id",
            F.col("value").alias("value_current"),
            F.col("ts").alias("updated_us"),
        )
    )

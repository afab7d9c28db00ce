"""Run-to-completion helper for streaming pipelines.

``Trigger.AvailableNow`` drains everything currently in the source
and stops — the mechanism that makes a streaming pipeline's output
comparable to its batch twin (and therefore DuckDB-oracle-checkable
under the driver contract).

The memory sink is test-scale only (rows land on the driver); a
production job swaps in a parquet/kafka sink with the same plan.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..scratch import scratch_dir

DRAIN_TIMEOUT_S = 300
# run_two_phase's phase-2 rows: event_id % DELAYED_MOD == DELAYED_REM
DELAYED_MOD, DELAYED_REM = 10, 3


def _drain(writer: DataStreamWriter, ckpt: str) -> None:
    """Start ``writer`` as an AvailableNow query on checkpoint ``ckpt``
    and block until it has drained its source; stop it and raise if it
    is still running after DRAIN_TIMEOUT_S.  Every stream in the
    package starts here."""
    query = (
        writer.option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(DRAIN_TIMEOUT_S)
    if query.isActive:  # pragma: no cover - defensive
        query.stop()
        raise TimeoutError(f"stream on {ckpt} did not drain in {DRAIN_TIMEOUT_S}s")


def run_available_now(sdf: DataFrame, output_mode: str = "append") -> DataFrame:
    """Execute a streaming DataFrame until the source is drained;
    return the accumulated result as a batch DataFrame.

    ``complete`` mode re-emits full aggregation state at the end —
    use it for windowed aggregations so windows still inside the
    watermark horizon at end-of-stream are not withheld (append mode
    only releases a window once the watermark passes it, and a
    drained finite source never advances the watermark further).
    """
    name = "s" + uuid.uuid4().hex[:12]
    _drain(
        sdf.writeStream.format("memory").queryName(name).outputMode(output_mode),
        scratch_dir("spark_ckpt_"),
    )
    return sdf.sparkSession.table(name)


def _two_phase_parts(spark: SparkSession, sf_dir: str) -> tuple[str, object]:
    """Pristine (parts dir, schema) of the two phase files.

    The split is a pure function of the events file and ``event_id %
    DELAYED_MOD == DELAYED_REM``, but building it costs two Spark write
    jobs + a footer probe (~1 s) and the bench calls each
    two-phase query 4x, so it goes through the metadata memo.  The
    pristine files are never mutated (each run HARDLINKS them into its
    own scratch layout, so the mid-run rename that moves phase 2 into
    the source dir touches only the run's links) and live under the
    atexit-cleaned scratch root."""
    from ..sources.io import _memo, table

    def build() -> tuple[str, object]:
        base = table(spark, sf_dir, "events")  # ts normalized to int64 micros
        parts_dir = scratch_dir("spark_twophase_parts_")
        delayed = (F.col("event_id") % DELAYED_MOD) == DELAYED_REM
        for phase, pred in ((1, ~delayed), (2, delayed)):
            stage = os.path.join(parts_dir, f"stage{phase}")
            base.filter(pred).coalesce(1).write.mode("overwrite").parquet(stage)
            part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            shutil.copy(part, os.path.join(parts_dir, f"phase{phase}.parquet"))
            shutil.rmtree(stage)
        schema = spark.read.parquet(
            os.path.join(parts_dir, "phase1.parquet")
        ).schema
        return parts_dir, schema

    return _memo(
        [f"{sf_dir}/events.parquet"],
        ("two_phase", DELAYED_MOD, DELAYED_REM),
        build,
    )


def run_two_phase(
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[DataFrame], DataFrame],
    output_mode: str = "append",
) -> DataFrame:
    """Late-data harness: drain the events table in TWO AvailableNow
    runs sharing one checkpoint — an on-time file first (phase 1),
    then a delayed file (``event_id % DELAYED_MOD == DELAYED_REM``,
    phase 2) whose rows mostly lie BEHIND the event-time watermark the
    checkpoint carried over from phase 1.

    This is the deterministic local stand-in for a real ingest
    directory receiving out-of-order drops: the watermark persists in
    the checkpoint between runs, so the second drain exercises exactly
    the late-data path (row-level drops for stateful ops, window-end
    drops for aggregations).  Each emitted micro-batch is accumulated
    through ``foreachBatch`` into a parquet sink (the memory sink
    cannot resume a checkpoint) with a ``phase`` tag, and the
    accumulated emissions are returned as a batch DataFrame — in
    update mode that is the per-phase CHANGELOG, the thing a
    downstream upsert sink would consume.
    """
    parts_dir, schema = _two_phase_parts(spark, sf_dir)
    root = scratch_dir("spark_twophase_")
    src = os.path.join(root, "src")
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src)
    # hardlink the memoized phase files into this run's layout:
    # phase 2 parks OUTSIDE the source dir until drain 1 finishes
    os.link(
        os.path.join(parts_dir, "phase1.parquet"),
        os.path.join(src, "phase1.parquet"),
    )
    os.link(
        os.path.join(parts_dir, "phase2.parquet"),
        os.path.join(root, "phase2.parquet"),
    )
    # Both drains execute on ONE stream-scoped twin session (state
    # partition count is pinned in the shared checkpoint at drain 1,
    # so drain 2 must see the same conf) — see source.stream_exec_session.
    from .source import stream_exec_session

    stream_spark = stream_exec_session(spark)
    for phase in (1, 2):
        if phase == 2:
            os.rename(
                os.path.join(root, "phase2.parquet"),
                os.path.join(src, "phase2.parquet"),
            )
        stream = (
            stream_spark.readStream.schema(schema)
            .parquet(src)
            .withColumn("event_time", F.timestamp_micros(F.col("ts")))
        )
        # the sink runs inside this phase's drain, so it reads this
        # iteration's ``phase``
        _drain(
            build(stream)
            .writeStream.foreachBatch(
                lambda bdf, _bid: bdf.withColumn(
                    "phase", F.lit(phase).cast("long")
                ).write.mode("append").parquet(out)
            )
            .outputMode(output_mode),
            ckpt,
        )
    return spark.read.parquet(out)

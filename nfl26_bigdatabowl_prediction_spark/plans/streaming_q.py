"""Structured Streaming queries under the driver contract (SURVEY §2.8).

The reference has no streaming (pure batch, main_cuda.py:125-138);
these queries are the engine's streaming extension, judged by the
strongest check available: run the *streaming* pipeline to completion
with Trigger.AvailableNow and hash-compare against a DuckDB batch
oracle.  Structured Streaming's incrementalized-batch semantics make
the two answers identical — that equivalence is exactly what these
queries verify.

Session gap / EWM recurrence oracles are plain SQL (lag-flag-cumsum
sessionization; recursive-CTE recurrence), so even the stateful
operators get full value-hash checks, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..streaming import (
    events_stream,
    run_available_now,
    session_windows,
    sliding_value_stats,
    stream_static_enrich,
    stream_stream_interval_join,
    streaming_ewm,
    tumbling_counts,
)
from ..streaming.pipelines import GAP_US, HORIZON_US, SLIDE_US, WM_US
from ..streaming.stateful import _FUNNEL_GAP_US
from .registry import registrar

QUERIES: dict = {}
ORACLES: dict = {}
q = registrar(QUERIES, ORACLES)


# --------------------------------------------------------------------------
# Streaming tumbling-window aggregation (watermarked).  Hour windows
# align to the epoch ⇒ oracle is date_trunc('hour').  Complete mode:
# a drained finite source never advances the watermark past the tail
# windows, so append would withhold them.
# --------------------------------------------------------------------------
@q(
    "q_stream_tumbling",
    """
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
           event_type,
           COUNT(*) AS n_events,
           SUM(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    return run_available_now(tumbling_counts(ev), output_mode="complete")


# --------------------------------------------------------------------------
# Streaming session windows per user (gap 30 min).  Oracle: lag-flag-
# cumsum sessionization — new session iff the gap to the previous
# event is ≥ 30 min, matching session_window's merge rule (an event
# extends a session only while strictly inside prev_end = prev + gap).
# Sessions are identified by their start time, not ordinal.
# --------------------------------------------------------------------------
@q(
    "q_stream_session",
    f"""
    WITH base AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
    ), flagged AS (
        SELECT *, CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
                            >= {GAP_US} THEN 1 ELSE 0 END AS new_sess
        FROM base
    ), sess AS (
        SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM flagged
    )
    SELECT user_id, MIN(ts_us) AS sess_start_us, COUNT(*) AS n_events,
           SUM(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS value_sum
    FROM sess GROUP BY user_id, sess_id
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    return run_available_now(session_windows(ev), output_mode="complete")


# --------------------------------------------------------------------------
# Stateful streaming EWM (applyInPandasWithState) — same recurrence,
# same literals as batch q_ewm ⇒ bitwise-equal to the recursive-CTE
# oracle when the stream is drained in event order.
# --------------------------------------------------------------------------
@q(
    "q_stream_ewm",
    """
    WITH RECURSIVE base AS (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
        FROM events
    ), ewm_rec AS (
        SELECT user_id, event_id, rn, value, value AS ewm03
        FROM base WHERE rn = 1
        UNION ALL
        SELECT b.user_id, b.event_id, b.rn, b.value,
               0.3 * b.value + 0.7 * e.ewm03
        FROM base b JOIN ewm_rec e ON b.user_id = e.user_id AND b.rn = e.rn + 1
    )
    SELECT user_id, event_id, value, ewm03 FROM ewm_rec
    """,
)
def q_stream_ewm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    return run_available_now(streaming_ewm(ev), output_mode="append")


# --------------------------------------------------------------------------
# Streaming sliding windows (1 h width, 30 min slide): every event
# lands in exactly width/slide = 2 overlapping epoch-aligned windows.
# Oracle: explode each event to its two window starts and group —
# the deterministic batch meaning of a slide.
# --------------------------------------------------------------------------
@q(
    "q_stream_sliding",
    f"""
    WITH ev AS (
        SELECT epoch_us(ts) AS t, value FROM events
    ), wins AS (
        SELECT unnest([(t // {SLIDE_US}) * {SLIDE_US},
                       (t // {SLIDE_US}) * {SLIDE_US} - {SLIDE_US}]) AS window_start_us,
               value
        FROM ev
    )
    SELECT window_start_us,
           COUNT(*) AS n_events,
           SUM(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS value_sum,
           MIN(value) AS value_min,
           MAX(value) AS value_max
    FROM wins
    GROUP BY window_start_us
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    return run_available_now(sliding_value_stats(ev), output_mode="complete")


# --------------------------------------------------------------------------
# Streaming exact dedup with bounded state: distinct (user_id,
# event_type) keys via dropDuplicatesWithinWatermark.  Only the key
# columns are returned — first-seen-wins payloads depend on arrival
# order, the key set itself does not.  Append-mode dedup emits only on
# data arrival, so the drain skips the trailing no-data batch (as
# q_stream_join does; pinned by tests/test_streaming.py).
# --------------------------------------------------------------------------
@q(
    "q_stream_dedup",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import dedup_within_watermark

    ev = events_stream(spark, sf_dir, no_data_batches=False)
    deduped = dedup_within_watermark(ev)
    return run_available_now(
        deduped.select("user_id", "event_type"), output_mode="append"
    )


# --------------------------------------------------------------------------
# Watermarked stream-stream interval join (conversion funnel): each
# click pairs with the same user's purchases landing within 1 hour
# after it.  Inner joins emit matches as both rows arrive, so the
# drained stream equals the batch interval join — the oracle below.
# State is bounded: the time-range join condition + both watermarks
# let each side evict rows the other side can no longer match.
# --------------------------------------------------------------------------
@q(
    "q_stream_join",
    f"""
    SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND epoch_us(b.ts) > epoch_us(a.ts)
     AND epoch_us(b.ts) <= epoch_us(a.ts) + {HORIZON_US}
    """,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no_data_batches=False: after the data batch drains, the default
    # conf runs ONE more empty micro-batch purely to let the join evict
    # state behind the advanced watermark (verified: commits [0, 1] vs
    # [0]).  An INNER interval join emits only on data arrival, so that
    # batch can never add an output row — skipping it is result-
    # identical (oracle-checked) and removes a full plan+state+commit
    # cycle.  The left-outer twin below MUST keep the default: its
    # eviction batch is what emits the null-padded rows.  Round-11
    # interleaved A/B (3 reps, min per arm): 2.96 s -> 2.25 s.  The
    # batch count is pinned by tests/test_streaming.py.
    ev = events_stream(spark, sf_dir, no_data_batches=False)
    return run_available_now(stream_stream_interval_join(ev), output_mode="append")


# --------------------------------------------------------------------------
# Stream-static broadcast enrichment: the feature-lookup pattern —
# live events joined to a batch-computed per-user dimension (exact
# integer-cent mean so stream and oracle agree bitwise).  Stateless:
# no watermark, no state store; the stream side never shuffles.
# --------------------------------------------------------------------------
@q(
    "q_stream_static_join",
    """
    WITH stats AS (
        SELECT user_id,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) AS user_mean_cents
        FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, e.event_type, e.value,
           s.user_mean_cents,
           CAST(round(e.value * 100, 0) AS BIGINT) - s.user_mean_cents AS dev_cents
    FROM events e JOIN stats s ON e.user_id = s.user_id
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.io import table

    static = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            (
                F.sum(F.round(F.col("value") * 100.0, 0).cast("bigint")).cast("double")
                / F.count(F.lit(1))
            ).alias("user_mean_cents")
        )
    )
    ev = events_stream(spark, sf_dir)
    return run_available_now(stream_static_enrich(ev, static), output_mode="append")


# --------------------------------------------------------------------------
# Incremental materialized view (foreachBatch sink): each micro-batch
# appends per-hour PARTIAL aggregates to a parquet delta log; the
# reader merges with DISTINCT (collapses replayed batches) +
# sum-of-sums.  The streaming face of q_hypertable_rollup — counts and
# integer-scaled sums re-aggregate losslessly, so the merged view is
# bit-identical to the batch hourly rollup the oracle computes.
# --------------------------------------------------------------------------
@q(
    "q_stream_mv_rollup",
    """
    SELECT epoch_us(ts) // 3600000000 AS bucket, event_type,
           COUNT(*) AS n_events,
           SUM(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS value_sum
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_mv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scratch import scratch_dir
    from ..streaming import incremental_hourly_rollup, read_hourly_rollup

    path = scratch_dir("mv_rollup_") + "/log"
    incremental_hourly_rollup(events_stream(spark, sf_dir), path)
    return read_hourly_rollup(spark, path)


# --------------------------------------------------------------------------
# Managed per-key state (applyInPandasWithState): per-user running
# stats with one (count, max, cents) state tuple.  Update mode emits
# one row per key per micro-batch; the final emission per key (the
# row with the largest running count — count is monotone) must equal
# the batch groupBy, which is the oracle.  The final-row selection is
# itself a WindowGroupLimit.
# --------------------------------------------------------------------------
@q(
    "q_stream_running_stats",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           MAX(value) AS value_max,
           SUM(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS value_sum
    FROM events GROUP BY user_id
    """,
)
def q_stream_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from ..streaming import streaming_running_stats

    ev = events_stream(spark, sf_dir)
    updates = run_available_now(
        streaming_running_stats(ev), output_mode="update"
    )
    wr = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        updates.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# --------------------------------------------------------------------------
# Stream-stream LEFT OUTER interval join — the delivery-semantics twin
# of q_stream_join: matches emit immediately, but a null-padded row
# for an unmatched click emits only when state eviction PROVES no
# purchase can still arrive — i.e. once the global watermark passes
# click_ts + horizon.  The global watermark is the MIN across both
# watermark operators (each side's max event_time − delay), so on a
# drained source the tail's unmatched clicks stay withheld forever.
# The oracle encodes exactly that cutoff: batch left join, unmatched
# rows kept only when click_ts + horizon < least(max click ts,
# max purchase ts) − delay.  This is the one streaming query whose
# answer is deliberately NOT the batch answer — it value-hashes the
# watermark semantics themselves.
# --------------------------------------------------------------------------
@q(
    "q_stream_join_left",
    f"""
    WITH mx AS (
        SELECT MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS lm,
               MAX(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS rm
        FROM events
    )
    SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id
     AND epoch_us(b.ts) > epoch_us(a.ts)
     AND epoch_us(b.ts) <= epoch_us(a.ts) + {HORIZON_US}
    WHERE b.event_id IS NOT NULL
       OR epoch_us(a.ts) + {HORIZON_US} <
          (SELECT least(lm, rm) - {WM_US} FROM mx)
    """,
)
def q_stream_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    return run_available_now(
        stream_stream_interval_join(ev, join_type="leftOuter"), output_mode="append"
    )


# --------------------------------------------------------------------------
# Streaming CDC upsert (foreachBatch MERGE): each micro-batch appends
# its per-key latest change row to a delta log; the reader
# reconstructs the current table (latest wins, trailing delete drops
# the key).  The streaming face of q_cdc_apply / q_merge_upsert —
# per-key global latest equals latest-among-batch-winners, so the
# materialized table is bit-identical to the batch CDC apply the
# oracle computes.  Replay-idempotent like the rollup MV (DISTINCT
# over byte-identical replayed winners).
# --------------------------------------------------------------------------
@q(
    "q_stream_cdc_upsert",
    """
    WITH ranked AS (
        SELECT user_id, value, epoch_us(ts) AS ts_us,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(ts) DESC, event_id DESC
               ) AS rn
        FROM events
    )
    SELECT user_id, value AS value_current, ts_us AS updated_us
    FROM ranked WHERE rn = 1 AND op = 'U'
    """,
)
def q_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scratch import scratch_dir
    from ..streaming import incremental_cdc_table, read_cdc_table

    path = scratch_dir("cdc_upsert_") + "/log"
    incremental_cdc_table(events_stream(spark, sf_dir), path)
    return read_cdc_table(spark, path)


# --------------------------------------------------------------------------
# Python STREAMING data source (Spark 4 SimpleDataSourceStreamReader)
# — the custom-connector face of §2.8: a pure-Python source serving
# deterministic offset-tracked batches, drained by TWO availableNow
# runs sharing one checkpoint.  The second run resumes from the
# committed offset (no re-read, no overlap) — checkpointed
# exactly-once across restarts, which is the property the two-run
# shape exists to prove.  readBetweenOffsets serves replay after a
# failure.  Oracle: the closed-form aggregate over the full emitted
# range.
# --------------------------------------------------------------------------
@q(
    "q_stream_python_source",
    """
    SELECT CAST(range % 7 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM((range * 31) % 1000) AS BIGINT) AS payload_sum
    FROM range(0, 2000) GROUP BY 1
    """,
)
def q_stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from ..scratch import scratch_dir
    from ..sources.python_ds import ensure_python_sources

    # Source class lives in sources/python_ds.py; registration is
    # once-per-session + locked there (the round-6/7 suite race fix).
    # This is the ONE streaming query pinned to the PARENT session:
    # Python data sources cannot be resolved from a newSession() twin
    # in Spark 4.1 (lookup is bound to the registering session while
    # the duplicate check is shared — measured round 11: registering
    # on the twin raises DATA_SOURCE_ALREADY_EXISTS, loading raises
    # DATA_SOURCE_NOT_FOUND, in either registration order), so the
    # twin's right-sized state partitioning is unavailable here.
    # Instead the parent's shuffle-partition conf is set to the
    # streaming family's state sizing around the two drains and
    # restored after (round-11 optimization: the batch-sized count
    # made every micro-batch commit one state-store delta per core
    # for a 7-key aggregate — pure fixed overhead, guide §2).  The
    # mutation is RESULT-safe for any concurrently planned query:
    # every registered query's output is partition-count invariant
    # by construction (the driver itself re-runs the bench at a
    # lower core count), and the stream pins its own count in the
    # checkpoint at drain 1 regardless.  It pays at local[32]: without
    # it the query's median over 5 interleaved bench runs went 5.39 s
    # -> 7.73 s on 4 cores (the A/B is in CHANGES.md).
    from ..streaming.run import _drain
    from ..streaming.source import STREAM_SHUFFLE_PARTITIONS

    ensure_python_sources(spark)
    name = "s" + uuid.uuid4().hex[:12]
    ckpt = scratch_dir("spark_ckpt_pysrc_")
    writer = (
        spark.readStream.format("synth_stream")
        .load()
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("payload").cast("bigint").alias("payload_sum"),
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
    )
    saved_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS)
        )
        for _ in range(2):  # restart from the SAME checkpoint: offset resume
            # The source's planner runs in a DRIVER-SIDE Python worker
            # whose spawn-and-connect-back deadline is a hardcoded 10 s
            # (PythonWorkerFactory.PROCESS_WAIT_TIMEOUT_MS); under a
            # saturated host (the 12-thread oracle pool) the fork can
            # miss it and the stream dies at INITIALIZING with "Python
            # worker failed to connect back" — zero offsets committed,
            # nothing partial.  That is a transient infra failure, same
            # class as a shuffle-fetch failure, so it gets the same
            # treatment: a bounded retry.  Anything else re-raises.
            for attempt in range(3):
                try:
                    _drain(writer, ckpt)
                except StreamingQueryException as ex:
                    if "failed to connect back" in str(ex) and attempt < 2:
                        continue
                    raise
                break
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved_parts)
    return spark.table(name).select(
        F.col("bucket").cast("bigint").alias("bucket"), "n", "payload_sum"
    )


# --------------------------------------------------------------------------
# Streaming stateful funnel — the q_window_funnel semantics (view →
# click → purchase, 1 h per-hop bound, earliest completion) as an
# applyInPandasWithState machine: per-user (t1, t2, t3) progress
# state, one output row per stage ADVANCE — so the accumulated
# append output is micro-batch-split-invariant.  The oracle is the
# batch chained-argmin form: first view, first in-window click after
# it, first in-window purchase after that, each with its event id.
# --------------------------------------------------------------------------


@q(
    "q_stream_funnel",
    f"""
    WITH v AS (
        SELECT user_id, event_id, ts_us FROM (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id) AS rn
            FROM events WHERE event_type = 'view') WHERE rn = 1
    ), c AS (
        SELECT user_id, event_id, ts_us FROM (
            SELECT e.user_id, e.event_id, epoch_us(e.ts) AS ts_us,
                   ROW_NUMBER() OVER (PARTITION BY e.user_id
                                      ORDER BY epoch_us(e.ts), e.event_id) AS rn
            FROM events e JOIN v ON v.user_id = e.user_id
            WHERE e.event_type = 'click'
              AND epoch_us(e.ts) > v.ts_us
              AND epoch_us(e.ts) <= v.ts_us + {_FUNNEL_GAP_US}) WHERE rn = 1
    ), p AS (
        SELECT user_id, event_id, ts_us FROM (
            SELECT e.user_id, e.event_id, epoch_us(e.ts) AS ts_us,
                   ROW_NUMBER() OVER (PARTITION BY e.user_id
                                      ORDER BY epoch_us(e.ts), e.event_id) AS rn
            FROM events e JOIN c ON c.user_id = e.user_id
            WHERE e.event_type = 'purchase'
              AND epoch_us(e.ts) > c.ts_us
              AND epoch_us(e.ts) <= c.ts_us + {_FUNNEL_GAP_US}) WHERE rn = 1
    )
    SELECT user_id, event_id, CAST(1 AS BIGINT) AS stage, ts_us FROM v
    UNION ALL
    SELECT user_id, event_id, CAST(2 AS BIGINT), ts_us FROM c
    UNION ALL
    SELECT user_id, event_id, CAST(3 AS BIGINT), ts_us FROM p
    """,
)
def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import streaming_funnel

    ev = events_stream(spark, sf_dir)
    return run_available_now(streaming_funnel(ev), output_mode="append")


# --------------------------------------------------------------------------
# LATE-DATA / WATERMARK semantics (round-6 batch) — the one streaming
# axis the §2.8 suite had not oracle-encoded.  All three queries use
# MEASURED Spark 4.1 boundaries (tests in git history /tmp probes,
# re-verified by the oracle differential):
#   * watermark_ms = floor(max_event_time_us/1000) − delay_ms,
#     checkpoint-persisted between AvailableNow drains;
#   * a stateful-op input row survives iff ts_us > watermark_ms·1000
#     (STRICT — a row exactly at the watermark is dropped);
#   * a windowed-agg row survives iff its window END (ms) is strictly
#     above the watermark — row ts is irrelevant, so with a 2 h window
#     and 1 h delay the "late but in-an-open-window" case is real;
#   * an event-time timeout fires iff its timestamp (ms) is STRICTLY
#     below the watermark.
# The two-phase harness (streaming/run.py::run_two_phase) makes the
# batch split deterministic: phase 2 = event_id % 10 == 3, parked
# outside the source dir until the phase-1 drain checkpoints its
# watermark.  At scale this is an ingest directory receiving an
# out-of-order backfill drop — the exact situation watermarks exist
# to bound.
# --------------------------------------------------------------------------
@q(
    "q_stream_tumbling_late",
    """
    WITH evs AS (
        SELECT event_id, epoch_us(ts) AS ts_us, value,
               CASE WHEN event_id % 10 = 3 THEN 2 ELSE 1 END AS ph
        FROM events
    ), wm AS (
        SELECT ((MAX(ts_us) // 1000) - 3600000) * 1000 AS wm_us
        FROM evs WHERE ph = 1
    ), p1 AS (
        SELECT (ts_us // 7200000000) * 7200000000 AS window_start_us,
               COUNT(*) AS n1,
               SUM(CAST(round(value * 100, 0) AS BIGINT)) AS c1
        FROM evs WHERE ph = 1 GROUP BY 1
    ), p2 AS (
        SELECT (e.ts_us // 7200000000) * 7200000000 AS window_start_us,
               COUNT(*) AS n2,
               SUM(CAST(round(e.value * 100, 0) AS BIGINT)) AS c2
        FROM evs e, wm
        WHERE e.ph = 2
          AND (e.ts_us // 7200000000) * 7200000000 + 7200000000 > wm.wm_us
        GROUP BY 1
    )
    SELECT window_start_us, CAST(n1 AS BIGINT) AS n_events,
           CAST(c1 AS BIGINT) / 100.0 AS value_sum,
           CAST(1 AS BIGINT) AS phase
    FROM p1
    UNION ALL
    SELECT s.window_start_us, CAST(s.n2 + COALESCE(p1.n1, 0) AS BIGINT),
           CAST(s.c2 + COALESCE(p1.c1, 0) AS BIGINT) / 100.0,
           CAST(2 AS BIGINT)
    FROM p2 s LEFT JOIN p1 USING (window_start_us)
    """,
)
def q_stream_tumbling_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2 h tumbling totals over the two-phase (late backfill) drop in
    update mode: the returned rows are the accumulated CHANGELOG —
    each phase-1 window once, plus a cumulative re-emission for every
    window a surviving phase-2 row touched.  Phase-2 rows whose
    window closed at-or-below the checkpointed watermark are dropped;
    rows behind the watermark but inside a still-open 2 h window are
    counted (the measured window-END rule)."""
    from ..streaming import run_two_phase, tumbling_totals

    return run_two_phase(
        spark, sf_dir, tumbling_totals, output_mode="update"
    )


@q(
    "q_stream_funnel_late",
    f"""
    WITH evs AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
               CASE WHEN event_id % 10 = 3 THEN 2 ELSE 1 END AS ph
        FROM events
    ), v AS (
        SELECT user_id, event_id, ts_us, ph FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                         ORDER BY ph, ts_us, event_id) AS rn
            FROM evs WHERE event_type = 'view') WHERE rn = 1
    ), c AS (
        SELECT user_id, event_id, ts_us, ph FROM (
            SELECT e.user_id, e.event_id, e.ts_us, e.ph,
                   ROW_NUMBER() OVER (PARTITION BY e.user_id
                                      ORDER BY e.ph, e.ts_us, e.event_id) AS rn
            FROM evs e JOIN v ON v.user_id = e.user_id
            WHERE e.event_type = 'click' AND e.ph >= v.ph
              AND e.ts_us > v.ts_us
              AND e.ts_us <= v.ts_us + {_FUNNEL_GAP_US}) WHERE rn = 1
    ), p AS (
        SELECT user_id, event_id, ts_us, ph FROM (
            SELECT e.user_id, e.event_id, e.ts_us, e.ph,
                   ROW_NUMBER() OVER (PARTITION BY e.user_id
                                      ORDER BY e.ph, e.ts_us, e.event_id) AS rn
            FROM evs e JOIN c ON c.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND e.ph >= c.ph
              AND e.ts_us > c.ts_us
              AND e.ts_us <= c.ts_us + {_FUNNEL_GAP_US}) WHERE rn = 1
    )
    SELECT user_id, event_id, CAST(1 AS BIGINT) AS stage, ts_us,
           CAST(ph AS BIGINT) AS phase FROM v
    UNION ALL
    SELECT user_id, event_id, CAST(2 AS BIGINT), ts_us, CAST(ph AS BIGINT) FROM c
    UNION ALL
    SELECT user_id, event_id, CAST(3 AS BIGINT), ts_us, CAST(ph AS BIGINT) FROM p
    """,
)
def q_stream_funnel_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel over the two-phase drop with a 1 h watermark.  Measured
    Spark 4.1 boundary, CORRECTED by the round-8 8x differential: the
    stateful-op row filter uses a LAGGED watermark, so the FIRST batch
    of a resumed run absorbs EVERY late row (numRowsDroppedByWatermark
    = 0 in the phase-2 drain; drops only begin once the watermark
    advances WITHIN a run — the round-6 oracle's behind-watermark
    exclusion matched sf0.01 by vacuity and diverged at 8x, where 6
    users per sf0.1-copy have a delayed click inside an on-time
    view's gap).  Delayed events are processed AFTER every phase-1
    event regardless of their event time; the oracle encodes exactly
    that processing order as a composite (phase, ts, id) argmin — a
    stage advances on the first QUALIFYING event in processing order,
    where a qualifier must carry phase >= the phase of the stage it
    chains from (an on-time click can never fire for a late view)."""
    from ..streaming import run_two_phase, streaming_funnel_late

    return run_two_phase(
        spark, sf_dir, streaming_funnel_late, output_mode="append"
    )


@q(
    "q_stream_funnel_ttl",
    f"""
    WITH v AS (
        SELECT user_id, event_id, ts_us FROM (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id) AS rn
            FROM events WHERE event_type = 'view') WHERE rn = 1
    ), c AS (
        SELECT user_id, event_id, ts_us FROM (
            SELECT e.user_id, e.event_id, epoch_us(e.ts) AS ts_us,
                   ROW_NUMBER() OVER (PARTITION BY e.user_id
                                      ORDER BY epoch_us(e.ts), e.event_id) AS rn
            FROM events e JOIN v ON v.user_id = e.user_id
            WHERE e.event_type = 'click'
              AND epoch_us(e.ts) > v.ts_us
              AND epoch_us(e.ts) <= v.ts_us + {_FUNNEL_GAP_US}) WHERE rn = 1
    ), p AS (
        SELECT user_id, event_id, ts_us FROM (
            SELECT e.user_id, e.event_id, epoch_us(e.ts) AS ts_us,
                   ROW_NUMBER() OVER (PARTITION BY e.user_id
                                      ORDER BY epoch_us(e.ts), e.event_id) AS rn
            FROM events e JOIN c ON c.user_id = e.user_id
            WHERE e.event_type = 'purchase'
              AND epoch_us(e.ts) > c.ts_us
              AND epoch_us(e.ts) <= c.ts_us + {_FUNNEL_GAP_US}) WHERE rn = 1
    ), wm AS (
        SELECT (MAX(epoch_us(ts)) // 1000) - 3600000 AS wm_ms FROM events
    ), expired AS (
        SELECT v.user_id, COALESCE(c.ts_us, v.ts_us) AS last_adv
        FROM v LEFT JOIN c ON c.user_id = v.user_id
               LEFT JOIN p ON p.user_id = v.user_id
        WHERE p.user_id IS NULL
    )
    SELECT user_id, event_id, CAST(1 AS BIGINT) AS stage, ts_us FROM v
    UNION ALL
    SELECT user_id, event_id, CAST(2 AS BIGINT), ts_us FROM c
    UNION ALL
    SELECT user_id, event_id, CAST(3 AS BIGINT), ts_us FROM p
    UNION ALL
    SELECT e.user_id, CAST(NULL AS BIGINT), CAST(0 AS BIGINT), e.last_adv
    FROM expired e, wm
    WHERE (e.last_adv + {_FUNNEL_GAP_US}) // 1000 < wm.wm_ms
    """,
)
def q_stream_funnel_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel with event-time state EVICTION: an incomplete funnel
    whose last stage advance is more than the 1 h gap behind the
    end-of-stream watermark emits one expiry row (stage 0, NULL
    event_id, ts = last advance) and drops its state — fired by the
    trailing AvailableNow batch that advances the watermark after the
    data batch commits (measured: a timeout fires iff its ms
    timestamp is STRICTLY below the watermark).  At scale this is
    what bounds funnel state: |state| tracks only users active within
    the horizon, not all users ever seen."""
    from ..streaming import streaming_funnel_ttl

    ev = events_stream(spark, sf_dir)
    return run_available_now(streaming_funnel_ttl(ev), output_mode="append")


# --------------------------------------------------------------------------
# Dynamic-gap session windows (Spark 3.2+ session_window with a
# per-event gap expression): a purchase keeps the session alive 2 h,
# anything else 30 min — the "checkout grace period" shape real
# product analytics use.  Oracle: half-open interval union in event
# order — new session iff ts >= running MAX of every earlier event's
# ts+gap (plain cummax window; the static-gap q_stream_session is the
# special case where the cummax degenerates to the previous event).
# --------------------------------------------------------------------------
@q(
    "q_stream_session_dynamic",
    """
    WITH base AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
               CASE WHEN event_type = 'purchase' THEN 7200000000
                    ELSE 1800000000 END AS gap_us
        FROM events
    ), m AS (
        SELECT *, MAX(ts_us + gap_us) OVER (PARTITION BY user_id
                      ORDER BY ts_us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS prev_end
        FROM base
    ), flagged AS (
        SELECT *, CASE WHEN prev_end IS NULL OR ts_us >= prev_end
                       THEN 1 ELSE 0 END AS new_sess
        FROM m
    ), sess AS (
        SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
                      ORDER BY ts_us, event_id
                      ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM flagged
    )
    SELECT user_id, MIN(ts_us) AS sess_start_us, COUNT(*) AS n_events,
           SUM(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS value_sum
    FROM sess GROUP BY user_id, sess_id
    """,
)
def q_stream_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import session_windows_dynamic

    ev = events_stream(spark, sf_dir)
    return run_available_now(session_windows_dynamic(ev), output_mode="complete")

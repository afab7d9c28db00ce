"""Event-time windowed streaming pipelines (SURVEY.md §2.8).

Batch analogs live in ``plans/events_windows.py`` (same integer-cent
scaling so stream and oracle agree bitwise).  Each function takes the
(possibly streaming) events DataFrame from ``source.events_stream``
and returns a transformed streaming DataFrame — callers choose sink,
trigger, and output mode (``run.run_available_now`` for tests).

Scale notes:
- Watermarks bound state: a window's state is dropped once the
  watermark passes its end, so long-running jobs don't accumulate.
- Aggregation state is keyed by (window, grouping keys) and lives in
  the state store, partitioned by key hash — the same shuffle key a
  batch groupBy would use, so skew behavior matches batch.
- ``dropDuplicatesWithinWatermark`` keeps only in-horizon keys —
  exact streaming dedup with bounded memory (the streaming face of
  the dedup suite in plans/text.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import cents as _cents

# The window constants, each interval string next to its value in
# micros (the oracle SQL in plans/streaming_q.py reads the micros).
_MIN_US = 60 * 1_000_000
WATERMARK = "1 hour"  # every watermarked window, dedup and funnel
SESSION_GAP, GAP_US = "30 minutes", 30 * _MIN_US
SLIDE, SLIDE_US = "30 minutes", 30 * _MIN_US
HORIZON, HORIZON_US = "1 hour", 60 * _MIN_US  # interval-join bound
JOIN_WATERMARK, WM_US = "2 hours", 120 * _MIN_US
DEDUP_KEYS = ["user_id", "event_type"]


def _windowed(
    events: DataFrame, window: Column, keys: list[str], start: str, *extra: Column
) -> DataFrame:
    """The one windowed aggregate: watermark → group by (window, keys)
    → count + exact cents sum (+ ``extra`` aggregates), with the
    window start in micros as ``start``.  Columns: ``start``, keys,
    n_events, value_sum, extras."""
    agged = (
        events.withWatermark("event_time", WATERMARK)
        .groupBy(window.alias("win"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(_cents(F.col("value"))) / 100.0).alias("value_sum"),
            *extra,
        )
    )
    return agged.select(
        F.unix_micros(F.col("win.start")).alias(start), *agged.columns[1:]
    )


def tumbling_totals(events: DataFrame) -> DataFrame:
    """Window-only 2 h tumbling totals (no secondary key) — the
    late-data probe shape: with a 2 h window and a 1 h watermark delay
    there exist rows that are BEHIND the watermark yet belong to a
    window still open (window_end > watermark), and Spark keeps exactly
    those (measured: a windowed-agg row is dropped iff its
    window END is at-or-below the watermark; row ts is irrelevant).
    Emitted counts are cumulative per window (update-mode changelog).
    """
    return _windowed(
        events, F.window("event_time", "2 hours"), [], "window_start_us"
    )


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Per-(hour, event_type) counts + exact value sums over a
    tumbling event-time window.

    Batch twin: GROUP BY date_trunc('hour', ts), event_type — hour
    tumbling windows align to the epoch, so window.start IS the
    truncated hour.
    """
    return _windowed(
        events, F.window("event_time", "1 hour"), ["event_type"], "window_start_us"
    )


def sliding_value_stats(events: DataFrame) -> DataFrame:
    """Sliding-window value stats: each event lands in
    width/slide overlapping windows (here 1 h / 30 min = 2)."""
    return _windowed(
        events,
        F.window("event_time", "1 hour", SLIDE),
        [],
        "window_start_us",
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
    )


def _sessions(events: DataFrame, gap: str | Column) -> DataFrame:
    """Per-user session totals; session rows lead with ``user_id``."""
    return _windowed(
        events, F.session_window("event_time", gap), ["user_id"], "sess_start_us"
    ).select("user_id", "sess_start_us", "n_events", "value_sum")


def session_windows(events: DataFrame) -> DataFrame:
    """Per-user session windows: a session extends while successive
    events arrive strictly less than SESSION_GAP apart; a larger gap
    starts a new session.

    Batch twin (and DuckDB oracle): the classic lag-flag-cumsum
    sessionization — new_sess = (ts − lag(ts) ≥ gap), session id =
    running sum of flags.  session_window.start = min event time of
    the session, so ``sess_start_us`` identifies sessions engine-
    independently (session ordinals don't need to match).
    """
    return _sessions(events, SESSION_GAP)


def session_windows_dynamic(events: DataFrame) -> DataFrame:
    """Per-user session windows with a PER-EVENT gap — the dynamic-gap
    face of ``session_window`` (Spark 3.2+): a purchase keeps the
    session alive for 2 h, anything else for 30 min.  Each event
    contributes the interval [ts, ts+gap(event)); overlapping
    intervals merge into one session.

    Batch twin / oracle: running-max interval merging — new session
    iff ts >= MAX(prev ts+gap) over all earlier events of the user
    (cummax over the ROWS UNBOUNDED PRECEDING..1 PRECEDING frame),
    which is exactly half-open interval union in event order.
    """
    # session_window requires CalendarIntervalType for a dynamic gap;
    # ANSI INTERVAL literals are DayTimeIntervalType, so build the
    # gaps with make_interval
    return _sessions(
        events,
        F.expr(
            "CASE WHEN event_type = 'purchase' THEN make_interval(0,0,0,0,2,0,0) "
            "ELSE make_interval(0,0,0,0,0,30,0) END"
        ),
    )


def stream_stream_interval_join(
    events: DataFrame, join_type: str = "inner"
) -> DataFrame:
    """Watermarked stream-stream interval join: each click pairs with
    the same user's purchases that land strictly after it and within
    HORIZON (the conversion-funnel join).

    Both sides carry a JOIN_WATERMARK and the join condition bounds
    the event-time distance, so each side's state store evicts rows
    once the other side's watermark passes ``ts + horizon`` — bounded
    state on an unbounded stream.  Inner joins emit each match the
    moment both rows have arrived (append mode), so draining a finite
    source yields exactly the batch join.  ``join_type='leftOuter'``
    also emits null-padded rows for clicks that found no match — but
    only once the watermark has passed ``left_time + horizon`` (state
    eviction is what proves no match can still arrive), so on a
    drained source the tail's unmatched rows stay withheld: the
    equivalent batch query is the left join FILTERED to unmatched
    rows old enough that the final watermark (max event_time −
    watermark delay) evicted them.  q_stream_join_left's oracle
    encodes exactly that cutoff.
    """
    clicks, buys = (
        events.filter(F.col("event_type") == event_type)
        .select(
            *(
                F.col(c).alias(f"{side}_{suffix}")
                for c, suffix in (
                    ("event_id", "id"),
                    ("user_id", "user"),
                    ("ts", "ts"),
                    ("event_time", "time"),
                )
            )
        )
        .withWatermark(f"{side}_time", JOIN_WATERMARK)
        for side, event_type in (("left", "click"), ("right", "purchase"))
    )
    joined = clicks.join(
        buys,
        (F.col("left_user") == F.col("right_user"))
        & (F.col("right_time") > F.col("left_time"))
        & (F.col("right_time") <= F.col("left_time") + F.expr(f"INTERVAL {HORIZON}")),
        join_type,
    )
    return joined.select(
        F.col("left_user").alias("user_id"),
        F.col("left_id").alias("click_id"),
        F.col("right_id").alias("purchase_id"),
        (F.col("right_ts") - F.col("left_ts")).alias("gap_us"),
    )


def stream_static_enrich(events: DataFrame, user_stats: DataFrame) -> DataFrame:
    """Stream-static broadcast enrichment: every incoming event is
    joined to a precomputed per-user dimension (the feature-lookup
    pattern — model features, account metadata, quality priors).

    The static side is broadcast once per micro-batch planning cycle,
    so the stream side never shuffles — at 100 TB/day of events the
    per-event cost is a hash probe.  No watermark is needed: stream-
    static joins are stateless.
    """
    return events.join(F.broadcast(user_stats), "user_id", "inner").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "user_mean_cents",
        (_cents(F.col("value")) - F.col("user_mean_cents")).alias("dev_cents"),
    )


def dedup_within_watermark(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on DEDUP_KEYS with bounded state: a key's
    fingerprint is retained only within the watermark horizon.
    First-seen row wins (per micro-batch arrival order)."""
    return events.withWatermark("event_time", WATERMARK).dropDuplicatesWithinWatermark(
        DEDUP_KEYS
    )

"""Streaming pipelines: stream-equals-batch parity (SURVEY §2.8).

Registry-level streaming queries (tumbling/session/EWM) are covered
by the DuckDB oracle in test_oracle.py; this file covers the two
pipelines without registry entries — sliding windows and
dropDuplicatesWithinWatermark — by comparing the drained stream
against the equivalent batch plan on the same session.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nfl26_bigdatabowl_prediction_spark.functions.scalar import cents as _cents
from nfl26_bigdatabowl_prediction_spark.scratch import scratch_dir
from nfl26_bigdatabowl_prediction_spark.sources.io import table
from nfl26_bigdatabowl_prediction_spark.streaming import (
    dedup_within_watermark,
    events_stream,
    run_available_now,
    sliding_value_stats,
)

SF_DIR = "/root/testdata/sf0.001"


def test_sliding_stream_matches_batch(spark):
    stream = run_available_now(
        sliding_value_stats(events_stream(spark, SF_DIR)), output_mode="complete"
    ).toPandas()

    ev = table(spark, SF_DIR, "events").withColumn(
        "event_time", F.timestamp_micros(F.col("ts"))
    )
    batch = (
        ev.groupBy(F.window("event_time", "1 hour", "30 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(_cents(F.col("value"))) / 100.0).alias("value_sum"),
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
        )
        .select(
            F.unix_micros(F.col("win.start")).alias("window_start_us"),
            "n_events",
            "value_sum",
            "value_min",
            "value_max",
        )
        .toPandas()
    )

    key = "window_start_us"
    s = stream.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(s) == len(b) > 0
    # every event lands in exactly width/slide = 2 windows
    n_events = table(spark, SF_DIR, "events").count()
    assert int(s["n_events"].sum()) == 2 * n_events
    for col in s.columns:
        assert (s[col].values == b[col].values).all(), col


def test_dedup_within_watermark_drops_dupes(spark):
    deduped = run_available_now(
        dedup_within_watermark(events_stream(spark, SF_DIR)),
        output_mode="append",
    )
    got = deduped.select("user_id", "event_type").toPandas()
    expect = (
        table(spark, SF_DIR, "events")
        .select("user_id", "event_type")
        .distinct()
        .toPandas()
    )
    assert len(got) == len(got.drop_duplicates())
    assert len(got) == len(expect)


def test_stateful_ewm_carries_state_across_microbatches(spark, tmp_path):
    """The applyInPandasWithState EWM must produce the SAME per-key
    recurrence whether the trajectory arrives in one micro-batch or
    four: the carry (last_ewm, n_seen) lives in the state store
    between triggers.  Events are split into 4 time-ordered parquet
    files and drained with maxFilesPerTrigger=1, so the file source
    schedules 4 micro-batches; expected values are the reference
    recurrence (pandas ewm(alpha=0.3, adjust=False)) over the whole
    trajectory."""
    import time as _time

    from nfl26_bigdatabowl_prediction_spark.streaming import events_stream, run_available_now
    from nfl26_bigdatabowl_prediction_spark.streaming.stateful import streaming_ewm

    # raw on-disk representation: the chunks must round-trip whatever
    # physical ts type the driver shipped (int64 nanos or timestamp)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .orderBy("ts", "event_id")
        .toPandas()
    )
    src = tmp_path / "ev_stream"
    src.mkdir()
    n = len(raw)
    for i in range(4):  # oldest quartile first: file mtime = batch order
        raw.iloc[i * n // 4 : (i + 1) * n // 4].to_parquet(
            src / f"chunk{i}.parquet", index=False
        )
        _time.sleep(0.05)

    got = run_available_now(
        streaming_ewm(
            events_stream(spark, str(src), max_files_per_trigger=1, glob="chunk*.parquet")
        ),
        output_mode="append",
    ).toPandas()

    pdf = raw.sort_values(["user_id", "ts", "event_id"])
    pdf["expect"] = pdf.groupby("user_id")["value"].transform(
        lambda s: s.ewm(alpha=0.3, adjust=False).mean()
    )
    merged = got.merge(pdf[["event_id", "expect"]], on="event_id")
    assert len(merged) == n > 0
    assert (merged["ewm03"].values == merged["expect"].values).all()


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data semantics of the watermarked tumbling aggregation,
    pinned empirically for this Spark version:

    * the late-row filter uses a LAGGED watermark (one batch behind
      the eviction watermark), so a row arriving one batch after its
      window closed may still be absorbed before finalization —
      but a row arriving two-plus batches late is dropped
      (numRowsDroppedByWatermark) and can never resurrect state;
    * append mode emits each window EXACTLY once — the late row
      neither re-emits the flushed window nor changes its count.

    Batches: [W0 rows] → [t+2h rows: watermark passes W0] →
    [t+3h row: watermark advances again] → [late row inside W0].
    """
    import time as _time
    import uuid

    import pandas as pd

    from nfl26_bigdatabowl_prediction_spark.streaming import (
        events_stream,
        tumbling_counts,
    )

    base_s = 1704067200  # 2024-01-01 00:00:00 UTC, hour-aligned
    ns = lambda offset_min: (base_s + offset_min * 60) * 1_000_000_000  # noqa: E731

    def chunk(rows):
        return pd.DataFrame(
            {
                "event_id": pd.array([r[0] for r in rows], dtype="int64"),
                "ts": pd.array([ns(r[1]) for r in rows], dtype="int64"),
                "user_id": pd.array([1] * len(rows), dtype="int64"),
                "event_type": ["click"] * len(rows),
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        )

    src = tmp_path / "late_stream"
    src.mkdir()
    batches = [
        [(1, 5), (2, 10), (3, 20)],  # W0 = [base, base+1h)
        [(5, 120), (6, 125)],  # watermark passes W0's end after commit
        [(7, 180)],  # watermark advances again (filter watermark lags)
        [(8, 30)],  # late row inside W0, two batches behind: dropped
    ]
    for i, rows in enumerate(batches):
        chunk(rows).to_parquet(src / f"chunk{i}.parquet", index=False)
        _time.sleep(1.1)  # file-source batch order = mtime order

    sdf = tumbling_counts(
        events_stream(spark, str(src), max_files_per_trigger=1, glob="chunk*.parquet")
    )
    name = "late" + uuid.uuid4().hex[:8]
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", scratch_dir("spark_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    dropped = sum(
        (p.get("stateOperators") or [{}])[0].get("numRowsDroppedByWatermark") or 0
        for p in q.recentProgress
    )
    # the memory table registers in the stream's exec session (an
    # isolated-SQLConf twin — streaming/source.stream_exec_session),
    # not the main test session
    got = sdf.sparkSession.table(name).toPandas()

    assert dropped == 1  # the two-batches-late row was rejected pre-state
    by_win = dict(zip(got["window_start_us"], got["n_events"]))
    w0 = base_s * 1_000_000
    # W0 emitted exactly once, on-time rows only; tail windows (t+2h,
    # t+3h) stay withheld — the drained source never advances the
    # watermark past them
    assert by_win == {w0: 3}
    assert len(got) == 1


def test_incremental_rollup_is_replay_idempotent(spark, tmp_path):
    """The foreachBatch materialized-view sink must (a) equal the
    batch hourly rollup after draining a multi-batch stream and
    (b) be IDEMPOTENT under batch replay: re-appending one batch's
    partials with the same batch_id (what foreachBatch does after a
    failure) must not change the merged view."""
    import time as _time

    from nfl26_bigdatabowl_prediction_spark.sources.io import table
    from nfl26_bigdatabowl_prediction_spark.streaming import (
        events_stream,
        incremental_hourly_rollup,
        read_hourly_rollup,
        write_hourly_partials,
    )

    raw = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .orderBy("ts", "event_id")
        .toPandas()
    )
    src = tmp_path / "ev_mv"
    src.mkdir()
    n = len(raw)
    for i in range(4):
        raw.iloc[i * n // 4 : (i + 1) * n // 4].to_parquet(
            src / f"chunk{i}.parquet", index=False
        )
        _time.sleep(0.05)

    log = str(tmp_path / "mv_log")
    incremental_hourly_rollup(
        events_stream(spark, str(src), max_files_per_trigger=1, glob="chunk*.parquet"),
        log,
    )
    got = read_hourly_rollup(spark, log).toPandas().sort_values(["bucket", "event_type"])

    ev = table(spark, SF_DIR, "events")
    hour_us = 3600 * 10**6
    from pyspark.sql import functions as F

    want = (
        ev.select(
            F.expr(f"ts div {hour_us}").alias("bucket"),
            "event_type",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("vc"),
        )
        .groupBy("bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("vc") / 100.0).alias("value_sum"),
        )
        .toPandas()
        .sort_values(["bucket", "event_type"])
    )
    assert len(got) == len(want) > 0
    assert (got["n_events"].to_numpy() == want["n_events"].to_numpy()).all()
    assert (got["value_sum"].to_numpy() == want["value_sum"].to_numpy()).all()

    # replay batch 0: identical partials with the same batch_id —
    # the merged view must not move.
    # materialize the same micro-batch DataFrame foreachBatch saw
    batch0 = spark.read.parquet(str(src / "chunk0.parquet"))
    from nfl26_bigdatabowl_prediction_spark.sources.io import normalize_ts

    write_hourly_partials(normalize_ts(batch0), 0, log)
    again = read_hourly_rollup(spark, log).toPandas().sort_values(["bucket", "event_type"])
    assert (again["n_events"].to_numpy() == want["n_events"].to_numpy()).all()
    assert (again["value_sum"].to_numpy() == want["value_sum"].to_numpy()).all()


def test_compacted_rollup_preserves_view_and_shrinks_files(spark, tmp_path):
    """compact_rollup folds the delta log to one partial per key:
    the merged view must be bit-identical before and after, the
    compacted log must have fewer partial rows, and stream appends on
    top of a compacted log must keep accumulating correctly."""
    import glob

    from pyspark.sql import functions as F

    from nfl26_bigdatabowl_prediction_spark.sources.io import normalize_ts
    from nfl26_bigdatabowl_prediction_spark.streaming import (
        compact_rollup,
        read_hourly_rollup,
        write_hourly_partials,
    )

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    n = ev.count()
    log = str(tmp_path / "log")
    # three "batches" appended directly (same path foreachBatch takes)
    b = normalize_ts(ev)
    for i in range(3):
        write_hourly_partials(b.filter(F.col("event_id") % 3 == i), i, log)
    before = read_hourly_rollup(spark, log).toPandas().sort_values(
        ["bucket", "event_type"]
    ).reset_index(drop=True)
    n_partials_before = spark.read.parquet(log).count()

    compacted = str(tmp_path / "log_c")
    compact_rollup(spark, log, compacted)
    after = read_hourly_rollup(spark, compacted).toPandas().sort_values(
        ["bucket", "event_type"]
    ).reset_index(drop=True)
    n_partials_after = spark.read.parquet(compacted).count()

    assert len(before) == len(after) > 0
    assert (before["n_events"].to_numpy() == after["n_events"].to_numpy()).all()
    assert (before["value_sum"].to_numpy() == after["value_sum"].to_numpy()).all()
    assert int(before["n_events"].sum()) == n
    assert n_partials_after < n_partials_before
    assert len(glob.glob(f"{compacted}/part-*.parquet")) == 1

    # the checkpoint only protects batches OLDER than the last trigger:
    # the max batch_id (2) may replay after compaction.  Its partials
    # must have been kept verbatim (not folded), so the replayed
    # duplicates collapse under DISTINCT and the view does not move.
    write_hourly_partials(b.filter(F.col("event_id") % 3 == 2), 2, compacted)
    replayed = read_hourly_rollup(spark, compacted).toPandas().sort_values(
        ["bucket", "event_type"]
    ).reset_index(drop=True)
    assert (replayed["n_events"].to_numpy() == before["n_events"].to_numpy()).all()
    assert (replayed["value_sum"].to_numpy() == before["value_sum"].to_numpy()).all()

    # appends keep accumulating after compaction (batch ids >= 0 are
    # disjoint from the -1 compaction epoch)
    write_hourly_partials(b.filter(F.col("event_id") % 3 == 0), 99, compacted)
    grown = read_hourly_rollup(spark, compacted)
    assert int(grown.agg(F.sum("n_events")).first()[0]) > n


def test_incremental_cdc_table_is_replay_idempotent(spark, tmp_path):
    """The foreachBatch CDC-upsert sink must (a) reconstruct exactly
    the batch latest-per-key table after draining a multi-batch
    stream and (b) stay bit-identical when one batch's winner rows
    are re-appended with the same batch_id (failure replay)."""
    import time as _time

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from nfl26_bigdatabowl_prediction_spark.sources.io import normalize_ts, table
    from nfl26_bigdatabowl_prediction_spark.streaming import (
        events_stream,
        incremental_cdc_table,
        read_cdc_table,
        write_key_upserts,
    )

    raw = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .orderBy("ts", "event_id")
        .toPandas()
    )
    src = tmp_path / "ev_cdc"
    src.mkdir()
    n = len(raw)
    for i in range(4):
        raw.iloc[i * n // 4 : (i + 1) * n // 4].to_parquet(
            src / f"chunk{i}.parquet", index=False
        )
        _time.sleep(0.05)

    log = str(tmp_path / "cdc_log")
    incremental_cdc_table(
        events_stream(spark, str(src), max_files_per_trigger=1, glob="chunk*.parquet"),
        log,
    )
    got = read_cdc_table(spark, log).toPandas().sort_values("user_id")

    ev = table(spark, SF_DIR, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    want = (
        ev.withColumn(
            "op",
            F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") == "U"))
        .select(
            "user_id",
            F.col("value").alias("value_current"),
            F.col("ts").alias("updated_us"),
        )
        .toPandas()
        .sort_values("user_id")
    )
    assert len(got) == len(want) > 0
    assert (got["user_id"].to_numpy() == want["user_id"].to_numpy()).all()
    assert (got["value_current"].to_numpy() == want["value_current"].to_numpy()).all()
    assert (got["updated_us"].to_numpy() == want["updated_us"].to_numpy()).all()

    # replay batch 0: identical winner rows with the same batch_id —
    # the materialized table must not move.
    batch0 = normalize_ts(spark.read.parquet(str(src / "chunk0.parquet")))
    write_key_upserts(batch0, 0, log)
    again = read_cdc_table(spark, log).toPandas().sort_values("user_id")
    assert (again["user_id"].to_numpy() == want["user_id"].to_numpy()).all()
    assert (again["value_current"].to_numpy() == want["value_current"].to_numpy()).all()


def test_stateful_funnel_carries_state_across_microbatches(spark, tmp_path):
    """The applyInPandasWithState funnel must reach the SAME per-user
    stages whether events arrive in one micro-batch or four — the
    (t1, t2, t3) progress carry lives in the state store between
    triggers (and a stage ADVANCE must fire exactly once even when
    the qualifying event lands in a later batch than the previous
    stage).  Reference: the single-batch run of the same kernel."""
    import time as _time

    from nfl26_bigdatabowl_prediction_spark.streaming import (
        events_stream,
        run_available_now,
        streaming_funnel,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .orderBy("ts", "event_id")
        .toPandas()
    )
    src = tmp_path / "ev_funnel"
    src.mkdir()
    n = len(raw)
    for i in range(4):
        raw.iloc[i * n // 4 : (i + 1) * n // 4].to_parquet(
            src / f"chunk{i}.parquet", index=False
        )
        _time.sleep(0.05)

    split = (
        run_available_now(
            streaming_funnel(
                events_stream(
                    spark, str(src), max_files_per_trigger=1, glob="chunk*.parquet"
                )
            ),
            output_mode="append",
        )
        .toPandas()
        .sort_values(["user_id", "stage"])
        .reset_index(drop=True)
    )
    whole = (
        run_available_now(
            streaming_funnel(events_stream(spark, SF_DIR)),
            output_mode="append",
        )
        .toPandas()
        .sort_values(["user_id", "stage"])
        .reset_index(drop=True)
    )
    assert len(split) == len(whole) > 0
    for c in ("user_id", "event_id", "stage", "ts_us"):
        assert (split[c].values == whole[c].values).all(), c
    # no advance may fire twice
    assert not split.duplicated(["user_id", "stage"]).any()


def _write_event_chunks(tmp_path, chunks):
    """Write synthetic events parquet chunks (ts in epoch-NANOS int64,
    the TIMESTAMP(NANOS)/nanosAsLong physical layout the driver ships;
    normalize_ts divides to micros).  Chunks are spaced by mtime so
    maxFilesPerTrigger=1 drains them in order."""
    import time as _time

    import pandas as pd

    src = tmp_path / "ev_chunks"
    src.mkdir()
    for i, rows in enumerate(chunks):
        pd.DataFrame(
            {
                "event_id": pd.Series([r[1] for r in rows], dtype="int64"),
                "ts": pd.Series(
                    [r[2] * 1000 for r in rows], dtype="int64"
                ),  # micros → nanos
                "user_id": pd.Series([r[0] for r in rows], dtype="int64"),
                "event_type": [r[3] for r in rows],
                "value": pd.Series([1.0] * len(rows), dtype="float64"),
                "props": ["{}"] * len(rows),
            }
        ).to_parquet(src / f"chunk{i}.parquet", index=False)
        _time.sleep(0.05)
    return str(src)


def test_funnel_epoch_zero_ts_crosses_microbatches(spark, tmp_path):
    """Round-6 ADVICE regression: a legitimate ts of exactly 0 us
    (the epoch) stored as stage-1 state in one micro-batch must still
    count as "stage reached" in the next batch — the state schema is
    nullable LongType with NO sentinel, so 0 must round-trip as 0,
    not as "missing"."""
    from nfl26_bigdatabowl_prediction_spark.streaming import (
        events_stream,
        run_available_now,
        streaming_funnel,
    )

    src = _write_event_chunks(
        tmp_path,
        [
            [(7, 1, 0, "view")],  # batch 1: view at the epoch
            [(7, 2, 1_000_000, "click"), (7, 3, 2_000_000, "purchase")],
        ],
    )
    out = (
        run_available_now(
            streaming_funnel(
                events_stream(
                    spark, src, max_files_per_trigger=1, glob="chunk*.parquet"
                )
            ),
            output_mode="append",
        )
        .toPandas()
        .sort_values("stage")
        .reset_index(drop=True)
    )
    assert list(out["stage"]) == [1, 2, 3]
    assert list(out["ts_us"]) == [0, 1_000_000, 2_000_000]


def test_funnel_ttl_multibatch_drain_fires_each_expiry_once(spark, tmp_path):
    """_funnel_ttl_fn's watermark clamp (setTimeoutTimestamp to
    max(t, wm+1)) under a MULTI-batch drain — the round-6/7 carried
    ask.  Covers the clamp's live path: a non-advancing event for a
    user whose natural expiry (last advance + 1 h) is already BEHIND
    the checkpointed watermark re-registers at wm+1 (Spark rejects
    at-or-below-wm registrations) and must still emit exactly one
    expiry row, with ts = the true last advance, in the trailing
    batch of the same drain."""
    from nfl26_bigdatabowl_prediction_spark.streaming import (
        events_stream,
        run_available_now,
        streaming_funnel_ttl,
    )

    T0 = 1_700_000_000_000_000  # epoch-micros anchor
    H = 3600 * 10**6
    src = _write_event_chunks(
        tmp_path,
        [
            # batch 1 (watermark during processing: initial 0)
            [
                (1, 101, T0, "view"),
                (2, 102, T0, "view"),
                (7, 107, T0 - 4 * H, "view"),
            ],
            # batch 2 (wm = T0 - 1 h): u2 advances; u7 sends a
            # NON-advancing view → re-registration hits the clamp
            # (natural timeout T0-3h < wm); u3 pushes the final wm
            # to T0 + 4 h so u1/u2/u7 all expire in the trailing batch
            [
                (2, 202, T0 + H // 2, "click"),
                (7, 207, T0 - H // 2, "view"),
                (3, 203, T0 + 5 * H, "view"),
            ],
        ],
    )
    out = (
        run_available_now(
            streaming_funnel_ttl(
                events_stream(
                    spark, src, max_files_per_trigger=1, glob="chunk*.parquet"
                )
            ),
            output_mode="append",
        )
        .toPandas()
        .sort_values(["stage", "user_id"])
        .reset_index(drop=True)
    )
    import pandas as pd

    got = {
        (int(r["user_id"]),
         None if pd.isna(r["event_id"]) else int(r["event_id"]),
         int(r["stage"]), int(r["ts_us"]))
        for _, r in out.iterrows()
    }
    want = {
        (1, 101, 1, T0), (2, 102, 1, T0), (7, 107, 1, T0 - 4 * H),
        (3, 203, 1, T0 + 5 * H), (2, 202, 2, T0 + H // 2),
        # expiries: exactly once each, ts = true last advance;
        # u3 is still inside the horizon and must NOT expire
        (1, None, 0, T0), (2, None, 0, T0 + H // 2),
        (7, None, 0, T0 - 4 * H),
    }
    assert got == want, got.symmetric_difference(want)


def test_stateful_kernels_tolerate_arrow_chunk_splits(spark, tmp_path):
    """Round-8 8x-differential regression: applyInPandasWithState
    delivers a group as MULTIPLE pandas chunks when its rows span an
    Arrow record-batch boundary, in shuffle (arbitrary) order — the
    kernels must drain the whole group before sorting, or a split
    group processes out of event-time order (at 8x, ~1-in-150 groups
    split and the funnel picked a LATER view as stage 1).  Forced
    here with arrow.maxRecordsPerBatch=4 and a 12-row user written in
    REVERSE time order, so per-chunk sorting would compute the EWM
    recurrence on a wrong sequence."""
    import pandas as pd

    from nfl26_bigdatabowl_prediction_spark.streaming import (
        events_stream,
        run_available_now,
    )
    from nfl26_bigdatabowl_prediction_spark.streaming.stateful import (
        streaming_ewm,
    )

    n = 12
    rows = [(i + 1, (i + 1) * 1_000_000, 7, "view", float(i + 1)) for i in range(n)]
    src = tmp_path / "split_stream"
    src.mkdir()
    pd.DataFrame(
        {
            "event_id": pd.Series([r[0] for r in reversed(rows)], dtype="int64"),
            "ts": pd.Series([r[1] * 1000 for r in reversed(rows)], dtype="int64"),
            "user_id": pd.Series([r[2] for r in reversed(rows)], dtype="int64"),
            "event_type": [r[3] for r in reversed(rows)],
            "value": pd.Series([r[4] for r in reversed(rows)], dtype="float64"),
            "props": ["{}"] * n,
        }
    ).to_parquet(src / "chunk0.parquet", index=False)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        got = (
            run_available_now(
                streaming_ewm(events_stream(spark, str(src), glob="chunk*.parquet")),
                output_mode="append",
            )
            .toPandas()
            .sort_values("event_id")
            .reset_index(drop=True)
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    # reference recurrence in EVENT-TIME order
    last, expect = None, {}
    for eid, _ts, _u, _et, v in rows:
        last = v if last is None else 0.3 * v + 0.7 * last
        expect[eid] = last
    assert len(got) == n
    assert list(got["ewm03"]) == [expect[e] for e in got["event_id"]]


def test_stream_exec_session_memoized_per_parent_and_knob(spark):
    """The twin-session cache must hand every stream of one parent the
    SAME twin (one catalog for memory-sink tables), key the
    ``no_data_batches`` variant separately, and key on the parent
    OBJECT — a WeakKeyDictionary, not id(spark), so a collected
    parent's id being reused can never alias an unrelated session to a
    dead parent's twin (round-10 ADVICE)."""
    import weakref

    from nfl26_bigdatabowl_prediction_spark.streaming import source as src

    t1 = src.stream_exec_session(spark)
    t2 = src.stream_exec_session(spark)
    assert t1 is t2
    assert t1 is not spark
    assert t1.conf.get("spark.sql.shuffle.partitions") == str(
        src.STREAM_SHUFFLE_PARTITIONS
    )
    t3 = src.stream_exec_session(spark, no_data_batches=False)
    assert t3 is not t1
    assert t3 is src.stream_exec_session(spark, no_data_batches=False)
    assert (
        t3.conf.get("spark.sql.streaming.noDataMicroBatches.enabled") == "false"
    )
    assert t3.conf.get("spark.sql.shuffle.partitions") == str(
        src.STREAM_SHUFFLE_PARTITIONS
    )
    # keyed on the live parent object, weakly
    assert isinstance(src._TWINS, weakref.WeakKeyDictionary)
    assert spark in src._TWINS


_GAP = 3600 * 10**6
_T1, _T2 = 10**12, 10**12 + 5 * 10**8


@pytest.mark.parametrize(
    "state, event_type, ts, advances",
    [
        # click hop against t1: (t1, t1 + gap]
        ((_T1, None, None), "click", _T1, False),
        ((_T1, None, None), "click", _T1 + _GAP, True),
        ((_T1, None, None), "click", _T1 + _GAP + 1, False),
        # purchase hop against t2: (t2, t2 + gap]
        ((_T1, _T2, None), "purchase", _T2, False),
        ((_T1, _T2, None), "purchase", _T2 + _GAP, True),
        ((_T1, _T2, None), "purchase", _T2 + _GAP + 1, False),
    ],
    ids=["click@t1", "click@t1+gap", "click@t1+gap+1us",
         "purchase@t2", "purchase@t2+gap", "purchase@t2+gap+1us"],
)
def test_funnel_advance_hop_bounds(state, event_type, ts, advances):
    # Spark-free: the one advance loop behind both funnel machines
    # (streaming_funnel, streaming_funnel_ttl) bounds each hop to
    # (previous stage, previous stage + 1 h], in microseconds.
    from nfl26_bigdatabowl_prediction_spark.streaming.stateful import (
        _FUNNEL_GAP_US,
        _funnel_advance,
    )

    assert _FUNNEL_GAP_US == _GAP
    pdf = pd.DataFrame(
        {"user_id": [1], "event_id": [9], "ts": [ts], "event_type": [event_type]}
    )
    frames, after = _funnel_advance(iter([pdf]), *state)
    stage = 2 if event_type == "click" else 3
    (out,) = frames
    if advances:
        assert after[stage - 1] == ts
        assert out.to_dict("list") == {
            "user_id": [1], "event_id": [9], "stage": [stage], "ts_us": [ts],
        }
    else:
        assert after == state
        assert out.empty
    assert _funnel_advance(iter([]), *state) == ([], state)


class _StubState:
    exists = False

    def update(self, value):
        self.value = value


@pytest.mark.parametrize("value, cents", [(1.125, 113), (-1.125, -113)])
def test_running_stats_cents_round_half_away_from_zero(value, cents):
    # Spark-free: 1.125 * 100 is exactly 112.5, which Spark's round and
    # the DuckDB oracle both take away from zero (pandas' round gives
    # the even neighbour, 112).
    from nfl26_bigdatabowl_prediction_spark.streaming.stateful import (
        _running_stats_fn,
    )

    state = _StubState()
    (out,) = _running_stats_fn((7,), iter([pd.DataFrame({"value": [value]})]), state)
    assert state.value == (1, value, cents)
    assert out["value_sum"].tolist() == [cents / 100.0]


def test_stream_join_skips_the_no_data_batch(spark):
    """q_stream_join and q_stream_dedup run on the no-data-batch-off
    twin: an inner join and an append-mode dedup cannot emit on a
    watermark-only batch, so the drain is one micro-batch.  The
    left-outer twin keeps the trailing batch whose eviction emits the
    null-padded rows.  No output shows the batch count, so it is
    pinned here."""
    import threading
    import time as _time

    from pyspark.sql.streaming import StreamingQueryListener

    from nfl26_bigdatabowl_prediction_spark.plans.streaming_q import QUERIES
    from nfl26_bigdatabowl_prediction_spark.streaming.source import (
        stream_exec_session,
    )

    lock = threading.Lock()
    batches: dict[str, set[int]] = {}
    done: set[str] = set()

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            with lock:
                batches.setdefault(str(event.runId), set())

        def onQueryProgress(self, event):
            with lock:
                batches.setdefault(str(event.progress.runId), set()).add(
                    event.progress.batchId
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with lock:
                done.add(str(event.runId))

    def drained_batches(name: str) -> int:
        with lock:
            batches.clear()
            done.clear()
        QUERIES[name](spark, SF_DIR)
        deadline = _time.time() + 30
        while _time.time() < deadline:
            with lock:
                if batches and set(batches) <= done:
                    break
            _time.sleep(0.1)
        _time.sleep(2)  # a progress event can trail the termination event
        with lock:
            (run,) = batches.values()  # one drain per query
            return len(run)

    listener = Listener()
    twins = [stream_exec_session(spark, no_data_batches=b) for b in (False, True)]
    for twin in twins:
        twin.streams.addListener(listener)
    try:
        assert drained_batches("q_stream_join") == 1
        assert drained_batches("q_stream_join_left") > 1
        assert drained_batches("q_stream_dedup") == 1
    finally:
        for twin in twins:
            twin.streams.removeListener(listener)

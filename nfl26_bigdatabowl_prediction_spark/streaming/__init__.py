"""Structured Streaming layer (SURVEY.md §2.8).

The reference is pure batch (18 weeks materialized up front,
main_cuda.py:125-138) — it has NO streaming operators.  This package
is the Spark-native extension the reference *would* need if the 10 Hz
tracking feed arrived live: the same per-trajectory window operators
(§2.5) re-expressed over an unbounded source with event-time
semantics, watermarks, and managed state.

Design rule: every streaming pipeline here is the *same logical plan*
as a batch query in ``plans/`` — Structured Streaming's contract
(incrementalized batch semantics) means a stream run with
``Trigger.AvailableNow`` over a static directory must produce exactly
the batch answer.  That equivalence is what the oracle checks.
"""

from .source import events_stream
from .pipelines import (
    tumbling_counts,
    tumbling_totals,
    sliding_value_stats,
    session_windows,
    session_windows_dynamic,
    dedup_within_watermark,
    stream_stream_interval_join,
    stream_static_enrich,
)
from .stateful import (
    streaming_ewm,
    streaming_funnel,
    streaming_funnel_late,
    streaming_funnel_ttl,
    streaming_running_stats,
)
from .run import run_available_now, run_two_phase
from .sink import (
    compact_rollup,
    incremental_cdc_table,
    incremental_hourly_rollup,
    read_cdc_table,
    read_hourly_rollup,
    write_key_upserts,
    write_hourly_partials,
)


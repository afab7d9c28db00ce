"""Multimodal column plumbing (brief: image/audio/video as opaque
binary + typed metadata; decode/feature-extract via Arrow-batched
pandas UDFs).

Two families share the Spark-side contract — binary column in, Arrow
batch iterator through ``mapInPandas``, typed columns out, no shuffle
of payload bytes:

* fake plumbing (``decode_features``, ``resize_images``,
  ``sample_frames``) over the documents' utf-8 text as payload: its
  "decoded" values are deterministic functions of the payload bytes;
* real codecs (stdlib WAV / BMP / PNG / GIF / PGM / QOI,
  operators/codecs.py): ``synth_payloads`` encodes every doc id into a
  genuine byte stream and ``parse_payloads`` decodes it back.  A format
  is only its ``*_payload`` formula, its ``*_rows`` statistics and its
  output schema.

At 100 TB this is the right shape: decode is embarrassingly parallel,
so it stays executor-side (mapInPandas = per-partition batch iterator),
with `spark.sql.files.maxPartitionBytes` sizing batches and
`arrow.maxRecordsPerBatch` bounding peak memory per batch.  The real
codecs' one exchange is a RoundRobin repartition of the 8-byte doc ids
below the generator (``_spread_ids``); the payload bytes never shuffle.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .codecs import (
    decode_bmp,
    decode_gif,
    decode_pgm,
    decode_png,
    decode_qoi,
    decode_wav,
    encode_bmp,
    encode_gif,
    encode_pgm,
    encode_png,
    encode_qoi,
    encode_wav,
)

DECODE_SCHEMA = (
    "doc_id bigint, n_bytes int, fake_width int, fake_height int, feat array<float>"
)


def attach_binary_payload(df: DataFrame) -> DataFrame:
    """Model step 0: treat content as an opaque binary column (the
    multimodal storage contract).  Here the bytes come from the utf-8
    ``text`` column because the testdata has no real media;
    schema-wise identical."""
    return df.withColumn("payload", F.encode(F.col("text"), "utf-8"))


def _fake_decode_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """Deterministic FAKE decoder.

    A real deployment replaces the body with a per-cell decoder (as
    the real-codec ``*_rows`` functions below do) — same signature,
    same schema.
    """
    n_bytes = batch["payload"].map(len)
    # pseudo-dimensions derived from content length — stable, testable
    return pd.DataFrame(
        {
            "doc_id": batch["doc_id"],
            "n_bytes": n_bytes.astype("int32"),
            "fake_width": (n_bytes % 640).astype("int32"),
            "fake_height": (n_bytes % 480).astype("int32"),
            "feat": [
                [float(n % 7), float(n % 11), float(n % 13), float(n % 17)]
                for n in n_bytes
            ],
        }
    )


def decode_features(df_with_payload: DataFrame) -> DataFrame:
    """mapInPandas decode: Arrow batch iterator in, typed features out.
    Partition-preserving — no shuffle anywhere in this operator."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _fake_decode_batch(b)

    return df_with_payload.select("doc_id", "payload").mapInPandas(
        gen, schema=DECODE_SCHEMA
    )


RESIZE_SCHEMA = "doc_id bigint, out_width int, out_height int, px_sum bigint"


def resize_images(df_with_payload: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize plumbing (fake raster summary): payload → fixed
    ``width`` × ``height`` output.  Deterministic on the byte content
    (sum of bytes of the payload = the "pixel sum" of the resized
    raster), so the Spark-side batch shape is fully testable."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"],
                    "out_width": width,
                    "out_height": height,
                    "px_sum": b["payload"].map(lambda p: int(sum(p))),
                }
            )

    return df_with_payload.select("doc_id", "payload").mapInPandas(
        gen, schema=RESIZE_SCHEMA
    )


def sample_frames(df: DataFrame, n_frames_col, stride: int) -> DataFrame:
    """Video frame-sampling plumbing: every ``stride``-th frame index
    of a clip with ``n_frames_col`` frames, one output row per sampled
    frame.  Pure native explode (sequence + explode stays in codegen;
    the row fanout happens executor-side with no shuffle) — the real
    deployment feeds these (doc_id, frame_idx) pairs to a decode UDF.
    """
    return df.select(
        F.col("doc_id"),
        F.explode(
            F.sequence(F.lit(0), n_frames_col - 1, F.lit(stride))
        ).alias("frame_idx"),
    )


# ---------------------------------------------------------------------------
# REAL codec kernels (stdlib codecs — operators/codecs.py).
#
# Payload synthesis and decode are SEPARATE mapInPandas stages so the
# bytes crossing between them are genuine format streams (RIFF chunks,
# BMP row padding, zlib'd PNG scanlines, ...) — the parse side
# re-derives every feature from the bytes, never by peeking at the
# generator.  The chained stages fuse into one python-runner pass per
# partition.  The id feed is REPARTITIONED to the context's default
# parallelism before the generator: a single-row-group parquet scans as
# exactly ONE split no matter the core count, which would serialize
# every encode+decode onto one Python worker; the shuffle moves only
# the 8-byte ids.
#
# Every payload formula is a fixed integer recurrence of the doc id,
# so each query's SQL oracle re-derives the decoded statistics exactly.
# ---------------------------------------------------------------------------

PAYLOAD_SCHEMA = "doc_id bigint, payload binary"


def _spread_ids(df: DataFrame) -> DataFrame:
    """Project to ``doc_id`` and spread it across the cluster's
    default parallelism — the scale-adaptive scan fix for CPU-heavy
    per-row kernels over few/small input files."""
    return df.select("doc_id").repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )


def synth_payloads(df: DataFrame, make: Callable[[int], bytes]) -> DataFrame:
    """doc_id → (doc_id, payload = ``make(doc_id)``), one row per id."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame(
                {"doc_id": b["doc_id"], "payload": [make(int(d)) for d in b["doc_id"]]}
            )

    return _spread_ids(df).mapInPandas(gen, PAYLOAD_SCHEMA)


def parse_payloads(
    df_payload: DataFrame, schema: str, rows: Callable[[int, bytes], list[tuple]]
) -> DataFrame:
    """(doc_id, payload) → the rows ``rows(doc_id, payload)`` returns,
    laid out as ``schema`` (a flat ``"name type, ..."`` string)."""
    cols = [field.split()[0] for field in schema.split(",")]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame.from_records(
                [
                    r
                    for doc_id, p in zip(b["doc_id"], b["payload"])
                    for r in rows(int(doc_id), bytes(p))
                ],
                columns=cols,
            )

    return df_payload.mapInPandas(gen, schema)


AUDIO_RATE = 8000


def wav_payload(d: int) -> bytes:
    """16-bit PCM WAV: n = 200 + id%100 samples,
    s_i = ((id*7349 + i*40503) % 65536) - 32768."""
    n = 200 + d % 100
    return encode_wav(
        [((d * 7349 + i * 40503) % 65536) - 32768 for i in range(n)], AUDIO_RATE
    )


WAV_FEATURES_SCHEMA = (
    "doc_id bigint, n_samples bigint, sample_rate bigint, peak bigint, "
    "sum_abs bigint, n_zero_cross bigint"
)


def wav_rows(d: int, p: bytes) -> list[tuple]:
    """RIFF chunk walk + 16-bit PCM unpack → integer signal features
    (all exact, so the oracle matches bitwise)."""
    _, rate, samples = decode_wav(p)
    a = np.asarray(samples, dtype=np.int64)
    return [(
        d,
        len(a),
        rate,
        int(np.abs(a).max()) if len(a) else 0,
        int(np.abs(a).sum()),
        int(((a[1:] >= 0) != (a[:-1] >= 0)).sum()),
    )]


WAV_WALSH_SCHEMA = "doc_id bigint, k bigint, corr bigint, corr_abs bigint"
WALSH_KS = (1, 2, 4, 8)


def walsh_rows(d: int, p: bytes) -> list[tuple]:
    """Square-wave (Walsh/Rademacher) spectral bins over decoded PCM,
    one row per k in WALSH_KS: for k cycles across the clip,
    s_k(i) = +1 where ((2·k·i) // n) is even, −1 otherwise, and the bin
    statistic is Σ vᵢ·s_k(i) — the integer-exact sequency-domain analog
    of a DFT bin (used by cheap audio fingerprinters precisely because
    it needs no trig).  Stays int64 end-to-end, so the SQL oracle
    reproduces it bitwise — a true-DFT bin would hit the cross-engine
    libm cos/sin ulp gap."""
    _, _, samples = decode_wav(p)
    a = np.asarray(samples, dtype=np.int64)
    n = len(a)
    i = np.arange(n, dtype=np.int64)
    out = []
    for k in WALSH_KS:
        c = int((a * (1 - 2 * (((2 * k * i) // n) % 2))).sum()) if n else 0
        out.append((d, k, c, abs(c)))
    return out


def bmp_payload(d: int) -> bytes:
    """24bpp BMP: w = 8 + id%9, h = 8 + id%7,
    pixel(x, y) = ((x+y+id)%256, (2x+y+id)%256, (x+3y+id)%256)."""
    w, h = 8 + d % 9, 8 + d % 7
    return encode_bmp(w, h, [
        [((x + y + d) % 256, (2 * x + y + d) % 256, (x + 3 * y + d) % 256) for x in range(w)]
        for y in range(h)
    ])


BMP_FEATURES_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, px_sum bigint, r_sum bigint"
)


def bmp_rows(d: int, p: bytes) -> list[tuple]:
    """Header, bottom-up rows, 4-byte padding → integer raster features."""
    w, h, rows = decode_bmp(p)
    return [(
        d, w, h,
        sum(r + g + bb for row in rows for r, g, bb in row),
        sum(r for row in rows for r, _, _ in row),
    )]


def png_payload(d: int) -> bytes:
    """8-bit grayscale PNG (zlib IDAT; rows cycle all five filter
    types): w = 16 + id%17, h = 5 + id%11, gray(x, y) = (3x + 5y + id) % 256."""
    w, h = 16 + d % 17, 5 + d % 11
    return encode_png(w, h, [[(3 * x + 5 * y + d) % 256 for x in range(w)] for y in range(h)])


PNG_FEATURES_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, px_sum bigint, px_max bigint"
)


def png_rows(d: int, p: bytes) -> list[tuple]:
    """Inflate + un-filter (all five filter types) → integer raster features."""
    w, h, rows = decode_png(p)
    return [(
        d, w, h, sum(v for row in rows for v in row), max(v for row in rows for v in row)
    )]


def gif_payload(d: int) -> bytes:
    """GIF87a (grayscale palette, true GIF-LZW): w = 12 + id%13,
    h = 4 + id%9, gray(x, y) = (7x + 11y + id) % 256."""
    w, h = 12 + d % 13, 4 + d % 9
    return encode_gif(w, h, [[(7 * x + 11 * y + d) % 256 for x in range(w)] for y in range(h)])


GIF_FEATURES_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, px_sum bigint, px_min bigint"
)


def gif_rows(d: int, p: bytes) -> list[tuple]:
    """LZW decode → integer raster features."""
    w, h, rows = decode_gif(p)
    return [(
        d, w, h, sum(v for row in rows for v in row), min(v for row in rows for v in row)
    )]


def pgm_payload(d: int) -> bytes:
    """Netpbm PGM, alternating P5 raw (even id) and P2 plain ASCII (odd
    id) so both parser paths run on every batch: w = 10 + id%19,
    h = 3 + id%7, gray(x, y) = (5x + 7y + id) % 256."""
    w, h = 10 + d % 19, 3 + d % 7
    return encode_pgm(
        w, h, [[(5 * x + 7 * y + d) % 256 for x in range(w)] for y in range(h)],
        plain=bool(d % 2),
    )


PGM_FEATURES_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, px_sum bigint, px_max bigint"
)


def pgm_rows(d: int, p: bytes) -> list[tuple]:
    """P2/P5 token/raster parse → integer raster features."""
    w, h, rows = decode_pgm(p)
    return [(
        d, w, h, sum(v for row in rows for v in row), max(v for row in rows for v in row)
    )]


def qoi_payload(d: int) -> bytes:
    """QOI (channels=3): w = 8 + id%21, h = 3 + id%8,
    rgb(x, y) = ((2x+3y+id)%256, (3x+5y+id)%256, (5x+7y+id)%256) with
    every 4th row flattened to a constant (id%7, id%7, id%7) so the
    RUN/INDEX ops exercise alongside DIFF/LUMA/RGB."""
    w, h = 8 + d % 21, 3 + d % 8
    return encode_qoi(w, h, [
        [
            ((d % 7,) * 3)
            if y % 4 == 3
            else (
                (2 * x + 3 * y + d) % 256,
                (3 * x + 5 * y + d) % 256,
                (5 * x + 7 * y + d) % 256,
            )
            for x in range(w)
        ]
        for y in range(h)
    ])


QOI_FEATURES_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, px_sum bigint, g_sum bigint"
)


def qoi_rows(d: int, p: bytes) -> list[tuple]:
    """QOI decode → integer raster features."""
    w, h, rows = decode_qoi(p)
    return [(
        d, w, h,
        sum(r + g + bb for row in rows for r, g, bb in row),
        sum(g for row in rows for _, g, _ in row),
    )]

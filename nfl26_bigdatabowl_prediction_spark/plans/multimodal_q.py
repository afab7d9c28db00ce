"""Multimodal query surface (brief: binary payload columns + typed
metadata, decode / resize / frame-sample plumbing).

The decode/resize kernels are pandas UDFs, but their FAKE bodies are
deterministic functions of the payload byte length — so the driver's
DuckDB oracle CAN express them (octet_length(encode(text))), giving
these pandas-UDF paths a full value-hash check instead of the weaker
rows-only contract.  Only q_image_resize (content byte-sum) stays
rows-only: DuckDB cannot fold over blob bytes; it gets a pure-Python
unit oracle in tests/test_multimodal.py instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import multimodal as M
from ..operators.multimodal import (
    attach_binary_payload,
    decode_features,
    parse_payloads,
    resize_images,
    sample_frames,
    synth_payloads,
)
from ..sources.io import table
from .registry import registrar

QUERIES: dict = {}
ORACLES: dict = {}
q = registrar(QUERIES, ORACLES)


# The fake decoder is deterministic on the utf-8 byte length, so the
# oracle mirrors it exactly (values 0..6 are float-exact, so the
# float32→double chain on the Spark side is bitwise too).
@q(
    "q_multimodal_decode",
    """
    WITH dec AS (
        SELECT doc_id, source, octet_length(encode(text)) AS n_bytes
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           MAX(n_bytes % 640) AS max_width,
           SUM(CAST(n_bytes % 7 AS DOUBLE)) AS feat0_sum
    FROM dec
    GROUP BY source
""",
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload → mapInPandas fake-decode → per-source feature
    stats.  Exercises the full multimodal plumbing chain."""
    d = table(spark, sf_dir, "documents")
    decoded = decode_features(attach_binary_payload(d))
    src = d.select("doc_id", "source")
    return (
        decoded.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.max("fake_width").alias("max_width"),
            F.sum(F.element_at("feat", 1).cast("double")).alias("feat0_sum"),
        )
    )


FRAME_STRIDE = 7
CLIP_MOD = 97  # fake clip length = (n_chars % 97) + 1 frames


# DuckDB range(0, n, step) is stop-exclusive = Spark sequence(0, n-1,
# step) inclusive-bound; both emit 0, 7, ... < n_frames.
@q(
    "q_frame_sample",
    f"""
    SELECT doc_id,
           unnest(range(0, (n_chars % {CLIP_MOD}) + 1, {FRAME_STRIDE})) AS frame_idx
    FROM documents
""",
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: every 7th frame index of each
    fake clip ((n_chars % 97) + 1 frames), one row per sampled frame.
    Native sequence+explode — executor-side fanout, no shuffle."""
    d = table(spark, sf_dir, "documents")
    clips = d.select(
        "doc_id", ((F.col("n_chars") % CLIP_MOD) + 1).alias("n_frames")
    )
    return sample_frames(clips, F.col("n_frames"), stride=FRAME_STRIDE)


# no oracle: blob byte-fold is not DuckDB-expressible → rows-only check
@q("q_image_resize", None)
def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing (fake raster summary): payload bytes →
    fixed 64×64 output + content byte-sum.  Rows-only driver check —
    DuckDB cannot fold over blob bytes; tests/test_multimodal.py holds
    the exact pure-Python oracle."""
    d = table(spark, sf_dir, "documents")
    resized = resize_images(attach_binary_payload(d), width=64, height=64)
    return resized.groupBy("out_width", "out_height").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("px_sum").alias("px_total"),
    )


# ---------------------------------------------------------------------------
# REAL-codec queries: WAV / BMP / PNG / GIF / PGM / QOI payloads are
# genuine byte streams (operators/codecs.py — stdlib struct/zlib),
# synthesized by one mapInPandas kernel (operators/multimodal.
# synth_payloads) and PARSED back by a second (parse_payloads); each
# query only names its format's payload formula, row statistics and
# schema.  Because every payload is a fixed integer recurrence of
# doc_id, DuckDB re-derives every decoded feature exactly → full
# value-hash oracles for the whole decode path.  The oracle SQL below
# is written independently of the Python formulas on purpose.
# ---------------------------------------------------------------------------


@q(
    "q_audio_features",
    """
    WITH samp AS (
        SELECT doc_id, unnest(range(0, 200 + doc_id % 100)) AS i
        FROM documents
    ), s AS (
        SELECT doc_id, i,
               ((doc_id * 7349 + i * 40503) % 65536) - 32768 AS v
        FROM samp
    ), lagged AS (
        SELECT doc_id, v,
               LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM s
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(MAX(abs(v)) AS BIGINT) AS peak,
           CAST(SUM(abs(v)) AS BIGINT) AS sum_abs,
           CAST(SUM(CASE WHEN prev IS NOT NULL
                          AND ((v >= 0) != (prev >= 0))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cross
    FROM lagged
    GROUP BY doc_id
""",
)
def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → real 16-bit PCM WAV payloads → RIFF/PCM parse →
    integer signal features (peak, abs-sum, zero crossings).  Two
    chained mapInPandas kernels over one RoundRobin exchange of the
    doc ids; the payload bytes never shuffle."""
    d = table(spark, sf_dir, "documents")
    return parse_payloads(
        synth_payloads(d, M.wav_payload), M.WAV_FEATURES_SCHEMA, M.wav_rows
    )


@q(
    "q_image_decode",
    """
    WITH dims AS (
        SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        FROM documents
    ), xs AS (
        SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims
    ), px AS (
        SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs
    )
    SELECT doc_id,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(SUM((x + y + doc_id) % 256
                    + (2 * x + y + doc_id) % 256
                    + (x + 3 * y + doc_id) % 256) AS BIGINT) AS px_sum,
           CAST(SUM((x + y + doc_id) % 256) AS BIGINT) AS r_sum
    FROM px
    GROUP BY doc_id
""",
)
def q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → real 24bpp BMP payloads (bottom-up rows, 4-byte row
    padding) → header+raster parse → integer pixel features."""
    d = table(spark, sf_dir, "documents")
    return parse_payloads(
        synth_payloads(d, M.bmp_payload), M.BMP_FEATURES_SCHEMA, M.bmp_rows
    )


@q(
    "q_png_decode",
    """
    WITH dims AS (
        SELECT doc_id, 16 + doc_id % 17 AS w, 5 + doc_id % 11 AS h
        FROM documents
    ), xs AS (
        SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims
    ), px AS (
        SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs
    )
    SELECT doc_id,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(SUM((3 * x + 5 * y + doc_id) % 256) AS BIGINT) AS px_sum,
           CAST(MAX((3 * x + 5 * y + doc_id) % 256) AS BIGINT) AS px_max
    FROM px
    GROUP BY doc_id
""",
)
def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → real 8-bit grayscale PNG payloads (zlib IDAT, rows
    cycling ALL five PNG filter types) → chunk parse + inflate +
    un-filter → integer raster features."""
    d = table(spark, sf_dir, "documents")
    return parse_payloads(
        synth_payloads(d, M.png_payload), M.PNG_FEATURES_SCHEMA, M.png_rows
    )


@q(
    "q_gif_decode",
    """
    WITH dims AS (
        SELECT doc_id, 12 + doc_id % 13 AS w, 4 + doc_id % 9 AS h
        FROM documents
    ), xs AS (
        SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims
    ), px AS (
        SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs
    )
    SELECT doc_id,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(SUM((7 * x + 11 * y + doc_id) % 256) AS BIGINT) AS px_sum,
           CAST(MIN((7 * x + 11 * y + doc_id) % 256) AS BIGINT) AS px_min
    FROM px
    GROUP BY doc_id
""",
)
def q_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → real GIF87a payloads (grayscale palette, genuine
    variable-width GIF-LZW with dict resets) → header parse + LZW
    decode → integer raster features.  Same kernel pair over one
    doc-id RoundRobin exchange as the PNG/BMP/WAV codecs (the payload
    bytes never shuffle); the decoder is verified
    against tool-written files (tests/test_codecs.py's CPython-icon
    conformance vector)."""
    d = table(spark, sf_dir, "documents")
    return parse_payloads(
        synth_payloads(d, M.gif_payload), M.GIF_FEATURES_SCHEMA, M.gif_rows
    )


@q(
    "q_spectral_bins",
    """
    WITH samp AS (
        SELECT doc_id, 200 + doc_id % 100 AS n,
               unnest(range(0, 200 + doc_id % 100)) AS i
        FROM documents
    ), s AS (
        SELECT doc_id, n, i,
               ((doc_id * 7349 + i * 40503) % 65536) - 32768 AS v
        FROM samp
    ), bins AS (
        SELECT unnest([1, 2, 4, 8]) AS k
    )
    SELECT doc_id, CAST(k AS BIGINT) AS k,
           CAST(SUM(v * (1 - 2 * (((2 * k * i) // n) % 2))) AS BIGINT) AS corr,
           CAST(abs(SUM(v * (1 - 2 * (((2 * k * i) // n) % 2)))) AS BIGINT)
               AS corr_abs
    FROM s CROSS JOIN bins
    GROUP BY doc_id, k
""",
)
def q_spectral_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → real WAV payloads → Walsh/square-wave spectral bins
    (k = 1, 2, 4, 8 cycles per clip).  The integer-exact stand-in for
    per-bin DFT energy — see operators/multimodal.walsh_rows for
    why square waves instead of cos/sin (cross-engine libm ulp).
    Chained mapInPandas kernels over one RoundRobin exchange of the
    doc ids — the same embarrassingly-parallel shape as
    q_audio_features."""
    d = table(spark, sf_dir, "documents")
    return parse_payloads(
        synth_payloads(d, M.wav_payload), M.WAV_WALSH_SCHEMA, M.walsh_rows
    )


@q(
    "q_pgm_decode",
    """
    WITH dims AS (
        SELECT doc_id, 10 + doc_id % 19 AS w, 3 + doc_id % 7 AS h
        FROM documents
    ), xs AS (
        SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims
    ), px AS (
        SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs
    )
    SELECT doc_id,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(SUM((5 * x + 7 * y + doc_id) % 256) AS BIGINT) AS px_sum,
           CAST(MAX((5 * x + 7 * y + doc_id) % 256) AS BIGINT) AS px_max
    FROM px
    GROUP BY doc_id
""",
)
def q_pgm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → real Netpbm PGM payloads (P5 raw for even ids, P2
    plain ASCII with header comments for odd ids — both parser paths
    every batch) → token/raster parse → integer features.  Same
    mapInPandas kernel pair over one doc-id RoundRobin exchange as the
    other codecs (operators/codecs.encode_pgm/decode_pgm)."""
    d = table(spark, sf_dir, "documents")
    return parse_payloads(
        synth_payloads(d, M.pgm_payload), M.PGM_FEATURES_SCHEMA, M.pgm_rows
    )


@q(
    "q_qoi_decode",
    """
    WITH dims AS (
        SELECT doc_id, 8 + doc_id % 21 AS w, 3 + doc_id % 8 AS h
        FROM documents
    ), xs AS (
        SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims
    ), px AS (
        SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs
    ), chan AS (
        SELECT doc_id, w, h,
               CASE WHEN y % 4 = 3 THEN 3 * (doc_id % 7)
                    ELSE (2 * x + 3 * y + doc_id) % 256
                         + (3 * x + 5 * y + doc_id) % 256
                         + (5 * x + 7 * y + doc_id) % 256 END AS s,
               CASE WHEN y % 4 = 3 THEN doc_id % 7
                    ELSE (3 * x + 5 * y + doc_id) % 256 END AS g
        FROM px
    )
    SELECT doc_id,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(SUM(s) AS BIGINT) AS px_sum,
           CAST(SUM(g) AS BIGINT) AS g_sum
    FROM chan
    GROUP BY doc_id
""",
)
def q_qoi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → real QOI payloads (qoiformat.org; the full op set —
    gradient rows drive DIFF/LUMA/RGB, constant rows drive RUN/INDEX)
    → decode → integer raster features.  Same mapInPandas kernel pair
    over one doc-id RoundRobin exchange as the other codecs
    (operators/codecs.encode_qoi/decode_qoi)."""
    d = table(spark, sf_dir, "documents")
    return parse_payloads(
        synth_payloads(d, M.qoi_payload), M.QOI_FEATURES_SCHEMA, M.qoi_rows
    )

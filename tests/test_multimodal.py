"""Multimodal plumbing: exact pure-Python oracles for the paths the
DuckDB oracle cannot express (blob byte-folds), the batch-shape
contract of the mapInPandas kernels, and pinned real-codec payload
bytes.
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest

from pyspark.sql import functions as F

from nfl26_bigdatabowl_prediction_spark.operators import multimodal as M
from nfl26_bigdatabowl_prediction_spark.operators.multimodal import (
    attach_binary_payload,
    decode_features,
    resize_images,
    sample_frames,
)
from nfl26_bigdatabowl_prediction_spark.sources.io import table


def test_resize_matches_python_oracle(spark, sf_dir):
    d = table(spark, sf_dir, "documents").limit(200)
    got = (
        resize_images(attach_binary_payload(d), width=64, height=64)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    src = d.select("doc_id", "text").toPandas()
    want = {
        int(r.doc_id): sum(r.text.encode("utf-8")) for r in src.itertuples()
    }
    assert (got["out_width"] == 64).all() and (got["out_height"] == 64).all()
    assert {i: int(v) for i, v in got["px_sum"].items()} == want


def test_sample_frames_indices(spark):
    df = spark.createDataFrame(
        [(1, 1), (2, 7), (3, 8), (4, 20)], "doc_id int, n_frames int"
    )
    got = {
        (r.doc_id, r.frame_idx)
        for r in sample_frames(df, F.col("n_frames"), stride=7).collect()
    }
    want = {
        (d, i) for d, n in [(1, 1), (2, 7), (3, 8), (4, 20)]
        for i in range(0, n, 7)
    }
    assert got == want


def test_decode_schema_and_determinism(spark, sf_dir):
    d = table(spark, sf_dir, "documents").limit(50)
    out = decode_features(attach_binary_payload(d))
    pdf = out.toPandas()
    assert list(pdf.columns) == [
        "doc_id", "n_bytes", "fake_width", "fake_height", "feat"
    ]
    assert all(len(v) == 4 for v in pdf["feat"])
    # deterministic: re-running yields identical rows
    pdf2 = decode_features(attach_binary_payload(d)).toPandas()
    a = pdf.sort_values("doc_id").reset_index(drop=True)
    b = pdf2.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a.drop(columns="feat"), b.drop(columns="feat"))


# sha256 over the concatenated payloads of doc ids 0..199, per format.
# The query oracles check decoded features only, so a change to the
# bytes themselves (PNG filter cycling, PGM P2/P5 alternation, QOI
# constant rows) would still pass them; these digests would not.
PAYLOAD_SHA256 = {
    "wav": "6333cdee9a9b2230d4630a988c8e6484967f4b9a7e028f152319c188403d3705",
    "bmp": "bf59589e9fea43537f31927363eb538c87b9c56aceb7e9e5355a340251afcebc",
    "png": "e1a350b39356185bf721076b19a1241f60abf91b38c1f786ff2e1a702356a630",
    "gif": "bc74e3563168c3c817b7b4e9237e55b20c41bd9b39ca83acfd7525c1f3e5f05d",
    "pgm": "e8f3e943aad5575feeec3b1f40badd7062c3418b44fd0fcf4a04bb417c383684",
    "qoi": "e0caee486cc3b1465dbc0b990aa8ce2734548278a092fd2986c086ad60f350cd",
}


@pytest.mark.parametrize("fmt", sorted(PAYLOAD_SHA256))
def test_codec_payload_bytes_are_pinned(fmt):
    make = getattr(M, f"{fmt}_payload")
    h = hashlib.sha256()
    for d in range(200):
        h.update(make(d))
    assert h.hexdigest() == PAYLOAD_SHA256[fmt]

"""Reference-shaped integration tests (FIXTURES.md §2-4): the full
tracking feature pipeline + label build + ML layer on synthetic
frames, validated the way the reference validates itself (SURVEY §5):
physics-baseline sanity anchor and metric-improvement property.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nfl26_bigdatabowl_prediction_spark.ml.features import (
    advanced_features,
    build_training_rows,
    gnn_lite_features,
    sequence_features,
)
from nfl26_bigdatabowl_prediction_spark.ml.folds import with_fold
from nfl26_bigdatabowl_prediction_spark.ml.gbt import (
    HORIZON_COLS,
    ResidualGBTConfig,
    last_frame_features,
    predict_fold_mean,
    train_residual_gbt,
)
from nfl26_bigdatabowl_prediction_spark.ml.seqreg import oof_result, training_frame
from nfl26_bigdatabowl_prediction_spark.testing import make_tracking_tables


@pytest.fixture(scope="module")
def tracking(spark):
    inp, outp = make_tracking_tables(spark)
    return inp.cache(), outp.cache()


def test_advanced_features_schema_and_defaults(tracking):
    inp, _ = tracking
    feat = advanced_features(inp)
    row = feat.filter(
        (F.col("player_height") == "") & (F.col("play_id") == 100)
    ).first()
    assert row is not None and row["height_inches"] == 72.0  # malformed → default
    cols = set(feat.columns)
    assert {"vx", "vy", "dist_to_ball", "momentum", "kinetic_energy"} <= cols


def test_sequence_features_window_counts(tracking):
    inp, _ = tracking
    feat = sequence_features(advanced_features(inp))
    # lag-k is NULL for the first k frames of each trajectory
    first = feat.filter(F.col("frame_id") == 1).select("x_lag1").toPandas()
    assert first["x_lag1"].isna().all()
    short = feat.filter((F.col("nfl_id") == 40002) & (F.col("play_id") == 101))
    assert short.count() > 0  # short trajectory survives


def test_gnn_lite_fills_isolated(tracking):
    inp, _ = tracking
    gnn = gnn_lite_features(advanced_features(inp))
    assert gnn.filter(F.col("gnn_d1").isNull()).count() == 0  # P8 fill
    assert gnn.filter(F.col("gnn_d1") > 30.0).count() == 0  # radius bound


def test_training_rows_asof(tracking):
    inp, outp = tracking
    rows = build_training_rows(advanced_features(inp), outp)
    orphan = rows.filter(F.col("nfl_id") == 49999).first()
    assert orphan is not None and orphan["last_x"] is None  # left-join null path
    ok = rows.filter(F.col("last_x").isNotNull())
    assert ok.filter(
        (F.col("baseline_x") < 0) | (F.col("baseline_x") > 120)
    ).count() == 0  # clip


def test_gbt_in_sample_fit_beats_physics_baseline(spark, tracking):
    """The reference's own acceptance check (main_cuda.py:1389-1401,
    BASELINE.md: 4.237 → 0.678) as an in-sample fit: the K fold
    models' mean residual, scored on the rows they trained on with the
    official metric, must beat dead reckoning by a 1.3× margin.  Out
    of fold is test_ml.py::test_train_and_predict_end_to_end."""
    inp, outp = tracking
    feature_cols = [
        "x", "y", "s_roll3_mean", "speed_change", "momentum",
        "gnn_d1", "gnn_ally_cnt", "team_x_mean", "dist_to_ball",
    ]
    last, cols = last_frame_features(inp, feature_cols)
    assert cols == feature_cols
    train = training_frame(inp, outp, last, k=3)
    models = train_residual_gbt(
        train, cols + HORIZON_COLS, k=3, cfg=ResidualGBTConfig(max_iter=10, max_depth=4)
    )
    r = oof_result(predict_fold_mean(models, train, oof=False), "gbt")
    assert r.rmse_model * 1.3 < r.rmse_baseline, (r.rmse_model, r.rmse_baseline)


def test_fold_assignment_is_group_pure(tracking):
    inp, _ = tracking
    f = with_fold(inp, ["game_id", "play_id", "nfl_id"], k=5)
    impure = (
        f.groupBy("game_id", "play_id", "nfl_id")
        .agg(F.countDistinct("fold").alias("nf"))
        .filter(F.col("nf") > 1)
        .count()
    )
    assert impure == 0


def test_rich_sequence_and_ewm_match_pandas(spark, tracking):
    """main_mps.py:185-240 parity: rolling max/min, speed_jerk, and
    every (col, alpha) EWM column equal pandas groupby transforms on
    the same frames (ewm(alpha, adjust=False), bitwise)."""
    import pandas as pd

    from nfl26_bigdatabowl_prediction_spark.ml.features import (
        ewm_features,
        sequence_features_rich,
    )

    inp, _ = tracking
    base = advanced_features(inp)
    got = (
        ewm_features(sequence_features_rich(base))
        .select(
            "game_id", "play_id", "nfl_id", "frame_id",
            "s_roll7_max", "s_roll10_min", "speed_jerk",
            "s_ewm03", "x_ewm05", "dist_to_ball_ewm07",
        )
        .toPandas()
        .sort_values(["game_id", "play_id", "nfl_id", "frame_id"])
        .reset_index(drop=True)
    )
    ref = (
        base.select(
            "game_id", "play_id", "nfl_id", "frame_id", "x", "s", "dist_to_ball"
        )
        .toPandas()
        .sort_values(["game_id", "play_id", "nfl_id", "frame_id"])
        .reset_index(drop=True)
    )
    grp = ref.groupby(["game_id", "play_id", "nfl_id"])
    ref["s_roll7_max"] = grp["s"].transform(
        lambda v: v.rolling(7, min_periods=1).max()
    )
    ref["s_roll10_min"] = grp["s"].transform(
        lambda v: v.rolling(10, min_periods=1).min()
    )
    ref["speed_jerk"] = grp["s"].transform(lambda v: v.diff().diff())
    ref["s_ewm03"] = grp["s"].transform(
        lambda v: v.ewm(alpha=0.3, adjust=False).mean()
    )
    ref["x_ewm05"] = grp["x"].transform(
        lambda v: v.ewm(alpha=0.5, adjust=False).mean()
    )
    ref["dist_to_ball_ewm07"] = grp["dist_to_ball"].transform(
        lambda v: v.ewm(alpha=0.7, adjust=False).mean()
    )
    for c in ("s_roll7_max", "s_roll10_min", "speed_jerk",
              "s_ewm03", "x_ewm05", "dist_to_ball_ewm07"):
        a, b = got[c], ref[c]
        both = a.notna() & b.notna()
        assert (a.isna() == b.isna()).all(), c
        assert (a[both].values == b[both].values).all(), c

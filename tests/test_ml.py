"""M6/M7/M8 coverage (SURVEY §2.10): ridge meta-stacking, fixed-weight
model averaging, and the StandardScaler pipeline path — the ensemble
pieces not exercised by the end-to-end tracking test.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nfl26_bigdatabowl_prediction_spark.ml.ensemble import blend_predictions
from nfl26_bigdatabowl_prediction_spark.ml.folds import with_fold
from nfl26_bigdatabowl_prediction_spark.ml.gbt import (
    ResidualGBTConfig,
    predict_fold_mean,
    ridge_stack,
    train_residual_gbt,
)


def test_weighted_average_exact(spark):
    """M7 — pred = Σ w_m·pred_m / Σ w (main_cuda.py:85-90), exact."""
    a = spark.createDataFrame(
        [(1, 10.0, 20.0), (2, 0.0, 4.0)], "id int, m1_pred_x double, m1_pred_y double"
    )
    b = spark.createDataFrame(
        [(1, 20.0, 40.0), (2, 2.0, 0.0)], "id int, m2_pred_x double, m2_pred_y double"
    )
    rows = {
        r.id: r
        for r in blend_predictions(
            a.join(b, "id"), {"m1": 3.0, "m2": 1.0}
        ).collect()
    }
    assert rows[1].ens_pred_x == 12.5 and rows[1].ens_pred_y == 25.0
    assert rows[2].ens_pred_x == 0.5 and rows[2].ens_pred_y == 3.0


def test_ridge_stack_recovers_linear_combination(spark):
    """M6 — LinearRegression(elasticNet=0) on OOF meta-features
    (main_cuda.py:1298-1310).  With regParam=0 it is OLS and must
    recover an exactly-linear label."""
    rows = [(float(i), float(2 * i % 7), 2.0 * i + 3.0 * (2 * i % 7) + 1.0) for i in range(40)]
    oof = spark.createDataFrame(rows, "m1 double, m2 double, label double")
    model = ridge_stack(oof, ["m1", "m2"], "label", reg=0.0)
    err = (
        model.transform(oof)
        .select(F.max(F.abs(F.col("stack_label") - F.col("label"))).alias("e"))
        .first()
        .e
    )
    assert err < 1e-6, err


def test_scaled_pipeline_trains_and_predicts(spark):
    """M8 — the StandardScaler stage (nn-mps.py:908-916) wired into
    the fold pipeline; predictions must be finite for every row."""
    rows = [
        (i, float(i % 13), float((i * 7) % 5), 0.1 * (i % 13), -0.2 * ((i * 7) % 5))
        for i in range(120)
    ]
    df = spark.createDataFrame(
        rows, "gid int, f1 double, f2 double, res_x double, res_y double"
    ).withColumn("baseline_x", F.lit(50.0)).withColumn("baseline_y", F.lit(25.0))
    df = with_fold(df, ["gid"], k=2)
    models = train_residual_gbt(
        df,
        ["f1", "f2"],
        k=2,
        cfg=ResidualGBTConfig(max_iter=3, max_depth=3, scale_features=True),
    )
    pred = predict_fold_mean(models, df)
    n_bad = pred.filter(
        F.isnan("gbt_pred_x") | F.isnan("gbt_pred_y") | F.col("gbt_pred_x").isNull()
    ).count()
    assert n_bad == 0
    assert pred.count() == 120


def test_gbt_oof_predict_rejects_unknown_fold(spark):
    """OOF routing never falls back to a model that saw the row: a
    fold with no fold model fails instead of being scored."""
    rows = [(i, float(i % 13), 0.1 * (i % 13), -0.1 * (i % 13)) for i in range(40)]
    df = spark.createDataFrame(
        rows, "gid int, f1 double, res_x double, res_y double"
    ).withColumn("baseline_x", F.lit(50.0)).withColumn("baseline_y", F.lit(25.0))
    df = with_fold(df, ["gid"], k=2)
    models = train_residual_gbt(
        df, ["f1"], k=2, cfg=ResidualGBTConfig(max_iter=2, max_depth=2)
    )
    assert predict_fold_mean(models, df).count() == 40
    with pytest.raises(Exception, match="no GBT fold model for fold=2"):
        predict_fold_mean(models, df.withColumn("fold", F.lit(2))).collect()


def test_model_save_load_roundtrip(spark, tmp_path):
    """S5 — MLlib persistence replaces the reference's pickle bundle:
    reloaded fold models must predict identically."""
    from nfl26_bigdatabowl_prediction_spark.ml.gbt import load_models, save_models

    rows = [
        (i, float(i % 13), float((i * 7) % 5), 0.1 * (i % 13), -0.2 * ((i * 7) % 5))
        for i in range(80)
    ]
    df = spark.createDataFrame(
        rows, "gid int, f1 double, f2 double, res_x double, res_y double"
    ).withColumn("baseline_x", F.lit(50.0)).withColumn("baseline_y", F.lit(25.0))
    df = with_fold(df, ["gid"], k=2)
    models = train_residual_gbt(
        df, ["f1", "f2"], k=2, cfg=ResidualGBTConfig(max_iter=3, max_depth=3)
    )
    save_models(models, str(tmp_path / "bundle"))
    reloaded = load_models(str(tmp_path / "bundle"), k=2)
    a = predict_fold_mean(models, df).select("gid", "gbt_pred_x", "gbt_pred_y").toPandas().sort_values("gid")
    b = predict_fold_mean(reloaded, df).select("gid", "gbt_pred_x", "gbt_pred_y").toPandas().sort_values("gid")
    assert (a["gbt_pred_x"].to_numpy() == b["gbt_pred_x"].to_numpy()).all()
    assert (a["gbt_pred_y"].to_numpy() == b["gbt_pred_y"].to_numpy()).all()


def test_train_and_predict_end_to_end(spark, monkeypatch):
    """E1 lifecycle as one call (ml/gbt.train_and_predict_gbt):
    features → as-of labels → grouped folds → residual GBT → OOF
    predictions → official metric.  Every row is scored by the one
    fold model that never saw it, on the frame the sequence learners
    share."""
    from nfl26_bigdatabowl_prediction_spark.functions.scalar import clip
    from nfl26_bigdatabowl_prediction_spark.ml import gbt
    from nfl26_bigdatabowl_prediction_spark.ml.seqreg import train_and_predict_seq
    from nfl26_bigdatabowl_prediction_spark.testing import make_tracking_tables

    inp, outp = make_tracking_tables(spark)
    _, cols = gbt.last_frame_features(inp, None)
    assert cols  # declared∩present is non-empty

    fitted = []
    train = gbt.train_residual_gbt
    monkeypatch.setattr(
        gbt, "train_residual_gbt",
        lambda *a, **kw: fitted.append(train(*a, **kw)) or fitted[-1],
    )
    res = gbt.train_and_predict_gbt(
        inp, outp, k=3, cfg=ResidualGBTConfig(max_iter=10, max_depth=4)
    )
    assert res.predictions.count() > 0
    # leak-free routing: a fold-f row carries model f's prediction alone
    for m in fitted[-1]:
        rows = res.predictions.filter(F.col("fold") == m.fold)
        alone = m.model_y.transform(
            m.model_x.transform(rows).drop("_features_raw")
        )
        ax = clip(F.col("baseline_x") + F.col("pred_res_x"), 0.0, 120.0)
        ay = clip(F.col("baseline_y") + F.col("pred_res_y"), 0.0, 53.3)
        assert rows.count() > 0
        assert alone.filter(
            ~F.col("gbt_pred_x").eqNullSafe(ax) | ~F.col("gbt_pred_y").eqNullSafe(ay)
        ).count() == 0, m.fold
    # one frame: the baseline is the sequence learners' baseline
    assert res.rmse_baseline == train_and_predict_seq(inp, outp, k=3).rmse_baseline


def test_gbt_early_stopping_caps_tree_count(spark):
    """validation_col early stopping (the reference's eval_set,
    SURVEY §4): with a validation holdout and a loose tolerance the
    booster must stop before the full iteration budget, and the
    resulting models must still predict finite values everywhere."""
    from nfl26_bigdatabowl_prediction_spark.ml.folds import with_validation_flag

    rows = [
        (i, float(i % 13), float((i * 7) % 5), 0.1 * (i % 13), -0.2 * ((i * 7) % 5))
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "gid int, f1 double, f2 double, res_x double, res_y double"
    ).withColumn("baseline_x", F.lit(50.0)).withColumn("baseline_y", F.lit(25.0))
    df = with_fold(df, ["gid"], k=2)
    df = with_validation_flag(df, ["gid"], frac_denominator=4)
    # group-safety: every gid maps to exactly one flag value
    assert (
        df.groupBy("gid").agg(F.countDistinct("is_val").alias("n"))
        .filter(F.col("n") > 1).count() == 0
    )
    budget = 40
    models = train_residual_gbt(
        df,
        ["f1", "f2"],
        k=2,
        cfg=ResidualGBTConfig(
            max_iter=budget, max_depth=2, validation_col="is_val", validation_tol=0.5
        ),
    )
    # the label is an exact linear function of the features, so the
    # holdout error plateaus almost immediately under a loose tol
    n_trees = models[0].model_x.stages[-1].getNumTrees
    assert 0 < n_trees < budget, n_trees
    pred = predict_fold_mean(models, df)
    assert pred.filter(F.isnan("gbt_pred_x") | F.col("gbt_pred_x").isNull()).count() == 0


def test_seq_regressor_beats_physics_baseline(spark):
    # M9 (SURVEY §2.10): the distributed sequence regressor — last-8
    # -frame windows, normal-equation ridge, Huber IRLS (the
    # TemporalHuber analog, nn-mps.py:668-686) — must beat the
    # constant-velocity baseline on the tracking fixture, mirroring
    # the reference's own improvement check (main_cuda.py:1389-1401).
    from nfl26_bigdatabowl_prediction_spark.ml.seqreg import (
        SeqRegConfig,
        train_and_predict_seq,
    )
    from nfl26_bigdatabowl_prediction_spark.testing import make_tracking_tables

    inp, outp = make_tracking_tables(spark)
    r = train_and_predict_seq(
        inp,
        outp,
        k=5,
        cfg=SeqRegConfig(huber_delta=1.0, irls_iters=2, horizon_decay=0.9),
    )
    assert r.rmse_model < r.rmse_baseline, (r.rmse_model, r.rmse_baseline)
    # OOF predictions are finite and in field bounds
    from pyspark.sql import functions as F

    pred = r.predictions
    assert pred.filter(
        F.col("seq_pred_x").isNull() | F.isnan("seq_pred_x")
    ).count() == 0
    assert pred.filter(
        (F.col("seq_pred_x") < 0) | (F.col("seq_pred_x") > 120)
    ).count() == 0


def test_encoder_ensemble_beats_best_single(spark, trained_encoders):
    # M7 × M9: the inverse-RMSE blend of the GRU and CNN+BiLSTM OOF
    # predictions must beat the best single encoder (MEASURED.md
    # §"M7 × M9: cross-encoder ensemble" — errors decorrelate across
    # encoder families, the reference's ensemble rationale).
    # Trains both encoders, so this is the suite's heaviest ML test.
    from nfl26_bigdatabowl_prediction_spark.ml.scoring import score

    rg = trained_encoders["gru"]
    rb = trained_encoders["bilstm"]
    g = rg.predictions.select(
        "id", F.col("target_x").alias("tx"), F.col("target_y").alias("ty"),
        "rnn_pred_x", "rnn_pred_y",
    )
    b = rb.predictions.select("id", "bilstm_pred_x", "bilstm_pred_y")
    j = blend_predictions(
        g.join(b, "id"), {"rnn": 1.0 / rg.rmse_model, "bilstm": 1.0 / rb.rmse_model}
    )
    sol = j.select("id", F.col("tx").alias("x"), F.col("ty").alias("y"))
    ens = j.select(
        "id", F.col("ens_pred_x").alias("x"), F.col("ens_pred_y").alias("y")
    )
    rmse_ens = score(sol, ens)
    assert rmse_ens < min(rg.rmse_model, rb.rmse_model), (
        rmse_ens, rg.rmse_model, rb.rmse_model,
    )


def test_encoder_cache_key_covers_the_trainers_import_closure():
    # the encoder disk cache (conftest._ml_source_key) is keyed on every
    # module the training frame imports, and the ML layer stands alone:
    # importing the trainers loads no query module
    import os

    import nfl26_bigdatabowl_prediction_spark as pkg
    from tests.conftest import _ml_sources

    root = os.path.dirname(pkg.__file__)
    files = {os.path.relpath(f, root) for f in _ml_sources()}
    assert {"ml/features.py", "functions/scalar.py"} <= files, files
    assert not any(f.startswith("plans" + os.sep) for f in files), files

"""M2/M4/M5/M6/M7 — the gradient-boosted residual ensemble, MLlib-first.

Reference stack (main_cuda.py:1009-1126, 1298-1310, 85-90):
  CatBoost primary on residual labels → OOF residuals → XGB/LGB
  second stage → inverse-RMSE weighted combine → Ridge meta-stack.

MLlib mapping (SURVEY §2.10): GBTRegressor per target replaces each
booster (parity is metric-level, not bitwise — the reference's own
logs are its only spec); LinearRegression(regParam=1, elasticNet=0)
is the Ridge meta-learner; weighted averaging is column arithmetic
(ensemble.blend_predictions).
Early stopping: GBT's validationIndicatorCol + validationTol emulate
the reference's eval_set (SURVEY §4) via folds.with_validation_flag;
default stays a fixed maxIter budget.

Everything stays distributed: VectorAssembler keeps features in
DataFrames; per-fold training iterates over K cached filtered views.

The E1 lifecycle (``NFLPredictor.train_and_predict``,
main_cuda.py:1445-1566 — features → as-of labels → grouped folds →
residual GBT → official metric) is ``train_and_predict_gbt``: it
fits on the one training frame every learner shares
(seqreg.training_frame) and scores out of fold like the sequence
learners.  The feature list is declared-then-intersected with the
columns the pipeline produced (the reference's schema-tolerant
projection, main_cuda.py:483-486), so callers can pass a superset.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import StandardScaler, VectorAssembler
from pyspark.ml.regression import GBTRegressor, LinearRegression
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import clip
from .features import TRAJECTORY_KEY, full_feature_pipeline, last_frames
from .seqreg import SeqTrainResult, oof_result, training_frame

DEFAULT_FEATURES = [
    "x", "y", "s", "a",
    "s_roll3_mean", "s_roll5_mean", "speed_change", "momentum",
    "kinetic_energy", "dist_to_ball", "velocity_toward_ball",
    "gnn_d1", "gnn_d2", "gnn_d3", "gnn_ally_cnt", "gnn_opp_cnt",
    "team_x_mean", "team_y_mean", "team_s_mean",
]
# each label row's horizon (output frame index, Δt), appended to the features
HORIZON_COLS = ["out_frame_id", "delta_t"]


@dataclass
class ResidualGBTConfig:
    max_iter: int = 20  # reference uses 20k + early stop; scaled for tests
    max_depth: int = 5  # reference depth 8 (main_cuda.py:68-72)
    step_size: float = 0.08  # reference lr (main_cuda.py:70)
    subsample: float = 0.8
    seed: int = 42
    scale_features: bool = False
    # eval_set early stopping (CatBoost :759 / XGB :852 / LGB :946):
    # name of a boolean holdout column (folds.with_validation_flag) —
    # GBT stops adding trees once the holdout error improves by less
    # than validation_tol.  None = fixed iteration budget.
    validation_col: str | None = None
    validation_tol: float = 0.01


@dataclass
class FoldModel:
    fold: int
    model_x: PipelineModel
    model_y: PipelineModel


def _pipeline(feature_cols: list[str], label: str, cfg: ResidualGBTConfig) -> Pipeline:
    stages = [
        VectorAssembler(
            inputCols=feature_cols, outputCol="_features_raw", handleInvalid="keep"
        )
    ]
    feat_col = "_features_raw"
    if cfg.scale_features:
        # M8 — StandardScaler (nn-mps.py:908-916)
        stages.append(
            StandardScaler(
                inputCol="_features_raw", outputCol="_features", withMean=True
            )
        )
        feat_col = "_features"
    kwargs = {}
    if cfg.validation_col is not None:
        kwargs = {
            "validationIndicatorCol": cfg.validation_col,
            "validationTol": cfg.validation_tol,
        }
    stages.append(
        GBTRegressor(
            featuresCol=feat_col,
            labelCol=label,
            predictionCol=f"pred_{label}",
            maxIter=cfg.max_iter,
            maxDepth=cfg.max_depth,
            stepSize=cfg.step_size,
            subsamplingRate=cfg.subsample,
            seed=cfg.seed,
            **kwargs,
        )
    )
    return Pipeline(stages=stages)


def train_residual_gbt(
    train_df: DataFrame,
    feature_cols: list[str],
    k: int = 3,
    cfg: ResidualGBTConfig | None = None,
) -> list[FoldModel]:
    """K-fold training of the (res_x, res_y) regressor pair
    (main_cuda.py:728-801).  Expects ``with_fold`` to have been
    applied; labels are the residuals from build_training_rows."""
    cfg = cfg or ResidualGBTConfig()
    train_df = train_df.cache()
    models = []
    for fold in range(k):
        tr = train_df.filter(F.col("fold") != fold)
        mx = _pipeline(feature_cols, "res_x", cfg).fit(tr)
        my = _pipeline(feature_cols, "res_y", cfg).fit(tr)
        models.append(FoldModel(fold, mx, my))
    return models


def predict_fold_mean(
    models: list[FoldModel], df: DataFrame, oof: bool = True
) -> DataFrame:
    """Adds gbt_pred_x / gbt_pred_y = clip(baseline + predicted
    residual) (main_cuda.py:1501-1530).  ``oof=True`` routes each row
    to the model of its own fold, the one that never saw it;
    ``oof=False`` averages the K fold models' residuals, the
    inference path for unseen data."""
    out = df
    for fm in models:
        out = (
            fm.model_x.transform(out)
            .withColumnRenamed("pred_res_x", f"_px_{fm.fold}")
            .drop("_features_raw", "_features")
        )
        out = (
            fm.model_y.transform(out)
            .withColumnRenamed("pred_res_y", f"_py_{fm.fold}")
            .drop("_features_raw", "_features")
        )

    def residual(t: str):
        if not oof:
            return sum(F.col(f"_p{t}_{m.fold}") for m in models) / float(len(models))
        # a fold without its model must fail, not fall back to a model
        # that saw the row
        e = F.raise_error(F.format_string("no GBT fold model for fold=%s", "fold"))
        for m in models:
            e = F.when(F.col("fold") == m.fold, F.col(f"_p{t}_{m.fold}")).otherwise(e)
        return e

    out = out.withColumn(
        "gbt_pred_x", clip(F.col("baseline_x") + residual("x"), 0.0, 120.0)
    ).withColumn("gbt_pred_y", clip(F.col("baseline_y") + residual("y"), 0.0, 53.3))
    return out.drop(*[c for c in out.columns if c.startswith("_p")])


def last_frame_features(
    input_df: DataFrame, feature_cols: list[str] | None
) -> tuple[DataFrame, list[str]]:
    """The E1 feature pipeline's last frame per trajectory, nulls
    filled with 0.0.  Returns (features, the declared columns present)."""
    feats = full_feature_pipeline(input_df)
    cols = [c for c in (feature_cols or DEFAULT_FEATURES) if c in feats.columns]
    last = last_frames(feats, 1).select(*TRAJECTORY_KEY, *cols).na.fill(0.0, cols)
    return last, cols


def train_and_predict_gbt(
    input_df: DataFrame,
    output_df: DataFrame,
    feature_cols: list[str] | None = None,
    k: int = 5,
    cfg: ResidualGBTConfig | None = None,
) -> SeqTrainResult:
    """The E1 lifecycle: last-frame features → shared training frame →
    K-fold residual GBT → OOF prediction → official metric."""
    last, cols = last_frame_features(input_df, feature_cols)
    train = training_frame(input_df, output_df, last, k)
    models = train_residual_gbt(train, cols + HORIZON_COLS, k=k, cfg=cfg)
    return oof_result(predict_fold_mean(models, train), "gbt")


def save_models(models: list[FoldModel], path: str) -> None:
    """S5 — model sink (main_cuda.py:1544-1559 pickle bundle →
    MLlib native persistence): one directory per fold per target."""
    for fm in models:
        fm.model_x.write().overwrite().save(f"{path}/fold{fm.fold}/x")
        fm.model_y.write().overwrite().save(f"{path}/fold{fm.fold}/y")


def load_models(path: str, k: int) -> list[FoldModel]:
    """S5 — model source (main_cuda.py:1483-1488 pickle load)."""
    return [
        FoldModel(
            fold,
            PipelineModel.load(f"{path}/fold{fold}/x"),
            PipelineModel.load(f"{path}/fold{fold}/y"),
        )
        for fold in range(k)
    ]


def ridge_stack(
    oof: DataFrame, meta_cols: list[str], label: str, reg: float = 1.0
) -> PipelineModel:
    """M6 — Ridge meta-learner on OOF meta-features
    (main_cuda.py:1298-1310): LinearRegression(regParam=1, elasticNet=0)."""
    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=meta_cols, outputCol="_meta", handleInvalid="keep"),
            LinearRegression(
                featuresCol="_meta",
                labelCol=label,
                predictionCol=f"stack_{label}",
                regParam=reg,
                elasticNetParam=0.0,
            ),
        ]
    )
    return pipe.fit(oof)

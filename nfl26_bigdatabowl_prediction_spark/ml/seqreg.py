"""Distributed sequence regressor — SURVEY §2.10 M9, Spark-first.

Reference M9 is a GRU / BiLSTM / Transformer over last-8-frame
feature windows (nn/nn-mps.py:689-758; nn-lstm.py:530-632;
nn-transformer.py:558-750) trained with a TemporalHuber loss
(nn-mps.py:668-686) and decoded into positions per horizon.  A
recurrent net is not a SQL-surface operator, and torch is not in
this engine's dependency set — so this module keeps every piece of
M9's *dataflow* and trains a learner that is exact in a constant
number of distributed passes:

- same inputs: fixed last-W-frame windows per trajectory, zero-padded
  on the left for short histories (nn-mps.py:616-623);
- same outputs: per-horizon (x, y) displacement residuals over the
  physics baseline, added back and clipped (M3/M4);
- same robust loss: Huber via IRLS re-weighting (the TemporalHuber
  analog), with an optional per-horizon decay weight;
- learner: ridge regression solved by normal equations.

Scale design (why this is the 100 TB shape):
- Window prep is pure JVM — row_number ≤ W on the trajectory
  shuffle, collect_list + flatten + pad, no Python involved.
- ONE Arrow-batched mapInPandas pass emits per-fold partial Gram
  matrices (XᵀX, Xᵀy, n).  d = W·|features| + 2 is tens, so a batch
  contributes O(d²) floats per fold; the partials are reduced BY
  SPARK (posexplode → groupBy(fold, pos) → sum) and only the k·d²
  final sums reach the driver — the treeAggregate shape.
- All K fold models come from that single scan: fold i's normal
  equations are the sum of the other folds' partials (leave-one-
  fold-out by subtraction-free composition).
- The driver solves K dense d×d systems (numpy) and broadcasts the
  coefficient table; prediction is one Arrow-batched matmul.
- Each Huber IRLS iteration is one more full scan with per-row
  weights from the pooled model — still zero extra shuffles.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import clip
from .features import TRAJECTORY_KEY, advanced_features, build_training_rows, last_frames
from .folds import with_fold
from .scoring import score

DEFAULT_SEQ_FEATURES = ["x", "y", "s", "a", "vx", "vy"]


@dataclass
class SeqRegConfig:
    window: int = 8  # last-W frames, the reference's window_size (nn-mps.py:616)
    ridge_lambda: float = 1.0
    huber_delta: float | None = None  # None = squared loss; else IRLS Huber
    irls_iters: int = 2
    horizon_decay: float | None = None  # row weight = decay ** delta_t


@dataclass
class SeqRegModel:
    feature_cols: list[str]
    window: int
    d: int
    # fold -> (theta_x, theta_y); fold -1 is the pooled (all-rows) model
    coef: dict[int, tuple[np.ndarray, np.ndarray]] = field(default_factory=dict)


def window_matrix(
    feats: DataFrame, feature_cols: list[str], window: int
) -> DataFrame:
    """Per-trajectory flattened last-W-frame feature window.

    Pure JVM prep: the last W frames ride the one trajectory shuffle,
    frames sort inside collect_list's struct, the per-frame feature
    vectors flatten, and short histories zero-pad on the LEFT so the
    most recent frame always occupies the same slots (the reference
    pads identically, nn-mps.py:616-623).
    """
    nf = len(feature_cols)
    fv = F.array(*[F.coalesce(F.col(c).cast("double"), F.lit(0.0)) for c in feature_cols])
    lastw = last_frames(feats, window).select(*TRAJECTORY_KEY, "frame_id", fv.alias("fv"))
    flat = lastw.groupBy(*TRAJECTORY_KEY).agg(
        F.expr(
            "flatten(transform(array_sort(collect_list(struct(frame_id, fv))), s -> s.fv))"
        ).alias("flat")
    )
    return flat.select(
        *TRAJECTORY_KEY,
        F.expr(
            f"concat(array_repeat(cast(0.0 as double), {window * nf} - size(flat)), flat)"
        ).alias("x_seq"),
    )


def _gram_pass(
    train: DataFrame, d: int, pooled_theta: tuple[np.ndarray, np.ndarray] | None,
    huber_delta: float | None, horizon_decay: float | None,
) -> dict[int, np.ndarray]:
    """One distributed scan → per-fold summed Gram pack.

    Pack layout per fold: [XᵀWxX (d²), XᵀWyX (d²), XᵀWx·yx (d),
    XᵀWy·yy (d), n (1)].  Weights Wx/Wy are 1 for plain ridge; under
    IRLS they are Huber weights of the POOLED model's residuals
    (row-intrinsic outlier downweighting — per-fold reweighting would
    cost k scans for no extra robustness), times the optional
    horizon-decay weight.
    """
    plen = 2 * d * d + 2 * d + 1

    def gram_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["x_vec"].tolist(), dtype=np.float64)
            yx = pdf["res_x"].to_numpy(np.float64)
            yy = pdf["res_y"].to_numpy(np.float64)
            wx = np.ones(len(pdf))
            wy = np.ones(len(pdf))
            if horizon_decay is not None:
                hw = horizon_decay ** pdf["delta_t"].to_numpy(np.float64)
                wx *= hw
                wy *= hw
            if pooled_theta is not None and huber_delta is not None:
                rx = np.abs(yx - X @ pooled_theta[0])
                ry = np.abs(yy - X @ pooled_theta[1])
                wx *= np.minimum(1.0, huber_delta / np.maximum(rx, 1e-12))
                wy *= np.minimum(1.0, huber_delta / np.maximum(ry, 1e-12))
            rows = []
            for fold, idx in pdf.groupby("fold").indices.items():
                Xb, wxb, wyb = X[idx], wx[idx], wy[idx]
                pack = np.concatenate(
                    [
                        ((Xb * wxb[:, None]).T @ Xb).ravel(),
                        ((Xb * wyb[:, None]).T @ Xb).ravel(),
                        Xb.T @ (wxb * yx[idx]),
                        Xb.T @ (wyb * yy[idx]),
                        [float(len(idx))],
                    ]
                )
                rows.append((int(fold), pack.tolist()))
            yield pd.DataFrame(rows, columns=["fold", "g"])

    gram = train.select("fold", "x_vec", "res_x", "res_y", "delta_t").mapInPandas(
        gram_iter, schema="fold long, g array<double>"
    )
    # Spark-side reduce: only k·plen scalars ever reach the driver.
    sums = (
        gram.select("fold", F.posexplode("g").alias("pos", "v"))
        .groupBy("fold", "pos")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    packs: dict[int, np.ndarray] = {}
    for r in sums:
        packs.setdefault(r["fold"], np.zeros(plen))[r["pos"]] = r["v"]
    return packs


def _solve_one(xtx: np.ndarray, xty: np.ndarray, d: int, lam: float) -> np.ndarray:
    """Ridge solve in STANDARDIZED coordinates, recovered from the raw
    Gram alone — no extra data pass.  The appended bias slot makes the
    Gram self-describing: its last row holds the (weighted) column
    sums and count, so means, stds, and the centered Gram all derive
    from the pack.  The penalty is scale-free (λ·n on unit-variance
    columns — sklearn Ridge's convention per effective sample, the
    meta-learner the reference stacks with, main_cuda.py:1298-1310);
    without this, yard-scale columns see ~zero regularization and the
    fold models overfit their leave-one-out gap.
    """
    n = xtx[-1, -1]
    if n <= 1:
        return np.zeros(d)
    m = d - 1  # non-bias columns
    mu = xtx[-1, :m] / n
    ybar = xty[-1] / n
    gc = xtx[:m, :m] - n * np.outer(mu, mu)  # centered Gram
    sd = np.sqrt(np.maximum(np.diag(gc) / n, 1e-12))
    dinv = 1.0 / sd
    a = (gc * dinv).T * dinv  # D^-1 Gc D^-1
    b = dinv * (xty[:m] - mu * (n * ybar))
    beta = np.linalg.solve(a + lam * n * np.eye(m), b)
    theta = np.empty(d)
    theta[:m] = dinv * beta
    theta[-1] = ybar - mu @ theta[:m]
    return theta


def _solve(pack: np.ndarray, d: int, lam: float) -> tuple[np.ndarray, np.ndarray]:
    xtx_x = pack[: d * d].reshape(d, d)
    xtx_y = pack[d * d : 2 * d * d].reshape(d, d)
    xty_x = pack[2 * d * d : 2 * d * d + d]
    xty_y = pack[2 * d * d + d : 2 * d * d + 2 * d]
    return (
        _solve_one(xtx_x, xty_x, d, lam),
        _solve_one(xtx_y, xty_y, d, lam),
    )


def train_seq_reg(
    train: DataFrame, feature_cols: list[str], window: int, k: int,
    cfg: SeqRegConfig,
) -> SeqRegModel:
    """Expects columns: fold, x_vec (array<double> len d), res_x,
    res_y, delta_t.  Returns per-fold leave-one-fold-out models plus
    the pooled model (fold −1)."""
    d = window * len(feature_cols) + 2
    packs = _gram_pass(train, d, None, None, cfg.horizon_decay)
    model = SeqRegModel(feature_cols, window, d)

    def resolve(p: dict[int, np.ndarray]) -> None:
        total = sum(p.values())
        model.coef[-1] = _solve(total, d, cfg.ridge_lambda)
        for f in range(k):
            loo = total - p.get(f, 0)
            model.coef[f] = _solve(loo, d, cfg.ridge_lambda)

    resolve(packs)
    if cfg.huber_delta is not None:
        for _ in range(cfg.irls_iters):
            packs = _gram_pass(
                train, d, model.coef[-1], cfg.huber_delta, cfg.horizon_decay
            )
            resolve(packs)
    return model


def predict_seq(
    model: SeqRegModel, df: DataFrame, oof: bool = True
) -> DataFrame:
    """Adds seq_pred_x / seq_pred_y = clip(baseline + predicted
    residual).  ``oof=True`` routes each row to the model that never
    saw its fold (proper out-of-fold evaluation); ``oof=False`` uses
    the fold-mean coefficients (a linear model's fold-ensemble mean
    IS the mean of its coefficient vectors), the inference path for
    unseen data — mirroring predict_fold_mean (main_cuda.py:1501-1530).
    """
    coef = {f: (tx.copy(), ty.copy()) for f, (tx, ty) in model.coef.items()}
    if not oof:
        folds = [f for f in coef if f >= 0]
        mtx = np.mean([coef[f][0] for f in folds], axis=0)
        mty = np.mean([coef[f][1] for f in folds], axis=0)
        coef = {-1: (mtx, mty)}

    @F.pandas_udf("array<double>")
    def dot(fold: pd.Series, xv: pd.Series) -> pd.Series:
        X = np.array(xv.tolist(), dtype=np.float64)
        out = np.empty((len(X), 2))
        for f, idx in fold.groupby(fold).indices.items():
            tx, ty = coef.get(int(f), coef[-1])
            out[idx, 0] = X[idx] @ tx
            out[idx, 1] = X[idx] @ ty
        return pd.Series([r.tolist() for r in out])

    fold_col = F.col("fold") if oof else F.lit(-1)
    p = df.withColumn("_p", dot(fold_col, F.col("x_vec")))
    return (
        p.withColumn(
            "seq_pred_x", clip(F.col("baseline_x") + F.col("_p")[0], 0.0, 120.0)
        )
        .withColumn(
            "seq_pred_y", clip(F.col("baseline_y") + F.col("_p")[1], 0.0, 53.3)
        )
        .drop("_p")
    )


@dataclass
class SeqTrainResult:
    """What every learner's train_and_predict returns (seqreg, the
    encoders, the residual GBT)."""

    predictions: DataFrame
    rmse_baseline: float
    rmse_model: float


def seq_windows(
    input_df: DataFrame, feature_cols: list[str] | None, window: int,
) -> tuple[DataFrame, list[str]]:
    """Per-trajectory last-W windows of the per-frame physics features.
    Returns (windows, the declared feature columns present)."""
    feats = advanced_features(input_df)
    cols = [
        c for c in (feature_cols or DEFAULT_SEQ_FEATURES) if c in feats.columns
    ]
    return window_matrix(feats, cols, window), cols


def training_frame(
    input_df: DataFrame, output_df: DataFrame, per_traj: DataFrame, k: int,
) -> DataFrame:
    """The training frame every learner shares: as-of labeled rows
    joined to one per-trajectory feature frame (``seq_windows`` for
    the sequence learners, last-frame features for the GBT) → grouped
    folds, cached."""
    labeled = build_training_rows(advanced_features(input_df), output_df)
    train = (
        labeled.filter(F.col("last_x").isNotNull())
        .join(per_traj, list(TRAJECTORY_KEY))
    )
    return with_fold(train, list(TRAJECTORY_KEY), k=k).cache()


def oof_result(pred: DataFrame, prefix: str) -> SeqTrainResult:
    """Official metric of the baseline and of {prefix}_pred_x/_y."""
    sol = pred.select("id", F.col("target_x").alias("x"), F.col("target_y").alias("y"))
    base = pred.select("id", F.col("baseline_x").alias("x"), F.col("baseline_y").alias("y"))
    mdl = pred.select(
        "id", F.col(f"{prefix}_pred_x").alias("x"), F.col(f"{prefix}_pred_y").alias("y")
    )
    return SeqTrainResult(
        predictions=pred,
        rmse_baseline=score(sol, base),
        rmse_model=score(sol, mdl),
    )


def train_and_predict_seq(
    input_df: DataFrame,
    output_df: DataFrame,
    feature_cols: list[str] | None = None,
    k: int = 5,
    cfg: SeqRegConfig | None = None,
) -> SeqTrainResult:
    """E2's lifecycle (nn-mps.py:874-988) with the distributed
    learner: per-frame physics features → last-W windows → grouped
    folds → normal-equation fit → OOF prediction → official metric."""
    cfg = cfg or SeqRegConfig()
    seq, cols = seq_windows(input_df, feature_cols, cfg.window)
    train = training_frame(input_df, output_df, seq, k).withColumn(
        "x_vec", F.expr("concat(x_seq, array(delta_t, cast(1.0 as double)))")
    )
    model = train_seq_reg(train, cols, cfg.window, k, cfg)
    return oof_result(predict_seq(model, train, oof=True), "seq")

"""True recurrent sequence learner — SURVEY §2.10 M9, closed.

The reference's M9 is a GRU encoder with attention pooling and a
cumulative-sum horizon head trained under a temporal Huber loss
(nn/nn-mps.py:689-758 SeqModel: GRU → attention pooling → head →
``torch.cumsum(out, dim=1)``; :668-686 TemporalHuber).  Round 2
closed the *dataflow* with a normal-equation ridge (ml/seqreg.py);
this module closes the *learner*: a from-scratch numpy GRU with the
same architecture shape —

    x_seq (W×f) → GRUCell (torch gate order r,z,n; h' = (1−z)·n + z·h)
                → tanh attention pooling (softmax over time)
                → linear head emitting per-step increments
                → cumsum over the horizon axis → residual at Δt

— trained by SYNCHRONOUS DATA-PARALLEL full-batch Adam.  Each epoch
is ONE distributed scan: executors compute per-partition loss
gradients for ALL K leave-one-fold-out models plus the pooled model
against broadcast parameters (the gradient of a sum decomposes over
rows, so partials sum associatively — the same posexplode →
groupBy(model, pos) → sum reduce as seqreg's Gram pass), and only
(K+1)·P scalars reach the driver, which applies the Adam update.

This module also hosts the one encoder lifecycle every sequence
encoder shares — ``Shapes`` (parameter layout + init),
``EncoderModel``, ``train_encoder`` / ``predict_encoder`` /
``train_and_predict_encoder`` / ``save_encoder`` / ``load_encoder``.
An encoder module (this GRU, ml/bilstm.py, ml/transformer.py) is only
its ``Shapes`` subclass — ``sizes()`` plus its bound ``forward`` /
``backward`` kernels — and a config naming that class.

Scale notes (the 100 TB shape):
- This is exactly how synchronous distributed SGD works on any
  data-parallel framework: broadcast params, all-reduce gradients.
  Spark's shuffle-reduce stands in for the all-reduce ring; at
  cluster scale you would raise the batch (it is already full-batch)
  and overlap epochs with barrier-mode scheduling, but the dataflow
  is unchanged.
- Window prep stays pure JVM (ml/seqreg.window_matrix); Python only
  touches Arrow batches inside the gradient kernel.
- All K+1 models train in the SAME pass (rows forward once per
  model), so K-fold training costs K× executor FLOPs but 1× scans —
  scans, not FLOPs, are the scarce resource at 100 TB.

Everything is float64 and deterministically seeded: two runs produce
bitwise-identical models.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, fields
from typing import ClassVar, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import clip
from .seqreg import SeqTrainResult, oof_result, seq_windows, training_frame


@dataclass
class Shapes:
    """One encoder's flat parameter layout.  A subclass adds its width
    fields (each named like the config field it comes from), lists its
    tensors in ``sizes()``, and binds its kernels as static methods:
    ``forward(p, X, dt, sh) -> (pred, cache)`` and
    ``backward(p, cache, dpred, sh) -> grads``.  ``prefix`` names its
    prediction columns and is the encoder name a saved model carries."""

    f: int
    window: int

    prefix: ClassVar[str]
    # drawn at std 0.02 instead of Glorot (the reference's token
    # embeddings use 0.01/0.02)
    small_init: ClassVar[tuple[str, ...]] = ()

    def sizes(self) -> list[tuple[str, tuple[int, ...]]]:
        raise NotImplementedError

    @property
    def n_params(self) -> int:
        return sum(int(np.prod(s)) for _, s in self.sizes())

    def unpack(self, flat: np.ndarray) -> dict[str, np.ndarray]:
        out, pos = {}, 0
        for name, shape in self.sizes():
            n = int(np.prod(shape))
            out[name] = flat[pos : pos + n].reshape(shape)
            pos += n
        return out

    def init(self, seed: int) -> np.ndarray:
        """Glorot-ish deterministic init (seeded PCG64), zero biases."""
        rng = np.random.default_rng(seed)
        parts = []
        for name, shape in self.sizes():
            if name.startswith("b"):
                parts.append(np.zeros(shape))
            elif name in self.small_init:
                parts.append(rng.normal(0.0, 0.02, size=shape).ravel())
            else:
                fan = sum(shape[:2]) if len(shape) > 1 else shape[0]
                parts.append(rng.normal(0.0, np.sqrt(2.0 / fan), size=shape).ravel())
        return np.concatenate(parts)


@dataclass
class EncoderModel:
    feature_cols: list[str]
    shapes: Shapes
    # model id -> flat params; -1 is the pooled (all-rows) model
    params: dict[int, np.ndarray] = field(default_factory=dict)
    # per-feature standardization (computed once, Spark-side); raw
    # yard-scale inputs into a tanh/sigmoid cell saturate the gates
    mu: np.ndarray | None = None
    sd: np.ndarray | None = None


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-np.clip(x, -60, 60)))


def _forward(
    p: dict[str, np.ndarray], X: np.ndarray, dt: np.ndarray, sh: GruShapes,
) -> tuple[np.ndarray, dict]:
    """X: (n, W, f); dt: (n,) int horizons ≥1.  Returns pred (n, 2)
    and the cache for backward."""
    n, Wn, _ = X.shape
    h = sh.hidden
    hs = np.zeros((n, h))
    cache_t = []
    H = np.empty((n, Wn, h))
    for t in range(Wn):
        gi = X[:, t, :] @ p["W_ih"].T + p["b_ih"]
        gh = hs @ p["W_hh"].T + p["b_hh"]
        r = _sigmoid(gi[:, :h] + gh[:, :h])
        z = _sigmoid(gi[:, h : 2 * h] + gh[:, h : 2 * h])
        nn = np.tanh(gi[:, 2 * h :] + r * gh[:, 2 * h :])
        h_new = (1.0 - z) * nn + z * hs
        cache_t.append((hs, r, z, nn, gh[:, 2 * h :]))
        hs = h_new
        H[:, t, :] = hs
    # attention pooling: s_t = tanh(h_t Wa + ba) · va, α = softmax_t
    U = np.tanh(H @ p["Wa"] + p["ba"])          # (n, W, A)
    S = U @ p["va"]                              # (n, W)
    S = S - S.max(axis=1, keepdims=True)
    E = np.exp(S)
    alpha = E / E.sum(axis=1, keepdims=True)     # (n, W)
    c = np.einsum("nw,nwh->nh", alpha, H)        # (n, h)
    out = c @ p["Wo"] + p["bo"]                  # (n, 2m) per-step increments
    inc = out.reshape(n, sh.max_horizon, 2)
    # cumsum head: prediction at Δt = sum of the first Δt increments
    dtc = np.minimum(dt, sh.max_horizon)
    mask = (np.arange(sh.max_horizon)[None, :] < dtc[:, None]).astype(np.float64)
    pred = np.einsum("nm,nmc->nc", mask, inc)    # (n, 2)
    return pred, {
        "X": X, "H": H, "U": U, "alpha": alpha, "c": c, "mask": mask,
        "cache_t": cache_t,
    }


def _backward(
    p: dict[str, np.ndarray], cache: dict, dpred: np.ndarray, sh: GruShapes,
) -> dict[str, np.ndarray]:
    """Gradient of Σ loss w.r.t. every parameter; dpred is ∂loss/∂pred
    (n, 2)."""
    X, H, U, alpha, c, mask = (
        cache["X"], cache["H"], cache["U"], cache["alpha"], cache["c"],
        cache["mask"],
    )
    n, Wn, f = X.shape
    h, m = sh.hidden, sh.max_horizon
    g = {k: np.zeros_like(v) for k, v in p.items()}
    # head (cumsum → linear)
    dinc = mask[:, :, None] * dpred[:, None, :]           # (n, m, 2)
    dout = dinc.reshape(n, 2 * m)
    g["Wo"] = c.T @ dout
    g["bo"] = dout.sum(axis=0)
    dc = dout @ p["Wo"].T                                  # (n, h)
    # attention pooling backward
    dalpha = np.einsum("nh,nwh->nw", dc, H)                # (n, W)
    dH = alpha[:, :, None] * dc[:, None, :]                # (n, W, h)
    dS = alpha * (dalpha - (alpha * dalpha).sum(axis=1, keepdims=True))
    dU = dS[:, :, None] * p["va"][None, None, :]           # (n, W, A)
    dpre = dU * (1.0 - U * U)                              # tanh'
    g["va"] = np.einsum("nw,nwa->a", dS, U)
    g["Wa"] = np.einsum("nwh,nwa->ha", H, dpre)
    g["ba"] = dpre.sum(axis=(0, 1))
    dH += dpre @ p["Wa"].T
    # GRU BPTT
    dh_next = np.zeros((n, h))
    for t in range(Wn - 1, -1, -1):
        dh = dH[:, t, :] + dh_next
        h_prev, r, z, nn, ghn = cache["cache_t"][t]
        dz = dh * (h_prev - nn)
        dnn = dh * (1.0 - z)
        dh_prev = dh * z
        da_n = dnn * (1.0 - nn * nn)           # pre-tanh of n gate
        dr = da_n * ghn
        da_r = dr * r * (1.0 - r)
        da_z = dz * z * (1.0 - z)
        dgi = np.concatenate([da_r, da_z, da_n], axis=1)          # (n, 3h)
        dgh = np.concatenate([da_r, da_z, da_n * r], axis=1)
        g["W_ih"] += dgi.T @ X[:, t, :]
        g["b_ih"] += dgi.sum(axis=0)
        g["W_hh"] += dgh.T @ h_prev
        g["b_hh"] += dgh.sum(axis=0)
        dh_next = dh_prev + dgh @ p["W_hh"]
    return g


@dataclass
class GruShapes(Shapes):
    hidden: int
    attn: int
    max_horizon: int

    prefix: ClassVar[str] = "rnn"
    forward = staticmethod(_forward)
    backward = staticmethod(_backward)

    def sizes(self) -> list[tuple[str, tuple[int, ...]]]:
        h, f, a, m = self.hidden, self.f, self.attn, self.max_horizon
        return [
            ("W_ih", (3 * h, f)), ("W_hh", (3 * h, h)),
            ("b_ih", (3 * h,)), ("b_hh", (3 * h,)),
            ("Wa", (h, a)), ("ba", (a,)), ("va", (a,)),
            ("Wo", (h, 2 * m)), ("bo", (2 * m,)),
        ]


@dataclass
class GruConfig:
    shapes: ClassVar[type[Shapes]] = GruShapes
    window: int = 8          # last-W frames (nn-mps.py:616)
    hidden: int = 12         # GRU width (reference uses 128; scaled to fixture)
    attn: int = 8            # attention-pooling projection width
    max_horizon: int = 16    # head emits this many per-0.1s-step increments
    lr: float = 0.05
    epochs: int = 60         # OOF optimum on the tracking fixture:
                             # 60 ep → 1.945, 120 ep → 2.121 (overfit)
    huber_delta: float = 1.0  # TemporalHuber's delta
    horizon_decay: float | None = None  # row weight = decay ** delta_t
    seed: int = 7
    partitions: int = 8      # gradient-scan parallelism at test scale


def _loss_grad_pack(
    params: dict[int, np.ndarray], pdf: pd.DataFrame, sh: Shapes,
    huber_delta: float, horizon_decay: float | None,
    mu: np.ndarray, sd: np.ndarray,
) -> list[tuple[int, list[float]]]:
    """Per-model [grad..., loss_sum, weight_sum] pack for one Arrow
    batch through ``sh``'s kernels.  Model m trains on rows with
    fold != m; model −1 on all."""
    X = np.array(pdf["x_seq"].tolist(), dtype=np.float64).reshape(
        len(pdf), sh.window, sh.f
    )
    X = (X - mu) / sd
    # delta_t is SECONDS at 10 fps → horizon index in frame steps
    # (the cumsum head emits one increment per 0.1 s step)
    dt = np.maximum(
        1, np.rint(pdf["delta_t"].to_numpy(np.float64) * 10.0).astype(np.int64)
    )
    y = np.stack(
        [pdf["res_x"].to_numpy(np.float64), pdf["res_y"].to_numpy(np.float64)],
        axis=1,
    )
    w = np.ones(len(pdf))
    if horizon_decay is not None:
        w = horizon_decay ** dt.astype(np.float64)
    fold = pdf["fold"].to_numpy(np.int64)
    rows = []
    for m, flat in params.items():
        sel = np.ones(len(pdf), dtype=bool) if m < 0 else (fold != m)
        if not sel.any():
            continue
        p = sh.unpack(flat)
        pred, cache = sh.forward(p, X[sel], dt[sel], sh)
        e = pred - y[sel]
        ae = np.abs(e)
        # Huber: ½e² below delta, δ(|e| − ½δ) above (TemporalHuber core)
        l = np.where(ae <= huber_delta, 0.5 * e * e,
                     huber_delta * (ae - 0.5 * huber_delta))
        dl = np.where(ae <= huber_delta, e, huber_delta * np.sign(e))
        ws = w[sel][:, None]
        g = sh.backward(p, cache, dl * ws, sh)
        flatg = np.concatenate([g[name].ravel() for name, _ in sh.sizes()])
        rows.append(
            (int(m), np.concatenate([flatg, [(l * ws).sum(), 2.0 * ws.sum()]]).tolist())
        )
    return rows


def train_encoder(
    train: DataFrame, feature_cols: list[str], k: int, cfg,
) -> EncoderModel:
    """Synchronous data-parallel Adam over the encoder ``cfg`` names
    (``cfg.shapes``: the GRU, the CNN+BiLSTM of ml/bilstm.py or the
    spatio-temporal transformer of ml/transformer.py).  Expects
    columns fold, x_seq (array<double>, len W·f), res_x, res_y,
    delta_t.  Trains K leave-one-fold-out models + pooled (−1), all in
    one scan per epoch."""
    sh = cfg.shapes(f=len(feature_cols), **{
        fl.name: getattr(cfg, fl.name)
        for fl in fields(cfg.shapes) if fl.name != "f"
    })
    P = sh.n_params
    f = sh.f
    # ONE tiny distributed agg for per-feature standardization (pad
    # zeros included — deterministic and shared by train and predict);
    # f rows reach the driver.
    stats = (
        train.select(F.posexplode("x_seq").alias("pos", "v"))
        .groupBy((F.col("pos") % f).alias("feat"))
        .agg(F.avg("v").alias("mu"), F.stddev_pop("v").alias("sd"))
        .collect()
    )
    mu = np.zeros(f)
    sd = np.ones(f)
    for r in stats:
        mu[int(r["feat"])] = r["mu"]
        sd[int(r["feat"])] = max(float(r["sd"] or 0.0), 1e-9)
    models = {m: sh.init(cfg.seed + (0 if m < 0 else m + 1))
              for m in [-1, *range(k)]}
    adam_m = {m: np.zeros(P) for m in models}
    adam_v = {m: np.zeros(P) for m in models}
    b1, b2, eps = 0.9, 0.999, 1e-8

    src = train.select("fold", "x_seq", "res_x", "res_y", "delta_t").coalesce(
        cfg.partitions
    ).cache()
    src.count()  # pin: every epoch re-reads this exact projection

    for epoch in range(1, cfg.epochs + 1):
        cur = {m: v.copy() for m, v in models.items()}

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf):
                    yield pd.DataFrame(
                        _loss_grad_pack(cur, pdf, sh, cfg.huber_delta,
                                        cfg.horizon_decay, mu, sd),
                        columns=["model", "g"],
                    )

        packed = src.mapInPandas(kernel, schema="model long, g array<double>")
        sums = (
            packed.select("model", F.posexplode("g").alias("pos", "v"))
            .groupBy("model", "pos")
            .agg(F.sum("v").alias("v"))
            .collect()
        )
        packs: dict[int, np.ndarray] = {}
        for r in sums:
            packs.setdefault(r["model"], np.zeros(P + 2))[r["pos"]] = r["v"]
        for m, pack in packs.items():
            wsum = pack[P + 1]
            if wsum <= 0:
                continue
            grad = pack[:P] / wsum  # mean gradient (matches mean loss)
            adam_m[m] = b1 * adam_m[m] + (1 - b1) * grad
            adam_v[m] = b2 * adam_v[m] + (1 - b2) * grad * grad
            mhat = adam_m[m] / (1 - b1 ** epoch)
            vhat = adam_v[m] / (1 - b2 ** epoch)
            models[m] = models[m] - cfg.lr * mhat / (np.sqrt(vhat) + eps)

    src.unpersist()
    return EncoderModel(feature_cols, sh, models, mu, sd)


def predict_encoder(
    model: EncoderModel, df: DataFrame, oof: bool = True,
) -> DataFrame:
    """Adds {prefix}_pred_x / {prefix}_pred_y = clip(baseline +
    encoder residual), prefix from the model's shapes.  ``oof=True``
    routes each row to the model that never saw its fold;
    ``oof=False`` averages the K fold models' PREDICTIONS (a nonlinear
    net's fold ensemble is an output-space mean, unlike the linear
    coefficient mean in seqreg.predict_seq)."""
    sh = model.shapes
    params = {m: v.copy() for m, v in model.params.items()}
    mu = model.mu if model.mu is not None else np.zeros(sh.f)
    sd = model.sd if model.sd is not None else np.ones(sh.f)

    @F.pandas_udf("array<double>")
    def fwd(fold: pd.Series, xv: pd.Series, dts: pd.Series) -> pd.Series:
        X = np.array(xv.tolist(), dtype=np.float64).reshape(-1, sh.window, sh.f)
        X = (X - mu) / sd
        dt = np.maximum(
            1, np.rint(dts.to_numpy(np.float64) * 10.0).astype(np.int64)
        )
        out = np.empty((len(X), 2))
        if oof:
            fv = fold.to_numpy(np.int64)
            for m in np.unique(fv):
                if int(m) not in params:
                    # Falling back to the pooled model (params[-1])
                    # would silently LEAK: the pooled model saw this
                    # row's fold, so a fold-id mismatch (e.g. a model
                    # trained with a different k) must fail loudly.
                    raise ValueError(
                        f"no fold model for fold={int(m)}; trained folds: "
                        f"{sorted(f for f in params if f >= 0)} — "
                        "OOF prediction requires matching fold ids"
                    )
                idx = np.where(fv == m)[0]
                p = sh.unpack(params[int(m)])
                out[idx], _ = sh.forward(p, X[idx], dt[idx], sh)
        else:
            folds = [m for m in params if m >= 0]
            acc = np.zeros((len(X), 2))
            for m in folds:
                pr, _ = sh.forward(sh.unpack(params[m]), X, dt, sh)
                acc += pr
            out = acc / len(folds)
        return pd.Series([r.tolist() for r in out])

    p = df.withColumn(
        "_p", fwd(F.col("fold") if oof else F.lit(-1), F.col("x_seq"),
                  F.col("delta_t"))
    )
    return (
        p.withColumn(
            f"{sh.prefix}_pred_x",
            clip(F.col("baseline_x") + F.col("_p")[0], 0.0, 120.0),
        )
        .withColumn(
            f"{sh.prefix}_pred_y",
            clip(F.col("baseline_y") + F.col("_p")[1], 0.0, 53.3),
        )
        .drop("_p")
    )


def train_and_predict_encoder(
    input_df: DataFrame,
    output_df: DataFrame,
    cfg,
    feature_cols: list[str] | None = None,
    k: int = 5,
) -> SeqTrainResult:
    """E2's lifecycle (nn-mps.py:874-988) with the encoder ``cfg``
    names: per-frame physics features → last-W windows → grouped
    folds → distributed-Adam fit → OOF prediction → metric."""
    seq, cols = seq_windows(input_df, feature_cols, cfg.window)
    train = training_frame(input_df, output_df, seq, k)
    model = train_encoder(train, cols, k, cfg)
    return oof_result(predict_encoder(model, train, oof=True), model.shapes.prefix)


def save_encoder(model: EncoderModel, path: str) -> None:
    """S5 analog for the sequence encoders (reference pickles its
    torch state dicts, main_cuda.py:1544-1559): one compressed npz of
    plain arrays — encoder name, shapes fields by name, feature names,
    flat parameter vectors per model id, standardization."""
    os.makedirs(path, exist_ok=True)
    sh = model.shapes
    np.savez_compressed(
        os.path.join(path, "encoder.npz"),
        encoder=np.array(sh.prefix),
        **{f"shape_{fl.name}": np.int64(getattr(sh, fl.name)) for fl in fields(sh)},
        feature_cols=np.array(model.feature_cols, dtype=str),
        model_ids=np.array(sorted(model.params), dtype=np.int64),
        mu=model.mu if model.mu is not None else np.zeros(sh.f),
        sd=model.sd if model.sd is not None else np.ones(sh.f),
        **{f"p_{m}": model.params[m] for m in model.params},
    )


def load_encoder(path: str, shapes: type[Shapes]) -> EncoderModel:
    """Inverse of save_encoder.  Never unpickles (an object array in
    the file raises), and refuses a file saved by another encoder."""
    with np.load(os.path.join(path, "encoder.npz"), allow_pickle=False) as z:
        stored = str(z["encoder"])
        if stored != shapes.prefix:
            raise ValueError(
                f"{path} holds encoder {stored!r}, not {shapes.prefix!r}"
            )
        sh = shapes(**{fl.name: int(z[f"shape_{fl.name}"]) for fl in fields(shapes)})
        return EncoderModel(
            [str(c) for c in z["feature_cols"]],
            sh,
            {int(m): z[f"p_{int(m)}"] for m in z["model_ids"]},
            z["mu"],
            z["sd"],
        )

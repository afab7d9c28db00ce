"""Spatio-temporal transformer sequence encoder — SURVEY §2.10 M9,
third encoder (closes the reference's encoder breadth).

The reference's STTransformer (nn/nn-transformer.py:558-750):
1) FEATURE-AS-TOKEN spatial stage — per timestep, each scalar feature
   becomes a token ``value·W_value[j] + E_feature[j]``, a [CLS] token
   is prepended, and a transformer encoder attends ACROSS FEATURES;
   the [CLS] output is that timestep's spatial context.
2) TEMPORAL stage — sinusoidal positional encoding + a transformer
   encoder attending across timesteps.
3) attention pooling over time → MLP head → ``torch.cumsum``.

Re-expressed from scratch in numpy (float64, deterministic) as a
drop-in (shapes, forward, backward) triple for the one
synchronous data-parallel Adam trainer (ml/rnn.py::train_encoder).
Scaled to the fixture like the other encoders (reference: d_model
128, 4 heads, 2+2 layers, GRU residual path, dual pooling; here:
single-head, one spatial + one temporal block, pre-softmax scaling
1/√d, residual + ReLU-FFN, tanh attention pooling, linear head — the
architecture SHAPE, not the capacity).  LayerNorm is omitted: at
fixture width the full-batch float64 Adam run is stable without it,
and the standardized inputs play its role at the first layer.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import ClassVar

import numpy as np

from .rnn import Shapes


def _sinusoidal_pe(Wn: int, d: int) -> np.ndarray:
    """The reference's temporal positional encoding
    (nn-transformer.py:718-724), float64."""
    pos = np.arange(Wn, dtype=np.float64)[:, None]
    div = np.exp(np.arange(0, d, 2, dtype=np.float64) * (-np.log(10000.0) / d))
    pe = np.zeros((Wn, d))
    pe[:, 0::2] = np.sin(pos * div)
    pe[:, 1::2] = np.cos(pos * div[: pe[:, 1::2].shape[1]])
    return pe


def _attn_block_fwd(Z: np.ndarray, p: dict, tag: str, d: int) -> tuple[np.ndarray, dict]:
    """One single-head residual attention + ReLU-FFN block over the
    middle axis of Z (B, T, d).  Returns (out, cache)."""
    Q = Z @ p[f"Wq_{tag}"]
    K = Z @ p[f"Wk_{tag}"]
    V = Z @ p[f"Wv_{tag}"]
    S = Q @ K.transpose(0, 2, 1) / np.sqrt(d)          # (B, T, T)
    S = S - S.max(axis=2, keepdims=True)
    E = np.exp(S)
    A = E / E.sum(axis=2, keepdims=True)
    O = A @ V                                          # (B, T, d)
    Z2 = Z + O @ p[f"Wo_{tag}"]
    Hf = Z2 @ p[f"W1_{tag}"] + p[f"b1_{tag}"]
    R = np.maximum(Hf, 0.0)
    Z3 = Z2 + R @ p[f"W2_{tag}"]
    Z3 = Z3 + p[f"b2_{tag}"]
    return Z3, {"Z": Z, "Q": Q, "K": K, "V": V, "A": A, "O": O,
                "Z2": Z2, "Hf": Hf, "R": R}


def _attn_block_bwd(
    dZ3: np.ndarray, cache: dict, p: dict, g: dict, tag: str, d: int,
) -> np.ndarray:
    """Backward of _attn_block_fwd; accumulates into g, returns dZ."""
    Z, Q, K, V, A, O, Z2, Hf, R = (
        cache["Z"], cache["Q"], cache["K"], cache["V"], cache["A"],
        cache["O"], cache["Z2"], cache["Hf"], cache["R"],
    )
    g[f"b2_{tag}"] += dZ3.sum(axis=(0, 1))
    dZ2 = dZ3.copy()
    dR = dZ3 @ p[f"W2_{tag}"].T
    g[f"W2_{tag}"] += np.einsum("btf,btd->fd", R, dZ3)
    dHf = dR * (Hf > 0.0)
    g[f"W1_{tag}"] += np.einsum("btd,btf->df", Z2, dHf)
    g[f"b1_{tag}"] += dHf.sum(axis=(0, 1))
    dZ2 += dHf @ p[f"W1_{tag}"].T
    # residual: Z2 = Z + O Wo
    dO = dZ2 @ p[f"Wo_{tag}"].T
    g[f"Wo_{tag}"] += np.einsum("btd,bte->de", O, dZ2)
    dZ = dZ2.copy()
    # O = A V
    dA = dO @ V.transpose(0, 2, 1)                     # (B, T, T)
    dV = A.transpose(0, 2, 1) @ dO
    dS = A * (dA - (dA * A).sum(axis=2, keepdims=True))
    dQ = dS @ K / np.sqrt(d)
    dK = dS.transpose(0, 2, 1) @ Q / np.sqrt(d)
    g[f"Wq_{tag}"] += np.einsum("btd,bte->de", Z, dQ)
    g[f"Wk_{tag}"] += np.einsum("btd,bte->de", Z, dK)
    g[f"Wv_{tag}"] += np.einsum("btd,bte->de", Z, dV)
    dZ += dQ @ p[f"Wq_{tag}"].T + dK @ p[f"Wk_{tag}"].T + dV @ p[f"Wv_{tag}"].T
    return dZ


def _forward(
    p: dict[str, np.ndarray], X: np.ndarray, dt: np.ndarray,
    sh: TransformerShapes,
) -> tuple[np.ndarray, dict]:
    """X: (n, W, f); dt: (n,) int horizons ≥1.  Returns pred (n, 2)
    and the backward cache."""
    n, Wn, f = X.shape
    d = sh.d_model
    # spatial stage: feature-as-token, [CLS] first
    # tokens (n·W, 1+f, d): token_j = x_j·Wval[j] + Etok[j]
    Xf = X.reshape(n * Wn, f)
    tok = Xf[:, :, None] * p["Wval"][None, :, :] + p["Etok"][None, :, :]
    Z0 = np.concatenate(
        [np.tile(p["cls"], (n * Wn, 1, 1)), tok], axis=1
    )                                                   # (nW, 1+f, d)
    Zs, cache_s = _attn_block_fwd(Z0, p, "s", d)
    ctx = Zs[:, 0, :].reshape(n, Wn, d)                 # [CLS] per timestep
    # temporal stage
    pe = _sinusoidal_pe(Wn, d)
    Ht_in = ctx + pe[None, :, :]
    Ht, cache_t = _attn_block_fwd(Ht_in, p, "t", d)
    # attention pooling over time (same math as the other encoders)
    U = np.tanh(Ht @ p["Wa"] + p["ba"])                 # (n, W, A)
    S = U @ p["va"]
    S = S - S.max(axis=1, keepdims=True)
    E = np.exp(S)
    alpha = E / E.sum(axis=1, keepdims=True)
    c = np.einsum("nw,nwh->nh", alpha, Ht)              # (n, d)
    out = c @ p["Wh"] + p["bh"]                         # (n, 2m)
    inc = out.reshape(n, sh.max_horizon, 2)
    dtc = np.minimum(dt, sh.max_horizon)
    mask = (np.arange(sh.max_horizon)[None, :] < dtc[:, None]).astype(np.float64)
    pred = np.einsum("nm,nmc->nc", mask, inc)
    return pred, {
        "X": X, "cache_s": cache_s, "cache_t": cache_t,
        "Ht": Ht, "U": U, "alpha": alpha, "c": c, "mask": mask,
    }


def _backward(
    p: dict[str, np.ndarray], cache: dict, dpred: np.ndarray,
    sh: TransformerShapes,
) -> dict[str, np.ndarray]:
    """Gradient of Σ loss w.r.t. every parameter; dpred is ∂loss/∂pred
    (n, 2)."""
    X = cache["X"]
    Ht, U, alpha, c, mask = (
        cache["Ht"], cache["U"], cache["alpha"], cache["c"], cache["mask"],
    )
    n, Wn, f = X.shape
    d, m = sh.d_model, sh.max_horizon
    g = {k: np.zeros_like(v) for k, v in p.items()}
    # head (cumsum → linear)
    dinc = mask[:, :, None] * dpred[:, None, :]
    dout = dinc.reshape(n, 2 * m)
    g["Wh"] = c.T @ dout
    g["bh"] = dout.sum(axis=0)
    dc = dout @ p["Wh"].T
    # attention pooling backward
    dalpha = np.einsum("nh,nwh->nw", dc, Ht)
    dHt = alpha[:, :, None] * dc[:, None, :]
    dS = alpha * (dalpha - (alpha * dalpha).sum(axis=1, keepdims=True))
    dU = dS[:, :, None] * p["va"][None, None, :]
    dpre = dU * (1.0 - U * U)
    g["va"] = np.einsum("nw,nwa->a", dS, U)
    g["Wa"] = np.einsum("nwh,nwa->ha", Ht, dpre)
    g["ba"] = dpre.sum(axis=(0, 1))
    dHt += dpre @ p["Wa"].T
    # temporal block backward (pe is constant)
    dctx = _attn_block_bwd(dHt, cache["cache_t"], p, g, "t", d)
    # spatial block backward: only the [CLS] row feeds forward
    dZs = np.zeros_like(cache["cache_s"]["Z"])          # (nW, 1+f, d)
    dZs[:, 0, :] = dctx.reshape(n * Wn, d)
    dZ0 = _attn_block_bwd(dZs, cache["cache_s"], p, g, "s", d)
    # token embeddings
    g["cls"] = dZ0[:, 0, :].sum(axis=0)
    dtok = dZ0[:, 1:, :]                                # (nW, f, d)
    Xf = X.reshape(n * Wn, f)
    g["Wval"] = np.einsum("bf,bfd->fd", Xf, dtok)
    g["Etok"] = dtok.sum(axis=0)
    return g


@dataclass
class TransformerShapes(Shapes):
    d_model: int
    ffn: int
    attn: int
    max_horizon: int

    prefix: ClassVar[str] = "stt"
    small_init: ClassVar[tuple[str, ...]] = ("Wval", "Etok", "cls")
    forward = staticmethod(_forward)
    backward = staticmethod(_backward)

    def sizes(self) -> list[tuple[str, tuple[int, ...]]]:
        f, d, ff, a, m = self.f, self.d_model, self.ffn, self.attn, self.max_horizon
        blk = lambda tag: [  # noqa: E731 — one attention+FFN block
            (f"Wq_{tag}", (d, d)), (f"Wk_{tag}", (d, d)),
            (f"Wv_{tag}", (d, d)), (f"Wo_{tag}", (d, d)),
            (f"W1_{tag}", (d, ff)), (f"b1_{tag}", (ff,)),
            (f"W2_{tag}", (ff, d)), (f"b2_{tag}", (d,)),
        ]
        return [
            # feature-as-token embeddings + [CLS]
            ("Wval", (f, d)), ("Etok", (f, d)), ("cls", (d,)),
            *blk("s"),   # spatial block (across feature tokens)
            *blk("t"),   # temporal block (across timesteps)
            # attention pooling over time
            ("Wa", (d, a)), ("ba", (a,)), ("va", (a,)),
            # head: per-step increments, cumsum outside
            ("Wh", (d, 2 * m)), ("bh", (2 * m,)),
        ]


@dataclass
class TransformerConfig:
    shapes: ClassVar[type[Shapes]] = TransformerShapes
    window: int = 8          # last-W frames
    d_model: int = 8         # token width (reference 128)
    ffn: int = 16            # feed-forward hidden width (reference 4·d)
    attn: int = 8            # attention-pooling projection width
    max_horizon: int = 16    # head emits this many per-0.1s-step increments
    lr: float = 0.03
    epochs: int = 80
    huber_delta: float = 1.0
    horizon_decay: float | None = None
    seed: int = 13
    partitions: int = 8

"""CNN + BiLSTM sequence encoder — SURVEY §2.10 M9, second encoder.

The reference ships three sequence encoders over the same window
pipeline; this is the convolutional-front-end bidirectional one
(nn/nn-lstm.py:530-632 SeqModel: Conv1d(k=3, same-pad) front end with
a 0.1-weighted residual projection back to the input width → a
bidirectional LSTM → attention pooling → linear head →
``torch.cumsum(out, dim=1)``).  Re-expressed from scratch in numpy
(float64, deterministic) as a drop-in (shapes, forward, backward)
triple for the one synchronous data-parallel Adam trainer in
ml/rnn.py::train_encoder — the distributed dataflow (broadcast params,
shuffle-reduce gradients, (K+1)·P scalars to the driver per epoch) is
identical to the GRU's and is documented there.

Scaled to the fixture like the GRU (reference: 64 conv channels,
3-layer 192-wide BiLSTM, dual pooling paths, deep GELU head; here:
one conv layer, one BiLSTM layer, tanh attention pooling, linear
head — the architecture SHAPE, not the capacity).  Gate order and
cell math follow torch.nn.LSTM: gates (i, f, g, o),
c' = f⊙c + i⊙g, h' = o⊙tanh(c').
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import ClassVar

import numpy as np

from .rnn import Shapes, _sigmoid


def _lstm_scan(
    Xe: np.ndarray, Wi: np.ndarray, Wh: np.ndarray, bi: np.ndarray,
    bh: np.ndarray, order: range, h: int,
) -> tuple[np.ndarray, list]:
    """One LSTM direction over time indices ``order``.  Returns
    H (n, W, h) with H[:, t] = hidden after consuming Xe[:, t], plus a
    per-t cache list for BPTT."""
    n, Wn, _ = Xe.shape
    hs = np.zeros((n, h))
    cs = np.zeros((n, h))
    H = np.empty((n, Wn, h))
    cache: list = [None] * Wn
    for t in order:
        a = Xe[:, t, :] @ Wi.T + bi + hs @ Wh.T + bh
        i = _sigmoid(a[:, :h])
        fg = _sigmoid(a[:, h : 2 * h])
        g = np.tanh(a[:, 2 * h : 3 * h])
        o = _sigmoid(a[:, 3 * h :])
        c_new = fg * cs + i * g
        tc = np.tanh(c_new)
        cache[t] = (hs, cs, i, fg, g, o, tc)
        hs = o * tc
        cs = c_new
        H[:, t, :] = hs
    return H, cache


def _lstm_bptt(
    dHdir: np.ndarray, cache: list, Xe: np.ndarray, Wi: np.ndarray,
    Wh: np.ndarray, rev_order: range, h: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """BPTT for one direction; rev_order is the REVERSE of the
    processing order.  Returns (gWi, gWh, gbi, gbh, dXe)."""
    n, Wn, f = Xe.shape
    gWi = np.zeros((4 * h, f))
    gWh = np.zeros((4 * h, h))
    gb = np.zeros(4 * h)
    dXe = np.zeros_like(Xe)
    dh_next = np.zeros((n, h))
    dc_next = np.zeros((n, h))
    for t in rev_order:
        h_prev, c_prev, i, fg, g, o, tc = cache[t]
        dh = dHdir[:, t, :] + dh_next
        do = dh * tc
        dc = dc_next + dh * o * (1.0 - tc * tc)
        di = dc * g
        df = dc * c_prev
        dg = dc * i
        dc_next = dc * fg
        da = np.concatenate(
            [di * i * (1.0 - i), df * fg * (1.0 - fg),
             dg * (1.0 - g * g), do * o * (1.0 - o)], axis=1,
        )
        gWi += da.T @ Xe[:, t, :]
        gWh += da.T @ h_prev
        gb += da.sum(axis=0)
        dXe[:, t, :] += da @ Wi
        dh_next = da @ Wh
    # torch keeps separate b_ih/b_hh whose gradients are identical;
    # mirror that so the parameter layout round-trips
    return gWi, gWh, gb, gb.copy(), dXe


def _forward(
    p: dict[str, np.ndarray], X: np.ndarray, dt: np.ndarray, sh: BiLstmShapes,
) -> tuple[np.ndarray, dict]:
    """X: (n, W, f); dt: (n,) int horizons ≥1.  Returns pred (n, 2)
    and the backward cache."""
    n, Wn, f = X.shape
    h = sh.hidden
    # conv front end: kernel-3 same-pad, ReLU, project back to f,
    # 0.1-weighted residual (nn-lstm.py:636-644)
    Xp = np.pad(X, ((0, 0), (1, 1), (0, 0)))
    A = np.tile(p["bc"], (n, Wn, 1)).astype(np.float64)
    for k in range(3):
        A += Xp[:, k : k + Wn, :] @ p["Kc"][:, :, k].T
    R = np.maximum(A, 0.0)
    Pj = R @ p["Wp"] + p["bp"]
    Xe = X + 0.1 * Pj
    # bidirectional LSTM
    Hf, cache_f = _lstm_scan(
        Xe, p["Wi_f"], p["Wh_f"], p["bi_f"], p["bh_f"], range(Wn), h
    )
    Hb, cache_b = _lstm_scan(
        Xe, p["Wi_b"], p["Wh_b"], p["bi_b"], p["bh_b"],
        range(Wn - 1, -1, -1), h,
    )
    H = np.concatenate([Hf, Hb], axis=2)               # (n, W, 2h)
    # attention pooling (same math as the GRU's; width 2h)
    U = np.tanh(H @ p["Wa"] + p["ba"])                 # (n, W, A)
    S = U @ p["va"]                                    # (n, W)
    S = S - S.max(axis=1, keepdims=True)
    E = np.exp(S)
    alpha = E / E.sum(axis=1, keepdims=True)
    c = np.einsum("nw,nwh->nh", alpha, H)              # (n, 2h)
    out = c @ p["Wo"] + p["bo"]                        # (n, 2m)
    inc = out.reshape(n, sh.max_horizon, 2)
    dtc = np.minimum(dt, sh.max_horizon)
    mask = (np.arange(sh.max_horizon)[None, :] < dtc[:, None]).astype(np.float64)
    pred = np.einsum("nm,nmc->nc", mask, inc)
    return pred, {
        "X": X, "Xp": Xp, "A": A, "R": R, "Xe": Xe,
        "H": H, "U": U, "alpha": alpha, "c": c, "mask": mask,
        "cache_f": cache_f, "cache_b": cache_b,
    }


def _backward(
    p: dict[str, np.ndarray], cache: dict, dpred: np.ndarray, sh: BiLstmShapes,
) -> dict[str, np.ndarray]:
    """Gradient of Σ loss w.r.t. every parameter; dpred is ∂loss/∂pred
    (n, 2)."""
    X, Xp, A, R, Xe = cache["X"], cache["Xp"], cache["A"], cache["R"], cache["Xe"]
    H, U, alpha, c, mask = cache["H"], cache["U"], cache["alpha"], cache["c"], cache["mask"]
    n, Wn, f = X.shape
    h, m = sh.hidden, sh.max_horizon
    g = {k: np.zeros_like(v) for k, v in p.items()}
    # head (cumsum → linear)
    dinc = mask[:, :, None] * dpred[:, None, :]
    dout = dinc.reshape(n, 2 * m)
    g["Wo"] = c.T @ dout
    g["bo"] = dout.sum(axis=0)
    dc = dout @ p["Wo"].T                              # (n, 2h)
    # attention pooling backward
    dalpha = np.einsum("nh,nwh->nw", dc, H)
    dH = alpha[:, :, None] * dc[:, None, :]
    dS = alpha * (dalpha - (alpha * dalpha).sum(axis=1, keepdims=True))
    dU = dS[:, :, None] * p["va"][None, None, :]
    dpre = dU * (1.0 - U * U)
    g["va"] = np.einsum("nw,nwa->a", dS, U)
    g["Wa"] = np.einsum("nwh,nwa->ha", H, dpre)
    g["ba"] = dpre.sum(axis=(0, 1))
    dH += dpre @ p["Wa"].T
    # split into directions, BPTT each, accumulate dXe
    gWi_f, gWh_f, gbi_f, gbh_f, dXe_f = _lstm_bptt(
        dH[:, :, :h], cache["cache_f"], Xe, p["Wi_f"], p["Wh_f"],
        range(Wn - 1, -1, -1), h,
    )
    gWi_b, gWh_b, gbi_b, gbh_b, dXe_b = _lstm_bptt(
        dH[:, :, h:], cache["cache_b"], Xe, p["Wi_b"], p["Wh_b"],
        range(Wn), h,
    )
    g["Wi_f"], g["Wh_f"], g["bi_f"], g["bh_f"] = gWi_f, gWh_f, gbi_f, gbh_f
    g["Wi_b"], g["Wh_b"], g["bi_b"], g["bh_b"] = gWi_b, gWh_b, gbi_b, gbh_b
    dXe = dXe_f + dXe_b
    # conv front end backward (residual: dX itself is not needed)
    dPj = 0.1 * dXe
    g["Wp"] = np.einsum("nwc,nwf->cf", R, dPj)
    g["bp"] = dPj.sum(axis=(0, 1))
    dR = dPj @ p["Wp"].T
    dA = dR * (A > 0.0)
    g["bc"] = dA.sum(axis=(0, 1))
    for k in range(3):
        g["Kc"][:, :, k] = np.einsum("nwc,nwf->cf", dA, Xp[:, k : k + Wn, :])
    return g


@dataclass
class BiLstmShapes(Shapes):
    hidden: int        # per direction; H concat width is 2·hidden
    conv: int
    attn: int
    max_horizon: int

    prefix: ClassVar[str] = "bilstm"
    forward = staticmethod(_forward)
    backward = staticmethod(_backward)

    def sizes(self) -> list[tuple[str, tuple[int, ...]]]:
        h, f, c, a, m = self.hidden, self.f, self.conv, self.attn, self.max_horizon
        return [
            # conv front end: kernel-3 same-pad Conv1d + ReLU, then a
            # linear projection back to f for the 0.1-residual
            ("Kc", (c, f, 3)), ("bc", (c,)),
            ("Wp", (c, f)), ("bp", (f,)),
            # forward-direction LSTM (torch gate order i,f,g,o)
            ("Wi_f", (4 * h, f)), ("Wh_f", (4 * h, h)),
            ("bi_f", (4 * h,)), ("bh_f", (4 * h,)),
            # backward-direction LSTM
            ("Wi_b", (4 * h, f)), ("Wh_b", (4 * h, h)),
            ("bi_b", (4 * h,)), ("bh_b", (4 * h,)),
            # attention pooling over the 2h concat
            ("Wa", (2 * h, a)), ("ba", (a,)), ("va", (a,)),
            # head: per-step increments, cumsum outside
            ("Wo", (2 * h, 2 * m)), ("bo", (2 * m,)),
        ]


@dataclass
class BiLstmConfig:
    shapes: ClassVar[type[Shapes]] = BiLstmShapes
    window: int = 8          # last-W frames (nn-lstm.py's window pipeline)
    hidden: int = 10         # LSTM width PER DIRECTION (reference 192)
    conv: int = 6            # conv channels (reference 64)
    attn: int = 8            # attention-pooling projection width
    max_horizon: int = 16    # head emits this many per-0.1s-step increments
    lr: float = 0.05
    epochs: int = 60
    huber_delta: float = 1.0
    horizon_decay: float | None = None
    seed: int = 11
    partitions: int = 8

"""M9 third-encoder tests: the numpy spatio-temporal transformer
(ml/transformer.py, re-expressing nn/nn-transformer.py:558-750's
feature-as-token STTransformer) riding the generic data-parallel
trainer — gradient exactness, training determinism, and the
reference's own acceptance check (OOF beats the physics baseline).
"""

from __future__ import annotations

import numpy as np

from nfl26_bigdatabowl_prediction_spark.ml.transformer import (
    TransformerConfig,
    TransformerShapes,
    _backward,
    _forward,
)


def test_transformer_backward_matches_numerical_gradient():
    # Full-path gradient check (feature tokenizer + spatial attention
    # block + temporal attention block + attention-pool softmax +
    # cumsum head) against central differences.  eps=1e-4: several
    # token-embedding gradients are ~1e-6, where 1e-5 differences sit
    # at float64 roundoff (verified exact at larger eps).
    sh = TransformerShapes(f=3, window=4, d_model=6, ffn=8, attn=3,
                           max_horizon=4)
    rng = np.random.default_rng(0)
    flat = sh.init(1) + rng.normal(0, 0.05, sh.n_params)
    X = rng.normal(size=(5, 4, 3))
    dt = np.array([1, 2, 3, 4, 2])
    y = rng.normal(size=(5, 2))

    def loss(fl):
        pred, _ = _forward(sh.unpack(fl), X, dt, sh)
        e = pred - y
        return 0.5 * (e * e).sum()

    p = sh.unpack(flat)
    pred, cache = _forward(p, X, dt, sh)
    g = _backward(p, cache, pred - y, sh)
    ga = np.concatenate([g[n].ravel() for n, _ in sh.sizes()])
    eps = 1e-4
    for i in rng.choice(sh.n_params, 150, replace=False):
        fp = flat.copy()
        fp[i] += eps
        fm = flat.copy()
        fm[i] -= eps
        num = (loss(fp) - loss(fm)) / (2 * eps)
        rel = abs(num - ga[i]) / max(1e-8, abs(num) + abs(ga[i]))
        assert rel < 1e-5, (i, num, ga[i])


def test_transformer_attends_across_features():
    # the spatial stage must couple features within a timestep:
    # perturbing feature 0 changes the [CLS]-routed contribution of
    # other features, so the prediction shift differs from the sum of
    # per-feature shifts (a per-feature-linear tokenizer alone would
    # be additive)
    sh = TransformerShapes(f=3, window=3, d_model=6, ffn=8, attn=3,
                           max_horizon=4)
    p = sh.unpack(sh.init(3) + 0.3 * np.random.default_rng(4).normal(
        size=sh.n_params))
    rng = np.random.default_rng(1)
    X = rng.normal(size=(4, 3, 3))
    dt = np.array([4, 4, 4, 4])
    base, _ = _forward(p, X, dt, sh)
    Xa = X.copy(); Xa[:, :, 0] += 1.0
    Xb = X.copy(); Xb[:, :, 1] += 1.0
    Xab = X.copy(); Xab[:, :, 0] += 1.0; Xab[:, :, 1] += 1.0
    pa, _ = _forward(p, Xa, dt, sh)
    pb, _ = _forward(p, Xb, dt, sh)
    pab, _ = _forward(p, Xab, dt, sh)
    assert not np.allclose((pa - base) + (pb - base), pab - base, atol=1e-10)


def test_transformer_training_is_deterministic(spark):
    # bitwise-identical parameters from two identical runs: seeded
    # init, full-batch gradients, float64 end-to-end.
    import pandas as pd

    from nfl26_bigdatabowl_prediction_spark.ml.folds import with_fold
    from nfl26_bigdatabowl_prediction_spark.ml.rnn import train_encoder

    rng = np.random.default_rng(5)
    n, w, f = 60, 4, 2
    pdf = pd.DataFrame(
        {
            "gid": np.arange(n),
            "x_seq": [rng.normal(size=w * f).tolist() for _ in range(n)],
            "res_x": rng.normal(size=n),
            "res_y": rng.normal(size=n),
            "delta_t": rng.choice([0.1, 0.3, 0.5], size=n),
        }
    )
    df = with_fold(spark.createDataFrame(pdf), ["gid"], k=3)
    cfg = TransformerConfig(window=w, d_model=4, ffn=6, attn=3,
                            max_horizon=6, epochs=3, partitions=2)
    m1 = train_encoder(df, ["a", "b"], k=3, cfg=cfg)
    m2 = train_encoder(df, ["a", "b"], k=3, cfg=cfg)
    for key in m1.params:
        assert (m1.params[key] == m2.params[key]).all()


def test_transformer_beats_physics_baseline(spark, trained_encoders):
    # M9 third encoder (SURVEY §2.10): the distributed-Adam
    # spatio-temporal transformer must beat the constant-velocity
    # baseline out-of-fold on the tracking fixture.  The attention
    # encoder trails the recurrent ones on this small fixture and more
    # epochs overfit (MEASURED.md §"M9 third encoder: spatio-temporal
    # transformer"), but it clears the reference's own acceptance
    # bar.  Trained via the session-scoped fixture so the ~110 s
    # training is shared with any other consumer (round-5 verdict #5).
    r = trained_encoders["transformer"]
    assert r.rmse_model * 1.15 < r.rmse_baseline, (
        r.rmse_model, r.rmse_baseline,
    )
    from pyspark.sql import functions as F

    pred = r.predictions
    assert pred.filter(
        F.col("stt_pred_x").isNull() | F.isnan("stt_pred_x")
    ).count() == 0


def test_transformer_save_load_roundtrip(tmp_path):
    # S5 parity: bitwise param round-trip
    from nfl26_bigdatabowl_prediction_spark.ml.rnn import (
        EncoderModel, load_encoder, save_encoder,
    )

    sh = TransformerShapes(f=2, window=3, d_model=4, ffn=6, attn=3,
                           max_horizon=5)
    m = EncoderModel(["a", "b"], sh)
    m.params = {-1: sh.init(1), 0: sh.init(2), 1: sh.init(3)}
    m.mu = np.array([0.5, -1.0])
    m.sd = np.array([2.0, 3.0])
    save_encoder(m, str(tmp_path / "m"))
    m2 = load_encoder(str(tmp_path / "m"), TransformerShapes)
    assert m2.feature_cols == ["a", "b"]
    assert m2.shapes == sh
    for k in m.params:
        assert (m2.params[k] == m.params[k]).all()
    assert (m2.mu == m.mu).all() and (m2.sd == m.sd).all()

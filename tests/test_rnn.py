"""M9 closure tests: the numpy GRU + attention-pooling sequence
learner (ml/rnn.py) — gradient exactness, training determinism, and
the reference's own acceptance check (OOF beats the physics
baseline, main_cuda.py:1389-1401 / nn-mps.py:874-988).
"""

from __future__ import annotations

import numpy as np
import pytest

from nfl26_bigdatabowl_prediction_spark.ml.rnn import (
    GruConfig,
    GruShapes,
    _backward,
    _forward,
)


def test_gru_backward_matches_numerical_gradient():
    # Full-path gradient check (GRU BPTT + attention softmax + cumsum
    # head) against central differences on a random parameter subset.
    sh = GruShapes(f=3, window=4, hidden=5, attn=3, max_horizon=4)
    rng = np.random.default_rng(0)
    flat = sh.init(1) + rng.normal(0, 0.1, sh.n_params)
    X = rng.normal(size=(6, 4, 3))
    dt = np.array([1, 2, 3, 4, 2, 3])
    y = rng.normal(size=(6, 2))

    def loss(fl):
        pred, _ = _forward(sh.unpack(fl), X, dt, sh)
        e = pred - y
        return 0.5 * (e * e).sum()

    p = sh.unpack(flat)
    pred, cache = _forward(p, X, dt, sh)
    g = _backward(p, cache, pred - y, sh)
    ga = np.concatenate([g[n].ravel() for n, _ in sh.sizes()])
    eps = 1e-4
    for i in rng.choice(sh.n_params, 100, replace=False):
        fp = flat.copy()
        fp[i] += eps
        fm = flat.copy()
        fm[i] -= eps
        num = (loss(fp) - loss(fm)) / (2 * eps)
        rel = abs(num - ga[i]) / max(1e-8, abs(num) + abs(ga[i]))
        assert rel < 1e-5, (i, num, ga[i])


def test_cumsum_head_monotone_mask():
    # the prediction at Δt must equal the sum of the first Δt
    # increments: forward with dt and dt+1 differ by exactly one
    # increment column's contribution
    sh = GruShapes(f=2, window=3, hidden=4, attn=3, max_horizon=5)
    p = sh.unpack(sh.init(3))
    X = np.random.default_rng(1).normal(size=(4, 3, 2))
    p1, _ = _forward(p, np.repeat(X, 1, axis=0), np.array([2, 2, 2, 2]), sh)
    p2, _ = _forward(p, X, np.array([3, 3, 3, 3]), sh)
    # recompute the raw increments to check the delta
    _, cache = _forward(p, X, np.array([5] * 4), sh)
    out = (cache["c"] @ p["Wo"] + p["bo"]).reshape(4, 5, 2)
    assert np.allclose(p2 - p1, out[:, 2, :])


def test_gru_training_is_deterministic(spark):
    # bitwise-identical parameters from two identical runs: seeded
    # init, full-batch gradients, float64 end-to-end.
    from nfl26_bigdatabowl_prediction_spark.ml.rnn import train_encoder
    from nfl26_bigdatabowl_prediction_spark.ml.folds import with_fold
    import pandas as pd

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
    cfg = GruConfig(window=w, hidden=4, attn=3, max_horizon=6, epochs=3,
                    partitions=2)
    m1 = train_encoder(df, ["a", "b"], k=3, cfg=cfg)
    m2 = train_encoder(df, ["a", "b"], k=3, cfg=cfg)
    for key in m1.params:
        assert (m1.params[key] == m2.params[key]).all()


def test_gru_beats_physics_baseline(spark, trained_encoders):
    # M9 (SURVEY §2.10), now with the TRUE recurrent learner: the
    # distributed-Adam GRU must beat the constant-velocity baseline
    # out-of-fold on the tracking fixture, and it also beats seqreg's
    # ridge (MEASURED.md §"M9 true recurrent learner") — matching the
    # reference's finding that the recurrent encoder outperforms
    # linear feature models, nn-mps.py headline.
    r = trained_encoders["gru"]
    assert r.rmse_model * 1.3 < r.rmse_baseline, (r.rmse_model, r.rmse_baseline)
    from pyspark.sql import functions as F

    pred = r.predictions
    assert pred.filter(
        F.col("rnn_pred_x").isNull() | F.isnan("rnn_pred_x")
    ).count() == 0


def test_gru_save_load_roundtrip(tmp_path):
    # S5 parity for the recurrent learner: bitwise param round-trip
    from nfl26_bigdatabowl_prediction_spark.ml.rnn import (
        EncoderModel, load_encoder, save_encoder,
    )

    sh = GruShapes(f=2, window=3, hidden=4, attn=3, max_horizon=5)
    m = EncoderModel(["a", "b"], sh)
    m.params = {-1: sh.init(1), 0: sh.init(2), 1: sh.init(3)}
    m.mu = np.array([0.5, -1.0])
    m.sd = np.array([2.0, 3.0])
    save_encoder(m, str(tmp_path / "m"))
    m2 = load_encoder(str(tmp_path / "m"), GruShapes)
    assert m2.feature_cols == ["a", "b"]
    assert m2.shapes == sh
    for k in m.params:
        assert (m2.params[k] == m.params[k]).all()
    assert (m2.mu == m.mu).all() and (m2.sd == m.sd).all()


def _small_shapes():
    from nfl26_bigdatabowl_prediction_spark.ml.bilstm import BiLstmShapes
    from nfl26_bigdatabowl_prediction_spark.ml.transformer import TransformerShapes

    return {
        "gru": GruShapes(f=2, window=3, hidden=4, attn=3, max_horizon=5),
        "bilstm": BiLstmShapes(f=2, window=3, hidden=4, conv=3, attn=3,
                               max_horizon=5),
        "transformer": TransformerShapes(f=2, window=3, d_model=4, ffn=6,
                                         attn=3, max_horizon=5),
    }


def _tiny_model(sh):
    from nfl26_bigdatabowl_prediction_spark.ml.rnn import EncoderModel

    m = EncoderModel(["a", "b"], sh)
    m.params = {-1: sh.init(1), 0: sh.init(2), 1: sh.init(3)}  # folds {0, 1}
    m.mu = np.array([0.5, -1.0])
    m.sd = np.array([2.0, 3.0])
    return m


def test_load_encoder_refuses_pickled_or_foreign_file(tmp_path):
    # A model file is data: load_encoder never unpickles (an object
    # array in the file raises instead of running its pickle), and a
    # file saved by another encoder is refused by its stored name.
    import pytest

    from nfl26_bigdatabowl_prediction_spark.ml.bilstm import BiLstmShapes
    from nfl26_bigdatabowl_prediction_spark.ml.rnn import (
        load_encoder, save_encoder,
    )

    save_encoder(_tiny_model(_small_shapes()["gru"]), str(tmp_path / "m"))
    with pytest.raises(ValueError, match="holds encoder 'rnn'"):
        load_encoder(str(tmp_path / "m"), BiLstmShapes)
    path = tmp_path / "m" / "encoder.npz"
    with np.load(path) as z:
        arrays = {k: z[k] for k in z.files}
    arrays["feature_cols"] = np.array(["a", "b"], dtype=object)
    np.savez_compressed(path, **arrays)
    with pytest.raises(ValueError, match="allow_pickle"):
        load_encoder(str(tmp_path / "m"), GruShapes)


@pytest.mark.parametrize("encoder", ["gru", "bilstm", "transformer"])
def test_gru_oof_predict_rejects_unknown_fold(spark, encoder):
    # A fold id with no trained model must fail loudly: the old
    # silent fallback to the pooled model (which SAW that fold's
    # rows) produced leaked "OOF" predictions.  Every encoder shares
    # the one predict_encoder path; each is checked.
    import pandas as pd

    from nfl26_bigdatabowl_prediction_spark.ml.rnn import predict_encoder

    m = _tiny_model(_small_shapes()[encoder])
    rng = np.random.default_rng(9)
    pdf = pd.DataFrame(
        {
            "fold": [0, 1, 7],  # 7 was never trained
            "x_seq": [rng.normal(size=6).tolist() for _ in range(3)],
            "delta_t": [0.1, 0.2, 0.3],
            "baseline_x": [1.0, 2.0, 3.0],
            "baseline_y": [1.0, 2.0, 3.0],
        }
    )
    df = spark.createDataFrame(pdf)
    with pytest.raises(Exception, match="no fold model for fold=7"):
        predict_encoder(m, df, oof=True).collect()

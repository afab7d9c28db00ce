"""Cross-encoder output ensembling — M7's inverse-RMSE weighting
(main_cuda.py's residual-ensemble weighting pattern) applied across
the M9 sequence encoders: blend two (or more) encoders' OOF
prediction columns with weights ∝ 1/RMSE.  Output-space blending is
the correct composition for nonlinear learners (the same reason
ml/rnn.predict_encoder averages fold PREDICTIONS, not parameters).

On the tracking fixture the GRU + BiLSTM blend beats the best single
encoder (MEASURED.md §"M7 × M9: cross-encoder ensemble") — the
fixture-scale echo of the reference's finding that its ensemble beats
every constituent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def blend_predictions(joined: DataFrame, weights: dict[str, float]) -> DataFrame:
    """M7 weighted model averaging (main_cuda.py:85-90): ``weights``
    maps a column prefix to its weight (1/OOF-RMSE for the inverse-RMSE
    blend); each prefix contributes {prefix}_pred_x / {prefix}_pred_y
    on ``joined``.  Adds ens_pred_x / ens_pred_y = Σ w·pred / Σ w —
    pure column arithmetic, zero shuffles, so it composes onto any
    upstream plan for free."""
    if not weights:
        raise ValueError("need at least one ensemble member")
    tot = sum(weights.values())
    bx = sum((F.col(f"{p}_pred_x") * w for p, w in weights.items()), F.lit(0.0)) / tot
    by = sum((F.col(f"{p}_pred_y") * w for p, w in weights.items()), F.lit(0.0)) / tot
    return joined.withColumn("ens_pred_x", bx).withColumn("ens_pred_y", by)

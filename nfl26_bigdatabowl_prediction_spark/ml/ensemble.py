"""Cross-encoder output ensembling — M7's inverse-RMSE weighting
(main_cuda.py's residual-ensemble weighting pattern) applied across
the M9 sequence encoders: blend two (or more) encoders' OOF
prediction columns with weights ∝ 1/RMSE.  Output-space blending is
the correct composition for nonlinear learners (the same reason
ml/rnn.predict_encoder averages fold PREDICTIONS, not parameters).

Measured on the tracking fixture (MEASURED.md round 5): GRU 1.945 +
BiLSTM 2.142 → blend 1.926, beating the best single encoder — the
fixture-scale echo of the reference's finding that its ensemble beats
every constituent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def blend_predictions(
    joined: DataFrame,
    members: list[tuple[str, float]],
    out_prefix: str = "ens",
) -> DataFrame:
    """``members`` is [(column_prefix, oof_rmse), ...]; each member
    contributes columns {prefix}_pred_x / {prefix}_pred_y on
    ``joined``.  Adds {out_prefix}_pred_x/_pred_y as the
    inverse-RMSE-weighted blend — pure column arithmetic, zero
    shuffles, so it composes onto any upstream plan for free."""
    if not members:
        raise ValueError("need at least one ensemble member")
    weights = [(p, 1.0 / r) for p, r in members]
    tot = sum(w for _, w in weights)
    bx = sum((F.col(f"{p}_pred_x") * w for p, w in weights), F.lit(0.0)) / tot
    by = sum((F.col(f"{p}_pred_y") * w for p, w in weights), F.lit(0.0)) / tot
    return joined.withColumn(f"{out_prefix}_pred_x", bx).withColumn(
        f"{out_prefix}_pred_y", by
    )

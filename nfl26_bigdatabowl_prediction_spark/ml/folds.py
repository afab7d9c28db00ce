"""M1 — leakage-safe grouped cross-validation folds
(main_cuda.py:596-604, 728-737, 1465-1467: GroupKFold by trajectory).

MLlib's CrossValidator cannot group-split, so folds are a hash-mod
column over the group key: every row of a trajectory lands in the
same fold, deterministically, join-free, on any cluster size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_fold(df: DataFrame, group_cols: list[str], k: int = 5) -> DataFrame:
    """Add a ``fold`` column in [0, k): xxhash64 of the group key mod k."""
    return df.withColumn(
        "fold", F.pmod(F.xxhash64(*[F.col(c) for c in group_cols]), F.lit(k))
    )


def with_validation_flag(
    df: DataFrame, group_cols: list[str], frac_denominator: int = 5
) -> DataFrame:
    """Deterministic group-safe validation holdout ``is_val``: every
    row of a group gets the same boolean, ~1/frac_denominator of
    groups True.

    Feeds GBTRegressor's ``validationIndicatorCol`` (the reference's
    eval_set early stopping, SURVEY §4) — a second, salted hash so the
    holdout is independent of the fold assignment."""
    h = F.xxhash64(F.lit("val_salt"), *[F.col(c) for c in group_cols])
    return df.withColumn("is_val", F.pmod(h, F.lit(frac_denominator)) == 0)

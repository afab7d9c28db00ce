"""Driver-contract robustness — the probes the external driver's
environment implies but no oracle row checks: error paths, sink
idempotence, and the queries()/oracle_sql() registry invariants as the
driver sees them.  The full window-order check against the committed
records is in tests/test_registry.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql.utils import AnalysisException

import __spark_entry__ as E


def test_registry_invariants():
    qs, osql = E.queries(), E.oracle_sql()
    # every oracle belongs to a registered query
    assert set(osql) <= set(qs)
    # rows-only entries are the documented exceptions, not accidents:
    # keep the set small and intentional (SURVEY §2.7b preamble)
    rows_only = set(qs) - set(osql)
    assert rows_only <= {
        "q_approx_distinct",
        "q_quantile_approx",
        "q_embed_kmeans",
        "q_image_resize",
    }, f"undocumented rows-only queries: {sorted(rows_only)}"
    # all callables
    assert all(callable(f) for f in qs.values())


def test_missing_sf_dir_raises_cleanly(spark):
    """A nonexistent data directory must surface as an
    AnalysisException (PATH_NOT_FOUND) at plan/action time — not a
    hang, not a worker crash."""
    qs = E.queries()
    with pytest.raises(AnalysisException):
        qs["q_project"](spark, "/root/testdata/sf_does_not_exist").collect()


def test_sink_roundtrip_is_idempotent(spark):
    """Sink→scan round-trip queries overwrite their temp output; a
    second run must produce the identical result (the driver and the
    bench both execute every query more than once)."""
    qs = E.queries()
    a = qs["q_scan_orc"](spark, "/root/testdata/sf0.001").toPandas()
    b = qs["q_scan_orc"](spark, "/root/testdata/sf0.001").toPandas()
    key = ["n_nationkey"]
    assert a.sort_values(key).reset_index(drop=True).equals(
        b.sort_values(key).reset_index(drop=True)
    )


def test_entry_smoke(spark):
    """entry() mirrors the driver's smoke check: runs, has rows, and
    a stable column set."""
    df = E.entry(spark)
    assert df.count() >= 0
    assert len(df.columns) >= 2


def test_driver_window_rotation_front_loads_pending():
    """The driver verifies the first 50 queries() entries in insertion
    order: after the drift slots, every oracle-backed name WITHOUT a
    fully-green committed record sorts before every name WITH one, so
    the window spends its slots on new evidence first."""
    names = list(E.queries())
    rounds = E.green_rounds()
    drift = list(E._DRIFT_REVERIFY)
    assert len(drift) <= 8
    assert names[: len(drift)] == drift
    rest = [n for n in names[len(drift):] if n in E.oracle_sql()]
    pending = [n for n in rest if n not in rounds]
    assert rest[: len(pending)] == pending
    # rows-only names never occupy window slots
    rows_only = set(names) - set(E.oracle_sql())
    assert set(names[len(names) - len(rows_only):]) == rows_only


def test_scalar_native_matches_pandas_udf_twin(spark, sf_dir):
    # U1 JVM-side migration (SURVEY §2.9): the built-in F.sin/F.exp
    # twin must agree with the Arrow pandas_udf kernel row-for-row
    # AFTER the round-6 freeze (raw JVM Math vs numpy libm differ in
    # the last ulp on ~9% of fixture rows — the freeze is the
    # migration-safety contract this test pins).
    from nfl26_bigdatabowl_prediction_spark.plans.registry import QUERIES

    a = (
        QUERIES["q_pandas_scalar"](spark, sf_dir)
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    b = (
        QUERIES["q_scalar_native"](spark, sf_dir)
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    assert (a["event_id"] == b["event_id"]).all()
    # bitwise equality of the frozen doubles
    import numpy as np

    av = a["osc_score"].to_numpy()
    bv = b["osc_score"].to_numpy()
    assert (av.view("int64") == bv.view("int64")).all()

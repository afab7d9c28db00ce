"""tools/driver_sim must be AT LEAST as strict as the real driver.

Round 8's only red row existed because driver_sim was MORE permissive
than the contract it simulates: it tuple-tagged list cells that the
driver's pandas lexsort crashes on, so q_embed_quantize's ARRAY<INT>
output passed seven rounds of local sweeps and failed its first
driver sample.  These tests pin the strict canonicalization and the
``check`` verdicts directly, Spark-free: a stub stands in for the
Spark DataFrame and in-memory DuckDB SQL for the oracle (the
registry-level invariant lives in test_registry.py).
"""

from __future__ import annotations

import datetime
import decimal
import math

import duckdb
import numpy as np
import pytest
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tools.driver_sim import DriverIncompatibleType, canon_rows, check, tag


@pytest.mark.parametrize(
    "value",
    [
        [1, 2, 3],
        (1, 2),
        {"k": 1},
        np.array([1.0, 2.0]),
    ],
    ids=["list", "tuple", "map", "ndarray"],
)
def test_nested_cells_are_rejected(value):
    # the driver's pandas sort_values canonicalization throws
    # `unhashable type` on these — the checker must fail them loudly,
    # never normalize them into something comparable
    with pytest.raises(DriverIncompatibleType):
        tag(value)


def test_scalar_tagging_distinctions():
    # NULL vs NaN: SQL NULL is None at the driver, never NaN — a
    # Spark DOUBLE NULL vs a DuckDB NaN must NOT canonicalize equal
    assert tag(None) != tag(float("nan"))
    # int vs float of equal value ride different type tags (a DuckDB
    # HUGEINT/DECIMAL oracle against a Spark BIGINT must be visible)
    assert tag(1) != tag(1.0)
    assert tag(decimal.Decimal(1)) != tag(1)
    # bool is not int
    assert tag(True) != tag(1)
    # numpy scalars collapse onto their Python family
    assert tag(np.int64(7)) == tag(7)
    assert tag(np.float64(0.5)) == tag(0.5)
    # NaN compares equal to itself post-tagging (multiset hashing)
    assert tag(float("nan")) == tag(float("nan"))
    assert math.isnan(float("nan"))  # sanity
    # timestamps tag by isoformat
    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    assert tag(ts) == ("t", "2024-01-01T12:00:00")


def test_canon_rows_is_column_order_insensitive():
    cols_a, rows_a = canon_rows(["b", "a"], [(2, 1), (4, 3)])
    cols_b, rows_b = canon_rows(["a", "b"], [(3, 4), (1, 2)])
    assert cols_a == cols_b == ["a", "b"]
    assert rows_a == rows_b


class _Frame:
    """The slice of a Spark DataFrame that ``check`` reads."""

    def __init__(self, fields, rows):
        self.schema = StructType([StructField(n, t) for n, t in fields])
        self.columns = self.schema.fieldNames()
        self._rows = rows

    def collect(self):
        return list(self._rows)


def _check(fields, rows, sql):
    frame = _Frame(fields, rows)
    with duckdb.connect() as duck:
        ok, msg, _ = check("q", lambda spark, sf_dir: frame, sql, None, duck, "")
    return ok, msg


ONE_ULP_ABOVE_TENTH = math.nextafter(0.1, 1.0)


@pytest.mark.parametrize(
    "fields, rows, sql",
    [
        # pandas turns the Spark NULL into NaN, so a frame compare sees
        # NaN == NaN; the driver sees None vs NaN
        (
            [("x", DoubleType())],
            [(None,)],
            "SELECT 'nan'::DOUBLE AS x",
        ),
        # pandas widens a nullable bigint to float64, hiding the family
        (
            [("x", LongType())],
            [(1,), (None,)],
            "SELECT * FROM (VALUES (1.0::DOUBLE), (NULL)) t(x)",
        ),
        # DuckDB sums a bigint into a HUGEINT: equal Python ints on
        # fetch, a different value hash at the driver (round-1 q_pivot)
        (
            [("s", LongType())],
            [(3,)],
            "SELECT sum(x) AS s FROM (VALUES (1::BIGINT), (2::BIGINT)) t(x)",
        ),
        (
            [("x", DoubleType())],
            [(ONE_ULP_ABOVE_TENTH,)],
            "SELECT 0.1::DOUBLE AS x",
        ),
        (
            [("x", LongType())],
            [(1,)],
            "SELECT 1::BIGINT AS y",
        ),
        (
            [("x", LongType())],
            [(1,)],
            "SELECT * FROM (VALUES (1::BIGINT), (1::BIGINT)) t(x)",
        ),
    ],
    ids=[
        "null-vs-nan",
        "nullable-bigint-vs-double",
        "hugeint-vs-long",
        "one-ulp",
        "column-name",
        "row-count",
    ],
)
def test_check_fails(fields, rows, sql):
    ok, msg = _check(fields, rows, sql)
    assert not ok, msg


def test_check_passes_equal_multisets_in_any_order():
    ok, msg = _check(
        [("a", LongType()), ("b", StringType())],
        [(1, "x"), (2, "y"), (2, "y")],
        "SELECT * FROM (VALUES ('y', 2::BIGINT), ('x', 1::BIGINT),"
        " ('y', 2::BIGINT)) t(b, a)",
    )
    assert ok, msg

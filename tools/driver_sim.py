"""The one result comparator: does a Spark query equal its DuckDB oracle?

Every Spark-vs-DuckDB check in the repo goes through ``check`` here —
the registry differential (``tests/test_oracle.py``), the integer
head-room regressions, the opt-in 8x lane and the manual full sweep
below.  It compares raw ``collect()`` / ``fetchall()`` rows, never
pandas frames, because the driver hashes raw rows: a SQL NULL is
``None`` (never NaN) and each value's Python type rides along.

Three things must match, in order:

1. column names (order-insensitive) and row count;
2. the type family of every column, Spark schema against the oracle's
   declared types (``_FAMILY``: int, float, decimal, bool, string,
   binary, date/time).  HUGEINT, UBIGINT and every other unmapped type
   is a family of its own, so it always mismatches, loudly: DuckDB's
   ``sum(bigint)`` is a HUGEINT whose rows fetch as Python ints equal
   to Spark's BIGINT, yet the driver's value hash tells the two apart
   (round-1 q_pivot);
3. the row multisets, after ``canon_rows`` sorts columns by name and
   type-tags each cell with ``tag``:

       int-family   -> ("i", value)           (int, numpy ints)
       float-family -> ("f", repr(float))     (NaN kept distinct from None)
       Decimal      -> ("d", str)
       None         -> ("0",)
       date/ts      -> ("t", isoformat)
       list/array/map -> DriverIncompatibleType (the driver's pandas
                      lexsort crashes on these — round-8 q_embed_quantize)

   so floats must agree bitwise; one ulp apart is a failure.

``oracle_db`` is the one DuckDB setup the checks run against.

Usage (from the repository root, so Python workers import this
checkout's package):
    python tools/driver_sim.py [--window N] [--sf DIR] [name ...]
"""

from __future__ import annotations

import argparse
import atexit
import datetime
import decimal
import math
import os
import shutil
import sys
import tempfile
import time

import duckdb
import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Spark ``DataType.typeName()`` and DuckDB ``DuckDBPyType.id`` → family.
# Where the two engines spell a type the same way they mean the same
# family, so one table serves both sides.
_FAMILY = {
    **dict.fromkeys(
        ("byte", "short", "integer", "long", "tinyint", "smallint", "bigint"),
        "int",
    ),
    **dict.fromkeys(("float", "double"), "float"),
    "decimal": "decimal",
    "boolean": "bool",
    **dict.fromkeys(("string", "varchar", "char"), "string"),
    **dict.fromkeys(("binary", "blob"), "binary"),
    **dict.fromkeys(
        (
            "date", "timestamp", "timestamp_ntz", "timestamp with time zone",
            "timestamp_s", "timestamp_ms", "timestamp_ns",
        ),
        "datetime",
    ),
}


def _family(engine, type_name):
    # an unmapped type is tagged with its engine, so it matches nothing
    return _FAMILY.get(type_name, f"{engine} {type_name}")


class DriverIncompatibleType(Exception):
    """A top-level output cell the REAL driver cannot canonicalize.

    The driver lexsorts the collected frame with ``pandas.sort_values``
    over all columns, which throws ``unhashable type`` on list/array/
    map cells — q_embed_quantize shipped seven rounds of local greens
    and then crashed the first driver sample exactly this way (round-8
    verdict).  The contract checker must be at least as strict as the
    contract: tuple-tagging nested values (the pre-round-9 behavior)
    was strictly MORE permissive, so array outputs are now a loud
    failure here too.  Serialize arrays with the array_join house
    pattern (q_collect_traj) instead.
    """


def tag(v):
    if v is None:
        return ("0",)
    if isinstance(v, (np.ndarray, list, tuple, dict)):
        raise DriverIncompatibleType(
            f"top-level {type(v).__name__} cell — the driver's pandas "
            f"sort_values canonicalization crashes on this; serialize "
            f"with array_join (q_collect_traj pattern)"
        )
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if isinstance(v, decimal.Decimal):
        return ("d", str(v))
    if isinstance(v, datetime.datetime):
        return ("t", v.isoformat())
    if isinstance(v, datetime.date):
        return ("t", v.isoformat())
    if isinstance(v, bytes):
        return ("y", v)
    return ("s", str(v))


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(tag(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def check(name, qfn, sql, spark, duck, sf_dir):
    t0 = time.time()
    sdf = qfn(spark, sf_dir)
    s_cols = sdf.columns
    s_types = {f.name: f.dataType for f in sdf.schema.fields}
    s_rows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(sql)
    o_cols = rel.columns
    o_types = dict(zip(o_cols, rel.types))
    o_rows = rel.fetchall()
    wall = time.time() - t0
    if sorted(s_cols) != sorted(o_cols):
        return False, f"columns spark={sorted(s_cols)} oracle={sorted(o_cols)}", wall
    if len(s_rows) != len(o_rows):
        return False, f"rows spark={len(s_rows)} oracle={len(o_rows)}", wall
    for c in sorted(s_cols):
        st, ot = s_types[c], o_types[c]
        if _family("spark", st.typeName()) != _family("duckdb", ot.id):
            return (
                False,
                f"col {c}: type family spark={st.simpleString()} oracle={ot} "
                "(the driver's value hash is type-sensitive — cast the oracle SQL)",
                wall,
            )
    _, a = canon_rows(s_cols, s_rows)
    cols, b = canon_rows(o_cols, o_rows)
    if a == b:
        return True, f"{len(s_rows)} rows", wall
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            for c, xv, yv in zip(cols, x, y):
                if xv != yv:
                    return (
                        False,
                        f"row {i} col {c}: spark={xv!r} oracle={yv!r}",
                        wall,
                    )
    return False, "row multiset differs (ordering-invisible)", wall


def oracle_db(sf_dir):
    """One DuckDB connection with a view per table present under sf_dir."""
    duck = duckdb.connect()
    # Cap the in-process oracle: an unbounded DuckDB buffer pool ran
    # the whole host to a 125 GB OOM kill on a 64x-scale window oracle
    # (q_ohlc) — with a limit + temp dir it spills to disk instead.
    duck.execute("SET memory_limit='40GB'")
    # Per-process spill dir: a fixed shared path risks temp-file
    # collisions between concurrent runs and orphans spill files after
    # a crash (round-9 ADVICE).
    spill = tempfile.mkdtemp(prefix="duckdb_oracle_spill_")
    atexit.register(shutil.rmtree, spill, ignore_errors=True)
    duck.execute(f"SET temp_directory='{spill}'")
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # Spark-written tables (the 8x derivatives, test fixtures) are
        # directories of part files; the driver's fixtures single files
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        elif not os.path.exists(path):
            continue
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return duck


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--window", type=int, default=0,
                    help="check only the first N driver-order entries")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod
    from nfl26_bigdatabowl_prediction_spark.session import get_spark

    qmap = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or list(qmap)
    if args.window:
        names = names[: args.window]

    spark = get_spark(app_name="driver-sim", shuffle_partitions=8)
    duck = oracle_db(args.sf)

    n_fail = n_skip = 0
    for name in names:
        if name not in oracles or not oracles[name]:
            print(f"SKIP  {name} (no oracle)")
            n_skip += 1
            continue
        try:
            ok, msg, wall = check(
                name, qmap[name], oracles[name], spark, duck, args.sf
            )
        except Exception as e:  # noqa: BLE001
            ok, msg, wall = False, f"EXC {type(e).__name__}: {e}", 0.0
        status = "ok  " if ok else "FAIL"
        if not ok:
            n_fail += 1
        print(f"{status}  {name:28s} {wall:6.2f}s  {msg}")
    n_checked = len(names) - n_skip
    print(f"\n{n_fail} failures / {n_checked} checked, {n_skip} skipped (no oracle)")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one
single-row-group parquet file each, with the schemas, key ranges and
value distributions of the project's seed-42 test fixtures.  The same
``(sf, seed)`` always produces byte-identical inputs, so the benchmark
can build its data inside its own checkout instead of reading a fixture
directory from elsewhere.

``python3 perfbench/datagen.py --compare FIXTURE_ROOT`` checks that
claim: it generates each scale and compares it, table by table and
column by column (schema, row count, min, max, distinct count), with
``FIXTURE_ROOT/sf<sf>``, writing the comparison to
``records/fixture_match.json``.

Row counts per scale factor ``sf`` (sf0.001 / sf0.01 / sf0.1):

    customer 150k·sf   supplier 10k·sf   part 200k·sf   orders 1.5M·sf
    lineitem 6M·sf     events 1M·sf (15k·sf users, 30 days of Jan 2024)
    documents max(500, 50k·sf)           embeddings max(500, 20k·sf)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "green"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch micros
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01 in epoch micros


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    table = pa.table(cols)
    pq.write_table(
        table, os.path.join(out_dir, f"{name}.parquet"),
        row_group_size=max(1, table.num_rows),
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def generate(sf: float, out_dir: str, seed: int = 42) -> None:
    """Write all tables for scale ``sf`` into ``out_dir`` (created)."""
    rng = np.random.default_rng(seed)
    n_cust = int(round(150_000 * sf))
    n_supp = int(round(10_000 * sf))
    n_part = int(round(200_000 * sf))
    n_ord = int(round(1_500_000 * sf))
    n_li = int(round(6_000_000 * sf))
    n_ev = int(round(1_000_000 * sf))
    n_users = int(round(15_000 * sf))
    n_docs = max(500, int(round(50_000 * sf)))
    n_emb = max(500, int(round(20_000 * sf)))
    os.makedirs(out_dir, exist_ok=True)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(_REGIONS),
    })
    nk = np.arange(25, dtype="int32")
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(nk),
        "n_name": pa.array([f"NATION_{i}" for i in nk]),
        "n_regionkey": pa.array(nk % 5),
    })
    ck = np.arange(n_cust, dtype="int64")
    _write(out_dir, "customer", {
        "c_custkey": pa.array(ck),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
    })
    sk = np.arange(n_supp, dtype="int64")
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(sk),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype="int64")
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(_PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(np.round(900 + 0.1 * (pk % 1000), 1)),
    })
    order_day = rng.integers(0, 2400, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995 + order_day * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
    })
    l_order = rng.integers(0, n_ord, n_li).astype("int64")
    ship_day = order_day[l_order] + rng.integers(1, 96, n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype("int32")),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts(_EPOCH_1995 + ship_day * _DAY_US),
    })
    # strictly increasing, distinct event times spread over 30 days
    ts = np.sort(rng.choice(30 * _DAY_US, n_ev, replace=False)) + _EPOCH_2024
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype("int64")),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.002:  # a few exact duplicates
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_VOCAB, n_words)))
    doc_ids = np.arange(n_docs, dtype="int64")
    _write(out_dir, "documents", {
        "doc_id": pa.array(doc_ids),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n_docs, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in doc_ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })
    labels = rng.integers(0, 10, n_emb).astype("int32")
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype="int64")),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def ensure(sf: float, root: str, seed: int = 42) -> str:
    """Return ``root/sf<sf>``, generating it first if it is missing.

    Generation goes to a sibling temp directory that is renamed into
    place, so an interrupted run never leaves a partial table set."""
    out = os.path.join(root, f"sf{sf}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(sf, tmp, seed)
    os.replace(tmp, out)
    return out


def _column_stats(col: pa.ChunkedArray) -> dict:
    import pyarrow.compute as pc

    if pa.types.is_list(col.type):  # compare the flattened values
        col = pc.list_flatten(col)
    mm = pc.min_max(col)
    return {"min": str(mm["min"]), "max": str(mm["max"]),
            "distinct": pc.count_distinct(col).as_py()}


def compare(sf: float, fixture_dir: str, root: str) -> dict:
    """Per-table comparison of the generated scale ``sf`` with the
    fixture tables in ``fixture_dir``."""
    ours = ensure(sf, root)
    out = {}
    for name in TABLES:
        a = pq.read_table(os.path.join(fixture_dir, f"{name}.parquet"))
        b = pq.read_table(os.path.join(ours, f"{name}.parquet"))
        out[name] = {
            "rows": [a.num_rows, b.num_rows],
            "schema_equal": a.schema.equals(b.schema, check_metadata=False),
            "columns": {c: [_column_stats(a[c]), _column_stats(b[c])]
                        for c in a.column_names if c in b.column_names},
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description="compare generated tables with fixtures")
    ap.add_argument("--compare", metavar="FIXTURE_ROOT", required=True,
                    help="directory holding sf0.001/, sf0.01/ and sf0.1/")
    args = ap.parse_args()
    bench = os.path.dirname(os.path.abspath(__file__))
    report = {
        f"sf{sf}": compare(sf, os.path.join(args.compare, f"sf{sf}"),
                           os.path.join(bench, ".data"))
        for sf in (0.001, 0.01, 0.1)
    }
    ok = True
    for scale, tables in report.items():
        for name, t in tables.items():
            same = t["rows"][0] == t["rows"][1] and t["schema_equal"]
            ok &= same
            print(f"{scale} {name}: rows {t['rows'][0]} vs {t['rows'][1]}, "
                  f"schema {'equal' if t['schema_equal'] else 'DIFFERS'}")
            for c, (fa, fb) in t["columns"].items():
                print(f"    {c}: fixture {fa}  generated {fb}")
    os.makedirs(os.path.join(bench, "records"), exist_ok=True)
    with open(os.path.join(bench, "records", "fixture_match.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

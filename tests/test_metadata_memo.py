"""The driver-side metadata memo (sources/io.py::_memo) is keyed on
everything that changes its value: the identity of the files the value
comes from and the session confs that shape it.  Each case changes one
such input between two calls and expects the freshly computed value,
never the memoized one."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nfl26_bigdatabowl_prediction_spark.sources.io import spread_scan, table
from nfl26_bigdatabowl_prediction_spark.streaming.source import events_stream


@pytest.fixture
def conf(spark):
    """Set session confs for one test; restore them afterwards."""
    saved: dict[str, str | None] = {}

    def set_(name: str, value: str) -> None:
        saved.setdefault(name, spark.conf.get(name, None))
        spark.conf.set(name, value)

    yield set_
    for name, value in saved.items():
        if value is None:
            spark.conf.unset(name)
        else:
            spark.conf.set(name, value)


def _write(path, table_: pa.Table, **kw) -> None:
    pq.write_table(table_, str(path), **kw)


_NANOS = pa.table({"t": pa.array([1_000_000_123], pa.timestamp("ns"))})
_LOCAL_MICROS = pa.table(
    {"t": pa.array([dt.datetime(2024, 1, 1, 12)], pa.timestamp("us"))}
)
_BINARY = pa.table({"t": pa.array([b"ab"], pa.binary())})


@pytest.mark.parametrize(
    "conf_name, data, when_true, when_false",
    [
        # int64 nanos surface as bigint only under nanosAsLong; Spark
        # refuses the type without it (None: inference raises)
        ("spark.sql.legacy.parquet.nanosAsLong", _NANOS, "bigint", None),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", _LOCAL_MICROS,
         "timestamp_ntz", "timestamp"),
        ("spark.sql.parquet.binaryAsString", _BINARY, "string", "binary"),
    ],
    ids=["nanosAsLong", "inferTimestampNTZ", "binaryAsString"],
)
def test_schema_follows_inference_confs(
    spark, conf, tmp_path, conf_name, data, when_true, when_false
):
    _write(tmp_path / "t.parquet", data)
    conf(conf_name, "true")
    assert dict(table(spark, str(tmp_path), "t").dtypes)["t"] == when_true
    conf(conf_name, "false")
    if when_false is None:
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            table(spark, str(tmp_path), "t")
    else:
        assert dict(table(spark, str(tmp_path), "t").dtypes)["t"] == when_false


def test_rewrite_in_place_reinfers(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write(path, pa.table({"a": [1, 2, 3]}))
    assert table(spark, str(tmp_path), "t").columns == ["a"]
    _write(path, pa.table({"b": ["x", "y"], "c": [1.0, 2.0]}))
    assert table(spark, str(tmp_path), "t").columns == ["b", "c"]


def test_split_count_follows_max_partition_bytes(spark, conf, tmp_path):
    parallelism = spark.sparkContext.defaultParallelism
    if parallelism < 4:
        pytest.skip("needs at least 4 slots to tell one split from many")
    n = 20_000
    _write(
        tmp_path / "t.parquet",
        pa.table({"k": list(range(n)), "v": [float(i) for i in range(n)]}),
        row_group_size=n // 16,
    )
    # one split under the default 128 MB split size: spread it
    conf("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    df = table(spark, str(tmp_path), "t")
    assert spread_scan(df) is not df
    # 4 KB splits give the scan more splits than half the slots: a
    # stale memoized count would still repartition
    conf("spark.sql.files.maxPartitionBytes", "4096")
    df = table(spark, str(tmp_path), "t")
    assert spread_scan(df) is df


def test_events_stream_picks_up_rewritten_directory(spark, tmp_path):
    events = str(tmp_path / "events.parquet")  # a directory of part files

    def write(extra: str, value) -> None:
        spark.createDataFrame(
            [(1, 10, value)], f"event_id long, ts long, {extra}"
        ).write.mode("overwrite").parquet(events)

    write("a string", "x")
    assert "a" in events_stream(spark, str(tmp_path)).columns
    write("b double", 2.0)
    cols = events_stream(spark, str(tmp_path)).columns
    assert "b" in cols and "a" not in cols

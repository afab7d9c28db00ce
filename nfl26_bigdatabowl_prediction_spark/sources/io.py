"""Sources & sinks (SURVEY.md §2.1, S1-S6).

Reference behavior being re-expressed (all citations into /root/reference):
  S1  pd.read_csv per weekly file            main_cuda.py:120-123
  S2  multiprocessing.Pool scan + pd.concat  main_cuda.py:125-138
  S4  df.to_csv sink                          main_cuda.py:1541
  S6  pickled columnar intermediates          nn/data_npy/*.pkl

Spark-first design: a glob path IS the parallel multi-file scan (each
file split becomes a task; no process pool needed), and parquet
replaces pickle for columnar intermediates.  At 100 TB the parquet
reader's filter pushdown + column pruning are the difference between
reading 100 TB and reading the 2 columns a query touches — so every
loader here returns a *lazy* DataFrame and never caches eagerly.
"""

from __future__ import annotations

import glob as _glob
import os
import shutil
from collections.abc import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def normalize_ts(df: DataFrame) -> DataFrame:
    """Normalize an ``ts`` event-time column to int64 epoch-MICROS.

    Integer time is the representation we want at scale (exact
    arithmetic, no session-timezone semantics); micros specifically
    because DuckDB — the correctness oracle — truncates nanosecond
    parquet timestamps to microseconds, so the result is bit-identical
    to DuckDB's ``epoch_us(ts)`` for every physical layout the driver
    has shipped:

    - TIMESTAMP(NANOS): Spark rejects it by default; the
      ``nanosAsLong`` conf surfaces int64 epoch-nanos → ``div 1000``.
    - TIMESTAMP(MICROS): arrives as TIMESTAMP_NTZ (or TIMESTAMP);
      with the UTC session timezone (session.py) ``unix_micros`` of
      the cast is the exact wall-clock epoch.
    """
    kind = dict(df.dtypes).get("ts")
    if kind == "bigint":
        return df.withColumn("ts", F.expr("ts div 1000"))
    return df.withColumn("ts", F.unix_micros(F.col("ts").cast("timestamp")))


def _file_key(path: str) -> tuple:
    """Identity of a path's CURRENT bytes: (path, mtime, size).  A
    rewrite in place changes mtime/size; a different sf_dir is a
    different path.  Empty when ``stat`` fails (e.g. a remote URI)."""
    try:
        st = os.stat(path)
        return (path, st.st_mtime_ns, st.st_size)
    except OSError:
        return ()


def _local_path(uri: str) -> str:
    """``file:`` URI (as ``DataFrame.inputFiles`` reports) → local path;
    any other scheme passes through and fails ``stat``."""
    parsed = urlparse(uri)
    return unquote(parsed.path) if parsed.scheme == "file" else uri


def _confs(spark: SparkSession, names: tuple[str, ...]) -> tuple:
    return tuple(spark.conf.get(name, None) for name in names)


_MEMO: dict[tuple, object] = {}


def _memo(files: list[str], inputs: tuple, compute: Callable[[], object]):
    """The one process-lifetime memo for driver-side metadata.

    Caches ``compute()`` under the identity of the ``files`` the value
    is derived from plus every other ``inputs`` that change it (a tag
    naming the value, the session confs it depends on).  A rewritten
    file or a changed conf is a different key, so a stale value is
    never served.  When there are no files, or any ``stat`` fails, the
    value is computed and nothing is stored.

    Values are metadata only (schemas, split counts, scratch paths);
    every query still lists, reads and computes from the data at
    execution.
    """
    ids = tuple(_file_key(f) for f in files)
    if not ids or not all(ids):
        return compute()
    key = (ids, inputs)
    if key not in _MEMO:
        _MEMO[key] = compute()
    return _MEMO[key]


# session confs that change what parquet schema inference returns
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)


def parquet_schema(
    spark: SparkSession, path: str, glob: str | None = None
) -> T.StructType:
    """The schema ``spark`` infers for the parquet at ``path`` (only the
    files matching ``glob`` under it, when given), memoized on those
    files' identity and the session's inference confs.

    A bare ``spark.read.parquet(path)`` pays a driver-side footer read
    and schema inference on every DataFrame construction; reading with
    the memoized schema skips both.  The schema is the one inference
    over the same bytes under the same confs would return.
    """
    reader = spark.read
    files = [path]
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
        files = sorted(_glob.glob(os.path.join(path, glob)))
    return _memo(
        files,
        ("schema", path, glob, _confs(spark, _SCHEMA_CONFS)),
        lambda: reader.parquet(path).schema,
    )


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic test table.  ``events.ts`` is normalized to
    int64 epoch-micros (normalize_ts).

    Reads with the memoized footer schema (``parquet_schema``): a
    repeated scan of an unchanged file costs no footer read.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # must be set BEFORE schema inference: int64-nanos ts surfaces
        # as bigint only under this conf (normalize_ts contract).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    return normalize_ts(df) if name == "events" else df


# session confs that change how many splits a file scan plans
_SPLIT_CONFS = (
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.files.minPartitionNum",
    "spark.sql.files.maxPartitionNum",
    "spark.sql.leafNodeDefaultParallelism",
)


def spread_scan(df: DataFrame) -> DataFrame:
    """Spread a scan across the cluster before CPU-heavy per-row work.

    A parquet file with one row group yields exactly ONE scan split no
    matter the core count (maxSplitBytes ≥ the file; sub-row-group
    splits would read nothing), so expensive scan-side expressions —
    per-character hash folds, per-shingle digests — run single-threaded
    on small inputs (guide §2.5 "input skew … repartition immediately
    after the read").  CONDITIONAL: the round-robin repartition happens
    only when the scan's parallelism is under half the cluster's, so at
    100 TB (thousands of row groups) this is a provable no-op and no
    shuffle is added.  Apply ONLY where the per-row work dominates the
    repartition's cost — round-11 A/B measured the blanket form a net
    LOSS for light tokenization consumers (1.1-1.6×) and a 1.5-3× win
    for the hash-fold queries it is now scoped to.

    The split-count probe (``df.rdd.getNumPartitions()``) compiles the
    scan to an RDD (~30-50 ms of driver work), so the count is memoized
    on everything it depends on: the identity of the scanned files
    (``df.inputFiles()``, ~1 ms), the plan (``semanticHash``),
    ``defaultParallelism`` and the session's file-split confs.
    """
    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    n_parts = _memo(
        [_local_path(f) for f in df.inputFiles()],
        ("splits", df.semanticHash(), parallelism, _confs(spark, _SPLIT_CONFS)),
        lambda: df.rdd.getNumPartitions(),
    )
    if n_parts < parallelism // 2:
        return df.repartition(parallelism)
    return df


def events_asof(spark: SparkSession, sf_dir: str, cutoff_us: int) -> DataFrame:
    """Time-travel scan of the events log: rows with ts ≤ ``cutoff_us``
    (epoch micros), with the cutoff applied to the PHYSICAL ts column
    so it reaches the parquet scan as a pushed filter — row groups
    entirely after the cutoff are skipped on footer min/max stats.
    (A predicate on the normalized column — ``ts div 1000 <= X`` —
    does not push; this helper is why q_cdc_asof reads only the
    history prefix at 100 TB.)  The normalized filter is applied as
    well, so the semantics hold for any physical layout.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    raw = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    kind = dict(raw.dtypes).get("ts")
    if kind == "bigint":
        # int64 epoch-NANOS layout: ts div 1000 <= X  ⟺  ts <= X*1000+999
        raw = raw.filter(F.col("ts") <= cutoff_us * 1000 + 999)
    elif kind in ("timestamp_ntz", "timestamp"):
        from datetime import datetime, timedelta

        secs, us = divmod(cutoff_us, 1_000_000)
        lit = (datetime(1970, 1, 1) + timedelta(seconds=secs, microseconds=us)).strftime(
            "%Y-%m-%d %H:%M:%S.%f"
        )
        kw = "TIMESTAMP_NTZ" if kind == "timestamp_ntz" else "TIMESTAMP"
        raw = raw.filter(F.col("ts") <= F.expr(f"{kw} '{lit}'"))
    return normalize_ts(raw).filter(F.col("ts") <= cutoff_us)


def read_csv_dir(
    spark: SparkSession,
    path_glob: str,
    schema: T.StructType | None = None,
    infer: bool = False,
) -> DataFrame:
    """S1+S2: multi-file CSV scan.

    The reference fans 18 weekly files over a process pool and
    concatenates (main_cuda.py:125-138); in Spark the glob path is the
    parallel scan and the union is implicit.  Explicit schema for
    production (one pass); ``infer=True`` for reference parity.
    """
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", True)
    return reader.csv(path_glob)


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S4 sink (main_cuda.py:1541).  ``single_file`` only for small
    driver-side outputs (submission files); never at scale."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """S6: columnar intermediate (replaces nn/data_npy pickles).
    Partitioning by a coarse key enables partition pruning downstream."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sort-bucketed) table.

    Both sides of a recurring join written with the SAME bucket spec
    join with ZERO exchanges (tests/test_bucketing.py asserts this) —
    the pre-shuffle is paid once at write time.  At 100 TB this is
    the difference between re-shuffling the fact table on every
    pipeline run and never shuffling it again; sort buckets
    additionally drop the per-run Sort for sort-merge joins."""
    spark = df.sparkSession
    # Idempotence across sessions: a previous session's managed-table
    # directory can outlive its catalog entry (local warehouse), and
    # saveAsTable refuses a fresh CREATE over the orphan location.
    # DROP the catalog entry, then clear any leftover local dir.
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    local = wh.removeprefix("file:")
    orphan = os.path.join(local, name.lower())
    if os.path.isdir(orphan):
        shutil.rmtree(orphan)
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def write_range_clustered(
    df: DataFrame, path: str, cluster_col: str, n_files: int = 8
) -> None:
    """Range-clustered parquet layout for min/max data skipping.

    ``repartitionByRange`` gives every output file a disjoint value
    range of ``cluster_col`` and the within-partition sort tightens
    each row group's min/max stats, so a pushed-down range predicate
    skips whole files (footer stats) and whole row groups before any
    IO happens.  At 100 TB this is the read-path complement to
    ``write_bucketed``: bucketing kills the join shuffle, range
    clustering kills the scan — a time- or key-range query touches
    only the files its range maps to.  The pattern generalizes to
    multi-column Z-ordering; one-dimensional range clustering is the
    degenerate (and most common) case.
    """
    (
        df.repartitionByRange(n_files, F.col(cluster_col))
        .sortWithinPartitions(cluster_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def _morton32(a, b):
    """Interleave the low 16 bits of two integer columns into one
    32-bit Morton (Z-order) code — pure bit arithmetic, stays inside
    whole-stage codegen."""
    code = F.lit(0).cast("long")
    for i in range(16):
        code = (
            code
            + F.shiftleft(F.shiftright(a.cast("long"), i) % 2, 2 * i + 1)
            + F.shiftleft(F.shiftright(b.cast("long"), i) % 2, 2 * i)
        )
    return code


def write_zorder_clustered(
    df: DataFrame, path: str, col_a: str, col_b: str, n_files: int = 8
) -> None:
    """Two-dimensional Z-order clustered parquet layout.

    Range clustering (write_range_clustered) skips files for
    predicates on ONE column; Z-ordering interleaves the bits of two
    key columns into a Morton code and range-clusters on THAT, so each
    file owns a compact rectangle of the (a, b) key space and footer
    min/max stats prune files for predicates on EITHER column.  At
    100 TB this is how a table serves two access paths (e.g. by user
    and by time) from one layout without a second sorted copy.

    Each column is min/max-normalized to 16 bits before interleaving —
    Morton locality requires comparable bit-widths, otherwise the wider
    column's high bits dominate the code and the narrow column degrades
    to unclustered.  The normalization bounds cost one scalar min/max
    aggregate (map-side partials, negligible next to the write); the
    Morton column is dropped before write — it exists only to order
    the rows.
    """
    lo_a, hi_a, lo_b, hi_b = (
        df.agg(
            F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
        ).first()
    )
    norm = lambda c, lo, hi: (  # noqa: E731
        (c.cast("double") - lo) * 65535.0 / max(hi - lo, 1)
    ).cast("long")
    code = _morton32(
        norm(F.col(col_a), lo_a, hi_a), norm(F.col(col_b), lo_b, hi_b)
    )
    (
        df.withColumn("__zorder", code)
        .repartitionByRange(n_files, F.col("__zorder"))
        .sortWithinPartitions("__zorder")
        .drop("__zorder")
        .write.mode("overwrite")
        .parquet(path)
    )

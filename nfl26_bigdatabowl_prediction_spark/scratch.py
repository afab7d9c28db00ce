"""Process-scoped scratch directories for checkpoint-style temp data,
and the plan layer's one materialization policy.

An intermediate that several consumers of ONE query read is
materialized for that query only:

* ``DataFrame.localCheckpoint(eager=False)`` for a node- or
  vocabulary-sized table (executor storage, gone with the query's
  DataFrame);
* ``checkpoint_parquet`` below for one that must spill to columnar
  storage (corpus-sized, or a stored view the plan re-reads).

Plans never ``.cache()`` / ``.persist()``: Spark's cache manager lives
as long as the session and matches a later query's subtree by its plan
alone, not by the files behind it, so a cached intermediate would be
reused after its input changed on disk.

Queries that materialize to scratch (e.g. q_setsim_join's shingle
projection, q_schema_evolution's two parquet versions) return
DataFrames that LAZILY read the materialized files, so the directory
must outlive the query function — it cannot be deleted inside it.
Allocating every such directory under one per-process root and
removing the root at interpreter exit (atexit) gives the earliest
safe cleanup point: repeated bench/driver/test runs no longer
accumulate unbounded /tmp disk, while every DataFrame handed back to
a caller stays readable for the life of the session.

Each allocation is still per-invocation (mkdtemp under the root), so
concurrent sessions and repeated calls never race on a shared path.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading

_ROOT: str | None = None
_LOCK = threading.Lock()


def scratch_dir(prefix: str) -> str:
    """Return a fresh empty directory removed at process exit."""
    global _ROOT
    with _LOCK:  # one root per process even under the 8-thread pool
        if _ROOT is None:
            _ROOT = tempfile.mkdtemp(prefix="nfl26_scratch_")
            atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_ROOT)


def checkpoint_parquet(df, prefix: str):
    """Materialize ``df`` to scratch parquet and return the re-read frame.

    The spill-to-disk arm of the policy above, for a subtree with ≥2
    consumers: an unmaterialized DataFrame RE-EVALUATES per consumer
    (Spark reuses Exchanges only within one action), so e.g. a K·n
    scoring pass or a corpus scan would run once per downstream
    branch.  A parquet round-trip through the atexit-cleaned scratch
    root caps that at exactly one evaluation and gives every consumer
    a column-pruned, stats-backed scan — the same reasoning as
    ``RDD.checkpoint`` but spill-to-columnar, which is what a
    1000-executor job would do with a staging table.  Every call writes
    a fresh directory, so nothing is reused across queries.
    """
    path = scratch_dir(prefix) + "/data"
    df.write.mode("overwrite").parquet(path)
    # explicit schema: a 0-row result must round-trip too, without
    # depending on parquet footer inference finding a file
    return df.sparkSession.read.schema(df.schema).parquet(path)

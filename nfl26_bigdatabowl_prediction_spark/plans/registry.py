"""Central query registry.

Every plan module contributes ``QUERIES`` (name → callable(spark,
sf_dir) → DataFrame) and ``ORACLES`` (name → DuckDB SQL twin), filled
only through its ``q = registrar(QUERIES, ORACLES)`` decorator.  The
driver contract (``__spark_entry__.py``) and the local differential
test (`tests/test_oracle.py`) both read from here, so a query is
"done" exactly when it appears in this registry with a passing twin.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def registrar(queries: dict, oracles: dict):
    """The one way to register a query: ``@q(name, oracle_sql)`` files
    the decorated function under ``name`` in ``queries`` and its DuckDB
    twin in ``oracles`` (``oracle=None``: rows-only).  A name or an
    oracle registered twice raises instead of overwriting."""

    def q(name: str, oracle: str | None):
        def deco(fn):
            if name in queries:
                raise ValueError(f"duplicate query {name}")
            if name in oracles:
                raise ValueError(f"duplicate oracle {name}")
            queries[name] = fn
            if oracle is not None:
                oracles[name] = oracle
            return fn

        return deco

    return q


def _merge(module) -> None:
    q = registrar(QUERIES, ORACLES)
    for name, fn in module.QUERIES.items():
        q(name, module.ORACLES.get(name))(fn)


from . import relational  # noqa: E402
from . import events_windows  # noqa: E402
from . import trajectory  # noqa: E402
from . import text  # noqa: E402
from . import vectors  # noqa: E402
from . import multimodal_q  # noqa: E402
from . import streaming_q  # noqa: E402
from . import analytics  # noqa: E402
from . import lakehouse  # noqa: E402
from . import graph  # noqa: E402
from . import sql_surface  # noqa: E402
from . import mleval  # noqa: E402
from . import decision  # noqa: E402
from . import geo  # noqa: E402

_merge(relational)
_merge(events_windows)
_merge(trajectory)
_merge(text)
_merge(vectors)
_merge(multimodal_q)
_merge(streaming_q)
_merge(analytics)
_merge(lakehouse)
_merge(graph)
_merge(sql_surface)
_merge(mleval)
_merge(decision)
_merge(geo)

from __future__ import annotations

import functools
import os

import pytest

from tools.driver_sim import oracle_db

# Default to the DRIVER's verification scale (sf0.01): round 1's
# q_except vacuity slipped through because the local differential ran
# at sf0.001 while the driver checks sf0.01.  Export
# SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.001 for a faster local
# iteration loop.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from nfl26_bigdatabowl_prediction_spark.session import get_spark

    s = get_spark(app_name="nfl26-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = oracle_db(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


_ENCODER_CACHE_ROOT = "/tmp/nfl26_encoder_cache"


_PKG = "nfl26_bigdatabowl_prediction_spark"
# the trainers and the fixture generator whose results the cache holds
_TRAINERS = ("ml.rnn", "ml.bilstm", "ml.transformer", "ml.seqreg", "ml.gbt", "testing")


@functools.lru_cache(maxsize=None)
def _ml_sources() -> tuple[str, ...]:
    """Source files of the trainers' import closure: every package
    module a fresh interpreter has loaded after importing them (a
    fresh one, because this session may already hold unrelated
    package modules)."""
    import json
    import subprocess
    import sys

    import nfl26_bigdatabowl_prediction_spark as pkg

    code = (
        "import importlib, json, sys\n"
        f"for m in {_TRAINERS!r}: importlib.import_module('{_PKG}.' + m)\n"
        "print(json.dumps(sorted(m.__file__ for n, m in list(sys.modules.items())"
        f" if n.split('.')[0] == '{_PKG}' and getattr(m, '__file__', None))))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=os.path.dirname(os.path.dirname(pkg.__file__)),
        capture_output=True, text=True, check=True,
    )
    return tuple(json.loads(out.stdout.splitlines()[-1]))


def _ml_source_key() -> str:
    """Cache key = hash of the trainers' import closure
    (_ml_sources): any change to a trainer, the feature library, a
    scalar helper or the fixture generator invalidates every cached
    result, so a cache hit is exactly the result retraining would
    produce (training is deterministic — fixed seeds, no wall-clock)."""
    import hashlib

    h = hashlib.sha256()
    for path in _ml_sources():
        h.update(path.encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


class _LazyEncoders:
    """Dict-like, trains each encoder on first subscript and caches it
    for the session — a single-file run pays only for the encoders it
    actually uses, while the full suite still trains each exactly once
    (each training is ~40-110 s; per-test retraining dominated the
    suite wall).

    Round-8 (round-6/7 ask #8): results additionally persist to a
    source-keyed DISK cache, so back-to-back suite runs (the
    driver's verify, repeated local iteration) skip retraining
    entirely.  The key covers the trainers' import closure
    (_ml_source_key), and SPARK_GRAFT_ENCODER_CACHE=0 forces
    retraining."""

    def __init__(self, spark):
        self._spark = spark
        self._tables = None
        self._cache: dict[str, object] = {}

    def _disk_dir(self, name: str) -> str | None:
        if os.environ.get("SPARK_GRAFT_ENCODER_CACHE") == "0":
            return None
        return os.path.join(_ENCODER_CACHE_ROOT, _ml_source_key(), name)

    def _disk_load(self, name: str):
        import importlib
        import json

        d = self._disk_dir(name)
        if d is None or not os.path.exists(os.path.join(d, "meta.json")):
            return None
        with open(os.path.join(d, "meta.json")) as fh:
            meta = json.load(fh)
        cls = getattr(importlib.import_module(meta["module"]), meta["cls"])
        preds = self._spark.read.parquet(os.path.join(d, "preds.parquet"))
        return cls(predictions=preds, **meta["scalars"])

    def _disk_save(self, name: str, result) -> None:
        import dataclasses
        import json
        import tempfile

        d = self._disk_dir(name)
        if d is None:
            return
        os.makedirs(os.path.dirname(d), exist_ok=True)
        scalars = {
            f.name: getattr(result, f.name)
            for f in dataclasses.fields(result)
            if f.name != "predictions"
        }
        # stage + atomic rename so a concurrent/killed run never
        # exposes a half-written cache entry
        stage = tempfile.mkdtemp(
            prefix=f".{name}_stage_", dir=os.path.dirname(d)
        )
        result.predictions.write.mode("overwrite").parquet(
            os.path.join(stage, "preds.parquet")
        )
        with open(os.path.join(stage, "meta.json"), "w") as fh:
            json.dump(
                {
                    "module": type(result).__module__,
                    "cls": type(result).__name__,
                    "scalars": scalars,
                },
                fh,
            )
        try:
            os.rename(stage, d)
        except OSError:  # another run won the race; keep theirs
            import shutil

            shutil.rmtree(stage, ignore_errors=True)

    def __getitem__(self, name: str):
        if name not in self._cache:
            cached = self._disk_load(name)
            if cached is not None:
                self._cache[name] = cached
                return cached
        if name not in self._cache:
            if self._tables is None:
                from nfl26_bigdatabowl_prediction_spark.testing import (
                    make_tracking_tables,
                )

                self._tables = make_tracking_tables(self._spark)
            inp, outp = self._tables
            from nfl26_bigdatabowl_prediction_spark.ml.bilstm import BiLstmConfig
            from nfl26_bigdatabowl_prediction_spark.ml.rnn import (
                GruConfig, train_and_predict_encoder,
            )
            from nfl26_bigdatabowl_prediction_spark.ml.transformer import (
                TransformerConfig,
            )

            configs = {
                "gru": GruConfig,
                "bilstm": BiLstmConfig,
                "transformer": TransformerConfig,
            }
            self._cache[name] = train_and_predict_encoder(
                inp, outp, k=5, cfg=configs[name](horizon_decay=0.9)
            )
            self._disk_save(name, self._cache[name])
        return self._cache[name]


@pytest.fixture(scope="session")
def trained_encoders(spark):
    """All three M9 encoders (GRU, CNN+BiLSTM, ST-transformer) trained
    at the default fixture configs, shared across beats-baseline and
    ensemble tests; lazy per-encoder (see _LazyEncoders)."""
    return _LazyEncoders(spark)

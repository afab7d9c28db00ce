"""Opt-in 8x-scale differential lane (``pytest -m scale8x``).

Round 8 proved sf0.01 alone cannot gate the stateful/streaming
family: the Arrow chunk-split ordering bug (wrong funnel stages for
~1-in-150 users) and the restart-watermark oracle error were both
INVISIBLE at driver scale and surfaced only in the 8x differential
(MEASURED.md round-8).  This lane re-runs the ~20 scale-sensitive
names — streaming state machines, component/dedup graphs, global
ranking, exact integer statistics — against the 8x derivative
through the repo's one result comparator, tools/driver_sim.check, so
a round close catches that bug class a round earlier.

Setup (once per derivative rebuild, ~2 min each):

    python tools/make_8x.py                      # /tmp/nfl26_sf0.8x
    python tools/make_8x.py --honest             # ts-shifted twin

Then:  pytest -m scale8x            (~10 min, quiet host)

Tests skip with instructions when a derivative is absent, so the
default suite (pytest.ini deselects the marker) never pays for this.
"""

from __future__ import annotations

import os

import pytest

from nfl26_bigdatabowl_prediction_spark.plans.registry import ORACLES, QUERIES
from tools.driver_sim import check, oracle_db

pytestmark = pytest.mark.scale8x

MIRROR = "/tmp/nfl26_sf0.8x"
# events copies shifted +366 days each / documents de-mirrored: the
# honest growth shape (more frames, same frame size; more docs, same
# dup rate) for the two queries whose oracle cannot survive the
# mirror artifact (q_pairwise_kernel spill >79 GB, q_dedup_components
# recursive closure >30 min on a 98.4%-duplicate graph — both
# documented oracle-side boundaries, MEASURED.md round-8 close).
HONEST = "/tmp/nfl26_sf0.8x_honest"

# Scale-sensitive subset: per-key state machines (micro-batch and
# Arrow-chunk splits change with volume), graph closures, the global
# rank materialization, and the exact-stat power sums whose integer
# headroom is a function of row count.
MIRROR_NAMES = (
    # streaming stateful / windowed
    "q_stream_ewm", "q_stream_funnel", "q_stream_funnel_late",
    "q_stream_funnel_ttl", "q_stream_tumbling_late",
    "q_stream_session_dynamic", "q_stream_cdc_upsert",
    "q_stream_mv_rollup",
    # dedup / components / near-dup
    "q_dedup_exact", "q_embed_components", "q_embed_neardup",
    "q_minhash_lsh", "q_substring_dup",
    # global ranking
    "q_rfm",
    # exact integer statistics (headroom class)
    "q_group_corr", "q_spearman", "q_expanding", "q_leakage_audit",
    "q_ohlc", "q_embed_quantize",
)
HONEST_NAMES = (
    "q_pairwise_kernel", "q_dedup_components",
    # in the lane since round 10: the oracle's 196 M-pair recursive
    # closure (1122 s at 8x, round-9 MEASURED) was replaced by the
    # unrolled hook+compress min-label form (_minlabel_cc_sql, linear
    # per round, convergence-audited), so the row is now affordable
    "q_dedup_canonical",
    # vector family on HONEST growth (round 10): make_8x --honest now
    # rotates embedding components per copy — within-copy geometry is
    # bit-identical to sf0.1, cross-copy pairs decorrelate to the
    # corpus's own baseline near-dup rate (2.7e-4 cross vs 2.8e-4
    # within at cos ≥ 0.3), so the derivative behaves like a true
    # i.i.d. 8x sample: 551 → 34 874 confirmed edges, the C(n,2)
    # pair-rate shape a fixed-τ similarity graph really has — instead
    # of byte-identical copies the exact-dup collapse silently absorbs
    "q_embed_components", "q_embed_neardup",
    # round-10 evidence ask (VERDICT r09): the two-level IVF semantic
    # dedup on honestly grown embeddings — copies share copy-0's
    # centroid ids (vec_id offsets push theirs past the K cut), so
    # clusters grow 8x in occupancy and the cluster-bounded confirm
    # is exercised at real fan-out (still far under MAX_SEMDEDUP_CELL)
    "q_semdedup_ivf",
)

@pytest.fixture(scope="module")
def duck_mirror():
    if not os.path.isdir(MIRROR):
        pytest.skip(f"{MIRROR} absent — run: python tools/make_8x.py")
    con = oracle_db(MIRROR)
    yield con
    con.close()


@pytest.fixture(scope="module")
def duck_honest():
    if not os.path.isdir(HONEST):
        pytest.skip(
            f"{HONEST} absent — run: python tools/make_8x.py --honest"
        )
    con = oracle_db(HONEST)
    yield con
    con.close()


@pytest.mark.parametrize("name", MIRROR_NAMES)
def test_bitwise_at_8x(name, duck_mirror, spark):
    ok, msg, _ = check(
        name, QUERIES[name], ORACLES[name], spark, duck_mirror, MIRROR
    )
    assert ok, f"{name} at 8x: {msg}"


@pytest.mark.parametrize("name", HONEST_NAMES)
def test_bitwise_at_8x_honest(name, duck_honest, spark):
    ok, msg, _ = check(
        name, QUERIES[name], ORACLES[name], spark, duck_honest, HONEST
    )
    assert ok, f"{name} at 8x (ts-shifted honest derivative): {msg}"

"""No plan keeps an intermediate past its own query.

Spark's cache manager lives as long as the session and matches a later
query's subtree by its plan alone, not by the files behind it.  A plan
that ``.cache()``s an intermediate therefore hands its result to any
later query with the same subtree, even after the input files changed
on disk.  Plans materialize with ``localCheckpoint`` or
``scratch.checkpoint_parquet`` instead (see ``scratch.py``)."""

from __future__ import annotations

import shutil

from nfl26_bigdatabowl_prediction_spark.plans.registry import ORACLES, QUERIES
from tools.driver_sim import check, oracle_db

SMALL, LARGER = "/root/testdata/sf0.001", "/root/testdata/sf0.01"

# the queries whose shared intermediates were once cached
MATERIALIZING = (
    "q_triangle_count", "q_pagerank", "q_link_predict", "q_bfs_levels",
    "q_label_propagation", "q_modularity", "q_pmi_cooccur",
    "q_keyword_extract", "q_cms_topk", "q_hll_audit", "q_bloom_audit",
)


def test_a_query_reads_its_input_as_it_is_now(spark, tmp_path):
    """q_triangle_count and q_degree_dist share the edge-list subtree.
    Rewriting lineitem in place between them must not leave
    q_degree_dist reading the edges of the old file."""
    sf = tmp_path / "sf"
    shutil.copytree(SMALL, sf)
    QUERIES["q_triangle_count"](spark, str(sf)).write.mode("overwrite").format(
        "noop"
    ).save()
    shutil.copyfile(f"{LARGER}/lineitem.parquet", sf / "lineitem.parquet")
    duck = oracle_db(str(sf))
    try:
        ok, msg, _ = check(
            "q_degree_dist", QUERIES["q_degree_dist"], ORACLES["q_degree_dist"],
            spark, duck, str(sf),
        )
    finally:
        duck.close()
    assert ok, msg


def test_plans_leave_the_session_cache_empty(spark):
    spark.catalog.clearCache()
    for name in MATERIALIZING:
        QUERIES[name](spark, SMALL).write.mode("overwrite").format("noop").save()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

"""Physical-plan contracts (SURVEY §4; the 100 TB design rules).

Correctness says a query returns the right rows; these tests pin the
*plan shape* that makes it viable at scale — the properties the
optimizer must deliver and a refactor must not silently lose:

* column pruning reaches the parquet scan (ReadSchema),
* predicates reach the scan (PushedFilters),
* aggregations are partial (map-side combine before the shuffle),
* rank-then-filter top-K triggers WindowGroupLimit (no full sort of
  every group),
* the whole per-trajectory window suite runs on ONE exchange,
* small dimensions broadcast instead of shuffling the fact table.

Plan text is taken from the formatted explain of the final
AQE-wrapped plan; assertions are substring-level so Spark version
formatting changes stay cheap to absorb.
"""

from __future__ import annotations

import contextlib
import io
import re

from nfl26_bigdatabowl_prediction_spark.plans.registry import QUERIES

SF_DIR = "/root/testdata/sf0.001"


_PLAN_CACHE: dict[str, str] = {}


def _plan(spark, name: str) -> str:
    # Memoized per session: two registry-wide contracts (NL-join guard
    # + unpartitioned-window allowlist) share one compile per query.
    if name not in _PLAN_CACHE:
        df = QUERIES[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        _PLAN_CACHE[name] = buf.getvalue()
    return _PLAN_CACHE[name]


def _ops(plan: str) -> list[str]:
    """Operator names from the formatted plan's detail headers —
    `(N) OperatorName` — so each physical operator counts once."""
    return re.findall(r"^\(\d+\) (\w+)", plan, re.M)


def test_projection_prunes_scan(spark):
    plan = _plan(spark, "q_project")
    scan = next(l for l in plan.splitlines() if l.startswith("ReadSchema"))
    assert "l_orderkey" in scan and "l_extendedprice" in scan
    # untouched wide columns must NOT be read
    assert "l_comment" not in scan and "l_shipdate" not in scan


def test_range_filter_pushed_to_scan(spark):
    plan = _plan(spark, "q_filter_range")
    pushed = [l for l in plan.splitlines() if l.startswith("PushedFilters")]
    assert pushed, plan
    assert "GreaterThanOrEqual(l_quantity,10.0)" in pushed[0]
    assert "GreaterThan(l_discount,0.02)" in pushed[0]


def test_groupby_is_partial_then_final(spark):
    plan = _plan(spark, "q_groupby_multi")
    # map-side combine: a partial_sum HashAggregate below the exchange
    assert "partial_sum" in plan
    assert _ops(plan).count("HashAggregate") == 2
    # ... and only the ~6 combined rows cross the single exchange
    assert _ops(plan).count("Exchange") == 1


def test_topk_uses_window_group_limit(spark):
    plan = _plan(spark, "q_topk_per_group")
    # Spark >= 3.5 rewrites row_number()<=k into WindowGroupLimit:
    # each group keeps a k-heap instead of fully sorting.
    assert "WindowGroupLimit" in plan


def test_topn_global_is_take_ordered(spark):
    plan = _plan(spark, "q_topn_global")
    # orderBy().limit() must collapse to TakeOrderedAndProject —
    # never a global sort of the full table.
    assert "TakeOrderedAndProject" in plan


def test_window_suite_single_exchange(spark):
    # lags, rolling, diff all share one partitioning: exactly one
    # shuffle for the whole per-trajectory feature pass.
    for name in ["q_lag", "q_rolling", "q_diff"]:
        plan = _plan(spark, name)
        assert _ops(plan).count("Exchange") == 1, f"{name}:\n{plan}"


def test_fact_fact_join_shuffles_not_broadcasts(spark):
    # q_join_inner joins lineitem⋈orders — BOTH sides scale with the
    # fact data, so the plan must key-shuffle, never broadcast (the
    # size estimator would happily broadcast a compressed 600k-row
    # parquet at bench SF; auto-broadcast is disabled for exactly that
    # reason — see session.py).
    plan = _plan(spark, "q_join_inner")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_small_dim_join_broadcasts(spark):
    # explicit broadcast hints are the only broadcast path; q_semi's
    # filtered customer side carries one.
    plan = _plan(spark, "q_semi")
    assert "BroadcastHashJoin" in plan, plan


def test_ewm_single_shuffle(spark):
    plan = _plan(spark, "q_ewm")
    assert _ops(plan).count("Exchange") == 1, plan


def test_pairwise_kernel_one_hash_exchange_one_arrow_map(spark):
    # One hash repartition on the bucket, one sort within partitions and
    # ONE Arrow kernel call per partition — not a per-group pandas call,
    # and no rebalance exchange (AQE may split a skewed rebalance
    # partition, cutting a bucket in two).  Checked on the final AQE
    # plan after execution.
    df = QUERIES["q_pairwise_kernel"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning\(bucket", plan)) == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert len(re.findall(r"\bSort \[", plan)) == 1, plan
    assert plan.count("MapInArrow") == 1, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "REBALANCE" not in plan, plan


def _executed_nodes(spark, run) -> list[str]:
    """Node descriptions of the final (AQE) physical plans of every SQL
    execution ``run()`` starts, read from the SQL status store — the
    build-time jobs a query launches (checkpoints) included."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        it = store.executionsList().iterator()
        while it.hasNext():
            yield it.next().executionId()

    before = set(executions())
    run()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    out = []
    for eid in executions():
        if eid not in before:
            nodes = store.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                out.append(nodes.next().desc())
    return out


def test_rfm_ranks_with_one_range_shuffle(spark):
    # q_rfm stacks its three keys and ranks them in ONE
    # exact_global_rank: one range exchange over the whole run (build
    # included), positional numbering instead of a row_number window
    # over the partition id, and an in-memory checkpoint instead of a
    # scratch-parquet round trip.
    nodes = _executed_nodes(
        spark, lambda: QUERIES["q_rfm"](spark, SF_DIR).collect()
    )
    text = "\n".join(nodes)
    assert sum(d.startswith("Exchange rangepartitioning") for d in nodes) == 1, text
    assert not re.search(r"windowspecdefinition\(_pid#\d+L?,", text), text
    assert not re.search(r"/(rank_parted_|rfm_)\w*/", text), text


def test_heavy_hitter_queries_never_fully_sort(spark):
    # vocab/bigram top-50: the global LIMIT must compile to
    # TakeOrderedAndProject (per-partition 50-heaps), and the token
    # aggregation must combine map-side so hot tokens can't skew the
    # shuffle.
    for name in ["q_vocab_topn", "q_bigram_topn"]:
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, f"{name}:\n{plan}"
        assert "partial_count" in plan, f"{name}:\n{plan}"


def test_tfidf_topk_uses_window_group_limit(spark):
    plan = _plan(spark, "q_tfidf_topk")
    assert "WindowGroupLimit" in plan, plan


def test_outlier_suite_plan_shapes(spark):
    # z-score: the whole per-trajectory stat pass on ONE exchange (it
    # must share the suite's user_id shuffle, not add its own).
    plan = _plan(spark, "q_zscore_outliers")
    assert _ops(plan).count("Exchange") == 1, plan
    # winsorize: the quantile bounds broadcast — the fact side must
    # never shuffle for the clamp join.
    plan = _plan(spark, "q_winsorize")
    assert "BroadcastHashJoin" in plan, plan
    ops = _ops(plan)
    assert ops.count("SortMergeJoin") + ops.count("ShuffledHashJoin") == 0, plan


def test_decontaminate_broadcasts_benchmark_side(spark):
    # the benchmark shingle set is dimension-sized and must broadcast;
    # the corpus fanout only shuffles for its own per-doc aggregation.
    plan = _plan(spark, "q_decontaminate")
    assert "BroadcastHashJoin" in plan, plan
    ops = _ops(plan)
    assert ops.count("SortMergeJoin") + ops.count("ShuffledHashJoin") == 0, plan


def test_substring_dup_has_no_join(spark):
    # occurrence counts attach via COUNT() OVER (PARTITION BY fp) on
    # the single exploded stream — a groupBy+join-back would recompute
    # the whole window-extraction subtree (no CSE across DataFrame
    # reuse) and double the corpus scan.
    plan = _plan(spark, "q_substring_dup")
    ops = _ops(plan)
    assert (
        ops.count("SortMergeJoin")
        + ops.count("ShuffledHashJoin")
        + ops.count("BroadcastHashJoin")
        == 0
    ), plan
    assert "Window" in plan, plan


def test_quantize_is_shuffle_free(spark):
    # per-vector scan-side arithmetic: zero exchanges.
    plan = _plan(spark, "q_embed_quantize")
    assert _ops(plan).count("Exchange") == 0, plan


def test_pq_quantize_is_shuffle_free(spark):
    # the full 8×8 subspace×code distance table folds inside one
    # projection (nested HOFs) — quantizing the corpus must stay
    # embarrassingly parallel: zero exchanges.
    plan = _plan(spark, "q_pq_quantize")
    assert _ops(plan).count("Exchange") == 0, plan


def test_star_join_broadcasts_all_dims(spark):
    # q_star_join: the four true dimension arms (customer/supplier/
    # nation/region) broadcast via explicit hints; lineitem⋈orders is
    # the ONE key shuffle (orders scales with the fact side, so
    # broadcasting it would be wrong at scale).
    plan = _plan(spark, "q_star_join")
    ops = _ops(plan)
    assert ops.count("BroadcastHashJoin") == 4, plan
    assert ops.count("SortMergeJoin") + ops.count("ShuffledHashJoin") == 1, plan


def test_no_query_compiles_to_nested_loop_or_cartesian(spark):
    # Registry-wide scale guard: an equi-join that degenerates into
    # BroadcastNestedLoopJoin or CartesianProduct is O(n·m) at the
    # executor — fine at sf0.001, fatal at 100 TB.  Every batch plan
    # must stay in hash/sort-merge land.
    for name in sorted(QUERIES):
        if name.startswith("q_stream") or name == "q_embed_kmeans":
            continue  # streaming plans / iterative MLlib fit
        if name in ("q_tfidf_topk", "q_bm25", "q_crosstab", "q_psi",
                    "q_ks_stat", "q_top_supplier", "q_top_value_parts",
                    "q_idle_customers", "q_kmeans_step", "q_traj_similarity",
                    "q_survival", "q_equi_depth_hist", "q_bigram_logprob",
                    "q_dsir_weights", "q_gumbel_topk_resample",
                    "q_bpe_train", "q_bpe_vocab", "q_bpe_encode",
                    "q_pmi_cooccur", "q_hll_audit", "q_bloom_audit",
                    "q_histogram_2d", "q_emd_drift", "q_chi_square",
                    "q_changepoint", "q_macro_f1", "q_modularity",
                    "q_kendall_tau", "q_naive_bayes", "q_power_iteration",
                    "q_zonemap_audit", "q_matryoshka_recall",
                    "q_token_budget_trim", "q_temporal_split",
                    "q_seasonal_index", "q_kmeans_iter2", "q_semdedup",
                    "q_rfm"):
            continue  # broadcast 1-ROW scalar (corpus N / avgdl / grand
            # total / split totals / KS totals / max revenue / nation
            # value total / acctbal threshold): NL is O(n·1) — the
            # scalar-subquery shape, not a degenerated equi-join.
            # q_bigram_logprob broadcasts the 1-row vocab size V into
            # the smoothing denominator (a literal-keyed equi join is
            # constant-folded back to BNLJ, so the cross join is the
            # honest spelling).
            # q_kmeans_step broadcasts the K=4 seed side: O(K·n), the
            # canonical assignment plan.  q_traj_similarity adds the
            # query user's 1-row profile constant; q_survival the
            # 1-row censoring horizon; q_equi_depth_hist the 1-row
            # quartile cutpoints.  q_bpe_encode inherits the trainer's
            # 1-row merge-choice broadcasts; q_pmi_cooccur broadcasts
            # the 1-row grand pair total; q_hll_audit / q_bloom_audit
            # cross their two 1-row scalar aggregates (Z / occupancy ×
            # exact truth).  q_histogram_2d broadcasts its 1-row
            # quartile cutpoints (the q_equi_depth_hist shape);
            # q_emd_drift its 1-row (n0, n1) totals; q_chi_square its
            # 1-row grand total + df factors; q_changepoint its 1-row
            # series totals; q_macro_f1 its 1-row macro average AND
            # the 5-row class spine OR-joined onto the ≤|C|² grid
            # (O(|C|³) — class-dimension-sized, never fact-sized);
            # q_modularity its 1-row edge count m; q_kendall_tau its
            # three 1-row scalars (n / tie terms); q_naive_bayes the
            # 1-row vocab size + k-row class spine; q_power_iteration
            # its 1-row norm; q_zonemap_audit its 1-row max orderkey.
            # q_matryoshka_recall's truncated arm is the DECLARED
            # brute-force audit shape (qid <> nb_id theta join,
            # query side capped by MAX_BRUTE_QUERIES upstream) — the
            # same O(q·n) contract as q_embed_cosine_topk's kernel.
            # q_token_budget_trim broadcasts its 1-row token budget;
            # q_temporal_split its 1-row cut hour; q_seasonal_index
            # its 1-row grand total.  q_kmeans_iter2 and q_semdedup
            # inherit q_kmeans_step's K=4 broadcast seed/centroid
            # assignment (O(K·n), the canonical Lloyd plan).  q_rfm
            # broadcasts its 1-row user count for the NTILE
            # reconstruction.
        plan = _plan(spark, name)
        for bad in ("BroadcastNestedLoopJoin", "CartesianProduct"):
            assert bad not in plan, f"{name} compiles to {bad}"


# Queries ALLOWED an unpartitioned (ordered, single-partition-at-
# runtime) WindowExec, each because the windowed relation is
# DIMENSION-sized — an aggregate grid that stays bounded at any
# corpus scale — so one partition is safe by design (round-5 verdict
# #4: pin the contract so the WindowExec warning noise is
# distinguishable from a real fact-sized unpartitioned window).
# Justifications (windowed relation, not the fact table):
#   q_auc/q_pr_auc/q_lift   distinct-score histogram (cents grid)
#   q_ks_stat               distinct-value CDF steps (cents grid)
#   q_benford               9-row leading-digit spine
#   q_changepoint/q_stl_lite/q_xcorr_lags  day/hour time grid
#   q_compaction_plan/q_skew_audit  file/partition metadata rows
#   q_corpus_mix            source-dimension rows
#   q_dedup_stats           cluster-size histogram
#   q_emd_drift/q_gini/q_mannwhitney  distinct-cents prefix grid
#   q_heaps_law/q_zipf_fit/q_unigram_logprob/q_naive_bayes
#                           vocabulary-bounded rows
#   q_perplexity_bucket     bucket-grid NTILE (documented swap)
#   q_rfm                   partition-count-sized offset table of its
#                           one exact_global_rank call (the former
#                           conditional entry — round 6 replaced its
#                           user-grain NTILE windows with range-
#                           partitioned positional ranking; what remains
#                           unpartitioned is bounded by
#                           spark.sql.shuffle.partitions)
#   q_skyline               dominance-pruned candidate set
#   q_survival              distinct event-time grid
#   q_temporal_split        cut-hour summary rows
#   q_token_budget_trim     partition-summary top level of the
#                           two-level prefix sum (documented)
UNPARTITIONED_WINDOW_OK = {
    "q_auc", "q_benford", "q_changepoint", "q_compaction_plan",
    "q_corpus_mix", "q_dedup_stats", "q_emd_drift", "q_gini",
    "q_heaps_law", "q_ks_stat", "q_lift", "q_mannwhitney",
    "q_naive_bayes", "q_perplexity_bucket", "q_pr_auc", "q_rfm",
    "q_skew_audit", "q_skyline", "q_stl_lite", "q_survival",
    "q_temporal_split", "q_token_budget_trim", "q_unigram_logprob",
    "q_xcorr_lags", "q_zipf_fit",
}


def _window_arg_groups(arg_text: str) -> list[str]:
    """Top-level [..] group texts of a formatted-plan Arguments line."""
    out: list[str] = []
    depth = 0
    cur: list[str] = []
    for c in arg_text:
        if c == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif c == "]":
            depth -= 1
            if depth == 0:
                out.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(c)
    return out


def _unpartitioned_windows(plan: str) -> int:
    """Count Window operators with an ORDER spec but no PARTITION BY
    (3 Arguments groups = partitioned+ordered; 2 groups is ambiguous —
    [funcs],[partition] for unordered vs [funcs],[order] for
    unpartitioned — the ASC/DESC marker disambiguates)."""
    lines = plan.splitlines()
    cnt = 0
    for i, l in enumerate(lines):
        if re.match(r"^\(\d+\) Window$", l.strip()):
            for j in range(i + 1, min(i + 6, len(lines))):
                if lines[j].startswith("Arguments:"):
                    gs = _window_arg_groups(lines[j][10:])
                    if len(gs) == 1 or (
                        len(gs) == 2 and re.search(r"\b(ASC|DESC)\b", gs[1])
                    ):
                        cnt += 1
                    break
    return cnt


def test_unpartitioned_windows_only_on_bounded_domains(spark):
    # Registry-wide: any query windowing WITHOUT a partition spec must
    # be in the justified allowlist above.  A future edit that windows
    # a fact-sized relation unpartitioned fails HERE instead of
    # shipping a single-partition sort of the corpus; an allowlisted
    # query that loses its unpartitioned window (e.g. rewritten to the
    # broadcast-prefix-grid pattern) must be REMOVED from the list so
    # it cannot silently regress back.
    found = set()
    for name in sorted(QUERIES):
        if name.startswith("q_stream") or name == "q_embed_kmeans":
            continue
        if _unpartitioned_windows(_plan(spark, name)):
            found.add(name)
    assert found == UNPARTITIONED_WINDOW_OK, (
        f"unexpected unpartitioned windows: {sorted(found - UNPARTITIONED_WINDOW_OK)}; "
        f"allowlisted but no longer present: {sorted(UNPARTITIONED_WINDOW_OK - found)}"
    )


def test_real_codec_queries_shuffle_only_the_id_feed(spark):
    # synth-payload and parse kernels are two chained mapInPandas
    # stages — decode is embarrassingly parallel, so no payload byte
    # may ever cross a shuffle.  Round-11: the id feed (8 bytes/row)
    # IS round-robin-spread before the kernel chain so the CPU-heavy
    # Python codecs use every core even when the input is one parquet
    # split (operators/multimodal._spread_ids) — so the contract is
    # now: exactly one exchange, it is RoundRobin, and it sits BELOW
    # the first python kernel (only ids cross it, never payloads).
    for name in (
        "q_audio_features", "q_image_decode", "q_png_decode", "q_gif_decode",
        "q_spectral_bins", "q_pgm_decode", "q_qoi_decode",
    ):
        plan = _plan(spark, name)
        ops = _ops(plan)
        assert ops.count("Exchange") == 1, f"{name}: {plan}"
        assert ops.count("MapInPandas") == 2, f"{name}: {plan}"
        assert "roundrobin" in plan.lower(), f"{name}: {plan}"
        assert "hashpartitioning" not in plan.lower(), f"{name}: {plan}"
        # the exchange must feed the kernel chain, not consume its
        # output.  In the tree section (consumers print above their
        # inputs; these plans are linear chains) every python kernel
        # line must sit ABOVE the exchange line — i.e. only ids ever
        # cross the wire, payload bytes are born after it.
        tree = [
            l
            for l in plan.splitlines()
            if not re.match(r"^\(\d+\) ", l)
        ]
        exch_at = next(i for i, l in enumerate(tree) if "Exchange" in l)
        py_at = [
            i
            for i, l in enumerate(tree)
            if any(m in l for m in ("MapInPandas", "EvalPython"))
        ]
        assert py_at, f"{name}: no python kernel in plan\n{plan}"
        assert max(py_at) < exch_at, (
            f"{name}: exchange consumes a python kernel's output\n{plan}"
        )


def test_frame_sample_is_shuffle_free(spark):
    # sequence+explode fanout happens executor-side: scan → project →
    # generate, zero exchanges.
    plan = _plan(spark, "q_frame_sample")
    assert _ops(plan).count("Exchange") == 0, plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    # A selective dim-side filter must turn into a Bloom filter probed
    # BEFORE the fact shuffle (Catalyst runtime filter injection): at
    # 100 TB only the ~selectivity fraction of lineitem crosses the
    # wire.  The scope lowers the application-side size threshold so
    # the injection is observable at test scale; the production
    # default already injects on a real fact table.
    from pyspark.sql import functions as F

    from nfl26_bigdatabowl_prediction_spark.session import runtime_bloom_filter
    from nfl26_bigdatabowl_prediction_spark.sources.io import table

    def join(sess):
        li = table(sess, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
        o = (
            table(sess, SF_DIR, "orders")
            .filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey")
        )
        return li.join(o, li.l_orderkey == o.o_orderkey).agg(
            F.sum(F.round(F.col("l_quantity") * 100, 0).cast("bigint")).alias("qty_cents")
        )

    baseline = join(spark).collect()[0][0]
    with runtime_bloom_filter(spark):
        df = join(spark)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan  # build side: dim keys → filter
        assert "might_contain" in plan, plan  # probe side: guards the fact scan
        assert df.collect()[0][0] == baseline  # pruning never changes the answer
    # scope restored: the same plan outside carries no bloom probe
    plan_after = join(spark)._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" not in plan_after


def test_brute_force_topk_query_side_is_bounded(spark, monkeypatch):
    # Brute-force cosine top-K collects its query side to the driver:
    # legal only under an explicit cardinality cap (past it, the IVF
    # path is the supported shape).  The guard must fire BEFORE any
    # unbounded toPandas().
    import pytest as _pytest

    from nfl26_bigdatabowl_prediction_spark.plans import vectors

    monkeypatch.setattr(vectors, "MAX_BRUTE_QUERIES", 3)
    with _pytest.raises(ValueError, match="MAX_BRUTE_QUERIES"):
        vectors.q_embed_cosine_topk(spark, SF_DIR)


def test_cogroup_kernel_survives_count_pruned_inputs(spark):
    # Under a count-only plan Catalyst prunes the cogroup children to
    # the grouping attributes; the kernel must still run and produce
    # the same cardinality it does with full columns (its output count
    # is len(left) by construction).
    df = QUERIES["q_cogroup_asof"](spark, SF_DIR)
    assert df.count() == len(df.collect())


def test_partitioned_scan_prunes_directories(spark):
    # the event_type predicate must become a PartitionFilters entry
    # (planning-time directory pruning), NOT a post-scan filter.
    df = QUERIES["q_scan_partitioned"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "event_type" in pf, plan


def test_bucketed_join_query_single_exchange(spark):
    # q_bucketed_join: the lineitem⋈orders join must ride the bucket
    # layout with NO exchange; the only shuffle allowed is the final
    # 3-group aggregation.
    import hashlib

    tag = hashlib.md5(SF_DIR.encode()).hexdigest()[:6]
    try:
        df = QUERIES["q_bucketed_join"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert plan.count("Exchange") == 1, plan
        # second call must reuse the bucketed tables (pay-the-shuffle-
        # once: no rewrite when the ingest already happened)
        assert spark.catalog.tableExists(f"li_bq_{tag}")
        df2 = QUERIES["q_bucketed_join"](spark, SF_DIR)
        assert df2.count() == df.count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS li_bq_{tag}")
        spark.sql(f"DROP TABLE IF EXISTS o_bq_{tag}")


def test_unigram_logprob_broadcasts_vocab(spark):
    # the vocab-probability table is dimension-sized and must broadcast
    # onto the token stream; the only key shuffles are the two
    # aggregations (vocab freq, per-doc sum).
    plan = _plan(spark, "q_unigram_logprob")
    assert "BroadcastHashJoin" in plan, plan
    ops = _ops(plan)
    assert ops.count("SortMergeJoin") + ops.count("ShuffledHashJoin") == 0, plan


def test_resample_grid_join_is_equi(spark):
    # grid ⋈ hourly partials must be a key join (never NL): the grid is
    # |users|x|span| and both sides are keyed (user, hour).
    plan = _plan(spark, "q_resample")
    ops = _ops(plan)
    assert (
        ops.count("SortMergeJoin")
        + ops.count("ShuffledHashJoin")
        + ops.count("BroadcastHashJoin")
        >= 1
    ), plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_aqe_coalesces_small_shuffle_partitions(spark):
    # AQE must collapse the 32 configured shuffle partitions down to a
    # handful when the shuffle output is tiny (6 groups): at cluster
    # scale this is what keeps small aggregations from scheduling
    # thousands of empty reducers.
    from pyspark.sql import functions as F

    from nfl26_bigdatabowl_prediction_spark.sources.io import table

    li = table(spark, SF_DIR, "lineitem")
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    n_conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert agg.count() > 0  # materialize so AQE re-plans
    n_actual = agg.rdd.getNumPartitions()
    assert n_actual < n_conf, (n_actual, n_conf)


def test_scd2_and_cdc_single_exchange(spark):
    # Both lakehouse log-compaction queries are designed around ONE
    # hash shuffle on the natural key: SCD2's lag (change detect) and
    # lead/row_number (validity stamp) share the user_id
    # partitioning, and the intervening filter preserves the
    # distribution; CDC's rank and per-key count ride one window
    # partitioning.  A second Exchange would double the wire cost of
    # the dominant stage at 100 TB.
    for name in ("q_scd2", "q_cdc_apply"):
        plan = _plan(spark, name)
        assert _ops(plan).count("Exchange") == 1, f"{name}:\n{plan}"


def test_rolling_dau_observed_day_gate_broadcasts(spark):
    # The observed-day gate must be a broadcast semi join against the
    # tiny distinct-day list — never a shuffle of the x7 exploded
    # contribution set on the day key alone (30 distinct days at any
    # scale => one reducer hotspot).
    plan = _plan(spark, "q_rolling_dau")
    assert "BroadcastHashJoin" in plan, plan
    ops = _ops(plan)
    assert ops.count("SortMergeJoin") + ops.count("ShuffledHashJoin") == 0, plan


def test_gopher_rules_is_shuffle_free(spark):
    """Quality gating is a mapper: it must ride the ingest scan with
    zero exchanges (the only viable shape for a 100 TB gate pass)."""
    plan = _plan(spark, "q_gopher_rules")
    assert _ops(plan).count("Exchange") == 0, plan


def test_line_dedup_shuffles_on_digest_then_doc(spark):
    """Sub-document dedup: exactly two exchanges — the corpus-wide
    occurrence window keyed by the line digest, then the per-doc
    re-aggregation.  The final agg must be partial (map-side combine
    before the doc-key shuffle)."""
    plan = _plan(spark, "q_line_dedup")
    ops = _ops(plan)
    assert ops.count("Exchange") == 2, plan
    assert ops.count("HashAggregate") == 2, plan  # partial + final


def test_sample_exact_n_uses_window_group_limit(spark):
    """Exact-N per-stratum sampling must compile to WindowGroupLimit
    (partition-local top-N pre-filter) on a single stratum exchange —
    never a full per-stratum sort."""
    plan = _plan(spark, "q_sample_exact_n")
    ops = _ops(plan)
    assert "WindowGroupLimit" in ops, plan
    assert ops.count("Exchange") == 1, plan


def test_nullsafe_join_is_hashed_not_nested_loop(spark):
    """<=> keys must hash like any equi key (NULL is one more
    bucket): the plan is a shuffled join, never BroadcastNestedLoop."""
    plan = _plan(spark, "q_join_nullsafe")
    ops = _ops(plan)
    assert ops.count("SortMergeJoin") + ops.count("ShuffledHashJoin") == 1, plan
    assert "BroadcastNestedLoopJoin" not in ops, plan


def test_correlated_subquery_decorrelates(spark):
    """Catalyst must rewrite the correlated scalar subquery into ONE
    per-part aggregate (partial + final) joined back — not a per-row
    re-scan (which would surface as a second join or a nested
    subquery stage)."""
    plan = _plan(spark, "q_correlated_subquery")
    ops = _ops(plan)
    joins = [o for o in ops if o.endswith("Join")]
    assert joins == ["SortMergeJoin"] or joins == ["ShuffledHashJoin"], plan
    assert ops.count("HashAggregate") == 2, plan  # partial + final
    assert ops.count("Scan") == 2, plan  # base scan + agg build scan


def test_variant_access_is_scan_side(spark):
    """VARIANT parse + typed path extraction runs on the scan; the
    only exchange is the final rollup."""
    plan = _plan(spark, "q_variant")
    assert _ops(plan).count("Exchange") == 1, plan


def test_cdc_asof_cutoff_pushes_to_scan(spark):
    """Time travel must read only the history prefix: the cutoff is
    applied to the PHYSICAL ts column (events_asof), so the parquet
    scan carries a pushed <= filter and skips row groups after the
    snapshot instant on footer stats."""
    plan = _plan(spark, "q_cdc_asof")
    pushed = [l for l in plan.splitlines() if l.startswith("PushedFilters")]
    assert pushed and "LessThanOrEqual(ts," in pushed[0], plan


def test_dpp_join_prunes_fact_partitions(spark):
    # The partitioned fact scan must carry a dynamicpruning expression
    # in PartitionFilters: qualifying event_type directories are known
    # only after the dim aggregate runs, and the optimizer must plant
    # the runtime subquery rather than scanning all partitions.
    df = QUERIES["q_dpp_join"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan, plan


def test_decision_support_plan_shapes(spark):
    # Q6 analog: pure scan-aggregation — zero joins, all three
    # predicates pushed to the parquet reader.
    plan = _plan(spark, "q_forecast_revenue")
    assert not any("Join" in o for o in _ops(plan)), plan
    pushed = [l for l in plan.splitlines() if l.startswith("PushedFilters")]
    assert pushed, plan
    assert "GreaterThanOrEqual(l_shipdate" in pushed[0]
    assert "LessThan(l_quantity,24.0)" in pushed[0]

    # Q19 analog: Catalyst extracts the common l_partkey equi conjunct
    # → ONE broadcast hash join; the OR-of-ANDs must not degrade the
    # join to a shuffle or nested loop.
    plan = _plan(spark, "q_or_pushdown")
    ops = _ops(plan)
    assert ops.count("BroadcastHashJoin") == 1, plan
    assert ops.count("SortMergeJoin") + ops.count("ShuffledHashJoin") == 0, plan

    # Q2 analog: the per-part minimum must run as WindowGroupLimit
    # over the (part, supp) aggregate — never a sort of the fact side.
    plan = _plan(spark, "q_min_cost_supp")
    assert "WindowGroupLimit" in plan, plan


def test_metric_histograms_never_sort_raw_rows(spark):
    # AUC / PR-AUC / lift walk the DISTINCT-SCORE histogram: every
    # Sort must sit above the first aggregation (formatted-plan node
    # numbering is leaves-first, so the first HashAggregate index must
    # precede the first Sort index).
    for name in ["q_auc", "q_pr_auc", "q_lift"]:
        ops = _ops(_plan(spark, name))
        assert "Sort" in ops and "HashAggregate" in ops, (name, ops)
        assert ops.index("HashAggregate") < ops.index("Sort"), (name, ops)


def test_bpe_pairs_heavy_hitter_shape(spark):
    # tokenizer pair counts: map-side combine + TakeOrderedAndProject
    # (per-partition 20-heaps) — the q_vocab_topn contract applied to
    # the char-pair histogram.
    plan = _plan(spark, "q_bpe_pairs")
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_count" in plan, plan


def test_shuffle_hash_hint_is_honored(spark):
    # the SHUFFLE_HASH hint must surface as ShuffledHashJoin — the
    # skip-both-sorts strategy for memory-rich clusters; and the
    # unhinted twin must remain sort-merge, proving the hint (not a
    # conf) made the difference.
    plan = _plan(spark, "q_shuffle_hash_join")
    assert "ShuffledHashJoin" in plan, plan
    plan = _plan(spark, "q_join_inner")
    assert "ShuffledHashJoin" not in plan, plan


def test_skipgram_is_generate_plus_topn(spark):
    # pair fan-out must be ONE scan-side Generate (no token-stream
    # self-join: that is two corpus shuffles at 100 TB) and the top-50
    # must compile to TakeOrderedAndProject over partial aggs.
    plan = _plan(spark, "q_skipgram_pairs")
    ops = _ops(plan)
    assert ops.count("SortMergeJoin") + ops.count("ShuffledHashJoin") == 0, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_zorder_cells_single_exchange(spark):
    # bit interleave is scan-side; the only shuffle is the cell agg
    # (countDistinct adds its Expand inside the same keyed exchange
    # pair: partial -> exchange -> final).
    plan = _plan(spark, "q_zorder_cells")
    assert _ops(plan).count("Exchange") <= 2, plan


def test_percentiles_by_group_single_window_exchange(spark):
    # one group-keyed exchange shared by the rank window and the agg
    plan = _plan(spark, "q_percentiles_by_group")
    assert _ops(plan).count("Exchange") <= 2, plan


def test_pq_kernel_matches_hof_expression_twin(spark):
    # the Arrow kernel (production path) and the pure-expression
    # nested-HOF form must agree bitwise — the expression twin is the
    # documented fallback for Python-runner-free deployments.
    from pyspark.sql import functions as F

    from nfl26_bigdatabowl_prediction_spark.plans.vectors import _PQ_SPARK
    from nfl26_bigdatabowl_prediction_spark.sources.io import table as _table

    e = _table(spark, SF_DIR, "embeddings")
    hof = (
        e.select("vec_id", F.expr(_PQ_SPARK).alias("codes"))
        .select("vec_id", F.posexplode("codes").alias("subspace", "c"))
        .select(
            "vec_id",
            F.col("subspace").cast("bigint").alias("subspace"),
            F.col("c.code").cast("bigint").alias("code"),
            F.col("c.dmicro").alias("dmicro"),
        )
        .orderBy("vec_id", "subspace")
        .toPandas()
    )
    kern = (
        QUERIES["q_pq_quantize"](spark, SF_DIR)
        .orderBy("vec_id", "subspace")
        .toPandas()
    )
    assert hof.equals(kern)


def test_bpe_encode_word_cache_broadcasts(spark):
    """q_bpe_encode joins exploded doc words to the trained word→pieces
    cache: the cache side must broadcast (dimension-sized by
    construction), and no SortMergeJoin may appear anywhere."""
    plan = _plan(spark, "q_bpe_encode")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_label_propagation_and_kcore_loop_shape(spark):
    """The per-round joins carry node-sized state only (broadcast, no
    SortMergeJoin).  localCheckpoint truncates the final explain to
    the last segment, so pin the LOOP BODY's plan directly: one round
    of each loop built from the same adjacency derivation."""
    from pyspark.sql import functions as F

    from nfl26_bigdatabowl_prediction_spark.plans.graph import _adjacency, _edges

    adj = _adjacency(_edges(spark, SF_DIR))
    # materialize the edge derivation (its lineitem self-join is a
    # legitimate fact SMJ) so the explained plan is the round body only
    adj = adj.localCheckpoint()
    # LPA round: adjacency ⋈ broadcast(label table) + (part,label) agg
    lab = adj.select("part").distinct().select("part", F.col("part").alias("label"))
    rnd = (
        adj.join(F.broadcast(lab.select(F.col("part").alias("nbr"), "label")), "nbr")
        .groupBy("part", "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rnd.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    # k-core round: two broadcast keep-set semi-joins
    keep = adj.groupBy("part").agg(F.count(F.lit(1)).alias("deg")).filter(
        F.col("deg") >= 3
    ).select("part")
    peeled = adj.join(F.broadcast(keep), "part").join(
        F.broadcast(keep.select(F.col("part").alias("nbr"))), "nbr"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        peeled.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_mannwhitney_aggregates_before_window(spark):
    """The global rank window must run over the distinct-cents domain,
    i.e. above the first HashAggregate, never over raw fact rows."""
    plan = _plan(spark, "q_mannwhitney")
    ops = _ops(plan)
    first_agg = ops.index("HashAggregate")
    first_window = ops.index("Window")
    assert first_agg < first_window, ops


def test_sketches_are_aggregation_shaped(spark):
    """CMS/HLL/Bloom audits: sketch state is aggregation output —
    no sort-merge join and no non-broadcast fact join anywhere."""
    for name in ("q_cms_topk", "q_hll_audit", "q_bloom_audit"):
        plan = _plan(spark, name)
        assert "SortMergeJoin" not in plan, name


def test_mv_incremental_reads_stored_mv_not_base(spark):
    """The refresh plan must scan the persisted MV parquet plus the
    delta slice — the base-partition orders scan appears only through
    the one-off MV build, and the delta scan's cutoff filter is
    pushed down."""
    plan = _plan(spark, "q_mv_incremental")
    pushed = [l for l in plan.splitlines() if l.startswith("PushedFilters")]
    assert any("o_orderdate" in l and "GreaterThanOrEqual" in l for l in pushed), plan

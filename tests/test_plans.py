"""Physical-plan regression tests (the 100 TB posture, pinned).

Correct results can hide a plan that stopped scaling — a broadcast
that became a shuffle join, a filter that no longer reaches the scan,
a bucketed range join that degraded to a nested-loop cross product.
These assertions read `.explain("formatted")` output so regressions
fail loudly at fixture scale instead of at cluster scale.
"""

from __future__ import annotations

import re

import pytest

from eventstream_benchmark_spark.operators import all_queries


def _plan(spark, sf_dir, name: str) -> str:
    # hermetic: a family-shared frame materialized by an EARLIER test
    # prints its cached subtree once per reference, double-counting
    # pinned operators — release so every pin reads the canonical cold
    # build plan regardless of suite order
    from eventstream_benchmark_spark.operators._cache import (
        release_shared_persists,
    )

    release_shared_persists()
    df = all_queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_scan_pushdown_and_pruning(spark, sf_small):
    plan = _plan(spark, sf_small, "scan_parquet_project_filter")
    assert "PushedFilters: [" in plan
    # the filter on event_type must reach the parquet reader
    assert "event_type" in plan.split("PushedFilters")[1].splitlines()[0]
    # projection pruning: lineitem-free query must not read full schema
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "props" not in read_schema  # untouched wide column stays unread


def test_q1_partial_aggregation(spark, sf_small):
    plan = _plan(spark, sf_small, "agg_groupby_q1")
    assert "partial_sum" in plan  # map-side combine before the exchange
    # tree nodes render as "Exchange (N)": one agg exchange + final sort
    assert plan.count("Exchange (") <= 2
    assert "PushedFilters" in plan and "l_shipdate" in plan


def test_star_join_broadcasts_dims(spark, sf_small):
    plan = _plan(spark, sf_small, "join_broadcast_dims")
    # every dimension side arrives by broadcast, never shuffled
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_range_join_stays_equi(spark, sf_small):
    plan = _plan(spark, sf_small, "join_range_interval")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_is_window_not_join(spark, sf_small):
    plan = _plan(spark, sf_small, "join_asof")
    # tagged-union + running last_value: no join operator at all
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in plan


def test_minhash_has_no_cross_join(spark, sf_small):
    plan = _plan(spark, sf_small, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_dedup_has_no_cross_join(spark, sf_small):
    # round-2 verdict: the all-pairs BNLJ was the last quadratic
    # scale-killer — candidates must come from LSH band equi-joins
    plan = _plan(spark, sf_small, "dedup_embedding_cosine")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_broadcasts_queries(spark, sf_small):
    plan = _plan(spark, sf_small, "knn_bruteforce_topk")
    # the tiny query set is the broadcast side of the cross join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_binary_quantize_rank_pushdown_no_python(spark, sf_small):
    """The binary-quantization eval (r11): sign words + norms fold once
    per vector behind the persisted barrier, the KNN_QUERIES-row query
    side broadcasts onto the corpus (the knn_bruteforce cross-broadcast
    shape — the only NL form in the plan), BOTH top-k ranks push down
    as WindowGroupLimit (partial per-partition top-k below the q_id
    exchange — the shape that keeps a 10-query scan over a 100 TB
    corpus from sorting corpus-sized window partitions), and the
    overlap/band joins are keyed. Pure JVM bit_count/xor — no Python
    anywhere."""
    plan = _plan(spark, sf_small, "embed_binary_quantize")
    assert "WindowGroupLimit" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
                  "MapInPandas"):
        assert py_op not in plan


def test_bucketed_join_has_no_shuffle(spark, sf_small):
    plan = _plan(spark, sf_small, "join_bucketed_colocated")
    tree = plan.split("\n\n(1)")[0]
    assert "SortMergeJoin" in tree
    # everything under the join (both bucketed scans) is exchange-free;
    # the only exchanges in the plan belong to the post-join aggregate
    below_join = tree.split("SortMergeJoin")[1]
    assert "Exchange" not in below_join


@pytest.mark.parametrize(
    "name",
    [
        "text_token_count",
        "text_fingerprint",
        "text_langid",
        # the Gopher Table A1 battery: integer-comparison rules fused
        # into the scan, no shuffle, no Python (r11 addition)
        "text_quality_gopher",
    ],
)
def test_text_ops_are_single_scan_no_python(spark, sf_small, name):
    plan = _plan(spark, sf_small, name)
    assert "Scan parquet" in plan
    for node in ("Exchange", "BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, f"{name}: unexpected {node}"


def test_puredf_generator_no_python_no_global_window(spark, sf_small):
    """SURVEY §4.2 pure-DataFrame mode: the whole generator is one
    Catalyst plan — zero Python execution nodes (the mode's entire
    point), pattern set and slot schedule arrive by broadcast, and the
    prefix-sum clock windows per shard (never a single global
    partition). Same pins for the round-9 jittered variant — the
    Box–Muller / inverse-CDF jitters must stay pure column exprs."""
    for name in ("generate_stream_dataframe", "generate_stream_dataframe_jittered"):
        plan = _plan(spark, sf_small, name)
        for node in (
            "BatchEvalPython",
            "ArrowEvalPython",
            "MapInPandas",
            "FlatMapGroupsInPandas",
        ):
            assert node not in plan, f"{name}: unexpected Python node {node}"
        # driver-built inputs are Arrow local tables; an RDD scan of
        # Python tuples would run in Python workers at run time
        assert "ExistingRDD" not in plan, f"{name}: Python-fed RDD scan"
        assert "BroadcastHashJoin" in plan  # schedule + pattern-set joins
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
        # the clock window is keyed by shard, not a global order
        assert "Window" in plan
        assert "SinglePartition" not in plan


def test_q5_cyclic_star_join_broadcasts(spark, sf_small):
    plan = _plan(spark, sf_small, "sql_tpch_q5")
    # the c_nationkey = s_nationkey cycle must not degrade the join graph
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # region/nation/supplier/customer all arrive by broadcast at fixture SF
    assert plan.count("BroadcastHashJoin") >= 3


def test_correlated_subquery_is_decorrelated(spark, sf_small):
    plan = _plan(spark, sf_small, "subquery_correlated")
    # Catalyst rewrites the per-row scalar subquery into agg + join:
    # the plan must contain a real join and no nested-loop re-execution
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_keep_latest_dedup_single_shuffle_no_join(spark, sf_small):
    plan = _plan(spark, sf_small, "dedup_keep_latest")
    # row_number-over-key dedup: one exchange on the dedup key, no self-join
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in plan
    assert plan.count("Exchange (") == 1


def test_grouping_sets_single_expand_single_agg_shuffle(spark, sf_small):
    plan = _plan(spark, sf_small, "agg_grouping_sets")
    # all three grouping sets come from ONE scan via ONE Expand node,
    # with map-side partial aggregation before the single agg exchange
    assert plan.count("Expand (") == 1
    assert "partial_" in plan
    assert plan.count("Exchange (") <= 2


def test_funnel_is_one_lazy_plan(spark, sf_small):
    """Round-2 verdict: the funnel ran a driver-side loop of one
    .count() job per step. The rewrite must build a single lazy plan —
    zero Spark jobs at build time — with one user_id exchange for the
    fold and one single-partition exchange for the global totals."""
    from eventstream_benchmark_spark.io import load_table

    load_table(spark, sf_small, "events").schema  # warm parquet footer read
    sc = spark.sparkContext
    sc.setJobGroup("funnel-build", "plan build only")
    try:
        df = all_queries()["funnel_conversion"](spark, sf_small)
        # spark.read.parquet costs one footer-inference metadata job; the
        # old shape additionally ran one full .count() job per step
        assert len(sc.statusTracker().getJobIdsForGroup("funnel-build")) <= 1
    finally:
        sc.setJobGroup(None, None)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in plan
    assert plan.count("Exchange (") <= 2
    assert [r.step for r in df.collect()] == [1, 2, 3]


def test_dim_stats_partial_agg_no_python(spark, sf_small):
    plan = _plan(spark, sf_small, "embed_dim_stats")
    # 64N exploded rows collapse map-side: the exchange carries ≤64 keys
    assert "partial_" in plan
    assert plan.count("Exchange (") <= 2
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_runtime_bloom_filter_injected(spark, sf_small):
    """With the size thresholds scaled to fixture data, Spark's
    runtime-filter rule must plant a bloom filter of the filtered
    orderkeys on the lineitem side of the shuffle join — the plan
    `join_runtime_filtered` produces unaided on cluster-scale input
    (where the 10 GB application-side threshold is genuinely met)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # at cluster scale neither side fits the broadcast threshold;
        # injection only triggers for probable shuffle joins, so
        # simulate that sizing here
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        plan = _plan(spark, sf_small, "join_runtime_filtered")
    finally:
        for k, v in prev.items():
            # a key that was never explicitly set must be unset, not
            # skipped — leaving e.g. autoBroadcastJoinThreshold=-1 in
            # the session turns every later test's broadcasts into
            # sort-merge joins
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)
    assert "bloom" in plan.lower(), "no runtime bloom filter in plan"
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_cc_iterations_are_equi_joins_over_checkpoint(spark, sf_small):
    """The connected-components rounds must stay equi-joins over the
    checkpointed edge set — no nested-loop node, and the upstream LSH
    pipeline must NOT be re-planned inside the loop (the lineage
    truncation is what keeps plan size O(rounds) instead of
    O(rounds x LSH-plan)). Round 10: the full query legitimately scans
    the documents parquet again — ONCE, outside the loop — for the
    membership join that propagates rep labels to members, so the
    no-re-planning property is pinned on the ITERATION OUTPUT (pure
    RDD scans) and the full plan only bounds the scan count."""
    from eventstream_benchmark_spark.operators import dedup
    from eventstream_benchmark_spark.operators._cache import (
        release_shared_persists,
    )

    plan = _plan(spark, sf_small, "dedup_cluster_cc")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan ExistingRDD" in plan
    # the labels themselves read ONLY the checkpointed RDD — if the
    # LSH subtree leaked into the loop, parquet scans would appear here
    rep_pairs, _membership = dedup._collapse_family(spark, sf_small)
    labels = dedup._min_label_cc(rep_pairs.select("d1", "d2"))
    lplan = labels._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Scan ExistingRDD" in lplan
    assert "Scan parquet" not in lplan
    # (no scan COUNT pin on the full plan: formatted explain re-prints
    # every persisted subtree's child plan per reference, so the string
    # count measures print fan-out, not execution fan-out — the
    # persists collapse those references to one materialization)
    release_shared_persists()


def test_partitioned_write_prunes_at_scan(spark, sf_small):
    """The read-back filter on the partition column must prune
    directories at planning time — the scan's partition count equals
    the selected types, and no pushed data filter is needed (pruning
    happens above the reader)."""
    plan = _plan(spark, sf_small, "write_partitioned_pruned")
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf, "no PartitionFilters entry in the partitioned scan"
    assert "event_type" in pf[0]


def test_decontaminate_gram_join_not_forced_broadcast(spark, sf_small):
    """The held-out side GROWS WITH THE CORPUS (the 80/20 hash split
    puts 20% of all docs in eval), so the gram match must NOT carry a
    broadcast hint — at build time (before AQE's runtime sizing) the
    non-hinted equi join plans shuffled; a forced F.broadcast here
    would collect a corpus-scale gram list to the driver at 100 TB.
    AQE/Catalyst may still pick broadcast from their own size
    estimates — that is exactly the decision the hint removal
    delegates — so the pin disables the auto-threshold while building
    the plan: a FORCED broadcast would survive that, the unhinted join
    must fall back to a shuffled spelling."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, sf_small, "decontaminate_ngram_overlap")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
    assert "BroadcastHashJoin" not in plan


@pytest.mark.parametrize(
    "query", ["pipeline_corpus_prep", "pipeline_dedup_ordered"]
)
def test_pipeline_drop_list_not_forced_broadcast(spark, sf_small, query):
    """The near-dup drop list GROWS WITH THE CORPUS'S DUPLICATE MASS
    (a flooded crawl makes it corpus-scale), so the keep-side anti-join
    must not carry a broadcast hint — the decontaminate_ngram_overlap
    rule. With the auto-threshold disabled, only a FORCED broadcast
    could survive; the unhinted anti-join must fall back to a shuffled
    spelling."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, sf_small, query)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" not in plan


def test_tpch_q4_exists_plans_as_semi_join(spark, sf_small):
    """EXISTS must decorrelate to a (left-)semi join, never a per-row
    subquery or nested loop."""
    plan = _plan(spark, sf_small, "sql_tpch_q4")
    assert "LeftSemi" in plan or "left_semi" in plan.lower()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_repetition_score_single_scan_no_python(spark, sf_small):
    """The repetition filter must stay a pure-JVM single scan: no
    Python eval nodes, no exchange (per-row array exprs only)."""
    plan = _plan(spark, sf_small, "text_repetition_score")
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan
    assert "Exchange (" not in plan or plan.count("Exchange (") <= 1  # orderBy only


def test_anomaly_mad_broadcasts_stats(spark, sf_small):
    """Per-type stats are a handful of rows at any scale — every
    join-back onto the events fact must be a broadcast, never a
    shuffle of the fact side."""
    plan = _plan(spark, sf_small, "stream_anomaly_mad")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scd2_single_shuffle_for_both_windows(spark, sf_small):
    """lag() and lead() partition and sort identically, so Catalyst
    must plan ONE user_id exchange reused by both Window nodes —
    a second exchange would double the dominant cost at scale."""
    plan = _plan(spark, sf_small, "scd2_user_state")
    # one window exchange + one final agg exchange + orderBy
    assert plan.count("Exchange (") <= 3
    assert plan.count("Window (") == 2 or plan.count("WindowExec") == 2


def test_skew_salted_join_spreads_hot_keys(spark, sf_small):
    """The salted join must actually shuffle on (event_type, salt) —
    a broadcast would hide the skew problem the operator solves, and
    a salt-free join would leave each hot key on one reducer."""
    plan = _plan(spark, sf_small, "join_skew_salted")
    assert "SortMergeJoin" in plan
    join_line = [l for l in plan.splitlines() if "SortMergeJoin" in l and "keys" in l.lower()]
    keyed = join_line or [l for l in plan.splitlines() if "Left keys" in l]
    assert any("salt" in l for l in keyed), "salt missing from join keys"


def test_tpch_q19_disjunction_stays_hash_join(spark, sf_small):
    """The OR-of-ANDs predicate straddles lineitem and part, but the
    common p_partkey = l_partkey equi-key must still plan a hash/merge
    join with the disjunction as residual filter — a nested-loop join
    here is quadratic at scale."""
    plan = _plan(spark, sf_small, "sql_tpch_q19")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_attribution_linear_stays_equi_join(spark, sf_small):
    """The purchase-touch pairing is a bounded range join expressed as
    a (user_id, time-bucket) equi-join with explode factor 2 — it must
    never degrade to a nested loop over the purchase x touch space."""
    plan = _plan(spark, sf_small, "attribution_linear")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_copurchase_stays_equi_join(spark, sf_small):
    """The basket self-join must hash/merge on l_orderkey with the
    p1 < p2 orientation as residual — a nested loop over (order,part)
    x (order,part) is quadratic in the fact table."""
    plan = _plan(spark, sf_small, "copurchase_part_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_triangle_count_joins_stay_hashed(spark, sf_small):
    """Both wedge joins of the edge-iterator scheme key on vertex
    columns — they must plan as hash/merge joins over the edge set
    (the deliberate stat-combining crossJoin of three 1-row aggregates
    is the only non-equi node allowed)."""
    plan = _plan(spark, sf_small, "graph_triangle_count")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    # exactly the two 1-row x 1-row stat combiners may nested-loop
    # (tree lines carry the join type; the detail section repeats nodes)
    assert plan.count("BroadcastNestedLoopJoin Cross") <= 2
    n_bnlj_nodes = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan))
    assert n_bnlj_nodes == plan.count("Join type: Cross")


@pytest.mark.parametrize("side", ["under_cap", "over_cap"])
def test_triangle_broadcasts_follow_cap(spark, monkeypatch, side):
    """TRIANGLE_BROADCAST_CAP gates every broadcast of the triangle
    count: the degree-table hints of ``_degree_oriented`` and the
    adjacency hints of ``_count_triangles``. With the auto-threshold
    off only those hints can broadcast, so an edge set over the cap
    plans no BroadcastExchange and one under it plans them."""
    from eventstream_benchmark_spark.operators import graph

    edges = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    under = side == "under_cap"
    monkeypatch.setattr(graph, "TRIANGLE_BROADCAST_CAP", len(edges) if under else len(edges) - 1)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        e = spark.createDataFrame(edges, "p1 long, p2 long")
        # the gate graph_triangle_count applies to its measured edge count
        o = graph._degree_oriented(e, broadcast_degs=len(edges) <= graph.TRIANGLE_BROADCAST_CAP)
        plans = [
            df._jdf.queryExecution().explainString(mode)
            for df in (o, graph._count_triangles(o, len(edges)))
        ]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    for plan in plans:
        assert ("BroadcastExchange" in plan) == under


def test_tfidf_builds_lazily_one_action(spark, sf_small):
    """Round-3 verdict: text_tfidf_topterms ran docs.count() on the
    driver at plan-build time — an extra job per invocation. The
    rewrite folds N_docs in-plan as a broadcast one-row aggregate, so
    building the DataFrame must launch no jobs beyond (at most) the
    parquet footer-inference metadata job."""
    from eventstream_benchmark_spark.io import load_table

    load_table(spark, sf_small, "documents").schema  # warm parquet footer read
    sc = spark.sparkContext
    sc.setJobGroup("tfidf-build", "plan build only")
    try:
        df = all_queries()["text_tfidf_topterms"](spark, sf_small)
        assert len(sc.statusTracker().getJobIdsForGroup("tfidf-build")) <= 1
    finally:
        sc.setJobGroup(None, None)
    # the one-row N_docs aggregate must ride a broadcast, not a shuffle
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert df.count() > 0


def test_tpch_q17_correlated_avg_decorrelates(spark, sf_small):
    """The per-part avg-quantity subquery must plan as one aggregate
    joined back on p_partkey — never a per-row re-execution."""
    plan = _plan(spark, sf_small, "sql_tpch_q17")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_tpch_q21_exists_pair_plans_as_semi_plus_anti(spark, sf_small):
    """EXISTS -> left-semi, NOT EXISTS -> left-anti, both hash joins on
    l_orderkey; the triple fact visit shuffles on one key, no
    nested-loop correlation survives."""
    plan = _plan(spark, sf_small, "sql_tpch_q21")
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_tpch_q8_all_dims_broadcast(spark, sf_small):
    """The 8-table chain: every dim (part, supplier, customer, both
    nation roles, region) rides a broadcast; only the two facts
    shuffle."""
    plan = _plan(spark, sf_small, "sql_tpch_q8")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 5


def test_tpch_q13_filter_stays_in_join_condition(spark, sf_small):
    """The priority filter must ride the LEFT JOIN's ON clause (a
    WHERE would silently drop the zero-order customers the
    distribution exists to count)."""
    plan = _plan(spark, sf_small, "sql_tpch_q13")
    assert "LeftOuter" in plan
    # two aggregation levels: per-customer, then the distribution
    assert plan.count("HashAggregate") >= 2


def test_pagerank_rounds_are_equi_joins(spark, sf_small):
    """Each PageRank round must be an equi-join of ranks onto the
    persisted degree-annotated edge list plus one (dst) aggregate —
    no nested loop, no cartesian, and the only cross joins are the
    broadcast one-row N folds."""
    plan = _plan(spark, sf_small, "graph_pagerank")
    assert "CartesianProduct" not in plan
    n_bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan))
    # one-row N-count cross joins only: seed ranks + (reused) scans
    assert n_bnlj == plan.count("Join type: Cross")
    assert "InMemoryTableScan" in plan  # edges persisted, reused per round


def test_chunking_is_single_scan_no_shuffle_no_python(spark, sf_small):
    """Sliding-window chunking must stay a per-row array pipeline: the
    explode fans out inside the partition — no exchange before the
    output, no Python in the plan."""
    plan = _plan(spark, sf_small, "docs_chunk_overlap")
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "SortMergeJoin", "BroadcastHashJoin"):
        assert node not in plan
    # the only exchange allowed is the final presentation sort
    assert plan.count("Exchange (") <= 1


def test_mix_rebalance_totals_ride_broadcast(spark, sf_small):
    """The grand-total fold must be a broadcast one-row cross join onto
    the per-source aggregate — never a second corpus pass or a shuffle
    of the fact side beyond the one groupBy."""
    plan = _plan(spark, sf_small, "corpus_mix_rebalance")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_simhash_md5_variant_is_pure_jvm(spark, sf_small):
    """The registered (hash-checkable) SimHash derives its bucket bits
    from md5 with relational conditional sums — the whole pipeline must
    stay JVM-side codegen: no Python eval node of any kind, and exactly
    the one bit-vote aggregate exchange plus the bucket-group exchange."""
    plan = _plan(spark, sf_small, "dedup_simhash")
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas"):
        assert node not in plan
    assert plan.count("Exchange (") <= 2
    assert "partial_sum" in plan  # map-side combine of the bit votes


def test_corpus_ngram_topk_is_takeordered_single_pass(spark, sf_small):
    """The n-gram index build must be one scan + one count exchange +
    a TakeOrderedAndProject — no global sort, no Python."""
    plan = _plan(spark, sf_small, "corpus_ngram_topk")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange (") <= 1
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_containment_pairs_no_cartesian(spark, sf_small):
    plan = _plan(spark, sf_small, "dedup_containment_ngram")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_multiprobe_knn_broadcast_and_rank_pushdown(spark, sf_small):
    """The multiprobe candidate join must be a broadcast hash join
    (tiny probe list vs bucketed corpus — never a shuffle or NL join),
    and the per-query top-k must push down as WindowGroupLimit."""
    plan = _plan(spark, sf_small, "ann_lsh_query_topk")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan


@pytest.mark.parametrize("name", ["text_pii_redact", "quality_logreg_filter"])
def test_scrub_and_quality_gate_fuse_into_scan(spark, sf_small, name):
    """PII redaction and the linear quality gate are per-row column
    expressions: they must stay a single scan + project — no exchange,
    no Python eval node."""
    plan = _plan(spark, sf_small, name)
    assert "Scan parquet" in plan
    for node in ("Exchange", "BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, f"{name}: unexpected {node}"


def test_line_dedup_partial_agg_keep_first_no_window(spark, sf_small):
    """C4-style span dedup, the r11 partial-aggregable shape (r10
    verdict #1): keep-first is a min(struct) AGGREGATE on the span
    text (map-side combine — a flooded span reduces before the
    shuffle) plus an equi-join back, NEVER a span-keyed window (a
    window partition is one unsplittable sort task under flood; AQE
    cannot split it). Reassembly stays one groupBy doc_id. No
    cartesian form, no Python."""
    plan = _plan(spark, sf_small, "text_line_dedup")
    # the scale-ceiling shape is gone: zero Window operators anywhere
    assert not re.findall(r"\(\d+\) Window", plan)
    # keep-first combines map-side (partial min(struct) below its
    # exchange)
    assert "partial_min" in plan
    for node in (
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInPandas",
    ):
        assert node not in plan, f"unexpected {node}"


def test_shard_manifest_single_agg_shuffle(spark, sf_small):
    """The export manifest reduces the corpus to EXPORT_SHARDS rows in
    one map-side-combined shuffle; the byte-offset window runs over
    the 16-row manifest only (single-partition exchange is over the
    aggregate, not the corpus)."""
    plan = _plan(spark, sf_small, "export_shard_manifest")
    assert "partial_count" in plan or "partial_sum" in plan  # map-side combine
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "SortMergeJoin", "CartesianProduct"):
        assert node not in plan, f"unexpected {node}"


def test_pq_encode_broadcasts_codebook(spark, sf_small):
    """PQ encoding joins the corpus against the tiny codebook: that
    join must arrive by broadcast (never a corpus-side shuffle join)
    and the per-(vec, sub) argmin must be a hash aggregate."""
    plan = _plan(spark, sf_small, "embed_pq_encode")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, f"unexpected {node}"


def test_ewma_single_window_shuffle_no_python(spark, sf_small):
    """The dyadic EWMA is one ordered window over event_type plus a
    whole-stage fold: exactly one semantic exchange, no join, no
    Python eval node."""
    plan = _plan(spark, sf_small, "events_ewma_smooth")
    assert plan.count("Exchange (") <= 1
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                 "BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, f"unexpected {node}"


def test_lttb_anchor_joins_broadcast(spark, sf_small):
    """Parallel LTTB joins the point scan against the tiny
    (series x buckets) anchor table: both neighbor-anchor joins must
    broadcast (never shuffle the points into a merge join), nothing
    cartesian, no Python."""
    plan = _plan(spark, sf_small, "events_downsample_lttb")
    assert plan.count("BroadcastHashJoin") >= 2
    for node in ("SortMergeJoin", "CartesianProduct",
                 "BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, f"unexpected {node}"


def test_bpe_pairs_char_work_rides_vocabulary(spark, sf_small):
    """BPE pair counting must shuffle the corpus only once (the word
    count); the char explode and pair aggregate run over the distinct
    vocabulary. Expect <= 3 exchanges (word agg, pair agg, final
    single-partition rank) and no Python."""
    plan = _plan(spark, sf_small, "corpus_bpe_pair_counts")
    assert plan.count("Exchange (") <= 3
    assert "partial_count" in plan or "partial_sum" in plan
    for node in ("SortMergeJoin", "CartesianProduct",
                 "BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, f"unexpected {node}"


def test_cusum_single_series_shuffle_broadcast_target(spark, sf_small):
    """CUSUM stacks two running windows on the same (event_type)
    ordering: one window shuffle, target means arrive by broadcast,
    no Python."""
    plan = _plan(spark, sf_small, "events_cusum_shift")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for node in ("CartesianProduct", "BatchEvalPython",
                 "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, f"unexpected {node}"


def test_pretrain_pipeline_one_lazy_plan_no_python(spark, sf_small):
    """The composed gate -> span-dedup -> PII -> manifest pipeline must
    stay one lazy declarative plan: joins only on doc_id (hashed, never
    cartesian), no Python eval node anywhere."""
    plan = _plan(spark, sf_small, "pipeline_pretrain_corpus")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, f"unexpected {node}"
    # the embedded span-dedup stage must keep the r11 partial-agg
    # keep-first shape — no window keyed on the span text
    assert not any(
        "win_text#" in w
        for w in re.findall(r"\(\d+\) Window[^(]*?Arguments: [^\n]*", plan)
    )


def test_asof_nearest_is_window_not_join(spark, sf_small):
    """Nearest-asof must keep the tagged-union + two-frame shape: no
    join operator at all, one user_id shuffle."""
    plan = _plan(spark, sf_small, "join_asof_nearest")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in plan, f"unexpected {node}"


def test_url_normalize_single_shuffle_no_python(spark, sf_small):
    """URL canonicalization is a per-row regex chain fused into the
    scan plus a count-distinct aggregate on the canonical URL — the
    two-phase distinct shuffle plus the presentation sort, no join, no
    Python."""
    plan = _plan(spark, sf_small, "dedup_url_normalize")
    assert plan.count("Exchange (") <= 3
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                 "BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, f"unexpected {node}"


def test_dpp_prunes_fact_partitions(spark, sf_small):
    """The partitioned fact scan must carry a dynamic-pruning
    expression on its partition column (the broadcast dim is reused as
    the pruning subquery), and the dim side must stay a broadcast —
    the partition-level analogue of the bloom-filter plan test."""
    plan = _plan(spark, sf_small, "join_dpp_partition_pruned")
    assert "dynamicpruningexpression(o_year" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zorder_single_scan_no_python(spark, sf_small):
    """The layout metric is one fact scan + the stack unpivot + two
    map-combinable aggregations — no join, no Python, and the Morton
    code stays whole-stage-codegen arithmetic."""
    plan = _plan(spark, sf_small, "layout_zorder_skipping")
    for node in ("SortMergeJoin", "CartesianProduct",
                 "BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, f"unexpected {node}"


def test_bfs_frontier_joins_stay_equi(spark, sf_small):
    """Every BFS round is an equi-join of the frontier onto the edge
    list plus an anti-join against the reached set — no nested-loop
    product anywhere in the unrolled plan."""
    plan = _plan(spark, sf_small, "graph_bfs_hops")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_inverted_index_assembles_only_topk(spark, sf_small):
    """Posting assembly must sit behind the broadcast semi join of the
    selected terms: the collect_list aggregate runs on the filtered
    stream, and the term-stats aggregate keeps its map-side combine.
    Round 11: the shard-level digest keys on (term, bk) — a selected
    term's whole corpus footprint never lands on one reducer; the
    roll-up groups the shard digests only."""
    plan = _plan(spark, sf_small, "index_inverted_postings")
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan
    # first-level digest keyed (term, doc-shard expression)
    assert re.search(
        r"Keys \[2\]: \[term#\d+, _groupingexpression#\d+L?\]", plan
    )
    assert "AS bk#" in plan


def test_association_rules_broadcast_singletons(spark, sf_small):
    """Pair support joins its two singleton-count sides by broadcast
    (parts are dimension-sized); the only shuffles are the distinct
    and the pair groupBy."""
    plan = _plan(spark, sf_small, "basket_association_rules")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_growth_single_fact_shuffle(spark, sf_small):
    """First-seen is the only fact-table shuffle; the cumulative
    window rides the day-grid aggregate (single-partition window over
    ~30 rows is intentional and bounded)."""
    plan = _plan(spark, sf_small, "growth_new_users_daily")
    assert "partial_min" in plan  # map-side combine on the user min
    for node in ("SortMergeJoin", "CartesianProduct", "BatchEvalPython"):
        assert node not in plan, f"unexpected {node}"


def test_benford_single_scan_map_combine(spark, sf_small):
    """Digit counting is one scan with partial aggregation; the
    9-row expected-share map is a literal, not a join against data."""
    plan = _plan(spark, sf_small, "dq_benford_audit")
    assert "partial_count" in plan
    for node in ("SortMergeJoin", "CartesianProduct", "BatchEvalPython"):
        assert node not in plan, f"unexpected {node}"


def test_skip_match_stays_equi(spark, sf_small):
    """Every hop of the skip-tolerant matcher is an equi-join on
    (user_id, rn) — the exploded deltas never degrade to a theta
    join."""
    plan = _plan(spark, sf_small, "pattern_match_skip")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmv_bounded_windows(spark, sf_small):
    """Both bottom-k stages are window filters (rank over salted then
    unsalted keys) — no collect_list/sort_array materializing a full
    distinct set in one task."""
    plan = _plan(spark, sf_small, "agg_kmv_distinct")
    assert "collect_list" not in plan and "sort_array" not in plan
    assert plan.count("Window") >= 2


# ---- round-6 pins: the late-round-5 pack's scale claims ----------------


def test_lateral_topn_decorrelates_to_window(spark, sf_small):
    """The correlated LATERAL (top-2 customers per region) must plan as
    a window rank over a hash join — never a per-row nested-loop
    re-execution of the subquery."""
    plan = _plan(spark, sf_small, "join_lateral_topn")
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_shipping_lag_fact_join_stays_hashed(spark, sf_small):
    """orders ⋈ lineitem (the fact-to-fact shape) must stay a hash/SMJ
    equi-join with map-combinable bucket aggregation."""
    plan = _plan(spark, sf_small, "orders_shipping_lag")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_funnel_latency_join_stays_hashed(spark, sf_small):
    plan = _plan(spark, sf_small, "funnel_time_to_convert")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_snapshot_diff_is_one_keyed_outer_join(spark, sf_small):
    """The CDC diff is a single full-outer SortMergeJoin on the key —
    fingerprint comparison must not degrade to a theta join."""
    plan = _plan(spark, sf_small, "snapshot_diff_report")
    assert "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weekday_contrast_day_dim_broadcasts(spark, sf_small):
    """The distinct-day regime counts are dimension-sized and must ride
    a broadcast join onto the per-type aggregate."""
    plan = _plan(spark, sf_small, "events_weekday_contrast")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_weights_no_window_no_python_bounded_broadcasts(spark, sf_small):
    """DSIR importance weights: one exploded scan + keyed aggregates +
    a broadcast 64-row log-ratio table — no window anywhere (the
    weights deliberately exclude any global ranking step), no Python,
    and the only nested-loop join is the 1-row totals scalar."""
    plan = _plan(spark, sf_small, "sample_dsir_weights")
    assert "Window" not in plan
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert py_op not in plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1
    assert "CartesianProduct" not in plan


def test_minhash_incremental_no_self_pairing(spark, sf_small):
    """The incremental probe never generates a corpus×corpus or
    batch×batch candidate: the band join's two sides carry the
    side-membership filters (batch-bearing reps vs corpus-bearing
    reps after the exact-dup collapse), and there is no d1<d2
    self-join predicate anywhere in the plan."""
    plan = _plan(spark, sf_small, "dedup_minhash_incremental")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # both side filters must appear (collapse flags, not raw parity)
    assert "has_batch" in plan and "has_corpus" in plan
    # the member expansions filter by parity
    assert "% 2)" in plan


def test_fuzzy_decontamination_eval_side_probe_only(spark, sf_small):
    """Fuzzy decontamination rides the SAME asymmetric builder as the
    incremental probe (shared `_asymmetric_member_pairs`): band
    buckets join eval-bearing reps against train-bearing reps only —
    never a train×train candidate, never a d1<d2 self-join, no
    cartesian form. The split filters are the collapse-level
    has_batch/has_corpus flags over the deterministic hash bucket."""
    plan = _plan(spark, sf_small, "decontaminate_fuzzy_minhash")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # both side-membership filters present (collapse flags over the
    # 80/20 hash split, not raw doc ids)
    assert "has_batch" in plan and "has_corpus" in plan
    assert "2654435761" in plan  # the shared split hash constant
    # probe-side work only: no symmetric self-join predicate shape
    assert "d1 < d2" not in plan


def test_twap_lead_is_bucket_segmented(spark, sf_small):
    """time_weighted_avg's lead runs per (event_type, hour-bucket) —
    never a window keyed on bare event_type over the raw event scan
    (fixed ~10-type cardinality would put corpus/10 rows into ONE
    sort task at scale). The only single-key window sits above the
    per-bucket min-struct AGGREGATE (the bucket-level next-first
    frame), whose row count grows with time, not volume."""
    plan = _plan(spark, sf_small, "time_weighted_avg")
    # the raw-event lead is keyed (event_type, b)
    assert re.search(r"windowspecdefinition\(event_type#\d+, b#\d+L?,", plan)
    # the bucket frame exists as a partial-aggregable groupBy
    assert re.search(r"Keys \[2\]: \[event_type#\d+, b#\d+L?\]", plan)
    # ABSENCE, not just presence (round-11 review): no window may be
    # keyed on bare event_type with a ts sort anywhere — that is the
    # retired raw-scan shape; the only single-key window orders by b
    # over the bucket aggregate
    assert not re.search(r"windowspecdefinition\(event_type#\d+, ts#", plan)
    assert "CartesianProduct" not in plan


def test_semantic_decontamination_asymmetric_probe_only(spark, sf_small):
    """Semantic decontamination's candidates come only from eval-rep ×
    train-rep band-bucket EQUI-joins: no cartesian/NL node anywhere,
    the split-hash filters reach both scans as pushed-down predicates
    (one < 80 side, one >= 80 side), and there is no symmetric
    self-join orientation predicate — the two sides are disjoint by
    construction, so the train×train candidate space never exists."""
    plan = _plan(spark, sf_small, "decontaminate_semantic_embed")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "2654435761" in plan  # the shared split hash constant
    # both split sides present as scan-level filters
    assert "% 100) < 80" in plan and "% 100) >= 80" in plan
    # band-bucket equi-join keys, not a pair self-join
    assert "band_sig" in plan
    assert not re.search(r"vec_id#\d+L? < vec_id#\d+L?", plan)


def test_prequential_is_pure_windows_no_join_no_python(spark, sf_small):
    """The test-then-train scorer is lag/frame windows + one aggregate —
    zero joins, zero Python (the whole model state lives in the frame)."""
    plan = _plan(spark, sf_small, "pattern_online_prequential")
    assert "Join" not in plan
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert py_op not in plan


def test_rfm_single_scalar_broadcast_only(spark, sf_small):
    """The only nested-loop joins are the two benign 1-row scalar
    broadcasts (max date, quartile cut points); scoring is pure
    comparisons — NO window function anywhere, so no data-sized
    single-partition ntile can ever reappear (round-8 verdict #1)."""
    plan = _plan(spark, sf_small, "orders_rfm_segmentation")
    # node headers look like "(15) BroadcastNestedLoopJoin"; the detail
    # section repeats the name, so count headers, not substrings
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 3
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    # \b so the cut-point "percentile(...)" aggregate doesn't match
    assert not re.search(r"\bntile\(", plan)


def test_topk_sketch_agg_is_object_hash(spark, sf_small):
    """approx_top_k accumulates via ObjectHashAggregate (map-side
    mergeable sketch state) and the exact top-k is a
    TakeOrderedAndProject — no full sort of the fact."""
    plan = _plan(spark, sf_small, "agg_approx_topk_contract")
    assert "ObjectHashAggregate" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_reservoir_sample_is_window_topk(spark, sf_small):
    """Weighted-minwise selection is a TakeOrderedAndProject over
    per-row keys — no global sort, no Python."""
    plan = _plan(spark, sf_small, "sample_weighted_reservoir")
    assert "TakeOrderedAndProject" in plan
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert py_op not in plan


def test_wow_revenue_no_nested_loops(spark, sf_small):
    """Week-over-week self-alignment is a broadcast equi-join of the
    week-level aggregate onto itself — never a theta join."""
    plan = _plan(spark, sf_small, "trend_wow_revenue")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fk_audit_anti_joins_no_cartesian(spark, sf_small):
    """Every FK edge is a (broadcast) anti join; the only nested-loop
    joins are the six 1-row×1-row scalar count pairings."""
    plan = _plan(spark, sf_small, "audit_referential_integrity")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 6


def test_acf_scalar_broadcasts_only(spark, sf_small):
    """The autocorrelation's mean/variance constants ride 1-row scalar
    broadcasts; the lag alignment itself stays a hash equi-join."""
    plan = _plan(spark, sf_small, "events_acf_lags")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 4


def test_holt_fold_is_one_pandas_group_map(spark, sf_small):
    """The genuinely sequential Holt recurrence is confined to exactly
    one per-series FlatMapGroupsInPandas; everything around it is
    JVM-side."""
    plan = _plan(spark, sf_small, "events_holt_trend")
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", plan)) == 1
    for py_op in ("BatchEvalPython", "ArrowEvalPython"):
        assert py_op not in plan
    assert "CartesianProduct" not in plan


def test_forecast_backtest_pure_jvm_hash_joins(spark, sf_small):
    plan = _plan(spark, sf_small, "events_forecast_backtest")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert py_op not in plan


def test_matryoshka_energy_single_scan_no_join(spark, sf_small):
    """Prefix-energy evaluation is explode + one aggregate over the
    embeddings scan — no join, no Python."""
    plan = _plan(spark, sf_small, "embed_matryoshka_energy")
    assert "Join" not in plan
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert py_op not in plan


def test_null_profile_no_join_no_python(spark, sf_small):
    """The column profile is a union of per-column aggregates over one
    table — zero joins, zero Python."""
    plan = _plan(spark, sf_small, "dq_null_profile")
    assert "Join" not in plan
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert py_op not in plan


def test_edge_churn_single_scalar_broadcast(spark, sf_small):
    """Year-over-year edge reconciliation: SMJ on the edge key, one
    1-row scalar broadcast for the totals."""
    plan = _plan(spark, sf_small, "graph_edge_churn")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1


def test_phash_pandas_confined_to_decode(spark, sf_small):
    """Image decode/hash is Arrow-batched MapInPandas (the binary-column
    shape); the near-dup pairing itself is banded hash equi-joins —
    never a cross join of images."""
    plan = _plan(spark, sf_small, "multimodal_image_phash")
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_pairs_stay_within_clusters(spark, sf_small):
    """SemDeDup's pair join is a cluster-keyed equi-join; the only
    nested-loop joins are the two 16-row centroid broadcasts of the
    IVF assignment stages. Zero Python anywhere."""
    plan = _plan(spark, sf_small, "dedup_semantic_cluster")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 2
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert py_op not in plan


def test_semantic_recall_eval_composes_without_cartesian(spark, sf_small):
    """The boundary-miss eval composes the flat LSH-accelerated truth
    with the SemDeDup stages and a vec_id-keyed full-outer confusion
    join — never an all-pairs operator: the only nested loops are the
    two 16-row centroid broadcasts, and the only Python is the flat
    side's Arrow-batched sequential-fold dot (no row-at-a-time eval,
    no grouped-pandas fallback)."""
    plan = _plan(spark, sf_small, "dedup_semantic_recall_eval")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 2
    for py_op in ("BatchEvalPython", "FlatMapGroupsInPandas"):
        assert py_op not in plan


def test_range_export_no_global_sort_task(spark, sf_small):
    """The sorted export's write executes inside the query, so the
    returned frame only shows the read-back certification — pin that
    side (no cartesian, no Python) and pin the WRITE pipeline by
    rebuilding the assignment plan: NO ntile / data-sized
    single-partition window anywhere (round-7: split points come from
    the bucketed histogram selection in ``_sort_split_points`` — every
    Window is keyed), the split points ride a broadcast, and no global
    Sort of the fact ever materializes."""
    import pyspark.sql.functions as F

    from eventstream_benchmark_spark.io import load_table
    from eventstream_benchmark_spark.operators.relational import (
        SORT_SAMPLE_MOD,
        _sort_split_points,
    )

    plan = _plan(spark, sf_small, "export_range_partitioned")
    assert "CartesianProduct" not in plan
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert py_op not in plan

    # replicate the function's pre-write assignment plan
    ev = load_table(spark, sf_small, "events").select("event_id", "ts", "value")
    k = F.unix_micros("ts")
    h = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 12), 16, 10
    ).cast("long")
    sample = ev.filter(h % SORT_SAMPLE_MOD == 0).select(k.alias("k"))
    bounds = _sort_split_points(sample)
    run = F.aggregate(
        F.col("bs"),
        F.lit(0),
        lambda acc, b: acc + F.when(F.col("k") > b, 1).otherwise(0),
    )
    assigned = (
        ev.select("event_id", "value", k.alias("k"))
        .crossJoin(F.broadcast(bounds))
        .withColumn("run", run)
        .drop("bs")
        .repartition("run")
        .sortWithinPartitions("k", "event_id")
    )
    wplan = assigned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # the data-sized unkeyed window is gone, and every remaining
    # Window operator is keyed (the bucket/super-bucket partition
    # columns appear in its argument list)
    assert "ntile" not in wplan
    win_args = re.findall(r"\(\d+\) Window[^(]*?Arguments: [^\n]*", wplan)
    assert win_args and all("kb#" in w for w in win_args)
    assert "BroadcastExchange" in wplan  # split points broadcast
    # no Sort node anywhere is global: Sort arguments render as
    # "[keys], <global>, 0" — the fact's run-local sort and the
    # within-bucket selection sorts are all local
    sort_args = re.findall(r"\(\d+\) Sort[^(]*?Arguments: [^\n]*", wplan)
    assert sort_args and all(", false, 0" in s for s in sort_args)


def test_substring_dedup_partial_agg_mark_doc_windows_only(spark, sf_small):
    """Maximal repeated-substring detection, the r11 partial-aggregable
    shape (r10 verdict #1): the duplicated-span mark is a
    ``groupBy(g).count()`` (map-side combine — a flooded span reduces
    before the shuffle) + a left-semi EQUI-join back, never a span-
    keyed window (one unsplittable task under flood) and never a pair
    join (nothing fans out quadratically, so no DOCFREQ-style cap is
    needed). The island merge keeps its lag/sum windows — partitioned
    by doc_id ONLY (partition size = one document, bounded). No
    Python, no cartesian form anywhere."""
    plan = _plan(spark, sf_small, "text_substring_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert py_op not in plan
    # the mark combines map-side (partial count below its exchange)
    assert "partial_count" in plan
    # remaining Window operators are doc_id-partitioned only — the
    # span-text-keyed window shape must never come back
    win_args = re.findall(r"\(\d+\) Window[^(]*?Arguments: [^\n]*", plan)
    assert win_args and all("doc_id#" in w for w in win_args)
    assert not any(re.search(r"\[g#\d+\]", w) for w in win_args)


def test_bloom_decontamination_bitmap_probe_no_explode(spark, sf_small):
    """The Bloom probe (r11 bitmap form): the filter is a packed
    M/32-word bitmap in ONE broadcast row — the only nested-loop form
    in the plan is that benign 1-row cross — and each train gram tests
    its BLOOM_K positions as O(1) array subscripts, so the train
    stream is never position-exploded (no Generate above the persisted
    gram base) and there is no per-(doc, gram) count shuffle; the
    per-doc hit aggregate partials map-side. The exact contract side
    remains a keyed hash join on the gram. No Python anywhere."""
    plan = _plan(spark, sf_small, "decontaminate_bloom")
    assert "CartesianProduct" not in plan
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert py_op not in plan
    # exact side: keyed broadcast/shuffled hash join on the gram
    assert re.findall(r"\(\d+\) (BroadcastHashJoin|SortMergeJoin)", plan)
    # probe side: no position explode — the only Generate NODE in the
    # plan is the gram build inside the persisted base's cached
    # subtree (which the tree prints once per InMemoryTableScan, so
    # count distinct node ids, not lines)
    tree = plan.split("\n\n")[0]
    assert len(set(re.findall(r"Generate \((\d+)\)", tree))) <= 1
    # the per-doc hit aggregate partial-combines before its exchange
    assert "partial_count" in plan


def test_substring_removal_partial_agg_no_window_no_python(spark, sf_small):
    """The ExactSubstr removal pass, the r11 partial-aggregable shape
    (r10 verdict #1): keep-first mark is ``groupBy(g).agg(count,
    min(struct))`` (map-side combine) + an equi-join back — never a
    span-keyed row_number window (one unsplittable task under flood);
    coverage and the per-token rewrite stay keyed equi-joins (the
    left_anti against covered positions — never a per-token
    array_contains scan, which would be quadratic in document
    length), reassembly is one groupBy. No windows at all, no
    cartesian form, no Python anywhere."""
    plan = _plan(spark, sf_small, "text_substring_removal")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "array_contains" not in plan
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert py_op not in plan
    assert not re.findall(r"\(\d+\) Window", plan)
    assert "partial_min" in plan and "partial_count" in plan


def test_threshold_sweep_rides_pair_table_no_cartesian(spark, sf_small):
    """The tau calibration sweep is an output-sized consumer of the
    shared verified-pair table: a 6-way literal explode, keyed
    aggregates, and dimension left-joins — no cartesian form and no
    nested loop beyond what the underlying pair build itself pins
    away. (No Python assertion here: with shared persists released the
    plan embeds the pair BUILD, whose batched ``_seq_dot_udf`` verify
    is the one documented vectorized-Python site of the embedding
    family — the sweep itself adds only JVM expressions.)"""
    plan = _plan(spark, sf_small, "dedup_threshold_sweep")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_keeper_policies_struct_aggregates_no_window(spark, sf_small):
    """Keeper selection, the r11 partial-aggregable shape (r10 verdict
    #1): all three policies ride ONE ``groupBy(cluster_id)`` of
    min/max struct aggregates (map-side combine — a flooded
    mega-cluster reduces before the shuffle) instead of three
    cluster-keyed row_number windows (each one unsplittable sort task
    under flood). The policy fan-out is a 3-element literal explode of
    the 1-row global agg. No window anywhere in the keeper selection,
    no cartesian form, no Python."""
    plan = _plan(spark, sf_small, "dedup_keeper_policies")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert py_op not in plan
    assert not any(
        "cluster_id#" in w
        for w in re.findall(r"\(\d+\) Window[^(]*?Arguments: [^\n]*", plan)
    )
    assert "partial_min" in plan or "partial_max" in plan


def test_paragraph_dedup_partial_agg_keep_first_no_window(spark, sf_small):
    """CCNet paragraph dedup rides the same partial-aggregable
    keep-first as line dedup: min(struct) AGGREGATE on the normalized
    paragraph (map-side combine under flood), zero Window operators,
    no cartesian form, no Python."""
    plan = _plan(spark, sf_small, "text_paragraph_dedup")
    assert not re.findall(r"\(\d+\) Window", plan)
    assert "partial_min" in plan
    # column pruning reaches the scan: only (doc_id, text) is read
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    assert "n_chars" not in plan
    for node in (
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInPandas",
    ):
        assert node not in plan, f"unexpected {node}"


def test_pack_harmonic_layout_window_is_sharded(spark, sf_small):
    """Harmonic packing's per-doc layout index is a window keyed
    (class, len, doc_id % PACK_SHARDS) — never bare class, whose
    ~log(capacity) cardinality would put corpus/|classes| rows into
    one sort task. The only class-keyed window is the exclusive
    prefix-offset over the (class, len, shard) COUNT AGGREGATE (a
    frame bounded by capacity x shards, identifiable by its fit DESC
    order), and that aggregate combines map-side. No cartesian, no
    Python."""
    plan = _plan(spark, sf_small, "pack_sequences_harmonic")
    # raw-scan layout window: 3 partition keys then the doc_id order
    assert re.search(
        r"windowspecdefinition\(cls#\d+L?, fit#\d+, m#\d+L?, doc_id#\d+L? ASC",
        plan,
    )
    # every OTHER window is the offsets frame over the aggregate
    # (recognizable by its fit DESC ordering) — no third shape exists
    others = [
        w
        for w in re.findall(r"windowspecdefinition\([^)]*\)", plan)
        if "doc_id" not in w
    ]
    assert others and all("DESC" in w for w in others)
    assert "partial_count" in plan  # counts aggregate combines map-side
    # both scans prune to (doc_id, text)
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    assert "n_chars" not in plan
    for node in (
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInPandas",
    ):
        assert node not in plan, f"unexpected {node}"


def test_bm25_panel_heap_cut_and_rank_pushdown(spark, sf_small):
    """BM25's query panel comes from a global orderBy().limit() —
    TakeOrderedAndProject's distributed heap merge, never a
    vocabulary-wide window sort — and the per-query top-10 pushes
    down as WindowGroupLimit. The only NL join is the 12-row panel ×
    1-row totals cross; no Python anywhere; the unpartitioned rank
    window runs over the 12-row panel only."""
    plan = _plan(spark, sf_small, "index_bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    # exactly one NL node in the numbered tree (the formatted plan
    # repeats each node in its detail section, so count node headers)
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_op not in plan
    # every scan prunes to (doc_id, text) or narrower
    for rs in re.findall(r"ReadSchema: (struct<[^>]*>)", plan):
        assert rs in (
            "struct<doc_id:bigint,text:string>",
            "struct<text:string>",
        ), rs


def test_rrf_fuses_bounded_topk_frames_only(spark, sf_small):
    """RRF's own work rides two already-bounded top-k inputs: the
    BM25 heap cut (TakeOrderedAndProject) and the per-query rank
    limits (WindowGroupLimit) are in-plan, no CartesianProduct
    appears, the only NL joins are the two upstream broadcast
    crosses (kNN's probe broadcast + BM25's 1-row totals), and no
    Python node exists anywhere in the fused plan."""
    plan = _plan(spark, sf_small, "retrieval_fusion_rrf")
    assert "TakeOrderedAndProject" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 2
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_op not in plan
    # scans prune to what the two retrievers need, nothing more
    for rs in re.findall(r"ReadSchema: (struct<[^>]*>?)", plan):
        assert rs in (
            "struct<doc_id:bigint,text:string>",
            "struct<text:string>",
            "struct<vec_id:bigint,embedding:array<float>",
            "struct<vec_id:bigint,embedding:array<float>>",
        ), rs


def test_langid_single_corpus_scan_no_window(spark, sf_small):
    """The hashed-ngram classifier pays ONE corpus explode: the
    persisted (doc, lang, bucket) counts feed all three consumers as
    InMemoryTableScans (unpersisted, Catalyst re-ran the corpus scan
    per consumer — 3 scans instead of 1), the centroid table arrives
    by broadcast, the per-doc argmax is an aggregate (no Window node
    anywhere), and the one scan prunes to (doc_id, text, lang)."""
    from eventstream_benchmark_spark.operators._cache import (
        release_scoped_persists,
    )

    plan = _plan(spark, sf_small, "text_langid_hash_ngram")
    release_scoped_persists()
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "InMemoryTableScan" in plan
    assert "BroadcastExchange" in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0
    assert "CartesianProduct" not in plan
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_op not in plan
    for rs in re.findall(r"ReadSchema: (struct<[^>]*>)", plan):
        assert rs == "struct<doc_id:bigint,text:string,lang:string>", rs
    # round-14 (r13 verdict #9): the corpus-scale trigram explode must
    # reduce MAP-SIDE before its exchange — walking up the tree from
    # the Generate node, a HashAggregate must appear BELOW the first
    # Exchange (partial aggregation of the (doc, lang, bucket) counts;
    # without it the exchange would carry one row per corpus
    # CHARACTER instead of per distinct bucket triple). This is the
    # query's scale floor: everything else is bounded or broadcast.
    tree = [l for l in plan.splitlines() if re.search(r"\(\d+\)\s*$", l)]
    gen_idx = next(i for i, l in enumerate(tree) if "Generate" in l)
    above = list(reversed(tree[:gen_idx]))  # nearest ancestors first
    agg_before_exchange = False
    for line in above:
        if "Exchange" in line:
            break
        if "HashAggregate" in line:
            agg_before_exchange = True
            break
    assert agg_before_exchange, (
        "trigram explode reaches its exchange without a map-side "
        "partial HashAggregate"
    )


def test_vocab_curve_single_corpus_scan(spark, sf_small):
    """The curve's 9 per-step aggregate pairs all run on the loop's
    persisted vocabulary frames (InMemoryTableScans); the corpus is
    scanned exactly once (the word-count build inside _bpe_train),
    pruned to the text column; no Python nodes; no corpus-keyed
    window (the only Sort is the final 9-row orderBy)."""
    from eventstream_benchmark_spark.operators._cache import (
        release_scoped_persists,
    )

    plan = _plan(spark, sf_small, "corpus_bpe_vocab_curve")
    release_scoped_persists()
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "InMemoryTableScan" in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0
    assert "CartesianProduct" not in plan
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_op not in plan
    for rs in re.findall(r"ReadSchema: (struct<[^>]*>)", plan):
        assert rs == "struct<text:string>", rs


def test_perplexity_bucket_broadcast_only_bounded_windows(spark, sf_small):
    """The CCNet LM filter's corpus pass is one bigram explode with
    three BROADCAST lookups and a keyed partial aggregate — no
    shuffle join anywhere (the unscored bucket is a per-language
    count difference, never a docs×scores doc_id join). Exactly three
    parquet scans: the reference slice and the corpus explode (both
    pruned to doc_id/text/lang) plus the lang-only total count. The
    reference slice rides a WindowGroupLimit; all Window nodes sit on
    reference-bounded frames (5 printed = the ref rank + the two
    threshold-rank windows, whose unpersisted subtree prints once per
    broadcast reference — the _plan double-print convention)."""
    from eventstream_benchmark_spark.operators._cache import (
        release_scoped_persists,
    )

    plan = _plan(spark, sf_small, "text_perplexity_bucket")
    release_scoped_persists()
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 3
    assert "WindowGroupLimit" in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 5
    assert "InMemoryTableScan" in plan
    assert "BroadcastExchange" in plan
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) == 0
    assert len(re.findall(r"\(\d+\) ShuffledHashJoin", plan)) == 0
    assert "CartesianProduct" not in plan
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_op not in plan
    for rs in re.findall(r"ReadSchema: (struct<[^>]*>)", plan):
        assert rs in (
            "struct<doc_id:bigint,text:string,lang:string>",
            "struct<lang:string>",
        ), rs


def test_generator_exports_single_partition_no_range_sort(spark, tmp_path, monkeypatch):
    """The three ordered exports (``to_numpy``, ``write_csv``,
    ``stream_iter``) over the sharded stream order it through one
    exchange to a single partition, never a global sort: its range
    partitioner runs a sampling job that generates the stream twice."""
    from eventstream_benchmark_spark.generator import (
        PatternConfig,
        StreamConfig,
        stream_df_sharded,
        stream_iter,
        to_numpy,
        write_csv,
    )

    pcfg = PatternConfig(n_patterns=4, pattern_length=5, n_types=4, seed=3)
    df = stream_df_sharded(spark, pcfg, StreamConfig(n_types=4, total_events=100, random_ratio=0.5, seed=5),
                           n_shards=4)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plans = []

    def capture(cls, name, frame_of):
        run = getattr(cls, name)

        def spy(self, *a, **k):
            plans.append(frame_of(self)._jdf.queryExecution().explainString(mode))
            return run(self, *a, **k)

        monkeypatch.setattr(cls, name, spy)

    capture(type(df), "toPandas", lambda d: d)
    capture(type(df.write), "csv", lambda w: w._df)
    to_numpy(df)
    write_csv(df, str(tmp_path / "csv"))
    next(stream_iter(df))
    assert len(plans) == 3
    for plan in plans:
        assert "rangepartitioning" not in plan
        assert plan.count("SinglePartition") == 1


def test_sharded_generator_one_python_wave_no_shuffle(spark):
    """``stream_df_sharded`` places its shards with no shuffle: one
    MapInPandas over ``spark.range``, split into one task per core (at
    most one per shard), each generating a contiguous run of shards.
    An action then starts one wave of Python tasks, not a hash
    placement's uneven tasks behind an exchange."""
    from eventstream_benchmark_spark.generator import (
        PatternConfig,
        StreamConfig,
        stream_df_sharded,
    )

    pcfg = PatternConfig(n_patterns=4, pattern_length=5, n_types=4, seed=3)
    df = stream_df_sharded(spark, pcfg, StreamConfig(n_types=4, total_events=100, random_ratio=0.5, seed=5),
                           n_shards=8)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
    for node in ("Exchange", "FlatMapGroupsInPandas"):
        assert node not in plan, f"unexpected {node}"
    assert df.rdd.getNumPartitions() == min(8, spark.sparkContext.defaultParallelism)

"""engine/partitioning.py: the data-sized partition clamp for iterative
arc caches, the broadcast gates, and the cache lifetime of the nine
iterative graph loops built on them."""

from __future__ import annotations

import pytest

from pysparkflow.engine.partitioning import ROWS_PER_PARTITION, sized_partitions


def test_sized_partitions_clamp(spark):
    df = spark.range(1)
    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # tiny input -> 1 fat partition
    assert sized_partitions(0, df) == 1
    assert sized_partitions(ROWS_PER_PARTITION - 1, df) == 1
    # grows with the data, ~rows/150k
    assert sized_partitions(ROWS_PER_PARTITION * 7, df) == min(sess, 8)
    # never exceeds the session's cluster-tuned setting
    assert sized_partitions(10**12, df) == sess


def test_sized_partitions_respects_session_conf(spark):
    df = spark.range(1)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "500")
        assert sized_partitions(10**12, df) == 500
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_state_join_side_broadcasts_under_gate(spark):
    """Under the row gate the state side ships as a broadcast: the
    per-round join over a cached arc table plans as BroadcastHashJoin
    with NO exchange of the arc side (the r13 pagerank plan fix)."""
    from pyspark.sql import functions as F

    from pysparkflow.engine.partitioning import state_join_side

    arcs = (
        spark.range(100)
        .select((F.col("id") % 10).alias("u"), F.col("id").alias("v"))
        .persist()
    )
    arcs.count()
    try:
        state = spark.range(10).select(
            F.col("id").alias("u"), F.lit(1.0).alias("rank")
        )
        joined = arcs.join(state_join_side(state, 10, 4, "u"), "u")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # results identical to the plain join
        plain = sorted(map(tuple, arcs.join(state, "u").collect()))
        gated = sorted(map(tuple, joined.collect()))
        assert gated == plain
    finally:
        arcs.unpersist()


def test_state_join_side_copartitions_above_gate(spark):
    """Above the gate the state is hash-repartitioned to the arc cache's
    partition count — the state pays its one exchange and the arcs still
    never move (cluster-scale path of the same helper)."""
    from pyspark.sql import functions as F

    from pysparkflow.engine.partitioning import (
        STATE_BROADCAST_ROWS,
        state_join_side,
    )

    state = spark.range(10).select(
        F.col("id").alias("u"), F.lit(1.0).alias("rank")
    )
    side = state_join_side(state, STATE_BROADCAST_ROWS + 1, 7, "u")
    assert side.rdd.getNumPartitions() == 7
    plan = side._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(u" in plan


# a 4-cycle with a chord plus a pendant vertex: every loop has work to do
LOOP_EDGES = [(1, 2, 3), (2, 3, 2), (3, 4, 2), (4, 1, 3), (1, 3, 1), (4, 5, 4)]


def _loop_inputs(spark):
    from pysparkflow.graph.graph import FlowGraph

    pairs = spark.createDataFrame(LOOP_EDGES, "src long, dst long, capacity long")
    g = FlowGraph.from_edge_pairs(spark, pairs, cap_col="capacity")
    arcs = pairs.select("src", "dst").unionAll(
        pairs.select(pairs.dst.alias("src"), pairs.src.alias("dst"))
    )
    weighted = pairs.select("src", "dst", pairs.capacity.cast("double").alias("w"))
    return g, pairs, arcs, weighted


def _run_loop(spark, name):
    """Run one iterative loop and return the DataFrames its caller reads."""
    from pysparkflow.algo import bfs_distances, connected_components
    from pysparkflow.algo.maxflow import max_flow
    from pysparkflow.algo.mincut import min_cut
    from pysparkflow.algo.pagerank import pagerank, personalized_pagerank
    from pysparkflow.algo.sssp import bounded_sssp
    from pysparkflow.graph.kcore import kcore_vertices
    from pysparkflow.graph.labelprop import label_propagation

    g, pairs, arcs, weighted = _loop_inputs(spark)
    if name == "max_flow":
        return [max_flow(g, [1], [5]).flows]
    if name == "min_cut":
        res = min_cut(g, [1], [5])
        return [res.cut_edges, res.s_side]
    return [
        {
            "bfs": lambda: bfs_distances(g, [1]),
            "components": lambda: connected_components(g),
            "pagerank": lambda: pagerank(arcs),
            "personalized_pagerank": lambda: personalized_pagerank(arcs, [1]),
            "bounded_sssp": lambda: bounded_sssp(weighted, [1]),
            "label_propagation": lambda: label_propagation(arcs),
            "kcore": lambda: kcore_vertices(pairs, k=2),
        }[name]()
    ]


LOOPS = [
    "bfs", "components", "pagerank", "personalized_pagerank", "bounded_sssp",
    "label_propagation", "kcore", "max_flow", "min_cut",
]


@pytest.mark.parametrize("loop", LOOPS)
def test_loop_leaves_no_cache_after_release(spark, loop):
    """Each loop's arc cache is either unpersisted on return or tracked:
    once the result is consumed, ``release_tracked`` must leave Spark's
    CacheManager empty, so a long-lived session does not accumulate
    cached plans query after query."""
    from pysparkflow.engine.cache import release_tracked

    spark.catalog.clearCache()
    release_tracked()
    for df in _run_loop(spark, loop):
        df.collect()
    release_tracked()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_min_cut_never_broadcasts_past_the_gate(spark, monkeypatch):
    """With Catalyst's own size-based broadcast off and the row gate shut,
    min_cut must plan no broadcast join at all — its flows table, BFS
    frontier, reach set and classification sides all go through
    engine/partitioning's gate — and still certify the cut."""
    from pysparkflow.algo.maxflow import max_flow
    from pysparkflow.algo.mincut import min_cut
    from pysparkflow.engine import partitioning

    g, *_ = _loop_inputs(spark)
    flow = max_flow(g, [1], [5])
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        # the store keeps only the newest executions, so select by id
        execs = store.executionsList()
        return [execs.apply(i) for i in range(execs.size())]

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    monkeypatch.setattr(partitioning, "STATE_BROADCAST_ROWS", -1)
    try:
        last = max((e.executionId() for e in executions()), default=-1)
        res = min_cut(g, [1], [5], flow_result=flow)
        res.cut_edges.collect()
        res.s_side.collect()
        plans = [
            e.physicalPlanDescription() for e in executions() if e.executionId() > last
        ]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert res.certified and res.value == flow.value
    assert plans and any("Join" in p for p in plans)
    assert not any("BroadcastHashJoin" in p for p in plans), [
        p for p in plans if "BroadcastHashJoin" in p
    ][0][:2000]

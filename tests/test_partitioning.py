"""engine/partitioning.py and engine/rounds.py: the data-sized partition
clamp for iterative arc caches, the broadcast gates, and the cache
lifetime, lineage cuts, round bounds and hostile-input answers of the
nine iterative graph loops built on them."""

from __future__ import annotations

import re

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


@pytest.mark.parametrize(
    "side, wide",
    [
        ("u long, path array<long>", True),
        ("u long, tag string", True),
        ("u long, rank double", False),
    ],
    ids=["array", "string", "long_double"],
)
def test_state_join_side_takes_scalar_sides_only(spark, side, wide):
    """The row gate's byte arithmetic holds for scalar rows only: a side
    with a variable-width column raises, whatever its row bound, so it
    can never reach the row gate; a (long, double) side passes."""
    from pysparkflow.engine.partitioning import state_join_side

    state = spark.createDataFrame([], side)
    if wide:
        with pytest.raises(TypeError, match="variable-width"):
            state_join_side(state, 1, 4, "u")
    else:
        state_join_side(state, 1, 4, "u")


def _job_ids(spark) -> set:
    """Ids of the jobs without a job group in the status store, once the
    listener bus has delivered every event so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


# frames to count: empty, one partition, three partitions out of a shuffle
CUT_FRAMES = {
    "empty": (lambda spark: spark.createDataFrame([], "id long"), 0, None),
    "one_partition": (lambda spark: spark.range(0, 7, 1, 1), 7, 1),
    "shuffled": (
        lambda spark: spark.range(0, 1000, 1, 4).repartition(3, "id"), 1000, 3
    ),
}


@pytest.mark.parametrize("shape", sorted(CUT_FRAMES))
def test_cut_count_is_exact_in_one_job(spark, shape):
    """``cut_count``, and ``cut_observe`` with several aggregates, return
    exact values and a materialized cut, and cost exactly one job more
    than the cut alone (the shuffled frame's own shuffle stage runs when
    it is cut)."""
    from pyspark.sql import functions as F

    from pysparkflow.engine import rounds

    make, rows, partitions = CUT_FRAMES[shape]
    ids = [r["id"] for r in make(spark).collect()]
    before = _job_ids(spark)
    rounds.cut(make(spark))
    cut_jobs = len(_job_ids(spark) - before)
    before = _job_ids(spark)
    df, n = rounds.cut_count(make(spark))
    count_jobs = len(_job_ids(spark) - before)
    before = _job_ids(spark)
    observed, stats = rounds.cut_observe(
        make(spark),
        n=F.count(F.lit(1)),
        total=F.sum("id"),
        top=F.max("id"),
        odd=F.count_if(F.col("id") % 2 == 1),
    )
    observe_jobs = len(_job_ids(spark) - before)

    assert n == rows == len(ids)
    assert stats == {
        "n": len(ids),
        "total": sum(ids) if ids else None,
        "top": max(ids, default=None),
        "odd": sum(i % 2 for i in ids),
    }
    assert count_jobs == observe_jobs == cut_jobs + 1
    for frame in (df, observed):
        rdd = frame._jdf.queryExecution().analyzed().rdd()
        assert rdd.isCheckpointedAndMaterialized()
        if partitions is not None:
            assert rdd.getNumPartitions() == partitions


# a 4-cycle with a chord plus a pendant vertex: every loop has work to do
LOOP_EDGES = [(1, 2, 3), (2, 3, 2), (3, 4, 2), (4, 1, 3), (1, 3, 1), (4, 5, 4)]
# hostile inputs: no edges at all; self-loops on both ends of the path
# 1 - 2 - 5 plus a duplicated arc and its reverse
EMPTY_EDGES: list = []
SELF_DUP_EDGES = [(1, 1, 4), (1, 2, 3), (1, 2, 3), (2, 1, 2), (2, 5, 5), (5, 5, 1)]


def _loop_inputs(spark, edges=LOOP_EDGES):
    from pysparkflow.graph.graph import FlowGraph

    pairs = spark.createDataFrame(edges, "src long, dst long, capacity long")
    g = FlowGraph.from_edge_pairs(spark, pairs, cap_col="capacity")
    arcs = pairs.select("src", "dst").unionAll(
        pairs.select(pairs.dst.alias("src"), pairs.src.alias("dst"))
    )
    weighted = pairs.select("src", "dst", pairs.capacity.cast("double").alias("w"))
    return g, pairs, arcs, weighted


def _run_loop(spark, name, edges=LOOP_EDGES, **kw):
    """Run one iterative loop (source 1, sink 5) and return the DataFrames
    its caller reads; ``kw`` goes to the fixed-round loops."""
    from pysparkflow.algo import bfs_distances, connected_components
    from pysparkflow.algo.maxflow import max_flow
    from pysparkflow.algo.mincut import min_cut
    from pysparkflow.algo.pagerank import pagerank, personalized_pagerank
    from pysparkflow.algo.sssp import bounded_sssp
    from pysparkflow.graph.kcore import kcore_vertices
    from pysparkflow.graph.labelprop import label_propagation

    g, pairs, arcs, weighted = _loop_inputs(spark, edges)
    if name == "max_flow":
        return [max_flow(g, [1], [5]).flows]
    if name == "min_cut":
        res = min_cut(g, [1], [5])
        return [res.cut_edges, res.s_side]
    return [
        {
            "bfs": lambda: bfs_distances(g, [1]),
            "components": lambda: connected_components(g),
            "pagerank": lambda: pagerank(arcs, **kw),
            "personalized_pagerank": lambda: personalized_pagerank(arcs, [1], **kw),
            "bounded_sssp": lambda: bounded_sssp(weighted, [1], **kw),
            "label_propagation": lambda: label_propagation(arcs, **kw),
            "kcore": lambda: kcore_vertices(pairs, k=2),
        }[name]()
    ]


LOOPS = [
    "bfs", "components", "pagerank", "personalized_pagerank", "bounded_sssp",
    "label_propagation", "kcore", "max_flow", "min_cut",
]
# the fixed-round loops and the name of their round-count argument
ROUND_ARG = {
    "pagerank": "iterations",
    "personalized_pagerank": "iterations",
    "bounded_sssp": "max_hops",
    "label_propagation": "rounds",
}


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


def test_shared_memo_builds_once_and_clear_unpersists(spark):
    """A session memo is built once per (application, name, sf_dir);
    ``clear_shared`` drops only the named memos and unpersists the frames
    they hold (a FlowGraph's edge table, a tuple's items), so the next
    ``shared`` call builds again."""
    from pysparkflow.engine.cache import clear_shared, shared
    from pysparkflow.graph.graph import FlowGraph

    builds = []

    def build_graph():
        builds.append(1)
        edges = spark.range(3).selectExpr("id AS u", "id + 1 AS v", "1L AS cap")
        return FlowGraph(spark, edges.persist())

    g = shared(spark, "test_graph", "sf", build_graph)
    assert shared(spark, "test_graph", "sf", build_graph) is g
    assert len(builds) == 1
    pairs = shared(spark, "test_pairs", "sf", lambda: (spark.range(2).persist(), 2))
    assert g.edges.storageLevel.useMemory
    clear_shared("test_graph")
    assert not g.edges.storageLevel.useMemory
    assert shared(spark, "test_pairs", "sf", lambda: None) is pairs
    assert pairs[0].storageLevel.useMemory
    assert shared(spark, "test_graph", "sf", build_graph) is not g
    assert len(builds) == 2
    clear_shared("test_graph", "test_pairs")
    assert not pairs[0].storageLevel.useMemory


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


def _join_count(df) -> int:
    plan = df._jdf.queryExecution().analyzed().treeString()
    return len(re.findall(r"^[\s:+\-|]*Join ", plan, re.M))


@pytest.mark.parametrize("loop", sorted(ROUND_ARG))
def test_fixed_round_plan_holds_one_round(spark, loop):
    """Every round but the last is cut (engine/rounds.py), so the frame a
    fixed-round loop returns after eight rounds holds no more joins than
    an uncut single round does."""
    from pysparkflow.engine.cache import release_tracked

    def joins(n):
        [df] = _run_loop(spark, loop, **{ROUND_ARG[loop]: n})
        return _join_count(df)

    one, eight = joins(1), joins(8)
    release_tracked()
    assert one > 0
    assert eight <= one, (loop, eight, one)


def _rows(df):
    return sorted(
        tuple(round(x, 9) if isinstance(x, float) else x for x in r)
        for r in df.collect()
    )


# today's answers on the hostile inputs; source 1, sink 5. On the empty
# table the super-source takes id 6 (graph.with_super_nodes numbers it past
# the largest edge or terminal id), so min_cut's S side is it and the
# source its super edge reaches.
HOSTILE = {
    ("empty", "bfs"): [[(1, 1)]],
    ("empty", "components"): [[]],
    ("empty", "pagerank"): [[]],
    ("empty", "bounded_sssp"): [[(1, 0.0)]],
    ("empty", "label_propagation"): [[]],
    ("empty", "kcore"): [[]],
    ("empty", "max_flow"): [[]],
    ("empty", "min_cut"): [[], [(1,), (6,)]],
    ("self_dup", "bfs"): [[(1, 1), (2, 2), (5, 3)]],
    ("self_dup", "components"): [[(1, 1), (2, 1), (5, 1)]],
    ("self_dup", "pagerank"): [[(1, 0.39375779), (2, 0.329288905), (5, 0.276953305)]],
    ("self_dup", "personalized_pagerank"): [
        [(1, 0.46135838), (2, 0.258783653), (5, 0.112514724)]
    ],
    ("self_dup", "bounded_sssp"): [[(1, 0.0), (2, 3.0), (5, 8.0)]],
    ("self_dup", "label_propagation"): [[(1, 1), (2, 2), (5, 5)]],
    ("self_dup", "kcore"): [[]],
    # the super-source is 6 and the super-sink 7
    ("self_dup", "max_flow"): [[(1, 2, 5), (1, 6, -5), (2, 5, 5), (5, 7, 5)]],
    ("self_dup", "min_cut"): [[(2, 5, 5)], [(1,), (2,), (6,)]],
}


@pytest.mark.parametrize("loop", LOOPS)
@pytest.mark.parametrize("table", ["empty", "self_dup"])
def test_loop_on_hostile_input(spark, table, loop):
    """An empty edge table, and self-loops plus duplicate arcs, go through
    every loop. Pagerank on the empty table returns an empty frame; the
    personalized one rejects a seed that is no vertex."""
    from pysparkflow.engine.cache import release_tracked

    edges = {"empty": EMPTY_EDGES, "self_dup": SELF_DUP_EDGES}[table]
    try:
        if (table, loop) == ("empty", "personalized_pagerank"):
            with pytest.raises(ValueError, match="seeds are not vertices"):
                _run_loop(spark, loop, edges)
            return
        got = [_rows(df) for df in _run_loop(spark, loop, edges)]
    finally:
        release_tracked()
    assert got == HOSTILE[table, loop]


def test_components_raises_at_round_bound(spark, monkeypatch):
    """A components run still changing labels at its round bound raises
    instead of returning unconverged labels."""
    from pysparkflow.algo import components
    from pysparkflow.engine.cache import release_tracked
    from pysparkflow.graph.graph import FlowGraph

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src long, dst long"
    )
    monkeypatch.setattr(components, "MAX_ROUNDS", 1)
    try:
        with pytest.raises(RuntimeError, match="did not stabilize in 1 rounds"):
            components.connected_components(FlowGraph.from_edge_pairs(spark, path))
    finally:
        release_tracked()

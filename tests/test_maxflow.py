"""Golden-value max-flow tests, mirroring the reference's test strategy
(SURVEY.md §5): known answers on fixed graphs (the run script's ``flow=(...)``
arrays, run:49-51) with NetworkX as the independent oracle
(FIXTURES.md §2: ``networkx.maximum_flow_value``)."""

from __future__ import annotations

import networkx as nx
import pytest

from pysparkflow.algo.maxflow import MaxFlowConfig, max_flow
from pysparkflow.graph.graph import FlowGraph


def _build(spark, edges):
    """edges: list of (u, v, cap) undirected."""
    df = spark.createDataFrame(edges, "src long, dst long, capacity long")
    return FlowGraph.from_edge_pairs(spark, df, cap_col="capacity")


def _oracle(edges, sources, sinks):
    g = nx.Graph()
    for u, v, c in edges:
        if g.has_edge(u, v):
            g[u][v]["capacity"] += c
        else:
            g.add_edge(u, v, capacity=c)
    s, t = "S*", "T*"
    for x in sources:
        g.add_edge(s, x, capacity=10_000_000)
    for x in sinks:
        g.add_edge(t, x, capacity=10_000_000)
    return nx.maximum_flow_value(g, s, t)


def _check(spark, edges, sources, sinks, **cfg_kwargs):
    g = _build(spark, edges)
    cfg = MaxFlowConfig(validate=True, **cfg_kwargs)
    res = max_flow(g, sources, sinks, cfg)
    expected = _oracle(edges, sources, sinks)
    assert res.value == expected
    return res


def test_single_path(spark):
    edges = [(10, 11, 3), (11, 12, 2), (12, 13, 5)]
    _check(spark, edges, [10], [13])  # bottleneck 2


# CLRS 26.1 topology (undirected interpretation), vertices 10..15
CLRS_EDGES = [
    (10, 11, 16),
    (10, 12, 13),
    (11, 12, 10),
    (11, 13, 12),
    (12, 13, 9),
    (12, 14, 14),
    (13, 14, 7),
    (13, 15, 20),
    (14, 15, 4),
]


def test_clrs_style_network(spark):
    _check(spark, CLRS_EDGES, [10], [15])


def test_phase_loop_runs_no_count(spark, monkeypatch):
    """max_flow reads every row count it needs off the jobs that
    materialize its cuts, or bounds it on the driver: with
    ``DataFrame.count`` raising, the value is unchanged."""
    g = _build(spark, CLRS_EDGES)

    def no_count(self):
        raise AssertionError("max_flow called DataFrame.count")

    monkeypatch.setattr(type(g.edges), "count", no_count)
    res = max_flow(g, [10], [15], MaxFlowConfig(validate=False))
    assert res.value == _oracle(CLRS_EDGES, [10], [15])


# (edges, sources, sinks) where no flow can pass: a terminal absent from
# the edges, or a sink the source cannot reach
NO_FLOW = {
    "absent_sink": ([(1, 2, 1), (2, 3, 1)], [1], [4]),
    "unreachable_sink": ([(1, 2, 1), (3, 4, 1)], [1], [4]),
    "absent_source": ([(1, 2, 1)], [9], [2]),
}


@pytest.mark.parametrize("case", sorted(NO_FLOW))
def test_absent_terminal_shares_no_super_node_id(spark, case):
    """An absent or unreachable terminal gets no flow: the super nodes are
    numbered past every edge and terminal id, so a terminal's super edge
    cannot join the super-source to the super-sink."""
    edges, sources, sinks = NO_FLOW[case]
    res = _check(spark, edges, sources, sinks)
    assert res.value == 0
    ids = {x for u, v, _ in edges for x in (u, v)} | set(sources) | set(sinks)
    assert {res.s_id, res.t_id}.isdisjoint(ids)


def test_capacity_sum_past_long_range_raises(spark):
    """Four 2^62 edges 1 -> {2, 3} -> 4: the source's incident capacity
    sums to 2^63, one past the long range. The session's ANSI arithmetic
    raises instead of returning a wrapped value."""
    from pyspark.errors import ArithmeticException

    edges = [(1, 2, 2**62), (1, 3, 2**62), (2, 4, 2**62), (3, 4, 2**62)]
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        max_flow(_build(spark, edges), [1], [4])


def test_parallel_edges_summed(spark):
    # parallel edges and both orientations must merge (D1, ff1/Vertex.java:47-83)
    edges = [(10, 11, 2), (11, 10, 3), (10, 11, 1)]
    res = _check(spark, edges, [10], [11])
    assert res.value == 6


def test_disconnected_components_zero_flow(spark):
    edges = [(10, 11, 5), (11, 12, 5), (20, 21, 5)]
    res = _check(spark, edges, [10], [21])
    assert res.value == 0


def test_multi_source_multi_sink(spark):
    edges = [
        (10, 20, 3),
        (11, 20, 4),
        (20, 21, 5),
        (21, 30, 2),
        (21, 31, 6),
        (10, 30, 1),
    ]
    _check(spark, edges, [10, 11], [30, 31])


def test_unit_capacity_grid(spark):
    # 4x4 grid, unit capacities: max-flow corner-to-corner == 2
    def vid(r, c):
        return 10 + r * 4 + c

    edges = []
    for r in range(4):
        for c in range(4):
            if c + 1 < 4:
                edges.append((vid(r, c), vid(r, c + 1), 1))
            if r + 1 < 4:
                edges.append((vid(r, c), vid(r + 1, c), 1))
    _check(spark, edges, [vid(0, 0)], [vid(3, 3)])


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_graphs_vs_networkx(spark, seed):
    rng = nx.gnm_random_graph(14, 30, seed=seed)
    import random

    r = random.Random(seed)
    edges = [(u + 10, v + 10, r.randint(1, 5)) for u, v in rng.edges()]
    nodes = sorted({x for e in edges for x in e[:2]})
    sources = nodes[:2]
    sinks = nodes[-2:]
    _check(spark, edges, sources, sinks)


def test_excess_list_k_greater_one(spark):
    edges = [
        (10, 11, 16),
        (10, 12, 13),
        (11, 12, 10),
        (11, 13, 12),
        (12, 13, 9),
        (12, 14, 14),
        (13, 14, 7),
        (13, 15, 20),
        (14, 15, 4),
    ]
    _check(spark, edges, [10], [15], excess_list_max=4)


def test_sources_sinks_must_be_disjoint(spark):
    g = _build(spark, [(10, 11, 1)])
    with pytest.raises(ValueError):
        max_flow(g, [10], [10])


def test_negative_vertex_ids(spark):
    # the negids fixture intent (FIXTURES.md §4): folded ids are negative
    # (run:77,106) and must flow through unchanged
    edges = [(-5, -4, 3), (-4, 12, 2), (12, -9, 5), (-5, -9, 1)]
    res = _check(spark, edges, [-5], [-9])
    assert res.value == 3


def test_repair_join_equals_map(spark):
    """_repair_paths_join must produce the same surviving-path set as the
    broadcast-map-literal _repair_paths on the same deltas."""
    from pyspark.sql import functions as F

    from pysparkflow.algo.maxflow import (
        _FRONTIER_SCHEMA,
        _repair_paths,
        _repair_paths_join,
    )

    rows = [
        (4, [1, 2, 4], [3, 5]),       # mid arc drained to 2
        (5, [1, 3, 5], [2, 1]),       # saturated by delta on (3, 5)
        (6, [2, 6], [7]),             # untouched
        (1, [1], []),                 # seed row: kept verbatim
        (7, [1, 2, 7], [3, 4]),       # first arc drained to 0 -> dropped
    ]
    deltas = {(2, 4): 3, (3, 5): 1, (1, 2): 3}
    df = spark.createDataFrame(rows, _FRONTIER_SCHEMA)
    delta_items = list(deltas.items())
    delta_df = spark.createDataFrame(
        [(x, y, d) for (x, y), d in delta_items], schema="au long, av long, d long"
    )
    as_set = lambda out: {
        (r["vertex"], tuple(r["verts"]), tuple(r["ress"])) for r in out.collect()
    }
    a = as_set(_repair_paths(df, delta_items))
    b = as_set(_repair_paths_join(df, delta_df))
    assert a == b
    assert (1, (1,), ()) in b            # seed survived
    assert not any(v == 7 for v, _, _ in b)  # drained path dropped
    assert (5, (1, 3, 5), (2, 0)) not in b   # saturated path dropped


def test_join_repair_end_to_end(spark, monkeypatch):
    # force every epoch through the distributed join repair and confirm
    # the exact optimum is still reached (unit-cap grid, multi-phase)
    from pysparkflow.algo import maxflow

    monkeypatch.setattr(maxflow, "REPAIR_JOIN_THRESHOLD", 0)
    edges = []
    for r in range(5):
        for c in range(5):
            v = 100 + r * 5 + c
            if c < 4:
                edges.append((v, v + 1, 1))
            if r < 4:
                edges.append((v, v + 5, 1))
    _check(spark, edges, [100], [124], excess_list_max=4)


def test_graded_lineitem_value_vs_networkx(spark, monkeypatch):
    """Grounds the pinned graded-scale oracle (registry _Q_MAX_FLOW_SQL,
    max_flow=75 at sf0.01) in an independent NetworkX computation on the
    same part<->supplier graph, rather than a self-measured constant.
    Also pins the job budget: a meet rides its round's (or restart's)
    counted job, so only the meets with a positive pair count pay a
    collect."""
    from pysparkflow.algo import maxflow
    from pysparkflow.relational.registry import _lineitem_graph
    from tests.test_partitioning import _job_ids

    sf_dir = "/root/testdata/sf0.01"
    g = _lineitem_graph(spark, sf_dir)
    edges = [(r["u"], r["v"], r["cap"]) for r in g.edges.collect()]
    expected = _oracle(edges, [1, 2, 3], [1_000_001, 1_000_002])
    assert expected == 75  # the pinned oracle constant
    real_collect = maxflow._collect_meet
    collected = []

    def collect_meet(pairs, limit):
        rows = real_collect(pairs, limit)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(maxflow, "_collect_meet", collect_meet)
    before = _job_ids(spark)
    res = max_flow(
        g,
        [1, 2, 3],
        [1_000_001, 1_000_002],
        MaxFlowConfig(meet_extra_rounds=0, validate=True),
    )
    jobs = _job_ids(spark) - before
    assert res.value == expected
    m = res.metrics
    assert (m.phases, m.rounds) == (6, 10)
    assert (m.candidates_seen, m.candidates_rejected) == (1926, 1851)
    assert len(jobs) <= 80  # 95 with a two-job meet per round and restart
    # a meet whose pair count is 0 is never collected; 5 are positive
    assert len(collected) == 5 and all(collected), collected


def test_approx_early_stop_strictly_earlier_than_exact(spark):
    """VERDICT r7 #4: prove the mf.approx knob actually stops work.
    One fat direct path (cap 100, meet vertex = the sink, lowest id so
    it is accepted first) plus unit paths through high-id vertices;
    max_candidates=1 forces one acceptance per phase, so unit gains
    trickle. With approx=0.9 the first post-fat phase gains 1 < 0.1 *
    100 and the loop must stop, leaving flow on the table; exact keeps
    going to optimality. Early-stop firing is recorded in metrics."""
    edges = [(0, 200, 100)]
    for i in range(300, 304):
        edges += [(0, i, 1), (i, 200, 1)]
    exact = max_flow(
        _build(spark, edges), [0], [200],
        MaxFlowConfig(max_candidates=1, validate=True),
    )
    assert exact.value == _oracle(edges, [0], [200]) == 104
    assert not exact.metrics.early_stop

    approx = max_flow(
        _build(spark, edges), [0], [200],
        MaxFlowConfig(max_candidates=1, approx=0.9),
    )
    assert approx.metrics.early_stop
    assert approx.metrics.early_stop_phase == approx.metrics.phases
    assert approx.metrics.phases < exact.metrics.phases
    assert 100 <= approx.value < exact.value


def test_extend_probes_arc_cache_without_sort_merge(spark):
    """The per-round extension and visited anti-join must probe the
    cached residual-arc table via broadcast joins when the driver-known
    frontier/visited counts sit under the gate — checkpointed frontiers
    carry no size statistics, so Catalyst otherwise exchanges and sorts
    the arc cache for BOTH joins every round (the r13 probe measured
    77 MB of per-query shuffle, 11 MB after gating)."""
    from pysparkflow.algo.maxflow import _extend, _residual_arcs

    edges = [(10, 11, 3), (11, 12, 2), (12, 13, 5), (11, 13, 4)]
    g = _build(spark, edges)
    arcs = _residual_arcs(g.edges.persist(), None, 0, 1).persist()
    seed = spark.createDataFrame(
        [(10, [10], [])], "vertex long, verts array<long>, ress array<long>"
    )
    gate = dict(frontier_row_bytes=56, arc_partitions=1)
    f1 = _extend(seed, arcs, seed, True, 1, 42, 1, n_frontier=1, n_own=1, **gate).localCheckpoint()
    out = _extend(f1, arcs, f1, True, 1, 42, 2, n_frontier=2, n_own=3, **gate)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]


def test_wide_frontier_gate_is_byte_aware(spark):
    """A path-carrying frontier must NOT broadcast when rows x row-bytes
    exceeds the 32 MB STATE_BROADCAST_BYTES budget, even when the row
    count alone sits far under STATE_BROADCAST_ROWS (VERDICT r13 #1: at
    path length ~30 a 1.9M-row frontier is hundreds of MB — an OOM the
    row gate would happily broadcast). The narrow visited side keeps its
    row gate."""
    from pysparkflow.algo.maxflow import _extend, _residual_arcs
    from pysparkflow.engine.partitioning import (
        STATE_BROADCAST_BYTES,
        STATE_BROADCAST_ROWS,
        wide_rows_broadcastable,
    )

    # the helper's arithmetic: at 520 B/row (path-length bound 31),
    # the fallback fires at ~64.5k rows — three orders of magnitude
    # under the 2M row gate
    row_bytes = 24 + 16 * 31
    limit = STATE_BROADCAST_BYTES // row_bytes
    assert wide_rows_broadcastable(limit, row_bytes)
    assert not wide_rows_broadcastable(limit + 1, row_bytes)
    assert limit + 1 < STATE_BROADCAST_ROWS  # the row gate WOULD have shipped it
    # narrow rows (16 B) keep exactly the legacy 2M-row behaviour
    assert wide_rows_broadcastable(STATE_BROADCAST_ROWS, 16)

    edges = [(10, 11, 3), (11, 12, 2), (12, 13, 5), (11, 13, 4)]
    g = _build(spark, edges)
    arcs = _residual_arcs(g.edges.persist(), None, 0, 1).persist()
    seed = spark.createDataFrame(
        [(10, [10], [])], "vertex long, verts array<long>, ress array<long>"
    )
    f1 = _extend(
        seed, arcs, seed, True, 1, 42, 1,
        n_frontier=1, n_own=1, frontier_row_bytes=56, arc_partitions=1,
    ).localCheckpoint()
    # at fixture scale Catalyst auto-broadcasts the tiny arc cache and
    # masks the gate; pin the GATE's behaviour by making explicit hints
    # the only broadcast source
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # same tiny frontier, but a declared byte width that blows the
        # budget: the frontier join must fall back to the shuffle join
        # while the narrow visited anti-join stays broadcast (row gate)
        wide = _extend(
            f1, arcs, f1, True, 1, 42, 2,
            n_frontier=2, n_own=3, frontier_row_bytes=STATE_BROADCAST_BYTES,
            arc_partitions=1,
        )
        plan = wide._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "SortMergeJoin" in plan, plan[:2000]
        assert "BroadcastHashJoin" in plan, plan[:2000]
        # under the bound, the frontier broadcasts: no shuffle join left
        ok = _extend(
            f1, arcs, f1, True, 1, 42, 2,
            n_frontier=2, n_own=3, frontier_row_bytes=row_bytes,
            arc_partitions=1,
        )
        okplan = ok._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "SortMergeJoin" not in okplan, okplan[:2000]
        # and results are identical across the two physical strategies
        assert sorted(map(tuple, wide.collect())) == sorted(map(tuple, ok.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)

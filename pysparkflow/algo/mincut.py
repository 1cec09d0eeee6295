"""Minimum s-t cut extraction — the dual certificate of max-flow.

The reference computes only the flow VALUE (ff1/FordFulkerson.java:229-235
prints per-round totals); the cut itself is the natural completion of the
family: the set of saturated edges separating the source side from the
sink side, with cut capacity == max-flow value by strong duality. That
equality is checked at runtime — the result carries its own optimality
certificate (stronger than the reference's convergence heuristic, in the
same spirit as maxflow's exhaustion proof).

Plan shape: one max-flow run, then a BFS over the residual graph
(frontier-only shuffles against the cached residual arc table — the D13
schimmy discipline), then one join to classify crossing edges. Nothing
here adds a corpus-scale shuffle beyond what max-flow already does.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pysparkflow.algo.maxflow import MaxFlowConfig, MaxFlowResult, _residual_arcs, max_flow
from pysparkflow.engine import partitioning
from pysparkflow.graph.graph import FlowGraph


@dataclass
class MinCutResult:
    value: int            # cut capacity == max-flow value (certified)
    cut_edges: DataFrame  # (u, v, cap) original edges crossing S -> T
    s_side: DataFrame     # (vertex) residual-reachable set S
    flow: MaxFlowResult
    certified: bool       # cut capacity == flow value (strong duality)


def min_cut(
    graph: FlowGraph,
    sources: Iterable[int],
    sinks: Iterable[int],
    config: MaxFlowConfig | None = None,
    flow_result: MaxFlowResult | None = None,
) -> MinCutResult:
    """Exact minimum s-t cut: run max_flow (or reuse ``flow_result`` from
    an earlier run on the SAME graph/sources/sinks — the registry shares
    one run between the max_flow and min_cut entries), take S = vertices
    reachable from the super-source in the residual graph, and return the
    original edges crossing S -> V\\S. Asserts cut capacity == flow
    value."""
    res = flow_result or max_flow(graph, sources, sinks, config=config)
    # rebuild the super-node graph deterministically (same ids as the run)
    g2, s_id, t_id, n_edges = graph.with_super_nodes(sources, sinks)
    spark = g2.spark

    # cached like max_flow's edge table, with the edge count
    # with_super_nodes already computed; every edge yields at most two
    # residual arcs (and at most two vertices), so 2 x n_edges bounds the
    # arc, frontier and reach row counts for the broadcast gates below.
    # The first BFS round materializes both caches.
    edges, _, edge_parts = partitioning.sized_cache(g2.edges, "u", rows=n_edges)
    n_res = 2 * n_edges
    arcs = _residual_arcs(edges, res.flows, n_edges, edge_parts).persist()
    # directed BFS over residual arcs: frontier-only shuffles, the arc
    # table is scanned from cache each round (schimmy); the frontier and
    # reach sides are broadcast-gated (state_join_side) so the cached
    # residual arcs are never re-exchanged or re-sorted per round
    reach = spark.createDataFrame([(int(s_id),)], "vertex long")
    frontier = reach
    while True:
        fr = partitioning.state_join_side(frontier, n_res, edge_parts, "vertex")
        nxt = (
            arcs.join(fr, fr.vertex == arcs.src)
            .select(F.col("dst").alias("vertex"))
            .distinct()
            .join(
                partitioning.state_join_side(reach, n_res, edge_parts, "vertex"),
                "vertex",
                "left_anti",
            )
            .localCheckpoint()
        )
        if not nxt.take(1):
            break
        reach = reach.unionByName(nxt).localCheckpoint()
        frontier = nxt
    arcs.unpersist(blocking=False)

    # the returned lazy cut_edges plan still scans the tracked edge cache:
    # release it with engine.cache.release_tracked once consumed
    s_side = reach
    in_s = reach.select(F.col("vertex").alias("u")).withColumn("_su", F.lit(1))
    in_s_v = reach.select(F.col("vertex").alias("v")).withColumn("_sv", F.lit(1))
    classified = (
        edges.join(partitioning.state_join_side(in_s, n_res, edge_parts, "u"), "u", "left")
        .join(partitioning.state_join_side(in_s_v, n_res, edge_parts, "v"), "v", "left")
        .withColumn("_su", F.coalesce("_su", F.lit(0)))
        .withColumn("_sv", F.coalesce("_sv", F.lit(0)))
    )
    cut_edges = classified.where(F.col("_su") != F.col("_sv")).select("u", "v", "cap")
    cut_value = cut_edges.agg(F.coalesce(F.sum("cap"), F.lit(0))).first()[0]
    certified = int(cut_value) == int(res.value)
    assert certified, (
        f"cut capacity {cut_value} != max-flow value {res.value} — "
        "duality violated, flow or reachability is wrong"
    )
    return MinCutResult(
        value=int(cut_value),
        cut_edges=cut_edges,
        s_side=s_side,
        flow=res,
        certified=certified,
    )

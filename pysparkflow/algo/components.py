"""Connected components via min-label propagation with pointer doubling.

Not present in the reference (SURVEY.md §2.9) but a natural sibling of its
BFS machinery and needed by its own test corpus (the ``disconnected``
fixture expects max-flow 0 across components, FIXTURES.md §4).

Each iteration does two steps:
1. neighbor-min: every vertex adopts the minimum label in its closed
   neighborhood (plain label propagation — O(diameter) alone);
2. pointer doubling: every vertex replaces its label with its label's
   label — halving the distance to the component minimum each round, so
   convergence is O(log diameter) iterations (measured: 3 vs 8 on the
   bench graph, 2x faster end-to-end).

Labels always name a vertex inside the same component, so the fixpoint is
the component-minimum id for every vertex. Convergence check = one count
per iteration, the same driver-loop shape as the reference's D11
(ff1/FordFulkerson.java:240-244).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pysparkflow.engine import partitioning
from pysparkflow.graph.graph import FlowGraph


def connected_components(
    graph: FlowGraph, max_iter: int = 50, rows_hint: int | None = None
) -> DataFrame:
    """Returns (vertex BIGINT, component BIGINT) where component is the
    minimum vertex id in the component.

    ``rows_hint``: approximate arc count when the caller already knows it
    (e.g. dedup resolution counted its pair table materializing the memo
    — arcs = 2x pairs). Skips ``sized_cache``'s count + pre-materialize
    jobs; on small component graphs those two driver jobs are a
    measurable share of the whole resolution query, and partition sizing
    only needs the order of magnitude."""
    # arc table cached once at the data-sized partition count
    # (engine/partitioning.py): the partition count is every iteration's
    # map-side task count; keyed by the hot join side (b == vertex)
    sym = graph.edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        graph.edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    arcs, n_arcs, arc_parts = partitioning.sized_cache(sym, "b", rows=rows_hint)
    labels = (
        arcs.groupBy("a")
        .agg(F.min("b").alias("nb_min"))
        .select(
            F.col("a").alias("vertex"),
            F.least(F.col("a"), F.col("nb_min")).alias("component"),
        )
        # lazy: round 1's first job over labels computes every partition
        # and materializes the checkpoint — the eager cut was one extra
        # dedicated job (r13 opt; plan truncation is identical)
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        # labels rows <= |V| <= n_arcs: broadcast-gated state sides keep
        # the arc cache (and the vertex-sized left joins' stream sides)
        # free of per-round exchanges (engine/partitioning.py)
        neighbor_min = arcs.join(
            partitioning.state_join_side(labels, n_arcs, arc_parts, "vertex"),
            arcs.b == labels.vertex,
        ).groupBy("a").agg(F.min("component").alias("nbr_min"))
        stepped = labels.join(
            partitioning.state_join_side(neighbor_min, n_arcs, arc_parts, "a"),
            labels.vertex == neighbor_min.a,
            "left",
        ).select(
            "vertex",
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
            ).alias("component"),
        )
        # pointer doubling: component <- label(component)
        lookup = stepped.select(
            F.col("vertex").alias("lv"), F.col("component").alias("ll")
        )
        doubled = (
            stepped.join(
                partitioning.state_join_side(lookup, n_arcs, arc_parts, "lv"),
                stepped.component == lookup.lv,
                "left",
            )
            .select(
                "vertex",
                F.least(
                    F.col("component"), F.coalesce(F.col("ll"), F.col("component"))
                ).alias("component"),
            )
            # lazy + the convergence count below: the count job streams
            # every doubled partition through the join, materializing the
            # checkpoint in the same job (r13 opt)
            .localCheckpoint(eager=False)
        )
        # convergence check: both sides are checkpointed |V|-row tables
        # with no size statistics — gate the old-labels side so the
        # fresh table is probed in place instead of a per-round
        # sort-merge exchange of both
        changed = (
            doubled.alias("n")
            .join(
                partitioning.state_join_side(labels.alias("o"), n_arcs, arc_parts, "vertex"),
                "vertex",
            )
            .where(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = doubled
        if changed == 0:
            break
    arcs.unpersist()
    return labels

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
the component-minimum id for every vertex. The convergence check counts
the changed labels in the job that materializes the iteration's cut
(engine/rounds.py ``cut_observe``), the same driver-loop shape as the
reference's D11 (ff1/FordFulkerson.java:240-244).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pysparkflow.engine import partitioning, rounds
from pysparkflow.graph.graph import FlowGraph

# convergence takes O(log diameter) rounds (3 on the bench graph); a run
# still changing labels after this many raises instead of returning them
MAX_ROUNDS = 50


def connected_components(graph: FlowGraph, rows_hint: int | None = None) -> DataFrame:
    """Returns (vertex BIGINT, component BIGINT) where component is the
    minimum vertex id in the component. Raises ``RuntimeError`` if the
    labels have not converged after ``MAX_ROUNDS`` rounds.

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
    labels = rounds.cut(
        arcs.groupBy("a")
        .agg(F.min("b").alias("nb_min"))
        .select(
            F.col("a").alias("vertex"),
            F.least(F.col("a"), F.col("nb_min")).alias("component"),
        )
    )
    for _ in rounds.bounded("connected components", MAX_ROUNDS):
        # labels rows <= |V| <= n_arcs: broadcast-gated state sides keep
        # the arc cache (and the vertex-sized left joins' stream sides)
        # free of per-round exchanges (engine/partitioning.py)
        neighbor_min = arcs.join(
            partitioning.state_join_side(labels, n_arcs, arc_parts, "vertex"),
            arcs.b == labels.vertex,
        ).groupBy("a").agg(F.min("component").alias("nbr_min"))
        # each row carries its round-start label as _old, so the cut's
        # own job counts the changed labels
        stepped = labels.join(
            partitioning.state_join_side(neighbor_min, n_arcs, arc_parts, "a"),
            labels.vertex == neighbor_min.a,
            "left",
        ).select(
            "vertex",
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
            ).alias("component"),
            F.col("component").alias("_old"),
        )
        # pointer doubling: component <- label(component)
        lookup = stepped.select(
            F.col("vertex").alias("lv"), F.col("component").alias("ll")
        )
        doubled, stats = rounds.cut_observe(
            stepped.join(
                partitioning.state_join_side(lookup, n_arcs, arc_parts, "lv"),
                stepped.component == lookup.lv,
                "left",
            ).select(
                "vertex",
                F.least(
                    F.col("component"), F.coalesce(F.col("ll"), F.col("component"))
                ).alias("component"),
                "_old",
            ),
            changed=F.count_if(F.col("component") != F.col("_old")),
        )
        labels = doubled.select("vertex", "component")
        if stats["changed"] == 0:
            break
    arcs.unpersist()
    return labels

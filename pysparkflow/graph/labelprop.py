"""Synchronous label propagation (community detection).

The cheapest useful community detector at scale: every vertex adopts the
most frequent label among its neighbors each round (ties broken by the
smallest label, making the whole run deterministic), for a FIXED number
of synchronous rounds — the bounded-round discipline of the engine's
other iterative operators (pagerank, bounded_sssp), which keeps the run
replayable as unrolled SQL and sidesteps synchronous LPA's oscillation
pathology (no convergence test, so two-coloring flip-flops can't hang
the driver).

Per-round dataflow (the schimmy shape — the graph never reshuffles):

    msgs    = arcs ⋈ labels on src        -- arcs cached once
    counts  = msgs groupBy (dst, label)   -- combiner-collapsed
    labels  = counts groupBy dst: max (count, -label) struct — a second
              combiner-friendly aggregate over label-cardinality rows
              (max count, ties to the smallest label), replacing the
              earlier per-vertex window sort (no per-partition sort, and
              partial aggregation halves what reaches the exchange)

Reference analogue: the per-round vertex-state merge discipline of the
max-flow core (SURVEY §2.2 D5, ff1/ReduceFF min-merge), applied to a
mode-merge instead of a min-merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pysparkflow.engine import partitioning
from pysparkflow.engine.rounds import unrolled
from pysparkflow.graph.graph import vertex_coverage


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Labels after ``rounds`` synchronous mode-adoption rounds over the
    directed edge list (pass both directions for an undirected graph).
    Initial label = vertex id; a vertex with no inbound messages keeps
    its current label (so the output always covers every vertex).
    Every vertex must appear as a source, and this is always checked:
    destination-only vertices would otherwise be silently absent from
    the output — misuse raises ``ValueError`` (same discipline as
    algo/pagerank.py).

    The check reads graph.vertex_coverage, one job over the arc cache.
    The same job tells whether every vertex has an in-arc (always so
    when both directions were passed); if so, each round skips the
    keep-old-label left join, because the message aggregate already
    covers every vertex. Otherwise a round reads ``labels`` twice, so
    lineage is cut every round (engine/rounds.py). Returns
    (vertex, label)."""
    # tracked cache: the returned lazy labels plan still scans arcs, so
    # release is the caller's (engine/cache.release_tracked) after
    # consume. Cached ONCE at the data-sized partition count
    # (engine/partitioning.py — the partition count is every round's
    # map-side task count; sized_cache avoids computing the edge plan
    # twice for count + cache).
    arcs, n_arcs, arc_parts = partitioning.sized_cache(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")), "u"
    )
    verts, stats = vertex_coverage(arcs)
    if stats["no_out"]:
        raise ValueError(
            f"label_propagation requires every vertex to appear as a "
            f"source; {stats['no_out']} vertices appear only as destinations "
            f"(pass both edge directions for an undirected graph)"
        )

    def step(labels: DataFrame) -> DataFrame:
        # labels rows <= |V| <= n_arcs: broadcast-gated state side so the
        # arc cache is never exchanged/sorted per round
        # (engine/partitioning.py state_join_side)
        msgs = arcs.join(
            partitioning.state_join_side(
                labels.withColumnRenamed("vertex", "u"), n_arcs, arc_parts, "u"
            ),
            "u",
        )
        counts = msgs.groupBy(F.col("v").alias("vertex"), "label").agg(
            F.count("*").alias("c")
        )
        # winner per vertex = max (count, -label): largest count, ties
        # to the smallest label — an ordinary combiner-friendly struct
        # max instead of a per-vertex window sort
        new = counts.groupBy("vertex").agg(
            (-F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl")))["nl"])
            .alias("_new")
        )
        if not stats["no_in"]:
            return new.select("vertex", F.col("_new").alias("label"))
        # message-less vertices keep their label (no silent shrink on
        # graphs where some vertex receives nothing this round); the
        # winner table (<= |V| <= n_arcs rows) is broadcast-gated so
        # the cut (statless) labels side is probed in place
        return labels.join(
            partitioning.state_join_side(new, n_arcs, arc_parts, "vertex"),
            "vertex",
            "left",
        ).select("vertex", F.coalesce("_new", "label").alias("label"))

    labels = verts.select("vertex", F.col("vertex").alias("label"))
    return unrolled(labels, step, rounds)


def community_sizes(labels: DataFrame) -> DataFrame:
    """Community size distribution from a (vertex, label) table."""
    return labels.groupBy("label").agg(F.count("*").alias("n_members"))

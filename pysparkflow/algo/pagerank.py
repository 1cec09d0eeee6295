"""PageRank over a symmetric edge table — the engine's second iterative
rank/propagation algorithm beside max-flow, BFS, and connected components.

The reference's iteration discipline applies directly (SURVEY.md §3.3):
a driver loop over a fixed-point dataflow round, the static edge table
never reshuffled (schimmy, D13), per-round lineage cut. PageRank's round
is one join + one keyed aggregation:

    r_{i+1}(v) = (1-d)/N + d * sum_{u->v} r_i(u) / outdeg(u)

Determinism: given a fixed iteration count the result is a pure function
of the graph — no randomness — so the DuckDB oracle can replay the exact
computation by unrolling the iterations into CTEs (registry builds that
SQL programmatically). Rank sums are floating-point; both engines sum
doubles whose round-off differences are ~1e-16 relative, far below the
rounding used for comparison.

Scale shape (100 TB): the edge table with per-source out-degree attached
is computed ONCE and cached, hash-partitioned by src; each iteration
shuffles only the (vertex, rank) table — |V| rows, orders of magnitude
below |E| — into the join, and the aggregation combiner reduces map-side.
Lineage is cut per round by engine/rounds.py (the reference's
file-per-round, D11).
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pysparkflow.engine import partitioning, rounds
from pysparkflow.engine.cache import track
from pysparkflow.graph.graph import vertex_coverage


def _outdegree_arcs(
    edges: DataFrame, src: str, dst: str, who: str, seeds: Iterable[int] = ()
) -> tuple[DataFrame, DataFrame, dict, int]:
    """(arcs, verts, stats, arc_parts) shared by both rankers. The edge
    plan is cached ONCE at the data-sized partition count (see
    engine/partitioning.py; the arc table's partition count is every
    round's map-side task count, measured 2x at local sf0.1) — the
    outdegree agg and the arc join both read the cache, and since e is
    hash-partitioned on u, neither needs a further exchange. ``arcs``
    (edges with outdegree attached) is a tracked cache: the returned
    lazy ranks plan still scans it, so the caller releases it via
    engine/cache.release_tracked after consuming.

    ``verts`` and ``stats`` come from graph.vertex_coverage over
    ``arcs``, whose one job also materializes the arc cache. Raises when
    a vertex has no out-arc: it would otherwise be silently dropped with
    its rank mass leaking."""
    e, n_edges, arc_parts = partitioning.sized_cache(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")), "u"
    )
    deg = e.groupBy("u").agg(F.count("*").alias("outdeg"))
    # the degree side (<= n_edges rows) is broadcast-gated: the aggregate
    # output otherwise re-exchanges and Catalyst sort-merge-joins it
    # against the edge cache — one avoidable |E|-sort per query at build
    arcs = track(
        e.join(partitioning.state_join_side(deg, n_edges, arc_parts, "u"), "u")
    )
    verts, stats = vertex_coverage(arcs, seeds)
    e.unpersist()  # rounds scan arcs; the raw edge cache is done
    if stats["no_out"]:
        raise ValueError(
            f"{who} requires outdegree >= 1 for every vertex; "
            f"{stats['no_out']} vertices appear only as destinations "
            f"(symmetrize the graph or add self-loops)"
        )
    return arcs, verts, stats, arc_parts


def _rank_rounds(
    arcs: DataFrame,
    verts: DataFrame,
    stats: dict,
    arc_parts: int,
    ranks: DataFrame,
    restart: Column,
    damping: float,
    iterations: int,
) -> DataFrame:
    """The power-iteration rounds both rankers share; they differ only in
    the starting ``ranks`` and the ``restart`` term."""

    def step(ranks: DataFrame) -> DataFrame:
        # state_join_side: broadcast the |V|-row rank table (or
        # co-partition it above the gate) so the cached arcs are never
        # exchanged or sorted per round — the schimmy promise made
        # physical (engine/partitioning.py)
        contrib = (
            arcs.join(
                partitioning.state_join_side(
                    ranks.withColumnRenamed("vertex", "u"),
                    stats["n"],
                    arc_parts,
                    "u",
                ),
                "u",
            )
            .groupBy(F.col("v").alias("vertex"))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("mass"))
        )
        if not stats["no_in"]:
            # the aggregate's key set is already all of verts
            return contrib.select(
                "vertex",
                (restart + F.lit(damping) * F.col("mass")).alias("rank"),
            )
        # vertices with no inbound arcs keep only the restart term
        return verts.join(contrib, "vertex", "left").select(
            "vertex",
            (restart + F.lit(damping) * F.coalesce("mass", F.lit(0.0))).alias("rank"),
        )

    return rounds.unrolled(ranks, step, iterations)


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Ranks after ``iterations`` synchronous rounds on the directed
    edge list. Every vertex must have outdegree >= 1 (true for any
    symmetrized undirected graph — pass both directions); dangling-mass
    redistribution is deliberately out of scope so the oracle replay
    stays one join + one aggregate per round. The precondition is
    always checked: a vertex with outdegree 0 would otherwise be
    silently dropped from the output with its rank mass leaking —
    misuse raises ``ValueError`` instead.

    The check reads graph.vertex_coverage, one job that also
    materializes the arc cache. The same job tells whether every vertex
    has an in-arc (always so on a symmetrized graph); if so, each round
    skips the vertex-completion left join, because the aggregate
    already emits every vertex. Otherwise the join keeps the vertices
    without in-arcs at the restart term.
    An empty edge table gives an empty result. Lineage is cut per round
    (engine/rounds.py). Returns (vertex, rank)."""
    arcs, verts, stats, arc_parts = _outdegree_arcs(edges, src, dst, "pagerank")
    # an empty graph has no ranks to scale, so any positive n leaves its
    # (empty) result alone
    n = max(stats["n"], 1)
    ranks = verts.select("vertex", (F.lit(1.0) / n).alias("rank"))
    return _rank_rounds(
        arcs,
        verts,
        stats,
        arc_parts,
        ranks,
        F.lit((1.0 - damping) / n),
        damping,
        iterations,
    )


def personalized_pagerank(
    edges: DataFrame,
    sources: list[int],
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Personalized PageRank: the restart mass (1 - damping) lands on
    the ``sources`` set (uniformly) instead of on every vertex — ranks
    become proximity scores to the seed set, the standard
    related-items / local-community primitive. Same per-round dataflow
    as ``pagerank`` (one cached-arc join + one vertex-scale aggregate);
    the only change is the restart vector, so the unrolled-CTE oracle
    replay differs by one CASE expression. Requires outdegree >= 1
    and every seed present in the graph — both always checked, off
    ``pagerank``'s one coverage job: a sink vertex or an absent seed
    would otherwise silently leak restart mass and scale every score
    wrong, so either raises ``ValueError``. The vertex-completion join
    is elided exactly as in ``pagerank``. Returns (vertex, rank)."""
    if not sources:
        raise ValueError("personalized_pagerank needs a non-empty source set")
    seeds = [int(s) for s in sources]
    arcs, verts, stats, arc_parts = _outdegree_arcs(
        edges, src, dst, "personalized_pagerank", seeds
    )
    n_seeds = len(set(seeds))
    if stats["seeds"] != n_seeds:
        raise ValueError(
            f"{n_seeds - stats['seeds']} of {n_seeds} seeds "
            f"are not vertices of the graph — their restart mass "
            f"would silently disappear"
        )
    restart = F.when(
        F.col("vertex").isin(seeds), F.lit((1.0 - damping) / len(seeds))
    ).otherwise(F.lit(0.0))
    # start from the restart vector itself (the t=0 walk distribution)
    ranks = verts.select("vertex", restart.alias("rank"))
    return _rank_rounds(
        arcs, verts, stats, arc_parts, ranks, restart, damping, iterations
    )

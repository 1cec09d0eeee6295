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
``localCheckpoint`` every few rounds keeps the plan from growing with the
iteration count (the reference's file-per-round, D11).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pysparkflow.engine import partitioning
from pysparkflow.engine.cache import track


def _outdegree_arcs(
    edges: DataFrame, src: str, dst: str, validate: bool, who: str
) -> tuple[DataFrame, DataFrame, DataFrame, int, int]:
    """(e, arcs, verts, n_edges, arc_parts) shared by both rankers. The
    edge plan is cached ONCE at the data-sized partition count (see
    engine/partitioning.py; the arc table's partition count is every
    round's map-side task count, measured 2x at local sf0.1) — the
    outdegree agg and the arc join both read the cache, and since e is
    hash-partitioned on u, neither needs a further exchange. ``arcs``
    (edges with outdegree attached) and ``verts`` are tracked caches:
    the returned lazy ranks plan still scans them, so the caller
    releases them via engine/cache.release_tracked after consuming.

    ``validate`` checks the outdegree >= 1 precondition: a sink vertex
    would otherwise be silently dropped with its rank mass leaking."""
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
    verts = track(arcs.select(F.col("u").alias("vertex")).distinct())
    if validate:
        n_sinks = (
            e.select(F.col("v").alias("vertex"))
            .distinct()
            .join(verts, "vertex", "left_anti")
            .count()
        )
        if n_sinks:
            raise ValueError(
                f"{who} requires outdegree >= 1 for every vertex; "
                f"{n_sinks} vertices appear only as destinations "
                f"(symmetrize the graph or add self-loops)"
            )
    return e, arcs, verts, n_edges, arc_parts


def _rank_rounds(
    arcs: DataFrame,
    verts: DataFrame,
    ranks: DataFrame,
    restart: Column,
    damping: float,
    iterations: int,
    upper_rows: int,
    arc_parts: int,
    checkpoint_every: int,
    indegree_complete: bool,
) -> DataFrame:
    """The power-iteration rounds both rankers share; they differ only in
    the ``restart`` term and the gate bound ``upper_rows`` on |V|."""
    for i in range(iterations):
        # state_join_side: broadcast the |V|-row rank table (or
        # co-partition it above the gate) so the cached arcs are never
        # exchanged or sorted per round — the schimmy promise made
        # physical (engine/partitioning.py)
        contrib = (
            arcs.join(
                partitioning.state_join_side(
                    ranks.withColumnRenamed("vertex", "u"),
                    upper_rows,
                    arc_parts,
                    "u",
                ),
                "u",
            )
            .groupBy(F.col("v").alias("vertex"))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("mass"))
        )
        if indegree_complete:
            # the aggregate's key set is already all of verts
            ranks = contrib.select(
                "vertex",
                (restart + F.lit(damping) * F.col("mass")).alias("rank"),
            )
        else:
            # vertices with no inbound arcs keep only the restart term
            ranks = verts.join(contrib, "vertex", "left").select(
                "vertex",
                (
                    restart + F.lit(damping) * F.coalesce("mass", F.lit(0.0))
                ).alias("rank"),
            )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            # lazy: plan truncation is immediate; the CALLER's first full
            # action materializes the chain of lazy checkpoints (rounds
            # run no per-round action here — a partial action like
            # take/limit recomputes unmaterialized partitions until a
            # full pass runs). No dedicated cut job (r13 opt, ADVICE r13)
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 5,
    validate: bool = True,
    indegree_complete: bool = False,
) -> DataFrame:
    """Ranks after ``iterations`` synchronous rounds on the directed
    edge list. Every vertex must have outdegree >= 1 (true for any
    symmetrized undirected graph — pass both directions); dangling-mass
    redistribution is deliberately out of scope so the oracle replay
    stays one join + one aggregate per round. The precondition is
    CHECKED (``validate=True``): a directed input with sink vertices
    (outdegree 0) would otherwise be silently dropped from the output
    with their rank mass leaking — misuse raises instead. One extra
    vertex-scale anti-join job; disable for hot repeated calls on
    known-symmetric graphs.

    ``indegree_complete=True`` asserts every vertex also has indegree
    >= 1 (automatic on a symmetrized graph: each out-arc has a reverse
    in-arc), letting each round skip the vertex-completion left join —
    the aggregate already emits every vertex, so the join is an
    identity costing one sort-merge stage per round (VERDICT r5 #5,
    the iterative scheduler floor). Semantics are unchanged where the
    precondition holds; leave False for general directed inputs.
    Returns (vertex, rank)."""
    e, arcs, verts, _, arc_parts = _outdegree_arcs(
        edges, src, dst, validate, "pagerank"
    )
    n = verts.count()  # materializes arcs/verts from e's cache
    e.unpersist()  # rounds scan arcs; the raw edge cache is done
    ranks = verts.select("vertex", (F.lit(1.0) / n).alias("rank"))
    return _rank_rounds(
        arcs,
        verts,
        ranks,
        F.lit((1.0 - damping) / n),
        damping,
        iterations,
        n,
        arc_parts,
        checkpoint_every,
        indegree_complete,
    )


def personalized_pagerank(
    edges: DataFrame,
    sources: list[int],
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 5,
    validate: bool = True,
    indegree_complete: bool = False,
) -> DataFrame:
    """Personalized PageRank: the restart mass (1 - damping) lands on
    the ``sources`` set (uniformly) instead of on every vertex — ranks
    become proximity scores to the seed set, the standard
    related-items / local-community primitive. Same per-round dataflow
    as ``pagerank`` (one cached-arc join + one vertex-scale aggregate);
    the only change is the restart vector, so the unrolled-CTE oracle
    replay differs by one CASE expression. Requires outdegree >= 1
    and every seed present in the graph — both CHECKED
    (``validate=True``): a sink vertex or an absent seed would
    otherwise silently leak restart mass and scale every score wrong.
    ``indegree_complete=True``: same identity-join elision as
    ``pagerank`` for symmetrized graphs (see there).
    Returns (vertex, rank)."""
    if not sources:
        raise ValueError("personalized_pagerank needs a non-empty source set")
    _, arcs, verts, n_edges, arc_parts = _outdegree_arcs(
        edges, src, dst, validate, "personalized_pagerank"
    )
    seeds = [int(s) for s in sources]
    if validate:
        n_seeds = verts.where(F.col("vertex").isin(seeds)).count()
        if n_seeds != len(set(seeds)):
            raise ValueError(
                f"{len(set(seeds)) - n_seeds} of {len(set(seeds))} seeds "
                f"are not vertices of the graph — their restart mass "
                f"would silently disappear"
            )
    restart = F.when(
        F.col("vertex").isin(seeds), F.lit((1.0 - damping) / len(seeds))
    ).otherwise(F.lit(0.0))
    # start from the restart vector itself (the t=0 walk distribution)
    ranks = verts.select("vertex", restart.alias("rank"))
    # |V| <= n_edges (every vertex has outdegree >= 1): a safe gate bound
    return _rank_rounds(
        arcs,
        verts,
        ranks,
        restart,
        damping,
        iterations,
        n_edges,
        arc_parts,
        checkpoint_every,
        indegree_complete,
    )

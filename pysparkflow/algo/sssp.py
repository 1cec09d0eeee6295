"""Bounded-hop weighted single-source shortest paths (Bellman-Ford
rounds as dataflow).

Extends the BFS family (algo/bfs.py, B1-B4 — unweighted hop distance) to
positive edge weights: after ``max_hops`` synchronous relaxation rounds
the result is the exact cheapest cost over paths of at most ``max_hops``
edges — the classic Bellman-Ford invariant. On graphs whose weighted
shortest paths use few hops (small-world graphs, the reference's domain)
a small bound already yields the true distances; the bound is also a
feature in itself (bounded-hop reachability cost, e.g. "cheapest route
within 4 legs").

Round dataflow mirrors the reference's iteration discipline (SURVEY §3.3):

    cand_{i+1}(v) = min over arcs (u,v) of dist_i(u) + w(u,v)
    dist_{i+1}(v) = min(dist_i(v), cand_{i+1}(v))

one join + one keyed min-aggregation per round — exactly D4/D5's
join-extend + merge shape with min() instead of path concatenation.
Deterministic (no randomness, min is order-free), so the DuckDB oracle
replays the identical rounds as unrolled CTEs.

Scale shape: the static arc table is cached once and never reshuffled
(schimmy, D13); each round shuffles only the frontier-sized dist table.
Unlike the excess-path frontier, dist rows are one scalar per vertex —
state is O(|V|) regardless of round count. Lineage is cut per round by
engine/rounds.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pysparkflow.engine import partitioning, rounds


def bounded_sssp(
    edges: DataFrame,
    sources: list[int],
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Cheapest path cost from any of ``sources`` using at most
    ``max_hops`` edges; unreached vertices are absent. Weights must be
    non-negative. Returns (vertex, dist).

    Each round reads ``dist`` twice (the union and the join), so its
    lineage is cut every round (engine/rounds.py): an uncut plan would
    recompute the state once per read.

    The returned lazy plan still scans the cached arc table: release it
    with ``engine.cache.release_tracked`` once the result is consumed."""
    # arc table cached once at the data-sized partition count
    # (engine/partitioning.py): the partition count is every round's
    # map-side task count; sized_cache avoids computing the edge plan
    # twice for count + cache
    arcs, n_arcs, arc_parts = partitioning.sized_cache(
        edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v"), F.col(weight).alias("w")
        ),
        "u",
    )
    spark = edges.sparkSession
    dist = spark.createDataFrame(
        [(int(s), 0.0) for s in sources], "vertex long, dist double"
    )

    def step(dist: DataFrame) -> DataFrame:
        # candidate rows stay un-aggregated: min(dist, min(cand)) ==
        # min over the union, so one groupBy replaces the former
        # per-round pre-aggregation + merge pair (one shuffle saved per
        # round; map-side partial agg still combines before the exchange)
        # dist rows <= |V| <= n_arcs: state_join_side broadcasts (or
        # co-partitions) the dist side so the arc cache never reshuffles
        # (engine/partitioning.py)
        cand = arcs.join(
            partitioning.state_join_side(
                dist.withColumnRenamed("vertex", "u"), n_arcs, arc_parts, "u"
            ),
            "u",
        ).select(
            F.col("v").alias("vertex"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        return dist.unionByName(cand).groupBy("vertex").agg(F.min("dist").alias("dist"))

    return rounds.unrolled(dist, step, max_hops)

"""Multi-source BFS hop distances — the reference's second query type
(bfs/bfs.java, SURVEY.md §2.3).

Semantics mirror bfs/bfs.java: a virtual root is connected to all query
sources (bfs/bfs.java:69-72) with distance(root)=0, so distance(source)=1;
unreached vertices are absent from the result (the reference's MAX_DIST
sentinel, bfs/bfs.java:228-231). The per-round MapReduce job (map: frontier
emits distance+1 to neighbors, bfs/bfs.java:88-108; reduce: keep min
distance, :110-140) becomes frontier ⋈ edges + anti-join against the last
two frontiers (sufficient on an undirected graph — see the invariant note
in ``bfs_distances``) — only the frontier shuffles, the adjacency table
stays cached (ff3 schimmy lesson). Termination (bfs/bfs.java:218-222, "no
new visits") = empty frontier.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pysparkflow.engine import partitioning
from pysparkflow.graph.graph import FlowGraph


def bfs_distances(
    graph: FlowGraph,
    sources: Iterable[int],
    max_depth: int | None = None,
) -> DataFrame:
    """Hop distances from the source set. Returns (vertex BIGINT,
    distance INT) for every reached vertex; distance(source)=1."""
    spark = graph.spark
    # the doubled arc view is cached once at the data-sized partition
    # count (one materialization; engine/partitioning.py — the partition
    # count is every round's map-side task count); every round's
    # frontier join streams the in-memory columnar cache — the graph is
    # never shuffled again (ff3 schimmy lesson)
    sym = graph.edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        graph.edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    arcs, n_arcs, arc_parts = partitioning.sized_cache(sym, "src")
    src_rows = [(int(x),) for x in dict.fromkeys(int(x) for x in sources)]
    # localCheckpoint per round: materializes AND truncates lineage so
    # planning cost stays flat across rounds (SURVEY.md §7.3)
    frontier = spark.createDataFrame(src_rows, "vertex long").localCheckpoint()
    levels: list[DataFrame] = [
        frontier.withColumn("distance", F.lit(1).cast("int"))
    ]
    # Undirected-BFS frontier invariant: a neighbor of a level-d vertex has
    # level in {d-1, d, d+1} (arcs are symmetric), so pruning already-seen
    # vertices only needs the CURRENT and PREVIOUS frontiers — never the
    # full visited set. Per-round anti-join work is O(|F_d| + |F_{d-1}|)
    # instead of O(all reached): at a 100x scale-up with a larger diameter
    # the old re-union of every prior level is the dominant scan.
    prev = frontier.where(F.lit(False)).localCheckpoint()
    dist = 1
    while True:
        if max_depth is not None and dist >= max_depth:
            break
        seen_nearby = frontier.unionAll(prev)
        # frontier rows <= |V| <= n_arcs (and seen = two frontiers):
        # broadcast-gated sides keep the arc cache unshuffled per round
        # (engine/partitioning.py state_join_side) — without the
        # explicit hint the checkpointed frontier's unknown size
        # statistics force a sort-merge join that re-exchanges and
        # re-sorts the cached graph every round
        fr = partitioning.state_join_side(frontier, n_arcs, arc_parts, "vertex")
        nxt = (
            arcs.join(fr, arcs.src == fr.vertex)
            .select(F.col("dst").alias("vertex"))
            .distinct()
            .join(
                partitioning.state_join_side(seen_nearby, 2 * n_arcs, arc_parts, "vertex"),
                "vertex",
                "left_anti",
            )
            # lazy + count: the count job computes every partition, so it
            # materializes the checkpoint itself — one job per round
            # instead of checkpoint-job + count-job (r13 opt, guide §2.6)
            .localCheckpoint(eager=False)
        )
        n = nxt.count()
        if n == 0:
            break
        dist += 1
        levels.append(nxt.withColumn("distance", F.lit(dist).cast("int")))
        prev = frontier
        frontier = nxt
        # high-diameter guard: fold accumulated levels so the final union
        # plan stays shallow even over thousands of rounds (a grid/torus
        # BFS would otherwise build an O(diameter)-deep union tree)
        if len(levels) >= 64:
            merged = levels[0]
            for lv in levels[1:]:
                merged = merged.unionAll(lv)
            # lazy: every level is already a materialized checkpoint, so
            # the fold only needs the PLAN truncated — the final consumer
            # computes the union once; an eager cut here re-copied every
            # accumulated row per fold (r13 opt)
            levels = [merged.localCheckpoint(eager=False)]
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionAll(lv)
    # lazy for the same reason: out unions checkpointed frontiers only
    # (no arc lineage), and the caller's first action materializes it —
    # the eager job was a pure extra pass over the result
    out = out.localCheckpoint(eager=False)
    arcs.unpersist()
    return out

"""k-core extraction by iterative peeling.

The k-core of an undirected graph is the maximal subgraph in which every
vertex has degree >= k — the standard dense-substructure primitive
(community cores, spam/bot rings, robust-connectivity filtering).

Peeling round: drop every vertex whose degree in the CURRENT subgraph is
below k, remove its edges, repeat until stable. Each round is one
degree aggregation + one semi-join against the surviving vertex set —
the same join-extend/merge dataflow as the engine's other iterative
operators (SURVEY §3.3), with monotonically SHRINKING state: the edge
table only loses rows, so round cost decreases as peeling progresses.

Peeling is monotone and confluent: once no vertex is below k, further
rounds are no-ops — running R >= rounds-to-convergence rounds yields the
same result for any R, which is what lets the DuckDB oracle replay a
FIXED unroll of R rounds while the engine iterates to convergence (the
registry entry asserts convergence within the unrolled horizon).

Scale shape: degrees are a combiner-friendly aggregation over the edge
list; the per-round semi-joins shuffle the shrinking edge table by
endpoint. At 100 TB the first rounds dominate; lineage is cut with
localCheckpoint on a cadence so the loop depth never accretes plan cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pysparkflow.engine import partitioning
from pysparkflow.graph.triangles import canonical_edges


def kcore_vertices(
    edges: DataFrame,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
) -> DataFrame:
    """Vertices of the k-core. Converges in at most |V| rounds; raises
    if ``max_rounds`` is hit while still unstable (callers choosing a
    replay horizon need the guarantee, not a silent partial peel).
    Returns (vertex,). Deterministic — pure function of the graph.
    Lineage truncates every round (see the loop comment — a peel
    round's plan references the edge table three times, so anything
    less than per-round truncation grows the plan tree 3^rounds)."""
    # edge table cached once at the data-sized partition count
    # (engine/partitioning.py): the partition count is every peel
    # round's map-side task count; sized_cache avoids computing the
    # canonicalize shuffle twice for count + cache. The returned count
    # is carried across rounds: this round's n_before IS last round's
    # n_after, so no per-round recount.
    e, n_before, arc_parts = partitioning.sized_cache(
        canonical_edges(edges, src, dst), "a"
    )
    rounds = 0
    while True:
        deg = (
            e.select(F.col("a").alias("v"))
            .unionAll(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.where(F.col("deg") >= k).select("v").persist()
        # surviving vertices <= 2 * surviving edges (each edge holds 2
        # endpoints), so the broadcast gate bound is driver-known from
        # last round's convergence count. Without the explicit hint the
        # persisted keep set has no size statistics and both per-round
        # semi-joins plan sort-merge — re-exchanging and re-sorting the
        # (checkpointed) edge table twice per peel round
        # (engine/partitioning.py state_join_side, guide §2.4/§3.1).
        ka = partitioning.state_join_side(
            keep.select(F.col("v").alias("a")), 2 * n_before, arc_parts, "a"
        )
        kb = partitioning.state_join_side(
            keep.select(F.col("v").alias("b")), 2 * n_before, arc_parts, "b"
        )
        # localCheckpoint EVERY round, not persist + an occasional cut:
        # each round's plan references e THREE times (deg + both semi
        # joins), so the lineage tree grows 3^rounds — persist bounds
        # re-execution but not plan-tree size, and AQE's plan-string
        # rendering of a deep peel OOM'd the driver (seen at round ~4
        # on a loaded heap). The round materializes anyway for the
        # convergence count, so truncation here is nearly free.
        # lazy + count below: the convergence count computes every
        # partition, materializing the checkpoint in the same job
        # (was checkpoint-job + count-job; r13 opt)
        e2 = (
            e.join(ka, "a", "left_semi")
            .join(kb, "b", "left_semi")
            .localCheckpoint(eager=False)
        )
        # stable iff no edge was dropped (vertex counts can't change
        # without edge counts changing)
        n_after = e2.count()
        e.unpersist()
        rounds += 1
        e = e2
        if n_after == n_before:
            keep.unpersist()
            break
        keep.unpersist()
        n_before = n_after
        if rounds >= max_rounds:
            raise RuntimeError(f"k-core did not stabilize in {max_rounds} rounds")
    out = (
        e.select(F.col("a").alias("vertex"))
        .unionAll(e.select(F.col("b").alias("vertex")))
        .distinct()
    )
    return out

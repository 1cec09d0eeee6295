"""1M+-vertex scale evidence with *analytic* oracles (SCALING.md).

The reference's biggest run was N=5,119,685 (run:42) with no recorded
runtime; NetworkX can't verify graphs this size in reasonable time, so we
use a structured graph whose answers are known in closed form: the
20-dimensional hypercube Q20 (N=1,048,576 vertices, 10,485,760 undirected
unit-capacity edges).

* BFS from vertex 0: distance(v) = popcount(v) + 1 (our distance(source)=1
  convention); per-level counts are binomials C(20, d). Verified fully
  in-engine (a distributed popcount comparison — no driver collect).
* Connected components on Q20 minus all bit-19 edges: exactly two Q19
  components with minima 0 and 2^19. Verified in-engine.
* Max-flow 0 -> 2^20-1: the hypercube Qn is n-edge-connected, so the
  unit-cap max-flow is exactly 20, via 20 edge-disjoint paths of length
  ~20 — a deep bidirectional search over 21M directed residual arcs.
  Conservation/capacity invariants run on the result (validate=True).

Graph generation is map-only and driver-free: vertex i has an edge to
i XOR 2^b for b < 20; emitting only the (bit b of i) == 0 side yields each
canonical u < v edge exactly once — no symmetrize shuffle needed.

Usage: python tools/scale_evidence.py [n_bits]   (default 20)
"""

from __future__ import annotations

import json
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from pysparkflow.algo.bfs import bfs_distances
from pysparkflow.algo.components import connected_components
from pysparkflow.algo.maxflow import MaxFlowConfig, max_flow
from pysparkflow.graph.graph import FlowGraph
from pysparkflow.session import get_spark


def hypercube_edges(spark, n_bits: int, drop_bit: int | None = None):
    """Canonical unit-cap edge table of Q_{n_bits}, map-only."""
    masks = [1 << b for b in range(n_bits) if b != drop_bit]
    ids = spark.range(1 << n_bits).select(F.col("id"))
    return (
        ids.select(
            F.col("id").alias("u"),
            F.explode(F.array(*[F.lit(m).cast("long") for m in masks])).alias("m"),
        )
        .where(F.col("u").bitwiseAND(F.col("m")) == 0)
        .select("u", F.col("u").bitwiseXOR(F.col("m")).alias("v"), F.lit(1).cast("long").alias("cap"))
    )


def main() -> int:
    n_bits = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    n = 1 << n_bits
    spark = get_spark(app_name="pysparkflow-scale")
    out: dict = {"n_vertices": n, "n_edges": n * n_bits // 2}

    # --- BFS ---------------------------------------------------------------
    g = FlowGraph(spark, hypercube_edges(spark, n_bits).persist())
    t0 = time.time()
    dist = bfs_distances(g, [0])
    wrong = dist.where(F.col("distance") != F.bit_count(F.col("vertex")) + 1).count()
    reached = dist.count()
    out["bfs"] = {
        "sec": round(time.time() - t0, 1),
        "reached": reached,
        "wrong_distances": wrong,
    }
    assert wrong == 0, f"{wrong} BFS distances disagree with popcount"
    assert reached == n, (reached, n)
    levels = {r["distance"]: r["count"] for r in dist.groupBy("distance").count().collect()}
    for d in range(n_bits + 1):
        assert levels[d + 1] == math.comb(n_bits, d), (d, levels[d + 1])
    print("[scale] BFS OK", out["bfs"], file=sys.stderr)

    # --- connected components (two Q_{n-1} halves) -------------------------
    g2 = FlowGraph(spark, hypercube_edges(spark, n_bits, drop_bit=n_bits - 1).persist())
    t0 = time.time()
    labels = connected_components(g2)
    half = 1 << (n_bits - 1)
    expected = F.when(F.col("vertex") < half, F.lit(0)).otherwise(F.lit(half))
    cc_wrong = labels.where(F.col("component") != expected).count()
    out["cc"] = {
        "sec": round(time.time() - t0, 1),
        "vertices": labels.count(),
        "wrong_labels": cc_wrong,
    }
    assert cc_wrong == 0
    g2.edges.unpersist()
    print("[scale] CC OK", out["cc"], file=sys.stderr)

    # --- max-flow: Qn is n-edge-connected => value == n_bits ---------------
    t0 = time.time()
    res = max_flow(
        g,
        sources=[0],
        sinks=[n - 1],
        config=MaxFlowConfig(excess_list_max=4, meet_extra_rounds=2, validate=True),
    )
    out["max_flow"] = {
        "sec": round(time.time() - t0, 1),
        "value": res.value,
        "expected": n_bits,
        "phases": res.metrics.phases,
        "rounds": res.metrics.rounds,
        "frontier_rows_max": res.metrics.frontier_rows_max,
        "candidates_seen": res.metrics.candidates_seen,
    }
    assert res.value == n_bits, (res.value, n_bits)
    print("[scale] MAXFLOW OK", out["max_flow"], file=sys.stderr)

    # --- min-cut: duality certificate at scale — cut == flow == n_bits ----
    from pysparkflow.algo.mincut import min_cut

    t0 = time.time()
    cut = min_cut(g, sources=[0], sinks=[n - 1], flow_result=res)
    n_cut_edges = cut.cut_edges.count()
    out["min_cut"] = {
        "sec": round(time.time() - t0, 1),
        "value": cut.value,
        "expected": n_bits,
        "certified": cut.certified,
        "cut_edges": n_cut_edges,
    }
    # Qn: the minimum cut isolates one endpoint's n_bits unit edges
    assert cut.value == n_bits and cut.certified and n_cut_edges == n_bits, out["min_cut"]
    print("[scale] MINCUT OK", out["min_cut"], file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

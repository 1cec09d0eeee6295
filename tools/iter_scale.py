"""Scale evidence with ANALYTIC oracles for the iterative family beyond
the flow engine (SCALING.md): pagerank, label propagation, bounded SSSP,
k-core. Companion to tools/scale_evidence.py (BFS / CC / max-flow on the
hypercube) — same discipline: structured graphs whose answers are known
in closed form, verified IN-ENGINE (distributed comparisons, no driver
collect of results).

* PageRank on the d-regular hypercube Q_d: the uniform vector is a fixed
  point of every round (each vertex receives d contributions of
  (1/N)/d), so rank(v) == 1/N after ANY number of rounds — checked to
  1e-12 per vertex.
* Label propagation on a union of disjoint 8-cliques: round 1 gives
  every member the clique minimum (ties resolve to the smallest label;
  the minimum vertex itself lands on the second-smallest), round 2
  makes the minimum unanimous, and rounds >= 3 are stable — labels must
  equal clique_min exactly.
* Bounded SSSP on Q_d with uniform weight 2.5 (exact in binary FP):
  dist(v) == 2.5 * popcount(v) once max_hops >= d — a weighted
  restatement of the BFS popcount identity.
* k-core (k=7) on the 8-cliques plus a 1000-vertex chain: every clique
  vertex has degree 7 and survives; the chain (degree <= 2) peels in
  one round — the core must be exactly the clique vertices.

Usage: python tools/iter_scale.py [n_bits] [n_cliques]
       (default 14 / 25000 smoke; 20 / 131072 for the real 1M-vertex
       runs — results recorded in SCALING.md)
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from pysparkflow.algo.pagerank import pagerank
from pysparkflow.algo.sssp import bounded_sssp
from pysparkflow.engine.cache import release_tracked
from pysparkflow.graph.kcore import kcore_vertices
from pysparkflow.graph.labelprop import label_propagation
from pysparkflow.session import get_spark

CLIQUE = 8
CHAIN = 1000
W = 2.5  # dyadic — exact under IEEE double


def hypercube_sym(spark, n_bits: int):
    """BOTH directions of every Q_{n_bits} edge (u, v=u^2^b) — map-only."""
    masks = [1 << b for b in range(n_bits)]
    return spark.range(1 << n_bits).select(
        F.col("id").alias("src"),
        F.explode(
            F.array(*[F.lit(m).cast("long") for m in masks])
        ).alias("m"),
    ).select("src", F.col("src").bitwiseXOR(F.col("m")).alias("dst"))


def clique_union(spark, n_cliques: int):
    """Both directions of every edge of n_cliques disjoint 8-cliques —
    vertex v belongs to clique v // 8; map-only via offset explode."""
    offs = F.array(*[F.lit(j) for j in range(CLIQUE)])
    return (
        spark.range(n_cliques * CLIQUE)
        .select(
            F.col("id").alias("src"),
            F.explode(
                F.transform(offs, lambda j: (F.col("id") - F.col("id") % CLIQUE) + j)
            ).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )


def main() -> int:
    n_bits = int(sys.argv[1]) if len(sys.argv) > 1 else 14
    n_cliques = int(sys.argv[2]) if len(sys.argv) > 2 else 25_000
    n = 1 << n_bits
    spark = get_spark(app_name="iter-scale")
    out: dict = {"hypercube_vertices": n, "clique_vertices": n_cliques * CLIQUE}

    # --- pagerank: uniform fixed point on the d-regular hypercube ----------
    t0 = time.time()
    pr = pagerank(hypercube_sym(spark, n_bits), iterations=5)
    bad = pr.where(F.abs(F.col("rank") - 1.0 / n) > 1e-12).count()
    total = pr.count()
    out["pagerank"] = {
        "sec": round(time.time() - t0, 1),
        "vertices": total,
        "off_uniform": bad,
    }
    release_tracked()

    # --- label propagation: clique minima ----------------------------------
    t0 = time.time()
    lp = label_propagation(clique_union(spark, n_cliques), rounds=3)
    wrong = lp.where(
        F.col("label") != F.col("vertex") - F.col("vertex") % CLIQUE
    ).count()
    lp_n = lp.count()
    out["label_prop"] = {
        "sec": round(time.time() - t0, 1),
        "vertices": lp_n,
        "wrong_labels": wrong,
    }
    release_tracked()

    # --- bounded SSSP: weighted popcount identity --------------------------
    t0 = time.time()
    sp = bounded_sssp(
        hypercube_sym(spark, n_bits).withColumn("w", F.lit(W)),
        sources=[0],
        max_hops=n_bits,
    )
    sp_wrong = sp.where(
        F.col("dist") != F.lit(W) * F.bit_count(F.col("vertex"))
    ).count()
    sp_n = sp.count()
    out["sssp"] = {
        "sec": round(time.time() - t0, 1),
        "reached": sp_n,
        "wrong_dists": sp_wrong,
    }

    # --- k-core: cliques survive k=7, the chain peels ----------------------
    base = n_cliques * CLIQUE
    chain = (
        spark.range(base, base + CHAIN - 1)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    )
    kedges = clique_union(spark, n_cliques).unionByName(chain).unionByName(
        chain.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    t0 = time.time()
    core = kcore_vertices(kedges, k=CLIQUE - 1)
    core_n = core.count()
    core_bad = core.where(F.col("vertex") >= base).count()
    out["kcore"] = {
        "sec": round(time.time() - t0, 1),
        "core_vertices": core_n,
        "expected": base,
        "chain_survivors": core_bad,
    }

    ok = (
        bad == 0
        and total == n
        and wrong == 0
        and lp_n == n_cliques * CLIQUE
        and sp_wrong == 0
        and sp_n == n
        and core_n == base
        and core_bad == 0
    )
    out["ok"] = ok
    print(json.dumps(out))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())

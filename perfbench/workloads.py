"""Seeded inputs, queries and independent answer checks for each workload.

Every query drives the public call chain ``pysparkflow.io.read_edgelist``
-> ``graph.FlowGraph`` -> ``algo.*`` on a parquet edge list written during
set-up. Answers are checked against oracles that never touch the engine:
NetworkX max-flow on the same pairs (read back with pyarrow), and closed
forms of the hypercube that hold under every seeded relabelling.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# lineitem: the (l_partkey, l_suppkey) columns of the repo's TPC-H-ish
# sf0.01 lineitem table, 60,000 rows in their original order (2,000 parts,
# 100 suppliers, 51,731 distinct pairs), kept next to this file so a run
# reads nothing outside its checkout. Supplier ids are offset into a
# disjoint id space exactly as the registry's flagship graph does. sf0.01
# is the registry's graded scale; at sf0.1 the NetworkX oracle alone would
# take ~24 s of every run.
LINEITEM_PAIRS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                              "lineitem_sf0.01_pairs.parquet")
SUPPLIER_OFFSET = 1_000_000
# the registry flagship's terminals; the default seed poses them verbatim
FLAGSHIP_SOURCES = [1, 2, 3]
FLAGSHIP_SINKS = [SUPPLIER_OFFSET + 1, SUPPLIER_OFFSET + 2]
DEFAULT_SEED = 0

HYPERCUBE_BITS = 12
PAGERANK_ITERATIONS = 10


@dataclass
class Case:
    """One seeded input: the files a query reads and what it must return."""

    paths: dict[str, str]
    params: dict[str, Any]
    expected: dict[str, Any]


def write_pairs(path: str, src: np.ndarray, dst: np.ndarray) -> str:
    pq.write_table(
        pa.table({"src": src.astype(np.int64), "dst": dst.astype(np.int64)}), path
    )
    return path


# ---------------------------------------------------------------- lineitem


def lineitem_case(seed: int) -> tuple[np.ndarray, np.ndarray, list[int], list[int]]:
    """(part ids, supplier ids, sources, sinks). The seed relabels parts and
    suppliers by seeded permutations, shuffles the rows, and maps the
    flagship terminals through the same relabelling. Every seed thus poses
    the flagship query on an isomorphic graph (same flow value), and the
    default seed poses it verbatim."""
    t = pq.read_table(LINEITEM_PAIRS)
    parts = t.column("l_partkey").to_numpy()
    supps = t.column("l_suppkey").to_numpy()
    part_of = np.arange(int(parts.max()) + 1)
    supp_of = np.arange(int(supps.max()) + 1)
    if seed != DEFAULT_SEED:
        rng = np.random.default_rng(seed)
        part_of = rng.permutation(len(part_of))
        supp_of = rng.permutation(len(supp_of))
        order = rng.permutation(len(parts))
        parts, supps = parts[order], supps[order]
    sources = [int(part_of[p]) for p in FLAGSHIP_SOURCES]
    sinks = [int(supp_of[s - SUPPLIER_OFFSET]) + SUPPLIER_OFFSET for s in FLAGSHIP_SINKS]
    return part_of[parts], supp_of[supps] + SUPPLIER_OFFSET, sources, sinks


def networkx_flow_value(path: str, sources: list[int], sinks: list[int]) -> int:
    """Max-flow value on the unit-capacity undirected pair graph, by
    NetworkX on pairs read with pyarrow (never through the engine).
    Super-terminal edges carry no capacity attribute, i.e. infinite."""
    import networkx as nx
    from networkx.algorithms.flow import edmonds_karp

    t = pq.read_table(path)
    g = nx.Graph()
    g.add_edges_from(
        zip(t.column("src").to_pylist(), t.column("dst").to_pylist()), capacity=1
    )
    g.remove_edges_from(list(nx.selfloop_edges(g)))
    g.add_edges_from(("S", s) for s in sources)
    g.add_edges_from((t_, "T") for t_ in sinks)
    return int(nx.maximum_flow_value(g, "S", "T", flow_func=edmonds_karp))


# --------------------------------------------------------------- hypercube


def relabelling(n_bits: int, seed: int) -> tuple[list[int], int]:
    """A seeded automorphism of Q_n: bit b of a vertex moves to bit
    ``perm[b]``, then the label is XORed with ``mask``."""
    rng = np.random.default_rng(seed)
    perm = [int(b) for b in rng.permutation(n_bits)]
    mask = int(rng.integers(0, 1 << n_bits))
    return perm, mask


def relabel(ids: np.ndarray, perm: list[int], mask: int) -> np.ndarray:
    out = np.zeros_like(ids)
    for b, to in enumerate(perm):
        out |= ((ids >> b) & 1) << to
    return out ^ mask


def hypercube_pairs(
    n_bits: int, seed: int, drop_bit: int | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Edge pairs of Q_n (optionally without the edges along ``drop_bit``,
    an ORIGINAL bit index) under the seeded relabelling, in seeded row order
    and orientation."""
    perm, mask = relabelling(n_bits, seed)
    ids = np.arange(1 << n_bits, dtype=np.int64)
    us, vs = [], []
    for b in range(n_bits):
        if b == drop_bit:
            continue
        low = ids[(ids >> b) & 1 == 0]
        us.append(low)
        vs.append(low | (1 << b))
    u = relabel(np.concatenate(us), perm, mask)
    v = relabel(np.concatenate(vs), perm, mask)
    rng = np.random.default_rng(seed + 1)
    order = rng.permutation(len(u))
    flip = rng.integers(0, 2, len(u)).astype(bool)
    u, v = u[order], v[order]
    return np.where(flip, v, u), np.where(flip, u, v)


def popcount(x: np.ndarray) -> np.ndarray:
    return np.unpackbits(x.astype(">u8").view(np.uint8)).reshape(-1, 64).sum(axis=1)


def hypercube_closed_forms(n_bits: int, seed: int) -> dict[str, Any]:
    """Answers every query on the relabelled hypercube must give: the
    image of vertex 0 is the BFS/flow source, BFS distance is Hamming
    distance + 1, the cut variant splits on the image of the top bit into
    two halves labelled by their minimum id, PageRank on a regular graph
    is uniform, and Q_n is n-edge-connected."""
    perm, mask = relabelling(n_bits, seed)
    n = 1 << n_bits
    return {
        "n_vertices": n,
        "source": mask,
        "antipode": mask ^ (n - 1),
        "cut_bit": perm[n_bits - 1],
        "flow": n_bits,
        "rank": 1.0 / n,
    }


def check_hypercube_analytics(expected: dict, answer: dict) -> list[str]:
    errors = []
    n = expected["n_vertices"]
    dist = answer["bfs"]
    if len(dist) != n:
        errors.append(f"bfs reached {len(dist)} of {n} vertices")
    v = dist["vertex"].to_numpy(np.int64)
    want = popcount(v ^ expected["source"]) + 1
    bad = int((dist["distance"].to_numpy() != want).sum())
    if bad:
        errors.append(f"bfs: {bad} distances differ from popcount(v ^ source) + 1")
    comp = answer["components"]
    if len(comp) != n:
        errors.append(f"components labelled {len(comp)} of {n} vertices")
    v = comp["vertex"].to_numpy(np.int64)
    want = v & (1 << expected["cut_bit"])
    bad = int((comp["component"].to_numpy(np.int64) != want).sum())
    if bad:
        errors.append(f"components: {bad} labels differ from the two halves")
    ranks = answer["pagerank"]
    if len(ranks) != n:
        errors.append(f"pagerank ranked {len(ranks)} of {n} vertices")
    dev = float(np.max(np.abs(ranks["rank"].to_numpy() - expected["rank"]), initial=0.0))
    if dev > 1e-9 * expected["rank"]:
        errors.append(f"pagerank: max deviation {dev:.3g} from uniform {expected['rank']:.3g}")
    return errors


# --------------------------------------------------------------- workloads


def _build_graph(spark, path: str):
    """read_edgelist + materialize the canonical edge table once, so graph
    build is its own span and the algorithm reads a cached graph."""
    from pysparkflow.io import read_edgelist

    g = read_edgelist(spark, path)
    g.edges = g.edges.persist()
    g.edges.count()
    return g


class LineitemMaxflow:
    name = "lineitem-maxflow"
    why = (
        "the registry's headline max-flow on the sf0.01 lineitem part-supplier "
        "pairs; bound by the per-job floor, so job count and driver gaps show"
    )

    def prepare(self, data_dir: str, seed: int) -> Case:
        parts, supps, sources, sinks = lineitem_case(seed)
        path = write_pairs(os.path.join(data_dir, "lineitem_pairs.parquet"), parts, supps)
        return Case(
            paths={"pairs": path},
            params={"sources": sources, "sinks": sinks},
            expected={"flow": networkx_flow_value(path, sources, sinks)},
        )

    def query(self, spark, case: Case, spans) -> dict:
        from pysparkflow.algo import MaxFlowConfig, max_flow

        with spans.span("graph"):
            g = _build_graph(spark, case.paths["pairs"])
        with spans.span("algo.maxflow"):
            res = max_flow(
                g,
                case.params["sources"],
                case.params["sinks"],
                MaxFlowConfig(meet_extra_rounds=0, validate=True),
            )
        return {"value": res.value, "maxflow_metrics": res.metrics}

    def check(self, case: Case, answer: dict) -> list[str]:
        want = case.expected["flow"]
        if answer["value"] != want:
            return [f"max-flow value {answer['value']} != NetworkX {want}"]
        return []


class HypercubeAnalytics:
    name = "hypercube-analytics"
    why = (
        "BFS, components and PageRank loops on a seeded hypercube with "
        "closed-form answers; no max-flow code runs"
    )

    def prepare(self, data_dir: str, seed: int) -> Case:
        n = HYPERCUBE_BITS
        full = write_pairs(os.path.join(data_dir, "hypercube.parquet"), *hypercube_pairs(n, seed))
        cut = write_pairs(
            os.path.join(data_dir, "hypercube_cut.parquet"),
            *hypercube_pairs(n, seed, drop_bit=n - 1),
        )
        return Case(
            paths={"full": full, "cut": cut},
            params={"n_bits": n},
            expected=hypercube_closed_forms(n, seed),
        )

    def query(self, spark, case: Case, spans) -> dict:
        from pyspark.sql import functions as F

        from pysparkflow.algo import bfs_distances, connected_components
        from pysparkflow.algo.pagerank import pagerank

        with spans.span("graph"):
            g = _build_graph(spark, case.paths["full"])
            g_cut = _build_graph(spark, case.paths["cut"])
        with spans.span("algo.bfs"):
            dist = bfs_distances(g, [case.expected["source"]]).toPandas()
        with spans.span("algo.components"):
            comp = connected_components(g_cut).toPandas()
        with spans.span("algo.pagerank"):
            e = g.edges
            arcs = e.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
                e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
            )
            ranks = pagerank(arcs, iterations=PAGERANK_ITERATIONS).toPandas()
        return {"bfs": dist, "components": comp, "pagerank": ranks}

    def check(self, case: Case, answer: dict) -> list[str]:
        return check_hypercube_analytics(case.expected, answer)


WORKLOADS = {w.name: w for w in (LineitemMaxflow(), HypercubeAnalytics())}

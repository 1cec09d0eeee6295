"""Undirected flow-graph abstraction.

The reference stores one record per vertex with inlined adjacency in a Hadoop
SequenceFile (ff1/Vertex.java:15, ff1/FordFulkerson.java:170-176). Spark-first,
we normalize to a columnar **canonical undirected edge table**

    edges(u BIGINT, v BIGINT, cap BIGINT)   with u < v, no self-loops,
                                            parallel edges pre-summed

mirroring the reference's round-0 "group-by + symmetrize" build
(ff1/Vertex.java:47-83: merge sums parallel-edge capacities) and its canonical
undirected edge key (smaller id first, ff1/Edge.java:13-33). Flow state lives
in a separate sparse table flows(u, v, f) with signed f = flow from u to v,
f in [-cap, +cap], residue(u->v) = cap - f (ff2/Edge.java:6,29-33).

Adjacency is derived on demand (groupBy + collect_list), never materialized
per-vertex: at 100 TB the edge table shuffles once at build time and is then
cached hash-partitioned by endpoint; per-round frontiers join against it
(the "schimmy" lesson, ff3/ReduceFF.java:82-163 -> shuffle only the frontier).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Floor for super-source/sink edge capacity (the reference hardcodes
# 10_000_000, ff2/FordFulkerson.java:235, ff3/FordFulkerson.java:119,
# ff5/FordFulkerson.java:183-186 — fine for 2010-era graphs, but a silent
# max-flow understatement on any terminal whose true throughput exceeds
# it). We instead derive each super edge's capacity as the terminal's
# incident-capacity sum — an exact non-binding bound at any scale — and
# keep this constant only as a floor so tiny graphs behave like the
# reference's.
INF_CAPACITY = 10_000_000


def symmetrize(edge_pairs: DataFrame, cap_col: str | None = None) -> DataFrame:
    """Round-0 graph build (D1): canonicalize to u < v, drop self-loops, sum
    parallel edges. Input: DataFrame with columns (src, dst[, capacity]).

    Mirrors ff1/FordFulkerson.java:76-83 (map emits both endpoints) +
    ff1/Vertex.java:47-83 (reduce merge sums duplicate-edge capacities); in
    Spark a single groupBy on the canonical key replaces both the double
    emission and the keyed merge — one shuffle instead of shuffling every
    record under both endpoints.
    """
    cap = F.col(cap_col).cast("long") if cap_col else F.lit(1).cast("long")
    return (
        edge_pairs.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").cast("long").alias("u"),
            F.greatest("src", "dst").cast("long").alias("v"),
            cap.alias("cap"),
        )
        .groupBy("u", "v")
        .agg(F.sum("cap").alias("cap"))
    )


def assign_deterministic_capacities(
    edges: DataFrame, max_cap: int = 1, seed: int = 42
) -> DataFrame:
    """Random capacity assignment (D2), deterministically seeded per edge.

    The reference's ff1 seeds Random(edge.id) (ff1/Vertex.java:59-67) so
    capacities are reproducible; ff2+ regressed to Math.random()
    (ff2/FordFulkerson.java:230-242) which breaks under task retries. We adopt
    ff1's discipline with a hash: cap = pmod(xxhash64(u, v, seed), max_cap)+1.
    max_cap=1 (the reference default, ff1/FordFulkerson.java:28) => unit caps.
    """
    if max_cap <= 1:
        return edges.withColumn("cap", F.lit(1).cast("long"))
    return edges.withColumn(
        "cap",
        (
            F.pmod(F.xxhash64(F.col("u"), F.col("v"), F.lit(seed)), F.lit(max_cap)) + 1
        ).cast("long"),
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Vertex degree table: (id BIGINT, degree BIGINT)."""
    return (
        edges.select(F.col("u").alias("id"))
        .unionAll(edges.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
    )


@dataclass
class FlowGraph:
    """A canonical undirected capacitated graph: edges(u, v, cap), u < v."""

    spark: SparkSession
    edges: DataFrame  # (u BIGINT, v BIGINT, cap BIGINT)

    @classmethod
    def from_edge_pairs(
        cls,
        spark: SparkSession,
        edge_pairs: DataFrame,
        cap_col: str | None = None,
        max_cap: int = 1,
        seed: int = 42,
    ) -> "FlowGraph":
        """Build from a (src, dst[, capacity]) DataFrame. Without cap_col,
        assigns deterministic capacities (unit by default)."""
        edges = symmetrize(edge_pairs, cap_col=cap_col)
        if cap_col is None:
            edges = assign_deterministic_capacities(edges, max_cap=max_cap, seed=seed)
        return cls(spark, edges)

    def with_super_nodes(
        self, sources: Iterable[int], sinks: Iterable[int]
    ) -> tuple["FlowGraph", int, int, int]:
        """Super-source/sink injection (D3): reduce multi-source/multi-sink
        max-flow to single s-t by adding a super-source with INF edges to all
        sources and a super-sink with INF edges to all sinks
        (ff1/Vertex.java:69-82, ff3/FordFulkerson.java:18-40).

        The reference reserves ids 1 and 2 (ff1/Vertex.java:12-13); real-world
        tables may use any ids, so we derive collision-free ids from the graph's
        id range (one tiny agg action). Returns (graph, s_id, t_id,
        n_edges), where ``n_edges`` is the new graph's exact edge count —
        max_flow and min_cut size and gate their caches with it instead of
        running a count job.
        """
        sources = [int(x) for x in sources]
        sinks = [int(x) for x in sinks]
        if set(sources) & set(sinks):
            raise ValueError("sources and sinks must be disjoint (ff5/ApServer.java:92-99)")
        spark = self.spark
        # per-terminal super-edge capacity: the terminal's incident-capacity
        # sum (flow through a vertex can never exceed it), floored at the
        # reference's constant — never silently caps a hub terminal's
        # throughput the way a fixed "infinity" does.
        # ONE fused aggregation job computes the id high-water mark, every
        # terminal's incident sum (conditional sums — a terminal is
        # incident as u, as v, or never both per row since u < v), and
        # the edge count (returned for max_flow / min_cut) — this was
        # two sequential collect jobs before (guide §1.2: fewer passes).
        terms = sorted(set(sources) | set(sinks))
        aggs = [
            F.greatest(F.max("v"), F.max(F.abs(F.col("u")))).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        ] + [
            F.sum(
                F.when((F.col("u") == t) | (F.col("v") == t), F.col("cap"))
            ).alias(f"_t{i}")
            for i, t in enumerate(terms)
        ]
        row = self.edges.agg(*aggs).collect()[0]
        hi = int(row["hi"] or 0)
        s_id, t_id = hi + 1, hi + 2
        n_base = int(row["n"])
        inf_of = {
            t: max(int(row[f"_t{i}"]), INF_CAPACITY)
            for i, t in enumerate(terms)
            if row[f"_t{i}"] is not None
        }
        super_rows = [
            (min(s_id, x), max(s_id, x), inf_of.get(x, INF_CAPACITY))
            for x in sources
        ] + [
            (min(t_id, x), max(t_id, x), inf_of.get(x, INF_CAPACITY))
            for x in sinks
        ]
        super_df = spark.createDataFrame(super_rows, schema="u long, v long, cap long")
        return (
            FlowGraph(spark, self.edges.unionAll(super_df)),
            s_id,
            t_id,
            n_base + len(super_rows),
        )

    def degrees(self) -> DataFrame:
        return degrees(self.edges)

    def select_random_sources_sinks(
        self, n: int, min_degree: int = 3000, seed: int = 42
    ) -> tuple[list[int], list[int]]:
        """Random high-degree source/sink selection (D15): the reference's
        mappers reservoir-sample ids with degree > 3000, the RMI server
        shuffles and alternates them into disjoint sets
        (ff5/FordFulkerson.java:108-116, ff5/ApServer.java:80-110).
        Spark-first: filter + deterministic rand(seed) order + limit.
        """
        picked = (
            self.degrees()
            .where(F.col("degree") > min_degree)
            .orderBy(F.rand(seed))
            .limit(2 * n)
            .select("id")
            .collect()
        )
        ids = [int(r["id"]) for r in picked]
        return ids[0::2], ids[1::2]

"""How every iterative graph loop cuts lineage, counts for convergence and
bounds its rounds — the reference's discipline of one HDFS file per
MapReduce round, so lineage never outlives a round (D11,
ff1/FordFulkerson.java:240-244). The nine loops (bfs, components, both
pageranks, bounded SSSP, label propagation, k-core, max-flow, min-cut)
name no checkpoint themselves.

A *cut* is a lazy local checkpoint: the plan is truncated at once and the
first job computing every partition materializes it (AQE runs the frame's
own shuffle and broadcast stages when the cut is made). Every round's
state but the last is cut, so no loop's plan, nor the plan it returns,
holds more than one round of joins. On Q12 at ``local[4]`` that costs no
loop an extra job, and a round that reads its state twice stops
recomputing it per read (bounded SSSP at 4 hops: 30 -> 15 jobs).

A count costs no job of its own: ``cut_observe`` reads any named
aggregates (a row count, a count of changed labels, a graph's coverage
facts) off the one job that materializes the cut, the way the reference
reads its Hadoop counters off the round job that already ran
(ff1/FordFulkerson.java:209-235); ``cut_count`` is its row count.
``Dataset.count()`` on the cut would cost two jobs, an aggregation map
stage and a result stage. Several cuts cost one job too: ``count_cuts``
materializes any number of cuts in a single no-op write of the union of
their scans and reads each one's exact row count, even when one cut's
plan reads another of them. Max-flow counts each round's frontier and
its meet pairs this way, and each restart's repaired paths and their
pairs; on the sf0.01 lineitem graph it runs 80 jobs instead of 95.

A local checkpoint lives in executor storage: losing an executor fails
the loop, where the reference's HDFS rounds would survive.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable, Iterator

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def cut(df: DataFrame) -> DataFrame:
    """``df`` with its plan truncated; materialized by its first full job."""
    return df.localCheckpoint(eager=False)


def _observed_write(df: DataFrame, aggs: dict[str, Column]) -> dict:
    """The named aggregates ``aggs`` over ``df``, computed by one no-op
    write of ``df`` observed with them.

    Every caller writes scans of cuts' ``LogicalRDD``s, which have no
    exchange, so the observed node runs in a result stage, where Spark
    applies each partition's accumulator update exactly once: the
    aggregates stay exact under task retries and speculative execution."""
    obs = Observation()
    observed = df.observe(obs, *(agg.alias(name) for name, agg in aggs.items()))
    observed.write.format("noop").mode("overwrite").save()
    return obs.get


def cut_observe(df: DataFrame, **aggs: Column) -> tuple[DataFrame, dict]:
    """Cut ``df`` and compute the named aggregates ``aggs`` in the one job
    that materializes the cut."""
    df = cut(df)
    return df, _observed_write(df, aggs)


def count_cuts(*cuts: DataFrame) -> list[int]:
    """Exact row counts of the lazy ``cuts``, all materialized by one job:
    a no-op write of the union of their tag-only scans, observed with one
    tag count per cut. A cut may read another of ``cuts`` in its plan."""
    tagged = reduce(
        DataFrame.unionAll,
        (c.select(F.lit(i).alias("_cut")) for i, c in enumerate(cuts)),
    )
    stats = _observed_write(
        tagged, {f"n{i}": F.count_if(F.col("_cut") == i) for i in range(len(cuts))}
    )
    return [int(stats[f"n{i}"]) for i in range(len(cuts))]


def cut_count(df: DataFrame) -> tuple[DataFrame, int]:
    """A converging loop's count: ``df`` cut, and its row count."""
    df, stats = cut_observe(df, n=F.count(F.lit(1)))
    return df, int(stats["n"])


def unrolled(
    state: DataFrame, step: Callable[[DataFrame], DataFrame], n: int
) -> DataFrame:
    """A fixed-round loop: ``step`` applied ``n`` times, every round but
    the last cut. The last stays a plan the caller's operators fuse into."""
    for i in range(n):
        state = step(state)
        if i + 1 < n:
            state = cut(state)
    return state


def bounded(name: str, limit: int) -> Iterator[int]:
    """Round indices ``0 .. limit - 1`` for a loop that ``break``s once it
    converges; raises ``RuntimeError`` if the loop runs them all, so no
    caller reads a partial result."""
    yield from range(limit)
    raise RuntimeError(f"{name} did not stabilize in {limit} rounds")

"""Sizing, broadcast gating and release of iterative graph loops' state.

All nine iterative loops — bfs, connected components, pagerank,
personalized pagerank, bounded SSSP, label propagation, k-core,
max-flow and min-cut — follow one physical policy (the ff3 "schimmy"
lesson): cache the static arc table once, then move only vertex state
each round. This module is the one place that policy lives:

* ``sized_cache`` caches the arc table at a data-sized partition count
  and registers it with ``engine.cache.track``, so ``release_tracked``
  frees it even when the loop's lazy result still reads it;
* ``state_join_side`` (narrow per-vertex rows) and
  ``wide_rows_broadcastable`` (rows carrying path arrays) decide whether
  a per-round join side ships as a broadcast or co-partitions with the
  cache. Callers look both up through this module at call time, so a
  wrapper installed on it (perfbench's traced run) sees every decision.

The arc table's partition count sets the MAP-side task count of every
round's stages, and the session ``spark.sql.shuffle.partitions`` is
tuned for the session's big relational shuffles — at local sf0.1 that is
32 partitions of ~40k arcs each, where per-task scheduling overhead
dominates the 10-round loop (measured 2x: 10 rounds over 1.18M arcs run
~7-9s at 32 partitions, ~3.4-5s at 8). AQE's reduce-side coalescing
cannot fix this: it never touches the map-side task count of a cached
table's scan.

``sized_partitions`` clamps rows/``rows_per_partition`` to
[1, session shuffle partitions]: small inputs get few, fat partitions
(the scheduling floor shrinks), and at cluster scale the count never
EXCEEDS the cluster-tuned session value — a 1000-executor job with
billions of arcs keeps its configured parallelism. The one count job it
costs is amortized over every round of the loop.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DataType,
    MapType,
    StringType,
    StructType,
)

from pysparkflow.engine.cache import track

ROWS_PER_PARTITION = 150_000

# Per-round vertex-state join sides (ranks, dists, labels) up to this
# many rows ship as an explicit broadcast: the static arc cache is then
# streamed in place — no exchange, no per-round sort of the graph.
# Above it, the state is co-partitioned onto the arc cache's partition
# count instead, which still never reshuffles the arcs (the state side
# pays its one exchange; a billion-vertex cluster run keeps state
# distributed). 2M rows of (long, double/long) is ~32 MB broadcast —
# comfortable for driver and executors at any sane config.
STATE_BROADCAST_ROWS = 2_000_000

# Byte budget matching the row gate's own arithmetic (2M rows x ~16 B =
# 32 MB): state whose rows carry variable-width payloads (path arrays)
# must gate on ESTIMATED BYTES, not rows — a 1.9M-row frontier of
# 30-element long arrays is hundreds of MB and would OOM the driver/
# executors if the row gate shipped it (VERDICT r13 #1).
STATE_BROADCAST_BYTES = 32 * 2**20


def wide_rows_broadcastable(rows: int, row_bytes: int) -> bool:
    """Broadcast gate for join sides whose rows carry variable-width
    payloads: ``rows`` is a caller-known row-count upper bound and
    ``row_bytes`` a static per-row byte bound (e.g. 24 + 16 x path-length
    bound for a maxflow frontier carrying two long arrays). True only when the
    estimated relation fits the same 32 MB budget the narrow-row
    STATE_BROADCAST_ROWS gate encodes; callers fall back to the shuffle
    join above it. Tighter than the row gate for any ``row_bytes`` above
    16."""
    return rows * row_bytes <= STATE_BROADCAST_BYTES

# streaming state stores are created per shuffle partition (a
# stream-stream join opens FOUR per partition); at local sf0.1 the
# 32-partition session default costs ~3.5s of store setup/commit per
# micro-batch against ~600k events. Size the state partitioning to the
# stream volume instead, with the same session-cap clamp as the
# iterative family: a cluster-tuned 400-partition session keeps its
# parallelism when the volume warrants it.
STREAM_ROWS_PER_PARTITION = 75_000


def stream_state_partitions(
    spark: SparkSession,
    source_path: str,
    rows_per_partition: int = STREAM_ROWS_PER_PARTITION,
    glob: str | None = None,
) -> int:
    """State-partition count for a streaming query over a parquet-backed
    source (single file, or a directory whose ``glob``-matching files are
    summed): footer row count (no Spark job) / ``rows_per_partition``,
    floored at 4 (parallelism headroom for the memory sink collect),
    capped at the session ``spark.sql.shuffle.partitions``. Non-parquet
    or unreadable sources fall back to the session value unchanged."""
    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        import fnmatch
        import os

        import pyarrow.parquet as pq

        if os.path.isdir(source_path):
            pat = glob or "*.parquet"
            # os.walk, not listdir: partitioned/nested layouts keep their
            # data files in subdirectories
            n = sum(
                pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                for root, _dirs, files in os.walk(source_path)
                for f in files
                if fnmatch.fnmatch(f, pat)
            )
        else:
            n = pq.ParquetFile(source_path).metadata.num_rows
    except Exception:
        return sess
    if n == 0:
        # zero matching files = a layout/naming this probe can't read
        # (ADVICE r6): treat like the unreadable-source case rather than
        # silently clamping a possibly-large stream to the floor of 4
        return sess
    return max(4, min(sess, n // rows_per_partition + 1))


def _variable_width(dtype: DataType) -> bool:
    if isinstance(dtype, StructType):
        return any(_variable_width(f.dataType) for f in dtype.fields)
    return isinstance(dtype, (ArrayType, MapType, StringType, BinaryType))


def state_join_side(
    state: DataFrame,
    upper_rows: int,
    arc_partitions: int,
    *key_cols: str,
) -> DataFrame:
    """The vertex-state side of a per-round ``static arc cache ⋈ state``
    join, prepared so the ARC CACHE IS NEVER RESHUFFLED (the physical
    half of the schimmy promise, guide §2.4/§3.1).

    Without this, Catalyst plans the round join as a sort-merge join and
    ``EnsureRequirements`` exchanges BOTH sides every round — the cached
    arc table is re-partitioned and re-sorted once per iteration because
    the state side arrives with session-count partitioning while the
    cache holds the data-sized count (observed in the r13 pagerank plan:
    ``Sort + Exchange`` over the 1.18M-row InMemoryTableScan in each of
    the 10 unrolled rounds).

    ``upper_rows`` is a caller-known BOUND on the state's row count
    (exact vertex count where available, else the arc count). At or
    under ``STATE_BROADCAST_ROWS`` the state ships as a broadcast: the
    round plan becomes scan-cache -> BroadcastHashJoin -> partial agg ->
    one state-sized exchange. Above it, the state is hash-repartitioned
    on ``key_cols`` to ``arc_partitions`` so it co-partitions with the
    cache (state pays its single exchange; the graph still never moves).
    Join RESULTS are identical either way — only the physical strategy
    changes.

    The row gate's byte arithmetic holds for scalar rows only, so a side
    with a variable-width column (array, map, string or binary, at any
    struct depth) raises ``TypeError``: such a side gates on bytes with
    ``wide_rows_broadcastable`` instead."""
    wide = [f.name for f in state.schema.fields if _variable_width(f.dataType)]
    if wide:
        raise TypeError(
            f"state_join_side takes scalar sides; {wide} are variable-width "
            "(gate them with wide_rows_broadcastable)"
        )
    if upper_rows <= STATE_BROADCAST_ROWS:
        from pyspark.sql import functions as F

        return F.broadcast(state)
    return state.repartition(arc_partitions, *key_cols)


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int | None):
    """Temporarily pin ``spark.sql.shuffle.partitions`` while a
    synchronously-driven streaming query runs (the stateful operators
    read the conf at query start; restoring it after ``stop()`` leaves
    the session's batch tuning untouched). ``None`` is a no-op.

    SEQUENTIAL-DRIVER ASSUMPTION (ADVICE r6): the conf is session-global,
    so a concurrent batch query planned inside this scope would inherit
    the stream-sized (usually smaller) shuffle parallelism, and nested
    concurrent scopes would restore out of order. Every caller in this
    repo drives its stream synchronously (start -> processAllAvailable
    -> stop) with no concurrent batch work; a multi-tenant driver should
    instead plan the stream on ``spark.newSession()`` (same shared
    SparkContext and cache, independent per-session conf) and set the
    value there."""
    if n is None:
        yield
        return
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def sized_partitions(
    n_rows: int, df: DataFrame, rows_per_partition: int = ROWS_PER_PARTITION
) -> int:
    """Partition count for an ``n_rows``-row table scanned every round:
    ~``rows_per_partition`` rows each, at least 1, never more than the
    session's ``spark.sql.shuffle.partitions`` (the cluster-tuned cap)."""
    sess = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(sess, n_rows // rows_per_partition + 1))


def sized_cache(
    df: DataFrame, *key_cols: str, rows: int | None = None
) -> tuple[DataFrame, int, int]:
    """(cache, rows, partitions) for a loop's static arc table: ``df``
    hash-partitioned on ``key_cols`` to ``sized_partitions(rows)``,
    persisted and registered with ``engine.cache.track`` — loops whose
    lazy result still reads the cache rely on ``release_tracked``; the
    others unpersist it on return.

    ``rows=None`` counts ``df`` without computing its plan twice: cache
    the raw plan, count it (one compute), build the repartitioned copy
    FROM that cache, materialize it, release the raw cache (the naive
    count-then-repartition-then-persist order recomputes the source
    plan, often a distinct/symmetrize shuffle, once per step). A caller
    that already knows the row count, or a bound on it, passes ``rows``:
    no job runs and the first round's action materializes the cache."""
    if rows is not None:
        parts = sized_partitions(rows, df)
        return track(df.repartition(parts, *key_cols)), rows, parts
    base = df.persist()
    rows = base.count()
    parts = sized_partitions(rows, df)
    out = track(base.repartition(parts, *key_cols))
    out.count()  # materialize from the cached base (cheap columnar read)
    base.unpersist()
    return out, rows, parts

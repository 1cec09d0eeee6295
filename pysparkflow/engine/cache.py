"""Persistence lifetime tracking for operator-internal caches.

Several operators persist an intermediate that the RETURNED (lazy)
DataFrame still depends on — a shingle inverted index, normalized
vectors, collected blocks. The operator cannot unpersist those before the
caller consumes the result, and Spark's CacheManager holds cached plans
until an explicit unpersist, so a long-lived session running these
operators repeatedly would accumulate dead cache entries (round-3 ADVICE
carryover).

``track(df)`` persists and registers the intermediate;
``release_tracked()`` unpersists everything registered — callers (bench
loop, driver pipelines, notebooks) invoke it once the result of the
operator has been fully consumed (written, collected, or counted).
Unpersisting a DataFrame a pending lazy plan still references is safe in
Spark — the plan recomputes from lineage — so a premature release costs
time, never correctness.

Session memos outlive that per-query scratch: ``shared(spark, name,
sf_dir, build)`` computes ``build()`` once per (application, ``name``,
``sf_dir``) and hands the same value to every later query that asks —
the registry's lineitem graph, its max-flow run and its MinHash pairs.
``clear_shared(*names)`` drops the named memos and unpersists the
DataFrames they hold, so the next ``shared`` call pays the build again
(bench.py times its cold entries that way).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

_TRACKED: list[DataFrame] = []
# keyed by applicationId (unique per SparkContext, includes a timestamp):
# id(spark) can be reused by a new session after the old one is GC'd,
# which would hand out DataFrames bound to a dead session
_SHARED: dict[tuple[str, str, str], object] = {}


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for a later release_tracked()."""
    df = df.persist()
    _TRACKED.append(df)
    return df


def release_tracked() -> int:
    """Unpersist every tracked intermediate (non-blocking); returns how
    many were released. Idempotent; never raises on an already-stopped
    session (the blocks die with the executors anyway)."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:
            pass
    return n


def tracked_count() -> int:
    return len(_TRACKED)


def shared(
    spark: SparkSession, name: str, sf_dir: str, build: Callable[[], T]
) -> T:
    """The session memo ``name`` for ``sf_dir``: ``build()`` on the first
    call in this application, the same value on every later one."""
    key = (spark.sparkContext.applicationId, name, sf_dir)
    if key not in _SHARED:
        _SHARED[key] = build()
    return _SHARED[key]


def clear_shared(*names: str) -> None:
    """Drop the named memos (every application and sf_dir) and unpersist,
    non-blocking, the DataFrames each value holds: the value itself, a
    tuple's items or an object's attributes (a FlowGraph's edges)."""
    for key in [k for k in _SHARED if k[1] in names]:
        value = _SHARED.pop(key)
        if isinstance(value, tuple):
            parts = list(value)
        else:
            parts = [value, *getattr(value, "__dict__", {}).values()]
        for df in parts:
            if isinstance(df, DataFrame):
                try:
                    df.unpersist(blocking=False)
                except Exception:
                    pass

"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship: multi-source/multi-sink max-flow (the reference's
                  headline query, main.java:17-20) on the part↔supplier graph
                  derived from sf0.001 lineitem; returns the per-edge accepted
                  flow assignment.
queries()       — every implemented operator from SURVEY.md §2 + the
                  training-data-pipeline extensions (pysparkflow.relational.registry).
oracle_sql()    — matching ANSI-SQL equality oracles for DuckDB. Every
                  entry has an oracle: the 4 sketch and sampled entries
                  have a banded tolerance oracle instead (registry
                  QuerySpec, run by tools/oracle_check.py) and are absent
                  here; the 6 pinned ones hold at sf0.01 only.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from pysparkflow.algo.maxflow import MaxFlowConfig, max_flow
from pysparkflow.graph.graph import FlowGraph
from pysparkflow.relational.registry import (
    ORACLE_SQL,
    QUERIES,
    _lineitem_graph_pairs,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: max-flow from parts
    {1,2,3} to suppliers {1,2} on the lineitem co-occurrence graph.
    Returns the accepted flow per edge: (u BIGINT, v BIGINT, f BIGINT)."""
    sf_dir = "/root/testdata/sf0.001"
    g = FlowGraph.from_edge_pairs(spark, _lineitem_graph_pairs(spark, sf_dir))
    res = max_flow(
        g, sources=[1, 2, 3], sinks=[1_000_001, 1_000_002], config=MaxFlowConfig()
    )
    return res.flows


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE_SQL)

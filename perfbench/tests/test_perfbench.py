"""Tests for the benchmark's own code: input generation and closed forms,
job attribution, answer checking and the metric lists it publishes."""

from __future__ import annotations

import json
import time
from pathlib import Path

import networkx as nx
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

import run
import tracing
import workloads

BENCHMARK = Path(__file__).resolve().parents[2] / "BENCHMARK.json"


def _pagerank(g: nx.Graph, iterations: int = 10, damping: float = 0.85) -> dict:
    n = g.number_of_nodes()
    rank = dict.fromkeys(g, 1.0 / n)
    for _ in range(iterations):
        rank = {
            v: (1 - damping) / n + damping * sum(rank[u] / g.degree(u) for u in g[v])
            for v in g
        }
    return rank


def _graph(src, dst) -> nx.Graph:
    g = nx.Graph()
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    return g


@pytest.mark.parametrize("seed", [0, 1, 7])
def test_relabelled_q6_keeps_closed_forms(seed):
    n = 6
    want = workloads.hypercube_closed_forms(n, seed)
    g = _graph(*workloads.hypercube_pairs(n, seed))
    assert g.number_of_nodes() == 64 and g.number_of_edges() == 6 * 32
    assert all(d == n for _, d in g.degree())

    dist = nx.single_source_shortest_path_length(g, want["source"])
    cut = _graph(*workloads.hypercube_pairs(n, seed, drop_bit=n - 1))
    comps = list(nx.connected_components(cut))
    ranks = _pagerank(g)
    answer = {
        "bfs": pd.DataFrame({"vertex": list(dist), "distance": [d + 1 for d in dist.values()]}),
        "components": pd.DataFrame(
            [(v, min(c)) for c in comps for v in c], columns=["vertex", "component"]
        ),
        "pagerank": pd.DataFrame({"vertex": list(ranks), "rank": list(ranks.values())}),
    }
    assert len(comps) == 2
    assert workloads.check_hypercube_analytics(want, answer) == []
    for u, v in g.edges:
        g.edges[u, v]["capacity"] = 1
    assert nx.maximum_flow_value(g, want["source"], want["antipode"]) == want["flow"] == n

    answer["bfs"].loc[0, "distance"] += 1
    assert len(workloads.check_hypercube_analytics(want, answer)) == 1


def test_seeds_change_inputs_and_default_seed_is_the_flagship():
    a = workloads.hypercube_pairs(6, 1)
    b = workloads.hypercube_pairs(6, 2)
    assert not (a[0] == b[0]).all()
    p0, s0, src0, snk0 = workloads.lineitem_case(workloads.DEFAULT_SEED)
    assert (src0, snk0) == ([1, 2, 3], [1_000_001, 1_000_002])
    # the default seed reads the lineitem pairs verbatim
    t = pq.read_table(workloads.LINEITEM_PAIRS)
    assert (p0 == t.column("l_partkey").to_numpy()).all()
    assert (s0 == t.column("l_suppkey").to_numpy() + workloads.SUPPLIER_OFFSET).all()
    p5, s5, src5, snk5 = workloads.lineitem_case(5)
    assert (src5, snk5) != (src0, snk0)
    # a relabelling: each terminal keeps its degree
    for a, b in zip(src0 + snk0, src5 + snk5):
        col0, col5 = (p0, p5) if a < workloads.SUPPLIER_OFFSET else (s0, s5)
        assert (col0 == a).sum() == (col5 == b).sum()


def test_window_counters_on_synthetic_jobs():
    jobs = [
        tracing.Job(0, 1.0, 2.0, []),
        tracing.Job(1, 10.5, 11.0, ["broadcast exchange (runId x)"]),
        tracing.Job(2, 10.8, 12.0, []),  # overlaps job 1
        tracing.Job(3, 30.0, 31.0, []),
    ]
    stages = [
        tracing.Stage(0, 1.0, "COMPLETE", 4, 1.0, 0.1, 100, 10),
        tracing.Stage(1, 10.5, "COMPLETE", 2, 0.5, 0.0, 0, 20),
        tracing.Stage(2, 10.9, "SKIPPED", 9, 9.0, 9.0, 9, 9),
    ]
    c = tracing.window_counters(jobs, stages, 10.0, 20.0)
    assert c["jobs"] == 2 and c["broadcast_jobs"] == 1
    assert c["tasks"] == 2 and c["shuffle_bytes"] == 20 and c["input_bytes"] == 0
    assert c["no_job_s"] == pytest.approx(10.0 - 1.5)


def test_submission_window_attribution_counts_known_jobs(spark):
    store = tracing.StatusStore(spark)
    sc = spark.sparkContext
    sc.parallelize(range(10), 2).count()  # before the window
    t0 = time.time()
    for _ in range(3):
        sc.parallelize(range(10), 2).count()  # one job, one 2-task stage each
    t1 = time.time()
    sc.parallelize(range(10), 2).count()  # after the window
    jobs, stages = store.snapshot()
    c = tracing.window_counters(jobs, stages, t0, t1)
    assert c["jobs"] == 3
    assert c["tasks"] == 6
    assert 0.0 <= c["no_job_s"] < t1 - t0


def test_state_gate_decision_is_read_from_the_returned_plan(spark):
    from pysparkflow.engine import partitioning

    state = spark.range(5)
    small = partitioning.state_join_side(state, 10, 2, "id")
    large = partitioning.state_join_side(state, partitioning.STATE_BROADCAST_ROWS + 1, 2, "id")
    assert tracing.has_broadcast_hint(small)
    assert not tracing.has_broadcast_hint(large)
    assert not tracing.has_broadcast_hint(state)
    with tracing.LayerCounters() as counters:
        partitioning.state_join_side(state, 10, 2, "id")
        partitioning.state_join_side(state, partitioning.STATE_BROADCAST_ROWS + 1, 2, "id")
    assert (counters.gate_calls, counters.gate_broadcast) == (2, 1)


def test_injected_wrong_flow_value_raises_error_rate(spark, tmp_path):
    path = workloads.write_pairs(
        str(tmp_path / "pairs.parquet"),
        np.array([1, 2, 3, 1]),
        np.array([1_000_001, 1_000_001, 1_000_002, 1_000_002]),
    )
    sources, sinks = [1, 2, 3], [1_000_001, 1_000_002]
    case = workloads.Case(
        paths={"pairs": path},
        params={"sources": sources, "sinks": sinks},
        expected={"flow": workloads.networkx_flow_value(path, sources, sinks)},
    )
    assert case.expected["flow"] == 4  # four disjoint source-sink edges
    runner = run.Runner(spark, workloads.LineitemMaxflow(), case)
    rec = runner.run_query(traced=True)
    assert rec["errors"] == [] and runner.error_rate == 0.0
    layers = rec["layers"]
    assert layers["engine.acceptor.candidates"] >= 4
    assert layers["engine.partitioning.gate_calls"] >= 1
    assert layers["algo.maxflow.jobs"] >= 1 and layers["algo.bfs.jobs"] == 0
    assert rec["query_jobs"] >= layers["algo.maxflow.jobs"]

    case.expected["flow"] += 1  # inject a wrong expected value
    rec = runner.run_query(traced=False)
    assert rec["errors"] and "NetworkX 5" in rec["errors"][0]
    assert (runner.attempted, runner.failed, runner.error_rate) == (2, 1, 0.5)


def test_benchmark_json_matches_the_code():
    spec = json.loads(BENCHMARK.read_text())
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER

"""Unit tests for the round-4 analytics family: funnel, cohort
retention, SCD2 history, grouping sets, triangle counting, and the
deterministic epoch shuffle."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from pysparkflow.graph.triangles import canonical_edges, oriented_edges, triangle_count
from pysparkflow.llmops.sampling import epoch_shuffle


def _write_events(tmp_path, rows):
    """Write an events.parquet with the PRODUCTION encoding (native
    timestamp[us], the dtype of the shipped /root/testdata)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array(
                [dt.datetime.fromisoformat(ts) for ts, *_ in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([float(r[3]) for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))


# ---------------------------------------------------------------- triangles


def _tri_brute(edges):
    verts = sorted({v for e in edges for v in e})
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    return sum(
        1
        for a, b, c in itertools.combinations(verts, 3)
        if (a, b) in es and (b, c) in es and (a, c) in es
    )


@pytest.mark.parametrize(
    "edges",
    [
        [(1, 2), (2, 3), (1, 3)],  # one triangle
        [(1, 2), (2, 3), (3, 4), (4, 1)],  # 4-cycle, none
        [(1, 2), (2, 1), (1, 1), (2, 3), (1, 3), (3, 2)],  # dups/self-loops
        # K5: 10 triangles, plus a pendant
        list(itertools.combinations(range(5), 2)) + [(4, 99)],
    ],
)
def test_triangle_count_matches_bruteforce(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = triangle_count(df).collect()[0]["n_triangles"]
    assert got == _tri_brute(edges)


def test_orientation_is_acyclic_and_bounded(spark):
    # star + ring: hub 0 has max degree, so all its edges point INTO it
    edges = [(0, i) for i in range(1, 9)] + [(i, i + 1) for i in range(1, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    o = oriented_edges(canonical_edges(df)).collect()
    assert all(r["hi"] == 0 or r["lo"] != 0 for r in o)
    # every canonical edge appears exactly once, in one direction
    assert len(o) == len({tuple(sorted(e)) for e in edges})


# ---------------------------------------------------------------- funnel


def test_funnel_ordering_and_window(spark, tmp_path):
    rows = [
        # u1 full funnel inside windows
        ("2024-01-01 00:00:00", 1, "view", 1),
        ("2024-01-01 02:00:00", 1, "click", 1),
        ("2024-01-01 03:00:00", 1, "purchase", 1),
        # u2 clicked BEFORE first view: not converted
        ("2024-01-02 00:00:00", 2, "click", 1),
        ("2024-01-02 01:00:00", 2, "view", 1),
        # u3 click after view but outside 24h
        ("2024-01-03 00:00:00", 3, "view", 1),
        ("2024-01-05 00:00:00", 3, "click", 1),
        # u4 purchase before the qualifying click: counts view+click only
        ("2024-01-04 00:00:00", 4, "view", 1),
        ("2024-01-04 00:30:00", 4, "purchase", 1),
        ("2024-01-04 01:00:00", 4, "click", 1),
    ]
    _write_events(tmp_path, rows)
    from pysparkflow.relational.registry import q_funnel_conversion

    out = q_funnel_conversion(spark, str(tmp_path)).collect()[0]
    assert (out["users_view"], out["users_click"], out["users_purchase"]) == (4, 2, 1)


# ---------------------------------------------------------------- cohort


def test_cohort_retention_offsets(spark, tmp_path):
    rows = [
        # u1 first active week of Jan 1 (Mon), returns week+2
        ("2024-01-02 10:00:00", 1, "view", 1),
        ("2024-01-16 10:00:00", 1, "view", 1),
        # u2 first active week of Jan 8, active twice that week (1 row)
        ("2024-01-09 10:00:00", 2, "view", 1),
        ("2024-01-10 10:00:00", 2, "view", 1),
    ]
    _write_events(tmp_path, rows)
    from pysparkflow.relational.registry import q_cohort_retention

    got = {
        (r["cohort_wk"].strftime("%Y-%m-%d"), r["week_offset"]): r["n_users"]
        for r in q_cohort_retention(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
    }


# ---------------------------------------------------------------- scd2


def test_scd2_intervals_tile_and_current(spark, tmp_path):
    rows = [
        ("2024-01-01 00:00:00", 1, "purchase", 10),
        ("2024-01-02 00:00:00", 1, "purchase", 20),
        ("2024-01-03 00:00:00", 1, "purchase", 30),
        ("2024-01-01 12:00:00", 2, "purchase", 5),
        ("2024-01-05 00:00:00", 1, "view", 99),  # ignored
    ]
    _write_events(tmp_path, rows)
    from pysparkflow.relational.registry import q_scd2_history

    out = q_scd2_history(spark, str(tmp_path)).orderBy("user_id", "valid_from")
    rows_out = out.collect()
    u1 = [r for r in rows_out if r["user_id"] == 1]
    # intervals tile: each valid_to equals the next valid_from
    for a, b in zip(u1, u1[1:]):
        assert a["valid_to"] == b["valid_from"]
    assert [r["is_current"] for r in u1] == [False, False, True]
    assert u1[-1]["valid_to"] is None
    u2 = [r for r in rows_out if r["user_id"] == 2]
    assert len(u2) == 1 and u2[0]["is_current"]


# ------------------------------------------------------- importance sampling


def test_importance_sample_weighted_and_deterministic(spark):
    from pysparkflow.llmops.sampling import importance_sample

    docs = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        # weights 1 and 9: heavy rows should be kept ~9x as often
        F.when(F.col("id") % 2 == 0, 1).otherwise(9).alias("n_chars"),
    )
    out = importance_sample(docs, target_frac=0.4).collect()
    kept = {r["doc_id"] for r in out}
    again = {r["doc_id"] for r in importance_sample(docs.repartition(5), target_frac=0.4).collect()}
    assert kept == again  # layout-invariant
    light = sum(1 for d in kept if d % 2 == 0)
    heavy = len(kept) - light
    # keep rates: c*w with c = (0.4*4000)/(2000*1 + 2000*9) = 0.08
    # -> heavy ~ 2000*0.72 = 1440, light ~ 2000*0.08 = 160
    assert 1440 * 0.85 < heavy < 1440 * 1.15
    assert 160 * 0.6 < light < 160 * 1.5
    assert 0.3 < len(kept) / 4000 < 0.5  # expected total ~40%


def test_importance_sample_zero_weight_never_kept(spark):
    from pysparkflow.llmops.sampling import importance_sample

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 50, 0).otherwise(10).alias("n_chars"),
    )
    kept = {r["doc_id"] for r in importance_sample(docs, target_frac=0.5).collect()}
    assert all(d >= 50 for d in kept) and kept


# ------------------------------------------------------- token budget select


def test_token_budget_prefix_property(spark):
    from pysparkflow.llmops.sampling import token_budget_select

    rows = [
        # source a: tokens 10, 6, 4 (total 20); 60% budget = 12 -> keep 10 only
        (1, "a", "w " * 10),
        (2, "a", "w " * 6),
        (3, "a", "w " * 4),
        # source b: tokens 5,5 (total 10); budget 6 -> keep best single doc
        (4, "b", "w " * 5),
        (5, "b", "w " * 5),
    ]
    docs = spark.createDataFrame(
        [(i, s, t.strip()) for i, s, t in rows], "doc_id long, source string, text string"
    )
    out = {(r["id"], r["cum_toks"]) for r in token_budget_select(docs, 60).collect()}
    assert out == {(1, 10), (4, 5)}


def test_token_budget_full_budget_keeps_all(spark):
    from pysparkflow.llmops.sampling import token_budget_select

    docs = spark.createDataFrame(
        [(i, "s", "a b c") for i in range(10)], "doc_id long, source string, text string"
    )
    assert token_budget_select(docs, 100).count() == 10


# ---------------------------------------------------------------- epoch shuffle


def test_epoch_shuffle_deterministic_and_balanced(spark):
    docs = spark.range(2000).select(F.col("id").alias("doc_id"))
    a = {(r["doc_id"], r["shard"], r["pos"]) for r in epoch_shuffle(docs, 8, 1).collect()}
    b = {
        (r["doc_id"], r["shard"], r["pos"])
        for r in epoch_shuffle(docs.repartition(7), 8, 1).collect()
    }
    assert a == b  # partition-layout invariant
    c = {(r["doc_id"], r["shard"], r["pos"]) for r in epoch_shuffle(docs, 8, 2).collect()}
    assert {t[0] for t in c} == {t[0] for t in a} and c != a  # epoch reshuffles
    by_shard: dict[int, list[int]] = {}
    for _, s, p in a:
        by_shard.setdefault(s, []).append(p)
    assert set(by_shard) == set(range(8))
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))  # dense 1-based pos
        assert len(ps) > 2000 / 8 * 0.7  # rough balance (md5 uniformity)


# ---------------------------------------------------------------- pagerank


def _pagerank_reference(directed_edges, iterations, damping):
    """Independent pure-Python synchronous power iteration (the nx/scipy
    formulation without dangling nodes)."""
    verts = sorted({v for e in directed_edges for v in e})
    outdeg = {v: 0 for v in verts}
    for u, _ in directed_edges:
        outdeg[u] += 1
    r = {v: 1.0 / len(verts) for v in verts}
    for _ in range(iterations):
        mass = {v: 0.0 for v in verts}
        for u, v in directed_edges:
            mass[v] += r[u] / outdeg[u]
        r = {
            v: (1.0 - damping) / len(verts) + damping * mass[v] for v in verts
        }
    return r


def _karate_arcs(shape):
    """Both directions of every karate-club edge; the ``spoke`` shape adds
    vertex 34 with one out-arc and no in-arc."""
    import networkx as nx

    g = nx.karate_club_graph()
    edges = [(u, v) for u, v in g.edges()] + [(v, u) for u, v in g.edges()]
    return edges + [(34, 0)] if shape == "spoke" else edges


KARATE_SHAPES = ["symmetric", "spoke"]


@pytest.mark.parametrize("shape", KARATE_SHAPES)
def test_pagerank_matches_reference_power_iteration(spark, shape):
    from pysparkflow.algo.pagerank import pagerank

    edges = _karate_arcs(shape)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["vertex"]: r["rank"]
        for r in pagerank(df, iterations=40, damping=0.85).collect()
    }
    want = _pagerank_reference(edges, iterations=40, damping=0.85)
    assert set(got) == set(want)
    for v, r in want.items():
        assert abs(got[v] - r) < 1e-12, (v, got[v], r)
    assert abs(sum(got.values()) - 1.0) < 1e-9  # rank mass conserved
    # hub (0) and leader (33) must outrank every leaf
    leaf_max = max(r for v, r in got.items() if v not in (0, 33))
    assert got[0] > leaf_max and got[33] > leaf_max


def _ppr_reference(directed_edges, seeds, iterations, damping):
    """Independent personalized-PageRank power iteration: restart mass
    (1-d)/|seeds| on the seed set, starting from the restart vector."""
    verts = sorted({v for e in directed_edges for v in e})
    outdeg = {v: 0 for v in verts}
    for u, _ in directed_edges:
        outdeg[u] += 1
    base = {v: (1.0 - damping) / len(seeds) if v in seeds else 0.0 for v in verts}
    r = dict(base)
    for _ in range(iterations):
        mass = {v: 0.0 for v in verts}
        for u, v in directed_edges:
            mass[v] += r[u] / outdeg[u]
        r = {v: base[v] + damping * mass[v] for v in verts}
    return r


@pytest.mark.parametrize("shape", KARATE_SHAPES)
def test_personalized_pagerank_matches_reference(spark, shape):
    from pysparkflow.algo.pagerank import personalized_pagerank

    edges = _karate_arcs(shape)
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = [0, 33]
    got = {
        r["vertex"]: r["rank"]
        for r in personalized_pagerank(
            df, sources=seeds, iterations=40, damping=0.85
        ).collect()
    }
    want = _ppr_reference(edges, set(seeds), iterations=40, damping=0.85)
    assert set(got) == set(want)
    for v, r in want.items():
        assert abs(got[v] - r) < 1e-12, (v, got[v], r)
    # proximity semantics: seeds outrank everything, and vertices
    # adjacent to a seed outrank the far side of the graph
    non_seed_max = max(r for v, r in got.items() if v not in seeds)
    assert min(got[0], got[33]) > non_seed_max


@pytest.mark.parametrize(
    "ranker", ["pagerank", "personalized_pagerank", "label_propagation"]
)
@pytest.mark.parametrize("shape", KARATE_SHAPES)
def test_ranker_completion_join_follows_the_data(spark, shape, ranker):
    """A default call plans the per-round left-outer completion join
    exactly when some vertex has no in-arc: never on the symmetric
    graph, in the last (uncut) round on the spoke graph."""
    from pysparkflow.algo.pagerank import pagerank, personalized_pagerank
    from pysparkflow.engine.cache import release_tracked
    from pysparkflow.graph.labelprop import label_propagation

    df = spark.createDataFrame(_karate_arcs(shape), "src long, dst long")
    out = {
        "pagerank": lambda: pagerank(df, iterations=3),
        "personalized_pagerank": lambda: personalized_pagerank(
            df, sources=[0, 33], iterations=3
        ),
        "label_propagation": lambda: label_propagation(df, rounds=3),
    }[ranker]()
    plan = out._jdf.queryExecution().analyzed().treeString()
    release_tracked()
    assert plan.count("Join LeftOuter") == (1 if shape == "spoke" else 0), plan


def test_personalized_pagerank_rejects_empty_seeds(spark):
    from pysparkflow.algo.pagerank import personalized_pagerank

    df = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        personalized_pagerank(df, sources=[])


# ---------------------------------------------------------------- bounded sssp


def _dijkstra(arcs, source):
    import heapq

    adj = {}
    for u, v, w in arcs:
        adj.setdefault(u, []).append((v, w))
    dist = {source: 0.0}
    pq = [(0.0, source)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            if d + w < dist.get(v, float("inf")):
                dist[v] = d + w
                heapq.heappush(pq, (d + w, v))
    return dist


def test_bounded_sssp_matches_dijkstra_when_hops_suffice(spark):
    from pysparkflow.algo.sssp import bounded_sssp

    # weighted graph where the cheapest path is NOT the fewest-hop path:
    # 0->3 direct costs 10; 0->1->2->3 costs 3
    arcs = [
        (0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (0, 3, 10.0),
        (3, 4, 2.0), (1, 4, 9.0), (4, 5, 1.0),
    ]
    df = spark.createDataFrame(arcs, "src long, dst long, w double")
    got = {
        r["vertex"]: r["dist"]
        for r in bounded_sssp(df, sources=[0], max_hops=6).collect()
    }
    assert got == _dijkstra(arcs, 0)
    assert got[3] == 3.0  # cheap 3-hop beats the direct edge


def test_bounded_sssp_hop_limit_binds(spark):
    from pysparkflow.algo.sssp import bounded_sssp

    arcs = [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (0, 3, 10.0)]
    df = spark.createDataFrame(arcs, "src long, dst long, w double")
    got = {
        r["vertex"]: r["dist"]
        for r in bounded_sssp(df, sources=[0], max_hops=2).collect()
    }
    # within 2 hops the only route to 3 is the expensive direct edge
    assert got[3] == 10.0 and got[2] == 2.0


# ---------------------------------------------------------------- k-core


def _kcore_brute(edges, k):
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        deg = {}
        for a, b in es:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        drop = {v for v, d in deg.items() if d < k}
        if not drop:
            return set(deg)
        es = {e for e in es if e[0] not in drop and e[1] not in drop}
        if not es:
            return set()


@pytest.mark.parametrize("k", [2, 3])
def test_kcore_matches_bruteforce(spark, k):
    import itertools as it

    from pysparkflow.graph.kcore import kcore_vertices

    # K4 clique + a tail chain + a triangle hanging off the clique
    edges = list(it.combinations(range(4), 2))
    edges += [(3, 10), (10, 11), (11, 12)]  # chain peels away for k>=2... 
    edges += [(0, 20), (20, 21), (21, 0)]  # triangle survives k=2 only
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["vertex"] for r in kcore_vertices(df, k=k).collect()}
    assert got == _kcore_brute(edges, k)


def test_kcore_raises_past_horizon(spark):
    from pysparkflow.graph.kcore import kcore_vertices

    # a long chain peels one layer per round: needs > 2 rounds for k=2
    edges = [(i, i + 1) for i in range(8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(RuntimeError, match="did not stabilize"):
        kcore_vertices(df, k=2, max_rounds=2)


# ------------------------------------------------------- sliding range window


def test_sliding_window_avg_frame(spark, tmp_path):
    rows = [
        ("2024-01-01 00:00:00", 1, "view", 10),
        ("2024-01-01 00:30:00", 1, "view", 20),
        ("2024-01-01 01:30:00", 1, "view", 30),  # 00:30 still in frame, 00:00 out
        ("2024-01-01 00:10:00", 2, "view", 100),  # other user: own frame
    ]
    _write_events(tmp_path, rows)
    from pysparkflow.relational.registry import q_sliding_window_avg

    got = {
        r["event_id"]: (r["avg_1h"], r["n_1h"])
        for r in q_sliding_window_avg(spark, str(tmp_path)).collect()
    }
    assert got[0] == (10.0, 1)
    assert got[1] == (15.0, 2)   # 10,20 within the hour
    assert got[2] == (25.0, 2)   # 20,30 — the 00:00 event aged out
    assert got[3] == (100.0, 1)  # per-user isolation


def test_pagerank_rejects_sink_vertices(spark):
    """ADVICE r4: a directed input with outdegree-0 vertices must raise
    (their rank mass would silently leak), not return a truncated result."""
    import pytest

    from pysparkflow.algo.pagerank import pagerank

    # vertex 3 appears only as a destination
    df = spark.createDataFrame([(1, 2), (2, 1), (1, 3)], "src long, dst long")
    with pytest.raises(ValueError, match="appear only as destinations"):
        pagerank(df, iterations=2)


def test_histogram_bins_degenerate_constant_column(spark, tmp_path):
    """ADVICE r4: all-equal values -> width 0 -> must land in bin 0, not NaN."""
    import duckdb

    from pysparkflow.relational.registry import _Q_HISTOGRAM_SQL, q_histogram_bins

    d = str(tmp_path / "sfdeg")
    spark.createDataFrame(
        [(i, 1, 42.0) for i in range(10)],
        "l_orderkey long, l_linenumber int, l_extendedprice double",
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    got = q_histogram_bins(spark, d).collect()
    assert [(r["bin"], r["n"]) for r in got] == [(0, 10)]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{d}/lineitem.parquet/*.parquet')"
    )
    assert con.execute(_Q_HISTOGRAM_SQL).fetchall() == [(0, 10)]


def test_personalized_pagerank_validates_seeds_and_sinks(spark):
    import pytest as _pytest

    from pysparkflow.algo.pagerank import personalized_pagerank

    sym = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    with _pytest.raises(ValueError, match="not vertices"):
        personalized_pagerank(sym, sources=[99], iterations=2)
    directed = spark.createDataFrame([(1, 2)], "src long, dst long")
    with _pytest.raises(ValueError, match="only as destinations"):
        personalized_pagerank(directed, sources=[1], iterations=2)

"""bench.py self-adjudicating tripwire (VERDICT r7 #2).

The tripwire's contract: a flagged query is re-sampled in-run, the
committed number is min(first, resample), and only flags that SURVIVE
their own re-sample remain in a post-adjudication regression check.
Exercised with a stubbed runner — no Spark work needed.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]


def _load_bench():
    spec = importlib.util.spec_from_file_location("bench", str(REPO / "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_adjudicate_commits_min_and_clears_host_spikes():
    bench = _load_bench()
    timings = {"q_host_spike": 6.0, "q_real_regression": 6.0, "q_fine": 1.0}
    flags = [("q_host_spike", 2.0, 6.0), ("q_real_regression", 2.0, 6.0)]
    resamples = {"q_host_spike": 1.8, "q_real_regression": 5.9}
    adjudicated = bench._adjudicate_flags(
        None, "", timings, flags, run_query=lambda n: resamples[n]
    )
    # min(first, resample) is committed
    assert timings["q_host_spike"] == 1.8
    assert timings["q_real_regression"] == 5.9
    assert timings["q_fine"] == 1.0
    # every flag re-sampled, tuple carries the full evidence
    assert adjudicated == [
        ("q_host_spike", 2.0, 6.0, 1.8),
        ("q_real_regression", 2.0, 6.0, 5.9),
    ]
    # a post-adjudication >1.5x/-1s check keeps only the survivor
    survivors = [
        n
        for n, new in timings.items()
        if n in dict((f[0], f[1]) for f in flags)
        and new > 1.5 * 2.0
        and new - 2.0 > 1.0
    ]
    assert survivors == ["q_real_regression"]


def test_adjudicate_no_flags_is_noop():
    bench = _load_bench()
    timings = {"q": 1.0}
    assert bench._adjudicate_flags(None, "", timings, [], run_query=None) == []
    assert timings == {"q": 1.0}


def test_regression_baseline_ignores_candidate_files(tmp_path, monkeypatch):
    """The baseline glob must pick the newest ADJUDICATED round snapshot
    (bench_queries_r8.json), never a bench_queries_r*_cand*.json
    variance file committed alongside it (VERDICT r7 #7 workflow) — a
    candidate may contain exactly the drift spikes adjudication
    excluded."""
    import json

    bench = _load_bench()
    (tmp_path / "bench_queries_r7.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"q": 1.0}})
    )
    (tmp_path / "bench_queries_r8.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"q": 2.0}})
    )
    # drift-spiked candidate, lexically LAST so an unfiltered glob tie
    # at r8 could surface it
    (tmp_path / "bench_queries_r8_cand9.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"q": 50.0}})
    )
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    # new=3.5 vs adjudicated r8 baseline 2.0 -> 1.75x, flagged; vs the
    # cand file's 50.0 it would NOT flag -> proves the baseline choice
    out = bench._regression_check({"q": 3.5}, 0.1)
    assert out == [("q", 2.0, 3.5)]


def test_adjudicate_pair_memo_builder_resamples_cold(spark, monkeypatch):
    """The pair-memo BUILDER (dedup_minhash_lsh) must re-sample with the
    MinHash pair memo cleared: its baselines are cold-build numbers, so
    a warm re-sample would commit the ~0.03s dict lookup (r10 cand1).
    Flagships keep their graph/flow clear; plain entries clear nothing."""
    bench = _load_bench()

    calls: list[tuple[str, ...]] = []
    monkeypatch.setattr(bench, "clear_shared", lambda *names: calls.append(names))
    assert bench.SPECS["dedup_minhash_lsh"].cold
    stub = lambda s, d: spark.range(1)  # noqa: E731
    for name in ("dedup_minhash_lsh", "max_flow", "groupagg_pricing"):
        monkeypatch.setitem(bench.QUERIES, name, stub)
    timings = {"dedup_minhash_lsh": 6.0, "max_flow": 20.0, "groupagg_pricing": 6.0}
    flags = [
        ("dedup_minhash_lsh", 3.7, 6.0),
        ("max_flow", 13.0, 20.0),
        ("groupagg_pricing", 2.0, 6.0),
    ]
    bench._adjudicate_flags(spark, "", timings, flags, run_query=None)
    assert calls == [("pairs",), ("graph", "flow")]


# every sample of a cold builder pays its memos; warm readers and plain
# entries clear nothing (a re-sample of max_flow_approx keeps the flow memo)
SAMPLE_CLEARS = {
    "max_flow": [("graph", "flow")],
    "max_flow_approx": [("graph",)],
    "dedup_minhash_lsh": [("pairs",)],
    "min_cut": [],
    "bfs_distances": [],
    "groupagg_pricing": [],
}


@pytest.mark.parametrize("name", list(SAMPLE_CLEARS))
def test_sample_clears_a_cold_entrys_memos(spark, monkeypatch, name):
    bench = _load_bench()
    calls: list[tuple[str, ...]] = []
    monkeypatch.setattr(bench, "clear_shared", lambda *names: calls.append(names))
    monkeypatch.setitem(bench.QUERIES, name, lambda s, d: spark.range(1))
    assert bench._sample(spark, "", name) >= 0
    assert calls == SAMPLE_CLEARS[name]


def test_first_reader_of_every_memo_is_cold():
    """In bench order, the first sample to read each session memo must be
    a cold builder, which clears the memo first: a warm reader that ran
    first would time the memo's build as its own (the r9 min_cut
    ordering bug). Spark-free."""
    bench = _load_bench()
    first: dict[str, str] = {}
    for name in bench.BENCH_QUERIES:
        for memo in bench.SPECS[name].memos:
            first.setdefault(memo, name)
    assert set(first) == {"graph", "flow", "pairs"}
    assert all(bench.SPECS[name].cold for name in first.values()), first


def test_choose_candidate_medians_decide(tmp_path):
    """The medians-decide rule (VERDICT r10 #4): the candidate whose
    per-query medians win is chosen even when its probe flagged
    degraded — and the artifact says which signal decided."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "choose_candidate", str(REPO / "tools" / "choose_candidate.py")
    )
    cc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cc)
    qs = [f"q{i}" for i in range(10)]
    fast_but_flagged = {
        "queries": {q: 1.0 for q in qs},
        "host_flag": "degraded",
        "total_sec": 10.0,
    }
    slow_but_ok = {
        "queries": {q: 1.3 for q in qs},
        "host_flag": "ok",
        "total_sec": 13.0,
    }
    winner, chosen_by, scores = cc.choose(
        {"cand1": slow_but_ok, "cand2": fast_but_flagged}
    )
    assert winner == "cand2" and chosen_by == "medians"
    assert scores["cand1"]["median_score"] > scores["cand2"]["median_score"]
    # score tie -> the probe breaks it, and the artifact records that
    winner2, chosen_by2, _ = cc.choose(
        {
            "a": {"queries": {q: 1.0 for q in qs}, "host_flag": "degraded",
                  "total_sec": 10.0},
            "b": {"queries": {q: 1.0 for q in qs}, "host_flag": "ok",
                  "total_sec": 10.0},
        }
    )
    assert winner2 == "b" and chosen_by2 == "probe"


def test_committed_round_snapshots_carry_chosen_by():
    """From round 11 on, the committed closing snapshot must be
    self-describing: bench_queries_r{N}.json (N >= 11) carries the
    chosen_by field stamped by tools/choose_candidate.py."""
    import glob
    import json
    import re

    for path in glob.glob(str(REPO / "bench_queries_r*.json")):
        m = re.fullmatch(r".*bench_queries_r(\d+)\.json", path)
        if not m or int(m.group(1)) < 11:
            continue
        snap = json.load(open(path))
        assert "chosen_by" in snap, path
        assert snap["chosen_by"] in ("medians", "probe"), path
        assert "candidate_scores" in snap, path

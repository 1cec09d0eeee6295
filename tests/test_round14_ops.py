"""Round-14 pins (optimization round 2 of 2 — no new operators): the
r14 driver-window rotation (VERDICT r13 #3) and the rolling 3-round
staleness horizon. The round's optimization-specific pins live next to
the code they gate (tests/test_maxflow.py byte-aware broadcast gate,
tests/test_partitioning.py)."""

from __future__ import annotations

import json
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_driver_window_rotation_r14():
    """VERDICT r13 #3: the r14 driver window leads with the fifteen
    pinned r10 spillovers, then the 29 alphabetically-first r11-cohort
    entries (no new entries — optimization round, feature-frozen); the
    fifteen remaining r11 entries spill to round 15."""
    from pysparkflow.relational.registry import QUERIES, SPECS

    window = list(QUERIES)[:50]
    core = [
        "max_flow", "bfs_distances", "dedup_exact", "dedup_minhash_lsh",
        "edge_symmetrize", "groupagg_pricing",
    ]
    assert window[: len(core)] == core
    spill_fifteen = [
        "knn_bruteforce", "knn_graph", "knn_ivf", "knn_ivf_recall",
        "knn_lsh", "lang_id", "min_cut", "mixture_drift",
        "nucleus_select", "quality_rank_fusion", "stream_merge_state",
        "token_budget_select", "topk_per_group", "unpivot_metrics",
        "zorder_layout",
    ]
    assert window[6:21] == spill_fifteen
    r15_spill = [
        "psi_drift", "quality_classify", "quality_quantile_filter",
        "range_join", "rolling_30d_spend", "salted_skew_join",
        "scd2_history", "semantic_contamination", "semantic_dedup",
        "simhash", "span_dedup", "stratified_sample", "text_quality",
        "token_totals", "url_dedup",
    ]
    assert not set(r15_spill) & set(window)
    r11_front = window[21:]
    assert len(r11_front) == 29
    assert r11_front == sorted(r11_front)
    assert all(SPECS[k].tolerance is None for k in window)
    assert len(window) == len(set(window)) == 50


def test_rotation_horizon_r14():
    """After the r14 grade lands, no regularly-rotated entry's most
    recent driver row may be older than 3 rounds — computed from ALL
    committed CORRECTNESS_r*.json artifacts plus this round's window.
    Includes the never-graded blind-spot check: a brand-new oracled
    entry must be IN the window or it is invisible to the staleness
    loop forever."""
    last: dict[str, int] = {}
    for f in sorted(REPO.glob("CORRECTNESS_r*.json")):
        rnd = int(f.stem.split("_r")[1])
        for k in json.loads(f.read_text()):
            last[k] = max(last.get(k, 0), rnd)
    from pysparkflow.relational.registry import ORACLE_SQL, QUERIES, SPECS

    window = set(list(QUERIES)[:50])
    for k in ORACLE_SQL:
        if k in QUERIES and k not in last:
            assert k in window, f"{k} is oracled but never graded and not fronted"
    for k in window:
        last[k] = 14
    stale = {
        k: r
        for k, r in last.items()
        if k in QUERIES
        and k in ORACLE_SQL
        and SPECS[k].tolerance is None
        and 14 - r > 3
    }
    assert not stale, f"entries beyond the 3-round horizon after r14: {stale}"

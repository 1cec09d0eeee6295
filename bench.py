"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with the noop sink (full compute, no
collect/write overhead).

Artifact-safety (BENCH_r04 postmortem): the driver captures only the
last ~2KB of stdout, and a single JSON line carrying all 93 query
timings (~3KB) overflowed that window, losing the headline numbers
(`parsed: null`).  The final line is therefore COMPACT: totals,
calibration, and the HEADLINE subset of query timings only; the full
per-query map is written to bench_queries_latest.json (committed per
round) and its path is referenced from the final line.

Closing-round candidate selection: run >= 3 complete candidates (each
with SPARK_GRAFT_BENCH_OUT=bench_queries_r{N}_cand{i}.json), then
`python tools/choose_candidate.py bench_queries_r{N}.json <cands...>`
— per-query MEDIANS decide, the probe bracket only breaks ties, and
the chosen snapshot carries `chosen_by` + every candidate's score
(VERDICT r10 #4; the rule's r10 precedent is recorded in SCALING.md).
The candidate side files are not committed (.gitignore): the chosen
snapshot's `candidate_scores` is their record.

Expected stderr noise: `WindowExec: No Partition Defined for Window
operation` prints a handful of times per run. ALL FOUR sources are
windows over BOUNDED intermediates by design (VERDICT r8/r9 — verified
by hand three rounds running; do not re-investigate): bm25's post-limit
rank (<= top_k rows, AFTER TakeOrderedAndProject, tfidf.py:153),
mutual_information's contingency-table marginals (|types| x 24 rows),
BPE's vocab-pair rank (bpe.py:74, vocabulary-sized), and session_paths'
trigram rank (registry.py q_session_paths, 25 rows). Not a scale
hazard; needs no investigation."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from pysparkflow.relational.registry import QUERIES
from pysparkflow.session import get_spark

# every registry query is benchmarked — a perf regression in any graded
# entry shows up as a BENCH_r{N} delta, not silently
BENCH_QUERIES = list(QUERIES)
# the flagship runs OUT of process-first position (VERDICT r5 #3): the
# first executed query absorbs residual JVM/codegen warmup (measured
# ±3s at sf0.1). A dozen cheap relational entries move to the front to
# soak that — they are all sub-3s, so min-of-2 keeps their own numbers
# comparable — and the rest of the list keeps its registry order, so
# max_flow still runs before the other graph entries (the r2–r5
# cost-attribution: the flagship pays the shared graph build, bfs/
# min_cut/approx reuse it). The flagship additionally gets an
# unconditional, memo-cleared second sample below.
_WARMUP_FRONT = [
    "scd2_temporal_join",
    "unpivot_metrics",
    "regex_extract_table",
    "quality_percent_rank",
    "embedding_centroids",
    "histogram_bins",
    "exists_correlated",
    "correlated_avg",
    "broadcast_join",
    "semi_join",
    "anti_join",
    "sort_limit",
]
for _q in _WARMUP_FRONT:
    BENCH_QUERIES.remove(_q)
BENCH_QUERIES = _WARMUP_FRONT + BENCH_QUERIES
# max_flow_approx runs BEFORE max_flow (round 9): both flagships are
# memo-cleared min-of-2 and each pays its own full graph build, so the
# swap changes neither headline — but the LAST flagship sampled is the
# one whose memo min_cut (the dual of the SAME exact run, registry
# q_min_cut) later reads. With approx last, every candidate's min_cut
# first sample paid a full ~13s exact max_flow re-run (approx clears
# _MAXFLOW_CACHE and never repopulates it — it runs a non-memoized
# config) and the committed number depended on the tripwire firing;
# with max_flow last the exact memo is warm by construction (observed
# 3/3 r9 candidates: min_cut first sample 13.8-15.9s, adjudicated
# re-sample 3.5-4.0s — systematic, not host drift).
BENCH_QUERIES.remove("max_flow_approx")
BENCH_QUERIES.insert(BENCH_QUERIES.index("max_flow"), "max_flow_approx")
# queries re-sampled (min-of-2) regardless of the <3s rule: flagship
# artifacts must not hinge on one cold/noisy sample. max_flow_approx
# joined in round 7 (VERDICT r6 #5: its r6 artifact number was a
# single sample on the drifted segment of the run, reading 1.4x its
# quiet-host cost) — both iterative headlines get the memo-cleared
# min-of-2 treatment
MIN_OF_2_ALWAYS = {"max_flow", "max_flow_approx"}
# entries whose first sample cold-BUILDS a session memo that later
# entries consume: their committed baselines are cold-build numbers, so
# any re-sample must clear that memo first or it records the warm dict
# lookup (r10 cand1: dedup_minhash_lsh snapshot 3.69s, first 6.02s on a
# degraded host, warm resample 0.03s KEPT — indefensible in the other
# direction from the r9 min_cut bug). The _GRAPH_CACHE rule is the
# opposite (warm re-sample) because THOSE entries' first samples and
# baselines are warm; the principle is the same: re-sample under the
# memo state the baseline was measured under.
PAIR_MEMO_BUILDERS = {"dedup_minhash_lsh"}

# quiet-host calibration reference (round-5 SCALING.md recertification
# runs): ratios of this run's probes against these pin whether the host
# was drifted, machine-readably (VERDICT r5 #7)
_REF_CAL = {"py_loop_sec": 0.167, "matmul_sec": 0.104}


def _host_flag(cal_before: dict, cal_after: dict) -> tuple[str, float]:
    """'ok' if the BEST of the two probe samples is within 30% of the
    pinned quiet-host reference; 'degraded' when slower, 'fast' when
    MORE than 30% faster — a host change in either direction makes
    totals incomparable across rounds, and the r3->r4 incident was
    exactly a silent machine swap. The artifact carries its own label
    instead of relying on a prose footnote."""
    worst = max(
        min(cal_before[k], cal_after[k]) / _REF_CAL[k] for k in _REF_CAL
    )
    if worst > 1.3:
        flag = "degraded"
    elif worst < 0.7:
        flag = "fast"
    else:
        flag = "ok"
    return flag, round(worst, 2)

# the subset whose timings ride on the compact final JSON line (the
# driver-parseable artifact); everything else lives in the side file
HEADLINE = [
    "max_flow",
    "max_flow_approx",
    "bfs_distances",
    "min_cut",
    "connected_components",
    "pagerank",
    "sssp_bounded",
    "kcore",
    "triangle_count",
    "dedup_exact",
    "dedup_minhash_lsh",
    "knn_bruteforce",
    "knn_ivf",
    "events_stream_windowed",
    "events_stream_stateful",
    "curation_pipeline",
]


def _host_calibration() -> dict[str, float]:
    """Fixed, Spark-independent CPU probes so per-round bench numbers are
    comparable across hosts of different speeds (round 3→4 moved to a
    machine measuring ~1.45x slower on identical code; without a
    calibration constant that reads as a uniform perf regression).
    Returns seconds for a pinned single-thread python loop and a pinned
    numpy matmul — compare ratios, not absolutes."""
    import numpy as np

    t0 = time.time()
    s = 0
    for i in range(5_000_000):
        s += i
    py = time.time() - t0
    rng = np.random.default_rng(0)
    a = rng.standard_normal((1024, 1024))
    t0 = time.time()
    for _ in range(8):
        a @ a
    blas = time.time() - t0
    return {"py_loop_sec": round(py, 3), "matmul_sec": round(blas, 3)}


def _warm_streaming(spark) -> None:
    """Pay one-time Structured Streaming infrastructure costs (state store
    provider init, streaming scheduler, checkpoint dir plumbing) outside
    the timed region, mirroring the batch warmups above. A 2-row file
    stream through a watermarked aggregate to a memory sink."""
    import tempfile

    d = tempfile.mkdtemp(prefix="bench-stream-warm-")
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 01:00:00")], "k int, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode("overwrite").parquet(d)
    stream = (
        spark.readStream.schema("k int, ts timestamp").format("parquet").load(d)
    )
    agg = stream.withWatermark("ts", "1 minute").groupBy(F.window("ts", "1 hour")).count()
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("bench_stream_warm")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _regression_check(
    timings: dict[str, float], sf_val: float | None
) -> list[tuple[str, float, float]]:
    """Compare this run's per-query timings against the newest committed
    ``bench_queries_r*.json`` snapshot; return (name, old, new) for
    entries slower by >1.5x AND >1s. Missing/unreadable snapshot, a
    snapshot at a DIFFERENT scale factor (an sf0.01 canary vs an sf0.1
    snapshot is not a regression signal), or new queries are skipped
    silently."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    # adjudicated round snapshots ONLY (bench_queries_r8.json) — a
    # per-candidate side file (bench_queries_r8_cand2.json) left in the
    # checkout may contain exactly the drift spikes adjudication
    # excluded, so it must never become the regression baseline
    snaps = sorted(
        (
            p
            for p in glob.glob(os.path.join(here, "bench_queries_r*.json"))
            if re.fullmatch(r"bench_queries_r\d+\.json", os.path.basename(p))
        ),
        key=lambda p: int(re.search(r"_r(\d+)", p).group(1)),
    )
    if not snaps:
        return []
    try:
        with open(snaps[-1]) as fh:
            snap = json.load(fh)
        if snap.get("sf") != sf_val:
            return []
        old = snap.get("queries", {})
    except Exception:
        return []
    out = [
        (name, old[name], new)
        for name, new in timings.items()
        if name in old and new > 1.5 * old[name] and new - old[name] > 1.0
    ]
    return sorted(out, key=lambda t: t[2] - t[1], reverse=True)


def _adjudicate_flags(
    spark,
    sf_dir: str,
    timings: dict[str, float],
    flags: list[tuple[str, float, float]],
    run_query=None,
) -> list[tuple[str, float, float, float]]:
    """Re-sample every tripwire flag in-run (noop sink, full recompute,
    memo discipline IDENTICAL to the main loop's) and commit
    min(first, resample) into ``timings``. Returns
    (name, snapshot, first, resample) per flag. ``run_query`` overrides
    the query runner for tests.

    Memo discipline (ADVICE r8): the flagship entries clear the
    graph/flow memos before the re-sample, exactly as before their main
    samples; _GRAPH_CACHE-backed entries (min_cut, sssp_bounded,
    triangle_count, ...) re-sample WARM — deliberately, not as an
    oversight. Their main-loop first samples AND every snapshot
    baseline were measured against the same warm graph memo (graph
    build is timed only inside max_flow, per the min_cut discipline at
    the main loop), so a warm re-sample is the only apples-to-apples
    comparison; clearing here would charge the re-sample a graph build
    + max_flow that neither the first sample nor the baseline paid and
    commit an incomparable min(). A genuine ALGORITHM regression
    survives a warm re-sample unchanged, and a genuine GRAPH-BUILD
    regression is caught by the memo-cleared flagship samples.

    The inverse rule for PAIR_MEMO_BUILDERS (r10): dedup_minhash_lsh's
    first sample and every baseline are COLD pair-memo builds, so its
    re-sample clears the pair memo — a warm re-sample is the dict
    lookup, not the operator."""
    from pysparkflow.engine.cache import release_tracked
    from pysparkflow.relational.registry import (
        clear_flow_memos,
        clear_pair_memos,
    )

    adjudicated: list[tuple[str, float, float, float]] = []
    for name, old, first in flags:
        if run_query is None:
            if name in MIN_OF_2_ALWAYS:
                clear_flow_memos()
            if name in PAIR_MEMO_BUILDERS:
                clear_pair_memos()
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            resample = round(time.time() - t0, 3)
            release_tracked()
        else:
            resample = run_query(name)
        timings[name] = min(first, resample)
        adjudicated.append((name, old, first, resample))
        print(
            f"[bench] adjudicate {name}: snapshot {old:.2f}s -> first "
            f"{first:.2f}s (resample: {resample:.2f}s, kept "
            f"{timings[name]:.2f}s)",
            file=sys.stderr,
        )
    return adjudicated


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = None
    cal_before = _host_calibration()
    spark = get_spark(
        app_name="pysparkflow-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    # warm the session (JIT, codegen, scheduler, Python worker pool, file
    # metadata) so the first timed query isn't charged for startup costs
    spark.range(5_000_000).groupBy((F.col("id") % 16).alias("k")).count().collect()
    spark.createDataFrame([(1,)], "x int").mapInPandas(
        lambda it: it, "x int"
    ).collect()
    from pysparkflow.relational.registry import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    _warm_streaming(spark)
    from pysparkflow.engine.cache import release_tracked

    from pysparkflow.relational.registry import clear_flow_memos

    timings: dict[str, float] = {}
    for name in BENCH_QUERIES:
        fn = QUERIES[name]
        # the flagship's samples are SELF-CONTAINED: drop the session
        # graph/flow memos so each timed run pays graph build + the full
        # iterative computation (other graph entries sharing the memo is
        # the documented min_cut discipline; the headline number is not
        # allowed to be a memo lookup)
        if name in MIN_OF_2_ALWAYS:
            clear_flow_memos()
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 3)
        # operator-internal caches (shingle index, normalized vectors) are
        # per-query scratch; release so 90+ queries don't stack dead cache
        release_tracked()
        # the bench VM's CPU drifts up to ~5x mid-run (see the
        # host_calibration probes); a single sample of a sub-3s query can
        # read as a fake multi-x regression. Repeat cheap queries once and
        # keep the MIN — the second run still does full compute (noop
        # sink, no result cache), so min-of-2 measures the code, not the
        # host's worst moment. Expensive queries stay single-sample to
        # bound total runtime.
        # warmup-front entries ALSO always re-sample: their first sample
        # absorbs the residual JVM warmup they were placed to soak, so
        # the <3s gate judged on it would skip the re-sample exactly
        # when the number is most contaminated
        if (
            timings[name] < 3.0
            or name in MIN_OF_2_ALWAYS
            or name in _WARMUP_FRONT
        ):
            if name in MIN_OF_2_ALWAYS:
                clear_flow_memos()
            # memo BUILDERS re-sample cold (see PAIR_MEMO_BUILDERS):
            # guards the day a fast host pushes the cold build under
            # the 3s gate and min-of-2 would otherwise record the
            # warm dict lookup
            if name in PAIR_MEMO_BUILDERS:
                from pysparkflow.relational.registry import clear_pair_memos

                clear_pair_memos()
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = min(timings[name], round(time.time() - t0, 3))
            release_tracked()
        print(f"[bench] {name}: {timings[name]:.2f}s", file=sys.stderr)
    # self-adjudicating tripwire (VERDICT r7 #2): a query tripping the
    # >1.5x flag is immediately re-sampled (memo-cleared, full recompute)
    # within the SAME run — a host-drift spike caught once must not
    # become the committed number, and a flag that SURVIVES its own
    # re-sample is evidence of code, not host. Runs before the closing
    # calibration probe so the probe brackets every timed sample.
    adjudicated = _adjudicate_flags(
        spark, sf_dir, timings, _regression_check(timings, sf_val)
    )
    total = round(sum(timings.values()), 3)
    # flagship loop counters (VERDICT r8 #6): with host whipsaw up to
    # 1.5x on identical code, phases/rounds are the scalars that
    # distinguish "host was slow" from "the loop ran more rounds" —
    # recorded by the graded query functions on their LAST run this
    # process (i.e. the committed min-of-2's second sample)
    from pysparkflow.relational.registry import LAST_FLAGSHIP_METRICS

    flagship = {k: dict(v) for k, v in LAST_FLAGSHIP_METRICS.items()}
    cal_after = _host_calibration()
    host_flag, host_ratio = _host_flag(cal_before, cal_after)
    # full per-query map → committed side file (too big for the driver's
    # ~2KB stdout tail window; see module docstring)
    # SPARK_GRAFT_BENCH_OUT names this run's side file (e.g.
    # bench_queries_r8_cand1.json) so per-query variance across same-code
    # candidates is machine-readable via tools/bench_delta.py
    side_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        os.environ.get("SPARK_GRAFT_BENCH_OUT", "bench_queries_latest.json"),
    )
    with open(side_path, "w") as fh:
        json.dump(
            {
                "total_sec": total,
                "sf": sf_val,
                "queries": timings,
                # loop counters from the flagship's last timed sample
                # (VERDICT r8 #6)
                "flagship_metrics": flagship,
                "host_calibration": cal_before,
                "host_calibration_after": cal_after,
                "host_flag": host_flag,
                "host_ratio_vs_quiet_ref": host_ratio,
                # ADVICE r4 (bench.py:122): min-of-2 applies to sub-3s
                # queries from round 4 onward; BENCH_r02 and earlier were
                # single-sample, so cross-round ratios vs those rounds
                # carry a sampling-policy asymmetry in the newer round's
                # favor (bounded by the host-drift the policy removes).
                # tripwire adjudications this run (name, snapshot, first
                # sample, in-run re-sample; min(first, resample) is the
                # committed number)
                "adjudicated": [
                    {"query": n, "snapshot": o, "first": f0, "resample": r}
                    for n, o, f0, r in adjudicated
                ],
                "sampling": {
                    "policy": (
                        "min-of-2 for <3s queries, warmup-front entries, "
                        "and the flagship (memo-cleared, full recompute "
                        "each sample); single-sample above 3s otherwise"
                    ),
                    "baseline_note": (
                        "BENCH_r02 and earlier were single-sample; "
                        "flagship min-of-2 starts in round 6 (r2-r5 "
                        "max_flow numbers are single-sample)"
                    ),
                },
            },
            fh,
            indent=1,
        )
        fh.write("\n")
    # regression tripwire (VERDICT r6 #7): diff this run against the
    # newest committed per-round snapshot so the artifact itself surfaces
    # per-query regressions — round 6's dedup regression sat in two
    # committed files that nobody diffed. Flagged when BOTH >1.5x the
    # snapshot AND >1s absolute (sub-second entries whipsaw on host
    # noise). Since round 8 the timings here are POST-adjudication
    # (min over the first sample and the in-run re-sample), so a flag
    # that still prints survived its own memo-cleared re-sample — code,
    # not a one-off host spike.
    regressed = _regression_check(timings, sf_val)
    for name, old, new in regressed:
        print(
            f"[bench] REGRESSED >1.5x (survived re-sample): "
            f"{name} {old:.2f}s -> {new:.2f}s",
            file=sys.stderr,
        )
    if not regressed:
        print("[bench] regression check vs last snapshot: clean", file=sys.stderr)
    # stop Spark BEFORE the final print: intermittent JVM shutdown-race
    # stack traces otherwise land on the merged stream AFTER the JSON
    # line and can displace it from a tail-capture artifact
    try:
        spark.stop()
    except Exception:
        pass
    print(
        json.dumps(
            {
                "metric": "bench_total",
                "value": total,
                "unit": "sec",
                "queries": {k: timings[k] for k in HEADLINE if k in timings},
                "n_queries": len(timings),
                "sf": sf_val,
                # probed twice: the bench host is a VM whose effective CPU
                # speed drifts WITHIN a run (observed 0.20s-0.33s for the
                # same pinned loop minutes apart); two samples bound the
                # drift a given run was subject to
                "host_calibration": cal_before,
                "host_calibration_after": cal_after,
                # ok | degraded vs the pinned quiet-host probes (_REF_CAL);
                # a degraded flag means totals are NOT comparable across
                # rounds without the calibration ratio
                "host_flag": host_flag,
                "host_ratio": host_ratio,
                # per-query diff vs the newest committed bench_queries_r*
                # snapshot (>1.5x and >1s): the artifact carries its own
                # regression flags (VERDICT r6 #7). Worst 4 by delta.
                "regressed": [
                    f"{n}:{o}->{v}" for n, o, v in regressed[:4]
                ],
                # tripwire flags re-sampled in-run (detail in the side
                # file); "regressed" above lists only survivors
                "n_adjudicated": len(adjudicated),
                # flagship loop shape next to its seconds (VERDICT r8
                # #6): same rounds+phases but slower = host; more
                # rounds = the iteration genuinely changed
                "max_flow_rounds": flagship.get("max_flow", {}).get("rounds"),
                "max_flow_phases": flagship.get("max_flow", {}).get("phases"),
                "queries_full": os.path.basename(side_path),
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()

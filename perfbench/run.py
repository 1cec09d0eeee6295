"""Benchmark for pysparkflow's graph engine: max-flow and the BFS family.

    python3 perfbench/run.py --workload lineitem-maxflow --seed 0 --seconds 1 --trace 0

One driver process on ``local[N]`` (N = usable cores, shuffle partitions =
N). Set-up starts Spark and runs a first job (``setup_s``), writes the
seeded inputs and computes the expected answers off the engine. Then
queries run back to back (a closed loop, one in flight) until ``--seconds``
have passed, each timed from the read call to a materialized result and
checked. The first query, in the fresh session, is the end-to-end sample.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` traces the
queries and reports the first one's per-layer metrics (see
perfbench/README.md). Human-readable lines come
first; the last line of standard output is one JSON object. A full record
of the run goes to ``.perfbench/results/`` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

import tracing
from workloads import DEFAULT_SEED, WORKLOADS

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"

# The query is bounded by what the host's noise leaves steady: its Spark
# job count, which work on the per-job floor (fewer rounds, fused or
# dropped jobs) moves, and its executor CPU. On a shared virtual machine
# the hypervisor's steal (0-21% here, varying by the minute) spread wall
# time (query_s) by 0.26-0.28 over ten seeds, while executor CPU held
# within 0.13; query_s is printed and recorded.
END_TO_END = [("setup_s", "s"), ("query_jobs", "count"), ("query_cpu_s", "s")]

_SPAN_METRICS = [("s", "s"), ("jobs", "count"), ("shuffle_bytes", "bytes"),
                 ("executor_cpu_s", "s"), ("no_job_s", "s")]

PER_LAYER = (
    [("graph.build_s", "s"), ("graph.input_bytes", "bytes"), ("graph.shuffle_bytes", "bytes")]
    + [
        (f"algo.maxflow.{k}", u)
        for k, u in [
            ("s", "s"), ("phases", "count"), ("rounds", "count"), ("round_s", "s"),
            ("rounds_s", "s"), ("init_s", "s"), ("restart_meet_s", "s"),
            ("flows_update_s", "s"), ("repair_s", "s"), ("validate_s", "s"),
            ("unattributed_s", "s"), ("frontier_rows_max", "count"), ("jobs", "count"),
            ("broadcast_jobs", "count"), ("tasks", "count"), ("shuffle_bytes", "bytes"),
            ("executor_cpu_s", "s"), ("no_job_s", "s"),
        ]
    ]
    + [
        ("engine.acceptor.candidates", "count"),
        ("engine.acceptor.rejected", "count"),
        ("engine.acceptor.useful_ratio", "ratio"),
        ("engine.acceptor.accept_s", "s"),
        ("engine.partitioning.gate_calls", "count"),
        ("engine.partitioning.gate_broadcast", "count"),
    ]
    + [
        (f"{layer}.{k}", u)
        for layer in ("algo.bfs", "algo.components", "algo.pagerank")
        for k, u in _SPAN_METRICS
    ]
    + [("spark.gc_s", "s"), ("spark.tasks", "count"), ("trace.overhead_s", "s")]
)


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_calibration() -> dict[str, float]:
    """bench.py's Spark-independent CPU probes (a pinned Python loop and a
    pinned numpy matmul) at a fifth and a quarter of bench.py's sizes,
    scaled back up so they read against bench.py's quiet-host pins
    (py_loop_sec 0.167, matmul_sec 0.104)."""
    import numpy as np

    t0 = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s += i
    py = time.perf_counter() - t0
    a = np.random.default_rng(0).standard_normal((1024, 1024))
    t0 = time.perf_counter()
    for _ in range(2):
        a @ a
    return {"py_loop_sec": 5 * py, "matmul_sec": 4 * (time.perf_counter() - t0)}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: on a virtual
    machine, steal is time the hypervisor ran someone else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM process to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def reset(spark) -> None:
    """Drop every cache and collect garbage between queries, so no query
    reads a previous one's persisted tables and each starts from a
    similar heap."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def layer_metrics(answer: dict, spans, jobs, stages, counters, window: dict) -> dict:
    m = {name: 0.0 for name, _ in PER_LAYER}
    by_span = {name: tracing.window_counters(jobs, stages, t0, t1) for name, t0, t1 in spans.items}
    g = by_span["graph"]
    m["graph.build_s"] = g["s"]
    m["graph.input_bytes"] = g["input_bytes"]
    m["graph.shuffle_bytes"] = g["shuffle_bytes"]
    for layer, c in by_span.items():
        if layer.startswith("algo."):
            for k in ("s", "jobs", "shuffle_bytes", "executor_cpu_s", "no_job_s", "broadcast_jobs", "tasks"):
                if f"{layer}.{k}" in m:
                    m[f"{layer}.{k}"] = c[k]
    rm = answer.get("maxflow_metrics")
    if rm is not None:
        seg = rm.segment_secs
        rounds_s = sum(rm.round_secs)
        m.update({
            "algo.maxflow.phases": rm.phases,
            "algo.maxflow.rounds": rm.rounds,
            "algo.maxflow.round_s": statistics.median(rm.round_secs) if rm.round_secs else 0.0,
            "algo.maxflow.rounds_s": rounds_s,
            "algo.maxflow.init_s": seg.get("init", 0.0),
            "algo.maxflow.restart_meet_s": seg.get("restart_meet", 0.0),
            "algo.maxflow.flows_update_s": seg.get("flows_update", 0.0),
            "algo.maxflow.repair_s": seg.get("repair", 0.0),
            "algo.maxflow.validate_s": seg.get("validate", 0.0),
            # the max_flow span not covered by its rounds or any segment
            # (super-node injection, driver gaps between segments)
            "algo.maxflow.unattributed_s": by_span["algo.maxflow"]["s"] - rounds_s - sum(seg.values()),
            "algo.maxflow.frontier_rows_max": rm.frontier_rows_max,
        })
    m["engine.acceptor.candidates"] = counters.candidates
    m["engine.acceptor.rejected"] = counters.rejected
    m["engine.acceptor.useful_ratio"] = (
        (counters.candidates - counters.rejected) / counters.candidates if counters.candidates else 0.0
    )
    m["engine.acceptor.accept_s"] = counters.accept_s
    m["engine.partitioning.gate_calls"] = counters.gate_calls
    m["engine.partitioning.gate_broadcast"] = counters.gate_broadcast
    m["spark.gc_s"] = window["gc_s"]
    m["spark.tasks"] = window["tasks"]
    m["trace.overhead_s"] = counters.overhead_s
    return m


class Runner:
    """Runs, times and checks the queries of one workload on one case."""

    def __init__(self, spark, workload, case) -> None:
        self.spark = spark
        self.workload = workload
        self.case = case
        self.store = tracing.StatusStore(spark)
        self.attempted = 0
        self.failed = 0

    def run_query(self, traced: bool) -> dict:
        """One timed query, then its check; returns the sample record."""
        spans = tracing.Spans()
        counters = tracing.LayerCounters()
        answer: dict = {}
        error = None
        self.attempted += 1
        t0 = time.time()
        try:
            with counters if traced else nullcontext():
                answer = self.workload.query(self.spark, self.case, spans)
        except Exception:
            error = traceback.format_exc()
        t1 = time.time()
        jobs, stages = self.store.snapshot()
        window = tracing.window_counters(jobs, stages, t0, t1)
        rec = {
            "traced": traced,
            "query_s": t1 - t0,
            "query_jobs": window["jobs"],
            "query_cpu_s": window["executor_cpu_s"],
            "errors": [error] if error else [],
        }
        if traced and not error:
            rec["layers"] = layer_metrics(answer, spans, jobs, stages, counters, window)
        if "maxflow_metrics" in answer:
            rec["maxflow"] = answer["maxflow_metrics"].as_dict()
        reset(self.spark)
        if not error:
            rec["errors"] = self.workload.check(self.case, answer)
        self.failed += bool(rec["errors"])
        return rec

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=1.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "pysparkflow" / "__init__.py").is_file():
        print(f"perfbench: no pysparkflow package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    run_dir = WORK / f"run-{os.getpid()}"
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    # keep Spark's shuffle/block files and every temp file in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    try:
        return run(args, WORKLOADS[args.workload], run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, workload, run_dir: Path) -> int:
    from pysparkflow.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        },
    )
    try:
        spark.range(cores).count()
        setup_s = process_age_s()
        return measure(args, workload, spark, setup_s, run_dir)
    finally:
        stop_spark(spark)


def measure(args, workload, spark, setup_s: float, run_dir: Path) -> int:
    cal_before = host_calibration()
    steal0, total0 = cpu_ticks()
    data_dir = run_dir / "data"
    data_dir.mkdir()
    case = workload.prepare(str(data_dir), args.seed)
    runner = Runner(spark, workload, case)

    # The first query runs in the fresh session, as in a one-shot batch
    # application: it is the end-to-end (or, traced, the per-layer) sample.
    # Queries after it, while --seconds last, are warm.
    samples: list[dict] = []
    t0 = time.time()
    while not runner.failed and (not samples or time.time() - t0 < args.seconds):
        samples.append(runner.run_query(traced=bool(args.trace)))
    measured_s = time.time() - t0
    steal1, total1 = cpu_ticks()

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = vm_hwm_mb() + vm_hwm_mb(jvm_pid)
    cal_after = host_calibration()

    first, warm = samples[0], samples[1:]
    extra = {
        "query_s": (first["query_s"], "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "error_rate": (runner.error_rate, "ratio"),
    }
    if warm:
        extra["warm_query_s"] = (statistics.median(s["query_s"] for s in warm), "s")
    metrics: dict[str, dict] = {}
    if not runner.failed:
        if args.trace:
            values = first["layers"]
            names = PER_LAYER
        else:
            values = {"setup_s": setup_s, **first}
            names = END_TO_END
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in names}

    record = {
        "workload": workload.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": spark.sparkContext.defaultParallelism,
        "spark_version": spark.version,
        "host_calibration": cal_before,
        "host_calibration_after": cal_after,
        "host_steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "setup_s": setup_s,
        "measured_s": measured_s,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "params": case.params,
        "expected": case.expected,
        "samples": samples,
        "metrics": metrics,
        "extra": {name: v for name, (v, _) in extra.items()},
    }
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    out = results / f"{workload.name}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    out.write_text(json.dumps(record, indent=1, default=str))

    print(
        f"perfbench {workload.name} seed={args.seed} trace={args.trace} "
        f"cores={record['cores']} spark={spark.version} queries={runner.attempted} "
        f"failed={runner.failed} steal={record['host_steal_share']:.1%} "
        f"record={out.relative_to(ROOT)}"
    )
    for s in samples:
        for err in s["errors"]:
            print(f"FAILED: {err}")
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    for name, (v, unit) in extra.items():
        print(f"{name} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": not runner.failed,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 1 if runner.failed else 0


if __name__ == "__main__":
    sys.exit(main())

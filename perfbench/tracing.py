"""Spans, Spark status-store counters and layer call counters.

Spans are wall-clock intervals the benchmark records around its calls into
each pysparkflow layer. Spark work is attributed to a span by JOB
SUBMISSION TIME: the benchmark keeps one query in flight, so every job
submitted inside a span belongs to it — including jobs max_flow submits
from its own thread pool, which a (thread-local) job group would miss.
Stages are attributed by their own submission time, so a shuffle stage
that a later job reuses (and skips) is counted once.

``LayerCounters`` wraps the engine functions algo.maxflow calls into —
``GreedyAcceptor`` methods and the partitioning broadcast gates — from
the benchmark's side, for traced runs only; nothing under pysparkflow/
changes. The wrappers are the only work a traced query adds (spans are
recorded in every query, and the status store is read after the timed
window), so the time they spend outside the wrapped calls is the tracing
overhead.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Job:
    job_id: int
    submitted: float  # epoch seconds
    completed: float | None
    tags: list[str]


@dataclass
class Stage:
    stage_id: int
    submitted: float
    status: str
    tasks: int
    cpu_s: float
    gc_s: float
    input_bytes: int
    shuffle_bytes: int  # shuffle write: bytes a stage hands to the next


class Spans:
    """(name, start, end) intervals in epoch seconds, in completion order."""

    def __init__(self) -> None:
        self.items: list[tuple[str, float, float]] = []

    @contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.items.append((name, t0, time.time()))


def _ms(v) -> float | None:
    return None if v is None else v / 1000.0


class StatusStore:
    """Reads jobs and stages from the driver's in-process AppStatusStore
    (populated with the UI disabled), serialized to JSON by the Jackson
    mapper already on Spark's classpath — two py4j calls per snapshot."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._no_task_status = jvm.java.util.ArrayList()

    def snapshot(self) -> tuple[list[Job], list[Stage]]:
        # listener events are delivered asynchronously: drain them first
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
        stages = json.loads(
            self._mapper.writeValueAsString(
                self._store.stageList(
                    None, False, False, self._no_quantiles, self._no_task_status
                )
            )
        )
        return (
            [
                Job(
                    j["jobId"],
                    _ms(j["submissionTime"]),
                    _ms(j.get("completionTime")),
                    j.get("jobTags") or [],
                )
                for j in jobs
                if j.get("submissionTime") is not None
            ],
            [
                Stage(
                    s["stageId"],
                    _ms(s["submissionTime"]),
                    s["status"],
                    s["numTasks"],
                    s["executorCpuTime"] / 1e9,
                    s["jvmGcTime"] / 1000.0,
                    s["inputBytes"],
                    s["shuffleWriteBytes"],
                )
                for s in stages
                if s.get("submissionTime") is not None
            ],
        )


def window_counters(
    jobs: list[Job], stages: list[Stage], t0: float, t1: float
) -> dict[str, float]:
    """Spark work attributed to the wall interval [t0, t1]."""
    js = [j for j in jobs if t0 <= j.submitted <= t1]
    st = [s for s in stages if t0 <= s.submitted <= t1 and s.status != "SKIPPED"]
    busy, cursor = 0.0, t0
    for j in sorted(js, key=lambda j: j.submitted):
        end = min(j.completed if j.completed is not None else t1, t1)
        start = max(j.submitted, cursor)
        if end > start:
            busy += end - start
            cursor = end
    return {
        "s": t1 - t0,
        "jobs": len(js),
        # broadcast builds carry a "broadcast exchange (runId ...)" job tag
        "broadcast_jobs": sum(any("broadcast exchange" in t for t in j.tags) for j in js),
        "tasks": sum(s.tasks for s in st),
        "executor_cpu_s": sum(s.cpu_s for s in st),
        "gc_s": sum(s.gc_s for s in st),
        "input_bytes": sum(s.input_bytes for s in st),
        "shuffle_bytes": sum(s.shuffle_bytes for s in st),
        "no_job_s": (t1 - t0) - busy,
    }


# the names Spark accepts for a broadcast join hint (case-insensitive)
_BROADCAST_HINTS = {"BROADCAST", "BROADCASTJOIN", "MAPJOIN"}


def has_broadcast_hint(df) -> bool:
    """Whether ``df``'s logical plan is topped by a broadcast hint, i.e.
    whether a join will ship it to every task rather than shuffle it."""
    plan = df._jdf.queryExecution().logical()
    return plan.nodeName() == "UnresolvedHint" and plan.name().upper() in _BROADCAST_HINTS


class LayerCounters:
    """Counts and times calls algo.maxflow makes into engine.acceptor, and
    the broadcast-vs-shuffle decisions of engine.partitioning's gates, by
    wrapping those functions for the lifetime of a ``with`` block. Each
    decision is read from what the gate returned, never re-derived."""

    def __init__(self) -> None:
        self.candidates = 0
        self.rejected = 0
        self.accept_s = 0.0
        self.gate_calls = 0
        self.gate_broadcast = 0
        self.overhead_s = 0.0
        self._saved: list[tuple[object, str, object]] = []

    def _patch(self, owner, name: str, wrapper) -> None:
        self._saved.append((owner, name, getattr(owner, name)))
        setattr(owner, name, wrapper)

    def __enter__(self) -> "LayerCounters":
        from pysparkflow.engine import partitioning
        from pysparkflow.engine.acceptor import GreedyAcceptor

        def wrap(fn, count, timed=False):
            """``fn`` with ``count(args, result)`` run after each call; the
            wrapper's own time lands in ``overhead_s``."""

            def wrapper(*args, **kwargs):
                t0 = time.perf_counter()
                try:
                    out = fn(*args, **kwargs)
                finally:
                    t1 = time.perf_counter()
                    if timed:
                        self.accept_s += t1 - t0
                count(args, out)
                self.overhead_s += time.perf_counter() - t1
                return out

            return wrapper

        def on_try_accept(args, got: int) -> None:
            self.candidates += 1
            self.rejected += got == 0

        def on_wide_gate(args, broadcast: bool) -> None:
            self.gate_calls += 1
            self.gate_broadcast += bool(broadcast)

        def on_state_gate(args, side) -> None:
            self.gate_calls += 1
            self.gate_broadcast += has_broadcast_hint(side)

        def ignore(args, out) -> None:
            pass

        for name, count in (
            ("observe_arcs", ignore), ("flow_deltas", ignore), ("try_accept", on_try_accept)
        ):
            self._patch(GreedyAcceptor, name, wrap(getattr(GreedyAcceptor, name), count, timed=True))
        self._patch(
            partitioning,
            "wide_rows_broadcastable",
            wrap(partitioning.wide_rows_broadcastable, on_wide_gate),
        )
        self._patch(
            partitioning, "state_join_side", wrap(partitioning.state_join_side, on_state_gate)
        )
        return self

    def __exit__(self, *exc) -> None:
        while self._saved:
            owner, name, original = self._saved.pop()
            setattr(owner, name, original)

"""Per-run metrics, replacing the reference's ~40 Hadoop counters
(mf/MFCounter.java:3-49) with a plain driver-side record (D12). Where the
reference pulled counters back from the JobTracker each round
(ff1/FordFulkerson.java:209-235), we read them off the collected phase
results — the driver loop already has the data in hand."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class RoundMetrics:
    phases: int = 0
    rounds: int = 0
    accepted_flow: int = 0
    accepted_paths: int = 0
    candidates_seen: int = 0
    candidates_rejected: int = 0
    frontier_rows_max: int = 0
    per_phase: list[dict] = field(default_factory=list)
    # per-round wall seconds, appended by the driver loop — the profile
    # that shows whether a slow run is round-count or per-round cost
    round_secs: list[float] = field(default_factory=list)
    # coarse non-round segment wall seconds (arcs build, restart meet,
    # acceptance, flow update, repair, validate), summed across phases.
    # Caveat: "arcs_build" times lazy plan construction only (persist()
    # runs no job) — the arc cache actually materializes inside the
    # first round's join, so that cost lands in round_secs[0].
    # "restart_meet" times only the collect of the stored pairs (none
    # when their count is 0): the job that cuts and counts those pairs
    # is the repair job, so it lands in "repair"
    segment_secs: dict = field(default_factory=dict)
    # approx-mode diminishing-returns stop (MaxFlowConfig.approx): did
    # it fire, and at which phase (VERDICT r7 #4 — proves whether the
    # knob ever saves work before natural convergence on a given graph)
    early_stop: bool = False
    early_stop_phase: int | None = None

    def as_dict(self) -> dict:
        return {
            "phases": self.phases,
            "rounds": self.rounds,
            "accepted_flow": self.accepted_flow,
            "accepted_paths": self.accepted_paths,
            "candidates_seen": self.candidates_seen,
            "candidates_rejected": self.candidates_rejected,
            "frontier_rows_max": self.frontier_rows_max,
            "round_secs": [round(t, 3) for t in self.round_secs],
            "segment_secs": {k: round(v, 3) for k, v in self.segment_secs.items()},
            "early_stop": self.early_stop,
            "early_stop_phase": self.early_stop_phase,
        }

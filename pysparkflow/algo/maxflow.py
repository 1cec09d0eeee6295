"""Multi-source / multi-sink maximum flow, Spark-first.

Re-expresses the reference's Ford-Fulkerson-with-parallel-incremental-
bidirectional-path-growing (ff1..ff5, SURVEY.md §2.2) on DataFrames:

* the per-round MapReduce job (map = extend excesses D4, reduce = merge D5)
  becomes a **frontier join against residual arcs derived lazily from the
  cached edge table** — the graph is materialized (and shuffled) exactly
  once; per-round joins scan the in-memory columnar cache (the ff3
  "schimmy" lesson taken further: not even the frontier re-shuffles the
  graph, ff3/ReduceFF.java:82-163);
* flow state is a small sparse table broadcast onto the edge cache each
  phase (the accepted-flows side file every task preloads, S6/D9,
  ff1/FordFulkerson.java:44-63) with engine/partitioning's row gate
  falling back to a co-partitioned join when flows outgrow broadcast
  range;
* the bidirectional S/T excess growth (ff2/Vertex.java:70-92) becomes two
  BFS frontiers with per-vertex best-path retention (K-truncation D10,
  ff1/Vertex.java:118-131; K=1 uses a hash-aggregate min_by — partial
  map-side combine — instead of a window sort);
* meet-in-the-middle (D6/D7, ff1/Vertex.java:298-318) becomes an equi-join
  of the newly extended frontier against the opposite side's path map,
  cut and counted in the job that materializes the frontier — the
  reference detects the meet inside the round's own reduce
  (ff2/FordFulkerson.java:246-249, ff5/ReduceFF.java:192-198) — and
  collected only when that count is positive. The restart meet of the
  stored paths rides the job that counts their repair the same way;
* the RMI ApServer's serial greedy acceptance (D8/D17,
  ff2/ApServer.java:26-48) becomes a driver-side Python loop over the
  collected candidates (engine/acceptor.py);
* Hadoop counters (D12) become driver-side metrics; the convergence rule
  (D11, ff1/FordFulkerson.java:240-244) becomes: stop when a phase's
  bidirectional BFS exhausts both frontiers without a meet — an *exact*
  termination proof (no residual s-t path => max flow), strictly stronger
  than the reference's heuristic rule.

Phase structure (one "phase" = one bidirectional BFS + batch acceptance;
one "round" = one frontier extension):

    while True:
        arcs  = residual arcs (cached edges ⋈ broadcast flows, lazy)
        candidates = stored restart pairs, if their count is positive
        grow S-frontier from s / T-frontier from t alternately (BFS, visited-pruned);
            one job per round cuts and counts the frontier and its meet pairs,
            candidates += meet rows (S-walk ++ T-walk + residual snapshots)
            when the pair count is positive
        if frontiers exhaust with no meet: break         # proven optimal
        greedy-accept on driver; flows += deltas
        one job cuts and counts repaired S/T paths and their restart pairs; loop

Each phase accepts a *batch* of augmenting paths (all compatible meets), so
the phase count scales with maxflow / batch-size, not maxflow — the same
effect the reference gets from spraying many excesses per round.

Scale notes (100 TB): the edge table shuffles once at build; per-round
shuffles move only the frontier (thin rows: vertex + walk-prefix arrays).
Checkpointed frontiers carry NO size statistics, so Catalyst would plan
every round's join sort-merge and exchange the arc cache once per round;
the driver loop instead gates explicit broadcasts on the frontier/visited
counts it already tracks (the same schimmy discipline as the pagerank
family), falling back to the shuffle join above the gate. Path-carrying
sides (frontier, stored-path meet) gate on ESTIMATED BYTES — rows x
(24 + 16*path-length bound) through engine/partitioning.
wide_rows_broadcastable — because their rows are arrays, not scalars; the
narrow visited and flows sides take its row gate, state_join_side. Driver
traffic per phase is the meet candidates (bounded by ``max_candidates``)
and the accepted-flow deltas — both tiny. All randomness is hash-seeded (ff1/Vertex.java:60
discipline), so task retries and speculative execution are safe.
"""

from __future__ import annotations

import logging
import time as _time
from dataclasses import dataclass, field
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from pysparkflow.engine import partitioning, rounds
from pysparkflow.engine.acceptor import GreedyAcceptor
from pysparkflow.engine.metrics import RoundMetrics
from pysparkflow.graph.graph import FlowGraph

_FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("vertex", T.LongType(), False),
        T.StructField("verts", T.ArrayType(T.LongType()), False),
        T.StructField("ress", T.ArrayType(T.LongType()), False),
    ]
)

_log = logging.getLogger(__name__)

# delta-set size above which repair switches from a broadcast map
# literal (_repair_paths) to the distributed join (_repair_paths_join)
REPAIR_JOIN_THRESHOLD = 20_000


@dataclass
class MaxFlowConfig:
    """Tuning knobs, mirroring the reference's ``-D mf.*`` keys
    (main.java:17-20, run:123-139)."""

    excess_list_max: int = 1  # K best paths kept per vertex/side (mf.excess.list.max, D10)
    max_candidates: int = 20_000  # driver-side collect bound per phase
    # approximate early stop (the family's mf.approx=0.95 knob, run:138,
    # main.java:47-50 — the ff7/ff8 approx variants are absent from the
    # snapshot): stop once a phase's gain falls below (1-approx) x total,
    # i.e. diminishing returns. None = exact.
    approx: float | None = None
    # keep growing this many rounds past the first meet, accumulating
    # candidates — meets from several depths conflict less on unit-capacity
    # edges, so phases accept bigger batches (fewer phases overall)
    meet_extra_rounds: int = 2
    seed: int = 42
    validate: bool = False  # run flow-conservation/capacity invariant checks at end


@dataclass
class MaxFlowResult:
    value: int
    flows: DataFrame  # (u BIGINT, v BIGINT, f BIGINT) canonical u<v, f != 0
    s_id: int
    t_id: int
    metrics: RoundMetrics = field(default_factory=RoundMetrics)


def _empty_flows(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], schema="u long, v long, f long")


def _repair_paths(df: DataFrame, delta_items: list) -> DataFrame:
    """Flow update + saturation filter (D9, ff1/Vertex.java:213-250
    ``updateE`` / ff1/Excess.java:70-81): subtract the accepted per-arc
    deltas from every stored path's residual snapshots, then drop paths
    whose bottleneck is no longer positive. Dropped vertices fall out of
    the visited set automatically (visited is derived from surviving
    paths), so they can be re-discovered — the LOSE_EXCESS/re-broadcast
    mechanism of ff2/FordFulkerson.java:96-122 without the counter."""
    if not delta_items:
        return df
    kv: list = []
    for (x, y), d in delta_items:
        kv.append(F.lit(f"{x}:{y}"))
        kv.append(F.lit(int(d)))
    delta_map = F.create_map(*kv)
    idx = F.sequence(F.lit(0), F.size("ress") - 1)
    new_ress = F.transform(
        idx,
        lambda i: F.element_at(F.col("ress"), i + 1)
        - F.coalesce(
            F.element_at(
                delta_map,
                F.concat_ws(
                    ":",
                    F.element_at(F.col("verts"), i + 1),
                    F.element_at(F.col("verts"), i + 2),
                ),
            ),
            F.lit(0),
        ),
    )
    out = df.withColumn(
        "ress", F.when(F.size("ress") == 0, F.col("ress")).otherwise(new_ress)
    )
    return out.where((F.size("ress") == 0) | (F.array_min("ress") > 0))


def _repair_paths_join(df: DataFrame, delta_df: DataFrame) -> DataFrame:
    """Join-based D9 repair for delta sets too large to ship as a
    broadcast map literal (a phase accepting ~max_candidates paths of
    depth ~20 carries ~400k directed arc deltas at scale): explode each
    stored path into (row, pos, arc), equi-join the delta table, rebuild
    the residual arrays in order, drop saturated paths. One explode + one
    join + one hash-aggregate over the path state only — the graph is
    untouched. Same result set as ``_repair_paths``
    (test_maxflow::test_repair_join_equals_map).

    ``_rid`` (monotonically_increasing_id) tags each stored path so the
    exploded arcs can be re-assembled; mid is only stable if ``df``'s rows
    re-materialize in the same partition/order every time the plan branch
    is evaluated — the two uses of ``base`` below are separate branches of
    one DAG. A lazy cut (engine/rounds.py) pins the row layout inside this
    function instead of relying on the caller's input: max_flow passes a
    union of cut frames (each round's frontier and the last repair's
    output), but the invariant belongs here. Path state is O(accepted
    paths x depth), thousands of rows, so the pin costs milliseconds."""
    base = rounds.cut(df).withColumn("_rid", F.monotonically_increasing_id())
    seeds = base.where(F.size("ress") == 0).select("vertex", "verts", "ress")
    ex = (
        base.where(F.size("ress") > 0)
        .select("_rid", "verts", F.posexplode("ress").alias("pos", "res"))
        .select(
            "_rid",
            "pos",
            "res",
            F.element_at("verts", F.col("pos") + 1).alias("au"),
            F.element_at("verts", F.col("pos") + 2).alias("av"),
        )
    )
    joined = ex.join(delta_df, ["au", "av"], "left").withColumn(
        "nres", F.col("res") - F.coalesce(F.col("d"), F.lit(0))
    )
    rebuilt = joined.groupBy("_rid").agg(
        F.min("nres").alias("_mn"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "nres"))),
            lambda s: s["nres"],
        ).alias("_ress"),
    )
    repaired = (
        base.join(rebuilt, "_rid")
        .where(F.col("_mn") > 0)
        .select("vertex", "verts", F.col("_ress").alias("ress"))
    )
    return repaired.unionByName(seeds)


def _residual_arcs(
    edges: DataFrame, flows: DataFrame, n_flows: int, edge_partitions: int
) -> DataFrame:
    """Directed residual arcs from the canonical undirected edges + signed
    flows: residue(u->v) = cap - f, residue(v->u) = cap + f
    (ff2/Edge.java:29-33). ``n_flows`` bounds the flows table's rows for
    the broadcast gate; ``n_flows == 0`` (zero flow) skips the join —
    rebuilding even an empty broadcast costs ~300ms per action."""
    if n_flows == 0:
        j = edges.withColumn("f", F.lit(0).cast("long"))
    else:
        fl = partitioning.state_join_side(flows, n_flows, edge_partitions, "u")
        j = edges.join(fl, ["u", "v"], "left").withColumn(
            "f", F.coalesce(F.col("f"), F.lit(0))
        )
    fwd = j.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), (F.col("cap") - F.col("f")).alias("res")
    )
    bwd = j.select(
        F.col("v").alias("src"), F.col("u").alias("dst"), (F.col("cap") + F.col("f")).alias("res")
    )
    return fwd.unionAll(bwd).where(F.col("res") > 0)


def _extend(
    frontier: DataFrame,
    arcs: DataFrame,
    own_paths: DataFrame,
    forward: bool,
    k: int,
    seed: int,
    rnd: int,
    n_frontier: int,
    n_own: int,
    frontier_row_bytes: int,
    arc_partitions: int,
) -> DataFrame:
    """One frontier extension round (D4 + D5 + D10).

    S-side (forward=True): walk ends at ``vertex``; follow outgoing residual
    arcs, append. T-side: walk starts at ``vertex`` (flow direction toward
    t); follow incoming residual arcs, prepend. Extensions to any
    already-visited vertex of the same side are dropped (anti-join = the
    ``idSet``/``fset`` membership rejection of D4, ff5/MapFF.java:83-101),
    then per new vertex keep the K hash-random best (D10,
    ff1/Vertex.java:118-131 — deterministic seed per ff1 discipline).

    ``n_frontier`` / ``n_own`` are caller-known row-count bounds (the
    loop counts every frontier anyway): small sides ship as explicit
    broadcasts, so the static residual-arc cache is probed in place —
    checkpointed inputs carry no size statistics and Catalyst would
    otherwise exchange and sort the arc cache for BOTH joins every round
    (guide §2.4/§3.1). The frontier carries ``verts``/``ress`` path
    arrays, so its gate is BYTE-aware: ``frontier_row_bytes`` is the
    caller's static per-row byte bound and the broadcast only fires
    under engine/partitioning's 32 MB budget (VERDICT r13 #1 — the row
    gate alone would happily broadcast a hundreds-of-MB frontier at
    cluster scale). The visited side is a single long column, so it
    takes the row gate, co-partitioning onto ``arc_partitions`` above
    it. Join results are identical either way."""
    if partitioning.wide_rows_broadcastable(n_frontier, frontier_row_bytes):
        frontier = F.broadcast(frontier)
    if forward:
        ext = frontier.join(arcs, frontier.vertex == arcs.src).select(
            F.col("dst").alias("vertex"),
            F.concat(F.col("verts"), F.array(F.col("dst"))).alias("verts"),
            F.concat(F.col("ress"), F.array(F.col("res"))).alias("ress"),
        )
    else:
        ext = frontier.join(arcs, frontier.vertex == arcs.dst).select(
            F.col("src").alias("vertex"),
            F.concat(F.array(F.col("src")), F.col("verts")).alias("verts"),
            F.concat(F.array(F.col("res")), F.col("ress")).alias("ress"),
        )
    visited = partitioning.state_join_side(
        own_paths.select("vertex"), n_own, arc_partitions, "vertex"
    )
    ext = ext.join(visited, "vertex", "left_anti")
    pick = F.xxhash64("verts", F.lit(seed + rnd))
    if k == 1:
        # hash-aggregate with map-side partial combine — no window sort
        return (
            ext.groupBy("vertex")
            .agg(F.min_by(F.struct("verts", "ress"), pick).alias("p"))
            .select("vertex", F.col("p.verts").alias("verts"), F.col("p.ress").alias("ress"))
        )
    w = Window.partitionBy("vertex").orderBy(pick)
    return (
        ext.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def _collect_meet(pairs: DataFrame, limit: int) -> list:
    """Up to ``limit`` rows of the meet-pair cut ``pairs``, in a
    deterministic order; callers skip it when the pair count is 0."""
    return pairs.orderBy("vertex", F.xxhash64("verts")).limit(limit).collect()


def max_flow(
    graph: FlowGraph,
    sources: Iterable[int],
    sinks: Iterable[int],
    config: MaxFlowConfig | None = None,
) -> MaxFlowResult:
    """Exact maximum flow from ``sources`` to ``sinks`` on an undirected
    capacitated graph — the reference's headline query
    (max-flow(graph, sources[], sinks[]), main.java:17-20)."""
    cfg = config or MaxFlowConfig()
    g, s_id, t_id, n_edges = graph.with_super_nodes(sources, sinks)
    spark = g.spark

    _t_init = _time.time()
    # cached once; the static graph is never shuffled again. The cached
    # copy is repartitioned to the DATA size (engine/partitioning.py):
    # its partition count is the map-side task count of every round's
    # extension join — the session shuffle setting is tuned for
    # relational scale, not a per-round frontier loop. A separate
    # persisted copy also leaves any caller-held cache of g.edges intact
    # when this one is released at the end. with_super_nodes' fused
    # aggregate already counted the edges, so no job runs here: the
    # first round materializes the cache.
    edges, _, edge_parts = partitioning.sized_cache(g.edges, "u", rows=n_edges)
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    flows = _empty_flows(spark)
    # an upper bound on the flows table's rows, for its broadcast gates: a
    # phase's union + groupBy never has more rows than its inputs
    flow_rows_bound = 0
    metrics = RoundMetrics()

    def _seg(name, t0):
        metrics.segment_secs[name] = metrics.segment_secs.get(name, 0.0) + (
            _time.time() - t0
        )
    total = 0
    phase_cache: list[DataFrame] = []

    # stored-path state carried across acceptance epochs: repaired,
    # materialized path tables per side and their restart-meet pairs, plus
    # the three exact row counts, read off the job that materialized them
    stored: tuple[DataFrame, DataFrame, int, int, DataFrame, int] | None = None

    def _path_row_bytes() -> int:
        """Static per-row byte bound for path-carrying tables (frontier /
        stored paths): ``verts`` + ``ress`` are long arrays of at most
        ``metrics.rounds + 1`` elements each, 8 B per element x 2 arrays
        + 24 B of fixed row overhead. Paths grow ONE vertex per
        extension round, and stored paths survive the incremental
        restart, so they keep growing ACROSS phases: the bound must be
        the cumulative round count. A per-phase reset would
        under-estimate row bytes and let the byte gate broadcast an
        oversize frontier. Always an over-estimate, never an
        under-estimate — the broadcast gates below must not OOM at
        cluster scale (VERDICT r13 #1)."""
        return 24 + 16 * (metrics.rounds + 1)

    def _meet_pairs(near: DataFrame, far: DataFrame, n_far: int) -> DataFrame:
        """The path pairs meeting at a vertex, cut: ``near``'s rows joined
        on ``vertex`` with the far side's path table (``o_verts``/
        ``o_ress``). ``n_far`` bounds the far side's rows; they carry path
        arrays, so the broadcast gate is byte-aware — ``near`` is probed
        in place when it passes. The caller counts the cut in the job
        that materializes ``near``'s own cut (engine/rounds.py
        ``count_cuts``)."""
        o = far.select(
            F.col("vertex"),
            F.col("verts").alias("o_verts"),
            F.col("ress").alias("o_ress"),
        )
        if partitioning.wide_rows_broadcastable(n_far, _path_row_bytes()):
            o = F.broadcast(o)
        return rounds.cut(near.join(o, "vertex"))

    _seg("init", _t_init)
    while True:
        metrics.phases += 1
        # cached per phase: the flows join + residual filter run once; every
        # round's joins scan the in-memory arc cache
        _t = _time.time()
        arcs = _residual_arcs(edges, flows, flow_rows_bound, edge_parts).persist()
        phase_cache.append(arcs)
        _seg("arcs_build", _t)

        # frontiers are cut every round (engine/rounds.py): with persist()
        # alone the plan tree deepens every round and Catalyst/AQE planning
        # time comes to dominate (the iterative-lineage trap, SURVEY.md §7.3)
        candidates: list = []
        rnd = 0
        if stored is None:
            _t = _time.time()
            seed_rows = [(int(s_id), [int(s_id)], []), (int(t_id), [int(t_id)], [])]
            # literal 1-row DFs: no lineage to cut, nothing to materialize
            frontier_s = spark.createDataFrame([seed_rows[0]], _FRONTIER_SCHEMA)
            frontier_t = spark.createDataFrame([seed_rows[1]], _FRONTIER_SCHEMA)
            paths_s, paths_t = frontier_s, frontier_t
            n_s, n_t = 1, 1
            _seg("seed", _t)
        else:
            # incremental restart: stored paths survive (repaired against
            # the new flows); re-extend them all — one wide round instead
            # of re-growing the whole BFS tree (the ff5 master
            # re-extension, ff5/ReduceFF.java:72-115)
            _t = _time.time()
            paths_s, paths_t, n_s, n_t, pairs, n_pairs = stored
            frontier_s, frontier_t = paths_s, paths_t
            # stored pairs meeting at a vertex were not all accepted last
            # epoch — re-collect them before spending any rounds; the
            # repair job counted them, so an empty meet costs no job
            if n_pairs:
                candidates = [
                    (r, True) for r in _collect_meet(pairs, cfg.max_candidates)
                ]
            _seg("restart_meet", _t)
        # every path is a frontier row at a phase's start; the rounds
        # below accumulate these visited-count upper bounds
        v_s, v_t = n_s, n_t

        # candidates pre-filled from the stored-pair meet: accept them now,
        # spend no extension rounds this epoch
        rounds_after_meet = cfg.meet_extra_rounds + 1 if candidates else 0
        while not candidates or rounds_after_meet <= cfg.meet_extra_rounds:
            if candidates and len(candidates) >= cfg.max_candidates:
                break
            rnd += 1
            metrics.rounds += 1
            _round_t0 = _time.time()
            # extend the smaller live frontier (classic bidirectional BFS)
            extend_s = n_t == 0 or (n_s > 0 and n_s <= n_t)
            frontier = frontier_s if extend_s else frontier_t
            own = paths_s if extend_s else paths_t
            # the new frontier and its meet pairs with the opposite side's
            # paths (bounded by that side's visited count) are cut, then
            # materialized and counted by one job: a round whose meet is
            # empty runs no meet job of its own
            new_f = rounds.cut(
                _extend(
                    frontier,
                    arcs,
                    own,
                    extend_s,
                    cfg.excess_list_max,
                    cfg.seed,
                    rnd,
                    n_frontier=n_s if extend_s else n_t,
                    n_own=v_s if extend_s else v_t,
                    frontier_row_bytes=_path_row_bytes(),
                    arc_partitions=edge_parts,
                )
            )
            pairs = _meet_pairs(
                new_f, paths_t if extend_s else paths_s, v_t if extend_s else v_s
            )
            n_new, n_pairs = rounds.count_cuts(new_f, pairs)
            if extend_s:
                frontier_s, n_s = new_f, n_new
            else:
                frontier_t, n_t = new_f, n_new
            if n_new > 0:
                # coalesce (no shuffle) caps the accumulator's partition
                # count: without it every join that scans the paths union
                # schedules 32 x rounds map tasks of a few hundred rows
                if extend_s:
                    paths_s = paths_s.unionAll(new_f).coalesce(n_shuffle)
                    v_s += n_new
                else:
                    paths_t = paths_t.unionAll(new_f).coalesce(n_shuffle)
                    v_t += n_new
            if n_pairs:
                limit = cfg.max_candidates - len(candidates)
                candidates.extend((r, extend_s) for r in _collect_meet(pairs, limit))
            if candidates:
                rounds_after_meet += 1
            metrics.round_secs.append(_time.time() - _round_t0)
            metrics.frontier_rows_max = max(metrics.frontier_rows_max, n_new)
            if n_new == 0:
                # ONE exhausted side proves optimality: if a residual s-t
                # path existed, every vertex on it is reachable by this
                # side, so the opposite seed vertex would have been reached
                # and the meet join would have fired. (Every visited vertex
                # holds a positive-residual stored path — repair drops the
                # rest — so the argument survives incremental restarts.
                # Stronger than the reference's two-sided rule,
                # ff1/FordFulkerson.java:240-244.)
                break

        if not candidates:
            break  # optimal

        _t = _time.time()
        acceptor = GreedyAcceptor()
        walks = []
        for row, from_s_side in candidates:
            if from_s_side:
                walk = list(row["verts"]) + list(row["o_verts"])[1:]
                ress = list(row["ress"]) + list(row["o_ress"])
            else:
                walk = list(row["o_verts"]) + list(row["verts"])[1:]
                ress = list(row["o_ress"]) + list(row["ress"])
            acceptor.observe_arcs(
                [(walk[i], walk[i + 1], ress[i]) for i in range(len(walk) - 1)]
            )
            walks.append(walk)
        accepted_this_phase = 0
        for walk in walks:
            metrics.candidates_seen += 1
            got = acceptor.try_accept(walk)
            if got == 0:
                metrics.candidates_rejected += 1
            accepted_this_phase += got

        if accepted_this_phase <= 0:
            raise RuntimeError(
                "invariant violation: meet candidates present but none accepted "
                "(cf. conservation cross-check ff1/Vertex.java:161-162)"
            )
        _seg("accept", _t)
        total += accepted_this_phase
        metrics.accepted_flow = total
        metrics.accepted_paths += len(acceptor.accepted_paths)
        metrics.per_phase.append(
            {"phase": metrics.phases, "accepted": accepted_this_phase, "rounds": rnd}
        )
        _log.debug(
            "phase=%d rounds=%d accepted=%d total=%d",
            metrics.phases,
            rnd,
            accepted_this_phase,
            total,
        )

        _t = _time.time()
        deltas = acceptor.flow_deltas()
        delta_df = spark.createDataFrame(deltas, schema="u long, v long, f long")
        # cut each phase (iteration GC, §4) and left for the next phase's
        # arc build to materialize: the row bound needs no count
        flows = rounds.cut(
            flows.unionAll(delta_df)
            .groupBy("u", "v")
            .agg(F.sum("f").alias("f"))
            .where(F.col("f") != 0)
        )
        flow_rows_bound += len(deltas)
        _seg("flows_update", _t)

        _t = _time.time()
        # D9 incremental excess maintenance (the reference's flow-update +
        # saturation filter, ff1/Vertex.java:213-250): repair surviving
        # paths against this epoch's deltas and carry them into the next
        # epoch instead of restarting the BFS (cut and counted BEFORE the
        # arc cache they were built from is dropped)
        delta_items = [(k, int(v)) for k, v in acceptor.delta.items() if v != 0]
        if len(delta_items) <= REPAIR_JOIN_THRESHOLD:
            rep_s = _repair_paths(paths_s, delta_items)
            rep_t = _repair_paths(paths_t, delta_items)
        else:
            # too many deltas for a map literal — distributed join
            # repair instead of abandoning the stored search state
            repair_df = spark.createDataFrame(
                [(x, y, d) for (x, y), d in delta_items],
                schema="au long, av long, d long",
            )
            rep_s = _repair_paths_join(paths_s, repair_df)
            rep_t = _repair_paths_join(paths_t, repair_df)
        # one counted job cuts both sides and the next epoch's restart
        # meet: the exact post-repair counts are its frontier sizes and
        # visited bounds (coalesce bounds the join repair's partition
        # count), and repair only drops or shrinks paths, so the
        # pre-repair bound v_t still bounds rep_t's rows
        rep_s = rounds.cut(rep_s.coalesce(n_shuffle))
        rep_t = rounds.cut(rep_t.coalesce(n_shuffle))
        pairs = _meet_pairs(rep_s, rep_t, v_t)
        c_s, c_t, n_pairs = rounds.count_cuts(rep_s, rep_t, pairs)
        stored = (rep_s, rep_t, c_s, c_t, pairs, n_pairs)
        _seg("repair", _t)

        for df in phase_cache:
            df.unpersist()
        phase_cache.clear()
        if (
            cfg.approx is not None
            and total > 0
            and accepted_this_phase < (1 - cfg.approx) * total
        ):
            # diminishing returns: approx-mode early stop. Recorded in
            # metrics so a run can prove whether the knob actually
            # saved phases or the graph converged naturally first
            # (VERDICT r7 #4).
            metrics.early_stop = True
            metrics.early_stop_phase = metrics.phases
            break

    for df in phase_cache:
        df.unpersist()
    phase_cache.clear()
    if cfg.validate:
        _t = _time.time()
        _validate(edges, flows, s_id, t_id, total, flow_rows_bound, edge_parts)
        _seg("validate", _t)
    edges.unpersist()
    return MaxFlowResult(value=total, flows=flows, s_id=s_id, t_id=t_id, metrics=metrics)


def _validate(
    edges: DataFrame,
    flows: DataFrame,
    s_id: int,
    t_id: int,
    total: int,
    n_flows: int,
    edge_partitions: int,
) -> None:
    """The reference's fail-fast runtime invariants (SURVEY.md §5.2 /
    FIXTURES.md §6): capacity bounds (ff1/Edge.java:66-71) and per-vertex
    conservation with source/sink imbalance == reported value
    (ff1/Vertex.java:161-162). ``n_flows`` (the caller's upper bound on
    the flows rows) gates an explicit broadcast of the checkpointed flows
    side — without statistics it would SMJ-exchange the edge cache."""
    fl = partitioning.state_join_side(flows, n_flows, edge_partitions, "u")
    bad_cap_df = (
        fl.join(edges, ["u", "v"])
        .where(F.abs(F.col("f")) > F.col("cap"))
    )
    net = (
        flows.select(F.col("u").alias("id"), F.col("f").alias("out"))
        .unionAll(flows.select(F.col("v").alias("id"), (-F.col("f")).alias("out")))
        .groupBy("id")
        .agg(F.sum("out").alias("net"))
        .where(F.col("net") != 0)
    )
    # run on the calling thread: jobs sent from a plain worker thread lose
    # the caller's job description under PySpark's pinned-thread mode
    bad_cap = bad_cap_df.count()
    if bad_cap:
        raise RuntimeError(f"capacity violated on {bad_cap} edges (ff1/Edge.java:66-71)")
    rows = {int(r["id"]): int(r["net"]) for r in net.collect()}
    expected = {} if total == 0 else {s_id: total, t_id: -total}
    if rows != expected:
        raise RuntimeError(
            f"flow conservation violated: nonzero nets {rows} != {expected} "
            "(ff1/Vertex.java:161-162)"
        )
